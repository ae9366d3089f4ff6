"""Conversation assembly: transcripts rows -> one document per conv_id
under stable turn ordering (the ``input_hint`` invariant).

The reference's dedup unit is already one row (a title), so it has no
analog; this operator is what adapts its title-matching semantics to
multi-turn transcripts (SURVEY.md par.2.7).

Semantics: within each conv_id, turns are ordered by (turn_idx, ts, role)
-- turn_idx is the ordering key, ts then role break ties deterministically
-- and the per-turn texts are joined with a single ``\\n`` after ESCAPING
(``\\`` -> ``\\\\``, newline -> ``\\n``) so a newline inside a turn can
never read as a turn boundary: a conversation with one turn ``"a\\nb"`` and
one with turns ``["a", "b"]`` assemble to distinct doc_texts. Re-exploding
the assembled doc under the same ordering reproduces the source texts
exactly, including embedded newlines (tests/test_assemble.py).

Scale: this is ONE shuffle, on conv_id, done via groupBy + sort-inside-agg
(``array_sort(collect_list(struct(...)))``); no window + second shuffle.
The struct puts ordering keys first so array_sort's natural struct ordering
is exactly the turn ordering. At 10^12 turns the input table is
bucket-partitioned by conv_id (Iceberg ``bucket(N, conv_id)``) so this
groupBy can be shuffle-free; here we ``repartition(n, conv_id)`` explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from dedup.config import DedupConfig, DEFAULT_CONFIG

TURN_SEP = "\n"


def escape_turn_text(c: F.Column | str) -> F.Column:
    """Make TURN_SEP unambiguous: '\\' -> '\\\\', newline -> '\\n' (literal
    backslash + n). Native literal replaces -- stays in codegen."""
    col = F.col(c) if isinstance(c, str) else c
    return F.replace(
        F.replace(col, F.lit("\\"), F.lit("\\\\")), F.lit("\n"), F.lit("\\n")
    )


def assemble_conversations(
    transcripts: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(conv_id, turn_idx, role, text, tool, ts) -> one row per conv_id:
    (conv_id, n_turns, doc_text, first_ts).

    Tie-breaking on duplicate turn_idx is deterministic ((ts, role) then
    text) so assembly is idempotent across retries/resumes."""
    df = transcripts.repartition(config.conv_partitions, "conv_id")
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("turn_idx"),
                F.col("ts"),
                F.col("role"),
                escape_turn_text(F.coalesce(F.col("text"), F.lit(""))).alias("text"),
            )
        )
    )
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.concat_ws(TURN_SEP, F.transform(ordered, lambda s: s["text"])).alias(
            "doc_text"
        ),
        F.min("ts").alias("first_ts"),
    )

