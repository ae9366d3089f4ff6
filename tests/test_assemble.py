"""Conversation assembly: stable turn ordering + the per-turn text
equality invariant (input_hint): re-exploding assembled docs reproduces the
source rows exactly under (conv_id, turn_idx). The inverse of assembly
(``explode_conversations``) lives here, as the round-trip oracle."""

from datetime import datetime

import pyspark.sql.functions as F

from dedup.generate import make_corpus
from dedup.operators.assemble import TURN_SEP, assemble_conversations


def unescape_turn_text(c: F.Column | str) -> F.Column:
    """Exact inverse of escape_turn_text: split on escaped backslashes
    (so every remaining '\\n' pair is an escaped newline), decode inside
    each piece, rejoin with single backslashes."""
    col = F.col(c) if isinstance(c, str) else c
    pieces = F.split(col, r"\\\\", -1)  # regex: two literal backslashes
    return F.array_join(
        F.transform(pieces, lambda p: F.replace(p, F.lit("\\n"), F.lit("\n"))),
        "\\",
    )


def explode_conversations(assembled):
    """Inverse of assembly (modulo ordering metadata): doc_text -> one row
    per turn with its 0-based position."""
    turns = F.split(F.col("doc_text"), TURN_SEP)
    return assembled.select(
        "conv_id",
        F.posexplode(turns).alias("turn_pos", "text"),
    ).withColumn("text", unescape_turn_text("text"))


def test_assembly_orders_by_turn_idx(spark, config):
    rows = [
        ("c1", 2, "user", "third", None, datetime(2026, 1, 1, 0, 0, 2)),
        ("c1", 0, "user", "first", None, datetime(2026, 1, 1, 0, 0, 0)),
        ("c1", 1, "assistant", "second", "search", datetime(2026, 1, 1, 0, 0, 1)),
        ("c2", 0, "user", "solo", None, datetime(2026, 1, 1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = {r["conv_id"]: r for r in assemble_conversations(df, config).collect()}
    assert out["c1"]["doc_text"] == "first\nsecond\nthird"
    assert out["c1"]["n_turns"] == 3
    assert out["c2"]["doc_text"] == "solo"


def test_per_turn_text_equality_invariant(spark, config):
    corpus = make_corpus(n_conversations=40, seed=11)
    src = spark.createDataFrame(corpus.transcripts)
    assembled = assemble_conversations(src, config)
    re_exploded = explode_conversations(assembled)
    joined = src.select(
        "conv_id", F.col("turn_idx").alias("turn_pos"), F.col("text").alias("src_text")
    ).join(re_exploded, ["conv_id", "turn_pos"], "full_outer")
    bad = joined.filter(
        F.col("src_text").isNull()
        | F.col("text").isNull()
        | (F.col("src_text") != F.col("text"))
    ).count()
    assert bad == 0
    assert assembled.count() == corpus.transcripts.conv_id.nunique()


def test_assembly_deterministic_on_duplicate_turn_idx(spark, config):
    # duplicate turn_idx: ties broken by (ts, role) deterministically
    rows = [
        ("c1", 0, "user", "b", None, datetime(2026, 1, 1, 0, 0, 1)),
        ("c1", 0, "assistant", "a", None, datetime(2026, 1, 1, 0, 0, 0)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    texts = {assemble_conversations(df, config).first()["doc_text"] for _ in range(3)}
    assert texts == {"a\nb"}  # earlier ts first, stable across runs
