"""Reference-parity staged matching cascade: query titles vs a truth table.

This is the direct Spark re-expression of the reference's "query plan"
(/root/reference/doppelspeller/predict.py:274-321, SURVEY.md par.2.9),
tiers 1-3 with identical thresholds/semantics:

  1. EXACT: inner equi-join on normalized text -> prediction 1.0
     (predict.py:97-113); misses continue via left_anti (T1).
  2. CANDIDATES: IDF-weighted char-3-gram Jaccard, top-k per query
     (match_maker.py:16-50,183-190; k=100, settings.py:56). Implemented as
     an inverted-index explode + equi-join on the gram (J1/J2 re-expressed):
       score(q, t) = I / (S_t + S_q - I),
       I = sum idf(g) over shared grams, S_x = sum idf(g) over x's grams,
       idf(g) = ln(N_truth / df_truth(g)); grams unknown to the truth side
       weigh max(idf) (match_maker.py:151-152,95).
  3. CLOSE MATCH: deletion-ratio gate -> cost-2 Levenshtein ratio ->
     token-sort fallback, keep ratio > 94, grouped argmax, ambiguous
     queries dropped from this tier (predict.py:140-183).
  4. finalize: unmatched queries get title_id -1
     (settings.py:33, predict.py:262-267).

Tier 4 of the reference (XGBoost re-rank) is deliberately replaced per
BASELINE.json north_rule by a DETERMINISTIC acceptance tier: unique argmax
by max(lev_ratio, token_sort_ratio) >= config.match_accept_ratio, threshold
grid-searched on the reference's example TRAIN split (custom_error 749 on
train vs 2036 with tiers 1-3 alone; the reference's model-tier golden is
633 -- the residual gap is the documented cost of dropping the model).

Scale notes: the gram inverted-index join shuffles on xxhash64(gram)
(8-byte keys, not variable-width strings); df
counts and idf are distributed aggs (never a driver dictionary -- the
reference's in-memory gram dictionary, match_maker.py:144-153, is the
thing that cannot scale). Hot grams are exactly the skew case the LSH
band-group cap handles in the dedup path; for title-mode parity the per-gram fan-out is
bounded by df * queries-per-gram and AQE skew-join splits hot partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from dedup.config import DedupConfig, DEFAULT_CONFIG
from dedup.functions.normalize import normalize_text_col
from dedup.functions.shingle import char_ngrams_col
from dedup.functions.similarity import (
    deletion_ratio_col,
    levenshtein_ratio_pairs,
    token_sort_col,
)
from dedup.operators.grouping import grouped_top_k, group_argmax_unique
from dedup.tracking import track

NOT_FOUND = -1  # reference TRAIN_NOT_FOUND_VALUE, settings.py:33

# title-parity normalization cap (reference settings.py:67-68)
TITLE_MAX_CHARS = 255


def _with_norm_and_grams(df: DataFrame, text_col: str, config: DedupConfig) -> DataFrame:
    cfg = config.with_(max_chars=TITLE_MAX_CHARS)
    return df.withColumn("norm_text", normalize_text_col(text_col, cfg)).withColumn(
        "grams", char_ngrams_col("norm_text", cfg.k_shingle)
    )


def truth_idf(truth: DataFrame, config: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """(gram, df, idf) from the truth side: idf = ln(N / df(gram)), df
    counted once per title (distinct-per-doc semantics, common.py:140-147).

    ``gram`` in the output is the 64-bit xxhash64 of the gram string, not
    the string: every downstream consumer only ever equi-joins on it, and an
    8-byte shuffle key beats a variable-width UTF-8 one at corpus scale
    (identical semantics absent 64-bit collisions)."""
    n_truth = truth.count()
    return (
        truth.select(F.explode("grams").alias("g"))
        .select(F.xxhash64("g").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("idf", F.log(F.lit(float(n_truth)) / F.col("df")))
    )


# sentinel: "use config.top_n_predict" (distinct from top_n=None = no ranking)
_TOP_N_FROM_CONFIG = object()


def jaccard_topk_candidates(
    queries: DataFrame,
    truth: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
    top_n: int | None | object = _TOP_N_FROM_CONFIG,
) -> DataFrame:
    """IDF-weighted Jaccard top-k truth candidates per query.

    Inputs must carry (query_id|title_id, norm_text, grams). Returns
    (query_id, title_id, score). ``top_n=None`` returns ALL scored pairs
    with no ranking window -- callers that re-rank themselves (or want the
    full score table) must not pay a wasted full window sort here.

    Two plans, same score formula:
      * config.gram_df_cutoff is None -> EXACT: every pair sharing any
        gram is scored via the full gram equi-join + agg. Shuffle volume
        is sum_g df_q(g)*df_t(g) -- dominated by stop-grams that cannot
        affect any top-k (96%+ on the reference example set).
      * cutoff set -> candidate pairs are generated through rare grams
        only (df <= cutoff), then rescored EXACTLY over ALL shared grams
        with a native array_intersect over per-doc (gram, idf) arrays --
        emitted scores are identical to the exact plan; only pairs sharing
        exclusively stop-grams (score <= |shared|*ln(N/cutoff) / S) can be
        absent from the pool."""
    if top_n is _TOP_N_FROM_CONFIG:
        top_n = config.top_n_predict
    # idf is small (one row per distinct gram with df >= 1) and is joined
    # THREE times (query side, truth side, and transitively the sums);
    # cache it so the distributed agg runs once. At corpus scale this table
    # is still only |distinct grams| rows -- broadcastable. Registered with
    # the session tracker: the returned frame is lazy, so release happens
    # at the next drain point (bench/driver loop), not here.
    idf = track(truth_idf(truth, config).cache())
    max_idf = idf.agg(F.max("idf")).first()[0]

    q_grams = queries.select(
        "query_id", F.explode("grams").alias("g")
    ).select("query_id", F.xxhash64("g").alias("gram")).join(
        idf, "gram", "left"
    ).withColumn(
        "idf", F.coalesce("idf", F.lit(max_idf))  # unknown gram -> max idf
    )
    t_grams = (
        truth.select("title_id", F.explode("grams").alias("g"))
        .select("title_id", F.xxhash64("g").alias("gram"))
        .join(idf, "gram", "inner")
    )

    cutoff = config.gram_df_cutoff
    if cutoff is None:
        # per-side idf sums (the S_q / S_t terms)
        s_q = q_grams.groupBy("query_id").agg(F.sum("idf").alias("s_q"))
        s_t = t_grams.groupBy("title_id").agg(F.sum("idf").alias("s_t"))

        # NO join hint on the gram equi-join: AQE converts it to a runtime
        # broadcast of the (much smaller) query-gram side when it fits,
        # which beats both sort-merge and a pinned shuffled-hash -- the
        # r06 A/B measured base 8.9s / shuffle_hash 14.9s / runtime plan
        # at sf0.1, so pinning here would forbid the best plan.
        inter = (
            q_grams.select("query_id", "gram", "idf")
            .join(t_grams.select("title_id", "gram"), "gram", "inner")
            .groupBy("query_id", "title_id")
            .agg(F.sum("idf").alias("i"))
        )
        # s_q / s_t are one row per query / per title (orders of magnitude
        # smaller than the pair-scored `inter`): broadcast them so the
        # scored pairs are never re-shuffled on query_id/title_id just to
        # attach two doubles (guide par.3.1 -- the big side stays put).
        scored = (
            inter.join(F.broadcast(s_q), "query_id")
            .join(F.broadcast(s_t), "title_id")
            .withColumn(
                "score", F.col("i") / (F.col("s_t") + F.col("s_q") - F.col("i"))
            )
            .select("query_id", "title_id", "score")
        )
    else:
        # phase 1: candidates through rare grams only (skinny join)
        rare = F.col("df") <= F.lit(cutoff)
        cand = (
            q_grams.filter(rare).select("query_id", "gram")
            .join(t_grams.filter(rare).select("title_id", "gram"), "gram")
            .select("query_id", "title_id")
            .dropDuplicates(["query_id", "title_id"])
        )
        # phase 2: exact rescoring -- per-doc (gram, idf) arrays; the
        # intersection is a native array_intersect (struct equality is
        # exact: both sides carry the same truth idf; unknown query grams
        # carry max_idf and never match a truth struct anyway).
        q_arr = q_grams.groupBy("query_id").agg(
            F.collect_list(F.struct("gram", "idf")).alias("qg"),
            F.sum("idf").alias("s_q"),
        )
        t_arr = t_grams.groupBy("title_id").agg(
            F.collect_list(F.struct("gram", "idf")).alias("tg"),
            F.sum("idf").alias("s_t"),
        )
        inter = F.aggregate(
            F.array_intersect("qg", "tg"),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["idf"],
        )
        scored = (
            cand.join(q_arr, "query_id")
            .join(t_arr, "title_id")
            .withColumn("i", inter)
            .withColumn(
                "score", F.col("i") / (F.col("s_t") + F.col("s_q") - F.col("i"))
            )
            .select("query_id", "title_id", "score")
        )
    if top_n is None:
        return scored
    return grouped_top_k(
        scored, ["query_id"], "score", top_n, tiebreak_cols=["title_id"]
    )


def match_titles(
    queries_raw: DataFrame,
    truth_raw: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
    top_n: int | None = None,
) -> DataFrame:
    """Full cascade. queries_raw: (query_id, title); truth_raw:
    (title_id, title). Returns (query_id, title_id, prediction, tier) with
    title_id = -1 for unmatched."""
    # normalized+shingled sides feed multiple cascade tiers (exact join,
    # candidate gen, close-match re-join, finalize anti-join): cache both
    # so normalization runs once per row. (The pipeline equivalent is the
    # checkpointed 'prepared' stage table.) Tracked for deferred release --
    # repeated match_titles calls in one driver (accuracy harness loop, a
    # matching service) must not accumulate blocks.
    queries = track(
        _with_norm_and_grams(queries_raw, "title", config)
        .select("query_id", "norm_text", "grams")
        .cache()
    )
    truth = track(
        _with_norm_and_grams(truth_raw, "title", config)
        .select("title_id", "norm_text", "grams")
        .cache()
    )

    # ---- tier 1: exact (predict.py:97-113). The reference probes a dict
    # title -> id built last-one-wins; duplicate truth titles collapse. We
    # take max(title_id) per norm_text to mirror "last wins" on insertion
    # order = truth row order.
    truth_exact = truth.groupBy("norm_text").agg(F.max("title_id").alias("title_id"))
    exact = queries.join(truth_exact, "norm_text", "inner").select(
        "query_id",
        "title_id",
        F.lit(1.0).alias("prediction"),
        F.lit("exact").alias("tier"),
    )

    remaining = queries.join(exact.select("query_id"), "query_id", "left_anti")

    # ---- tier 2: candidates (top-k IDF-weighted Jaccard)
    cands = jaccard_topk_candidates(
        remaining, truth, config, top_n or config.top_n_predict
    )

    # ---- tiers 3+4: one ratio pass over the candidate pairs.
    # The deletion-ratio length gate runs as a REAL .filter() before the
    # UDF projections: Spark's ExtractPythonUDFs rule pulls a pandas UDF
    # out of a when/otherwise and evaluates it for every projected row, so
    # gating inside the expression would not keep gated rows away from the
    # Python worker. The gate (and the DP band) sit at the LOOSER of the
    # two acceptance thresholds (tier 3's and, when enabled, tier 4's):
    # ratios at or above it are exact; truncated values below it can never
    # be accepted or win an argmax from a >=gate row.
    t4 = config.match_accept_ratio
    thr = config.lev_threshold
    # Rounding-aware gating: emitted ratios are int(round(...)), so a pair
    # whose ROUNDED ratio reaches the acceptance threshold t can have a raw
    # ratio as low as t - 0.5. Band the DP and filter the deletion ratio at
    # (gate - 0.5) so every pair that can round up to the gate is computed
    # exactly -- gating at the integer gate silently truncated raw ratios
    # in [t-0.5, t) once total length outgrew the integer-implied band.
    gate = min(thr, t4 or thr) - 0.5
    pairs = (
        cands.join(
            remaining.select("query_id", F.col("norm_text").alias("q_text")),
            "query_id",
        )
        .join(
            truth.select("title_id", F.col("norm_text").alias("t_text")),
            "title_id",
        )
        .withColumn("del_ratio", deletion_ratio_col("q_text", "t_text"))
        .filter(F.col("del_ratio") >= F.lit(gate))
        .withColumn(
            "lev", levenshtein_ratio_pairs("q_text", "t_text", threshold=gate)
        )
        .withColumn(
            "tsort",
            levenshtein_ratio_pairs(
                token_sort_col("q_text"), token_sort_col("t_text"), threshold=gate
            ),
        )
        .select("query_id", "title_id", "del_ratio", "lev", "tsort")
    )
    # both tier branches read `pairs`; eager checkpoint so the two ratio
    # UDF columns are computed once, not once per branch subtree. Tracked:
    # checkpoint blocks live in the block manager like cache blocks do.
    pairs = track(pairs.localCheckpoint())

    # tier 3 proper: the reference's staged chain reconstructed from the
    # two ratio columns (deletion gate -> lev -> token-sort fallback,
    # predict.py:147-156), threshold 94, ambiguous-argmax dropped.
    staged = (
        F.when(F.col("del_ratio") < F.lit(float(thr)), F.lit(0))
        .when(F.col("lev") > thr, F.col("lev"))
        .otherwise(F.col("tsort"))
    )
    close = pairs.withColumn("lev_ratio", staged).filter(
        F.col("lev_ratio") > thr
    )
    close = group_argmax_unique(close, ["query_id"], "lev_ratio").select(
        "query_id",
        "title_id",
        F.lit(1.0).alias("prediction"),
        F.lit("close").alias("tier"),
    )

    matched = exact.unionByName(close)

    # ---- tier 4: deterministic acceptance replacing the reference's
    # XGBoost re-rank (north_rule drops the model). Accept a query's
    # unique argmax by r = max(lev, token_sort) when r >= t4; tied argmax
    # drops the query (same ambiguity semantics as tier 3). Threshold
    # tuned on the reference's example TRAIN split only (config.py).
    if t4:
        rest = pairs.join(matched.select("query_id"), "query_id", "left_anti")
        rest = rest.withColumn("r", F.greatest("lev", "tsort"))
        accept = group_argmax_unique(rest, ["query_id"], "r").filter(
            F.col("r") >= t4
        )
        matched = matched.unionByName(
            accept.select(
                "query_id",
                "title_id",
                (F.col("r") / 100.0).alias("prediction"),
                F.lit("accept").alias("tier"),
            )
        )

    # ---- finalize: unmatched -> -1 (predict.py:262-267)
    not_found = (
        queries.join(matched.select("query_id"), "query_id", "left_anti")
        .select(
            "query_id",
            F.lit(NOT_FOUND).cast("long").alias("title_id"),
            F.lit(0.0).alias("prediction"),
            F.lit("not_found").alias("tier"),
        )
    )
    return matched.unionByName(not_found)
