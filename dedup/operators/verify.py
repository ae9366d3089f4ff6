"""Verification tier: exact Jaccard + banded Levenshtein re-rank +
SimHash containment path over candidate pairs.

Reference analog: the close-match tier
(/root/reference/doppelspeller/predict.py:163-183) -- deletion-ratio gate
-> cost-2 Levenshtein ratio -> token-sort fallback, threshold 94
(/root/reference/doppelspeller/settings.py:75) -- plus the "modified"
IDF-weighted Jaccard the MatchMaker scores with
(/root/reference/doppelspeller/match_maker.py:16-50). Here the pair
population is LSH candidates instead of top-100-per-query, and verification
emits a typed ``tier`` so downstream accounting can attribute every edge.

TWO-PHASE JOIN (the scale-critical shape): candidate pairs outnumber docs
by orders of magnitude, so what rides the pair join dominates cost.
  Phase 1 joins only the NARROW sketch columns (128-slot minhash, 64-bit
  simhash, text length): per-doc ~1KB, broadcastable at bench scale,
  narrow-shuffle at cluster scale. All gates that need no heavy data run
  here: MinHash-estimate (zip_with agreement), SimHash hamming
  (bit_count), deletion-ratio length gate (pure arithmetic).
  Phase 2 joins the heavy columns ONLY for survivors: gram-hash arrays
  (exact Jaccard) for estimate-gate survivors; normalized text
  (Levenshtein pandas UDF) for pairs that failed both sketch tiers but
  pass the length gate.
At 550k candidates over 3.5k docs this cut verify wall time ~5x by not
shuffling ~10GB of gram arrays for pairs the sketches already decide.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from dedup.config import DedupConfig, DEFAULT_CONFIG
from dedup.functions.similarity import (
    bag_l1_col,
    char_count_vector_udf,
    exact_jaccard_col,
    minhash_estimate_col,
)
from dedup.functions.sketch import hamming_col
from dedup.tracking import register


def jaccard_gate_threshold(config: DedupConfig) -> float:
    """Estimate-gate cut: threshold - sigmas * binomial sd at the threshold."""
    j = config.jaccard_threshold
    sd = math.sqrt(max(j * (1 - j), 1e-9) / config.num_perm)
    return max(0.0, j - config.minhash_gate_sigmas * sd)


def _two_sided(df: DataFrame, cols: dict[str, str]) -> tuple[DataFrame, DataFrame]:
    a = df.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(src).alias(f"{dst}_a") for dst, src in cols.items()],
    )
    b = df.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(src).alias(f"{dst}_b") for dst, src in cols.items()],
    )
    return a, b


def verify_pairs(
    pairs: DataFrame,
    prepared: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
    tracker: list[DataFrame] | None = None,
) -> DataFrame:
    """(id_a, id_b) candidates x prepared docs -> verified edges
    (id_a, id_b, jaccard, hamming, lev_ratio, tier).

    ``tracker`` collects the eager localCheckpoint intermediates so callers
    can unpersist them once the verified edges are materialized (only safe
    AFTER materialization: a localCheckpoint has no lineage to recompute)."""
    thr = config.lev_threshold

    # ---- phase 1: narrow sketch join ----------------------------------
    # char-count vectors are a per-DOC sketch (64 ints): they power the
    # exact bag-distance lower bound on the pair side (bag_l1_col) that
    # keeps boilerplate-similar pairs out of the Levenshtein DP entirely.
    light = prepared.select(
        "doc_id",
        "minhash",
        "simhash",
        F.length("norm_text").alias("n_chars"),
        char_count_vector_udf("norm_text").alias("ccv"),
    )
    la, lb = _two_sided(
        light, {"mh": "minhash", "sim": "simhash", "len": "n_chars", "ccv": "ccv"}
    )
    total_len = F.col("len_a") + F.col("len_b")
    # shuffle_hash-pinned like the phase-2 joins: the per-doc light side is
    # ~1.3KB/doc (tens of MB at bench scale, GBs at corpus scale) -- AQE
    # strategy flips on its estimated size were the last source of bimodal
    # stage times at larger corpora.
    p1 = (
        pairs.join(la.hint("shuffle_hash"), "id_a")
        .join(lb.hint("shuffle_hash"), "id_b")
        # a null signature gives a null estimate, which would make both
        # union branches' gate tests below null and drop the pair: count
        # it as no agreement so the SimHash tier still sees it
        .withColumn(
            "est", F.coalesce(minhash_estimate_col("mh_a", "mh_b"), F.lit(0.0))
        )
        .withColumn("hamming", hamming_col("sim_a", "sim_b"))
        .withColumn(
            "del_ratio",
            F.when(total_len == 0, F.lit(100.0)).otherwise(
                (total_len - F.abs(F.col("len_a") - F.col("len_b")))
                / total_len
                * 100.0
            ),
        )
        # ratio > thr needs indel distance < (1 - thr/100)*total; bag L1 is
        # an exact lower bound on that distance (and on the token-sort
        # path's too), so failing this can NEVER pass the Levenshtein tier.
        .withColumn(
            "bag_ok",
            bag_l1_col("ccv_a", "ccv_b")
            <= total_len * F.lit(1.0 - thr / 100.0),
        )
        .select(
            "id_a", "id_b", "est", "hamming", "del_ratio", "bag_ok",
            "len_a", "len_b",
        )
    )

    gate = jaccard_gate_threshold(config)
    sim_ok = F.col("hamming") <= F.lit(config.simhash_hamming_threshold)
    del_ok = F.col("del_ratio") >= F.lit(float(thr))
    # pairs needing ANY phase-2 work; everything else dies here. The
    # Levenshtein-path disjunct also requires the MinHash estimate floor
    # (cheap, already computed) -- exact gram math re-checks it in phase 2.
    p1 = p1.filter(
        (F.col("est") >= F.lit(gate))
        | sim_ok
        | (del_ok & F.col("bag_ok") & (F.col("est") >= F.lit(config.lev_est_gate)))
    )

    # ---- phase 2a: exact Jaccard for estimate-gate survivors ----------
    ga, gb = _two_sided(
        prepared.select("doc_id", "gram_hashes"), {"gh": "gram_hashes"}
    )
    # shuffle_hash hints: the per-doc gram-array side is a few hundred MB
    # at bench scale -- AQE flip-flopped between broadcast and sort-merge
    # on its (mis)estimated size run-to-run (measured 34s vs 178s for the
    # identical stage); a shuffled hash join with the doc side as build is
    # the right plan at every scale and pins it.
    #
    # UNION, not a self-left-join (r6): estimate-gate passers attach the
    # gram arrays and compute exact Jaccard inline; gate failers take
    # jaccard 0.0 directly. Identical rows to the previous
    # p1 LEFT JOIN jac ON (id_a, id_b) -- every gate passer found exactly
    # one jac row (ids come from prepared), every failer coalesced to
    # 0.0 -- but the union deletes the pair-key shuffle of BOTH join
    # sides that only existed to glue the two branches back together.
    jac = (
        p1.filter(F.col("est") >= F.lit(gate))
        .join(ga.hint("shuffle_hash"), "id_a")
        .join(gb.hint("shuffle_hash"), "id_b")
        .withColumn("jaccard", exact_jaccard_col("gh_a", "gh_b"))
        .drop("gh_a", "gh_b")
    )
    # ONE checkpoint for the whole sketch-scoring cascade (was two: p1 and
    # scored -- each an eager barrier whose wall cost measured FLAT across
    # 4 vs 16 cores at 64k convs, i.e. pure per-stage floor). The p1
    # subtree appears twice inside this single job (both union branches);
    # its shuffle exchanges are identical subtrees and reused, so the
    # duplicated work is only the narrow join probe + gate arithmetic.
    # The checkpoint itself is still required: both output branches
    # (sketch-verified, lev) consume ``scored``, and lazy cache population
    # races between concurrent branch subtrees can recompute the whole
    # cascade per branch.
    scored = jac.unionByName(
        p1.filter(~(F.col("est") >= F.lit(gate))).withColumn("jaccard", F.lit(0.0))
    ).localCheckpoint()
    register(scored, tracker)

    jac_ok = F.col("jaccard") >= F.lit(config.jaccard_threshold)

    # ---- phase 2b: Levenshtein for pairs both sketches rejected -------
    # DP admission is gated by EXACT byte-bigram lower bounds computed
    # PAIR-SIDE inside the staged UDF (bigram_gated_staged_ratio_udf): one
    # unit indel changes <= 3 bigram counts, so L1 > 3 * dmax proves the
    # direct ratio can never clear the threshold, and the same bound over
    # TOKEN-SORTED text proves it for the token-sort fallback -- a pair is
    # DP'd only if EITHER path remains arithmetically possible (zero
    # recall loss). Unlike the unigram bag bound (which boilerplate-
    # similar byte histograms pass wholesale -- measured 427k DP
    # admissions with 0 acceptances), bigrams see ORDER, so reworded
    # boilerplate dies here. The earlier doc-side variant joined 256-int
    # vectors onto both pair sides -- two UDF passes over ALL docs plus
    # two join exchanges to pre-gate a post-sketch pair population that is
    # already small; pair-side counting costs O(len) per pair and deletes
    # both exchanges from the plan.
    from dedup.functions.similarity import bigram_gated_staged_ratio_udf

    need_lev = scored.filter(
        ~jac_ok
        & ~sim_ok
        & del_ok
        & F.col("bag_ok")
        & (F.col("est") >= F.lit(config.lev_est_gate))
    ).select("id_a", "id_b", "jaccard", "hamming")
    ta, tb = _two_sided(prepared.select("doc_id", "norm_text"), {"text": "norm_text"})
    lev = (
        need_lev.join(ta, "id_a")
        .join(tb, "id_b")
        # the DP stage is CPU-bound, not byte-bound: force parallelism so
        # AQE's size-based coalescing cannot serialize it onto one task
        .repartition(config.lev_partitions)
        .withColumn(
            "lev_ratio", bigram_gated_staged_ratio_udf("text_a", "text_b", config)
        )
        .filter(F.col("lev_ratio") > F.lit(thr))
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "hamming",
            "lev_ratio",
            F.lit("levenshtein").alias("tier"),
        )
    )

    sketch_verified = (
        scored.filter(jac_ok | sim_ok)
        .withColumn(
            "tier", F.when(jac_ok, F.lit("jaccard")).otherwise(F.lit("simhash"))
        )
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "hamming",
            F.lit(None).cast("int").alias("lev_ratio"),
            "tier",
        )
    )
    return sketch_verified.unionByName(lev)
