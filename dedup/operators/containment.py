"""Long-span containment dedup: find conversations whose text is (nearly)
wholly embedded inside a longer conversation -- the case plain Jaccard LSH
structurally misses (containment of a short doc in a 5x longer one has set
Jaccard ~0.2, far below any sensible band threshold) and the deletion-ratio
length gate explicitly rejects.

Candidate generation: WINDOWED sketches. Every doc emits MinHash
signatures for sliding windows over its gram sequence (a doc shorter than
one window emits a single whole-doc window); a short doc contained in a
long one matches some window of the long doc with high Jaccard, so their
window bands collide in the same equi-join shape as the ordinary LSH
path. The window geometry is its own (containment_num_perm=48 perms,
24 bands x 2 rows -- see DedupConfig): aligned window pairs guarantee
J >= 0.6, so a shorter low-r sketch beats the whole-doc 128-perm/32x4
geometry on recall at ~3/8 of the sketch compute and 3/4 of the
band-shuffle volume, while keeping enough bands that planted pairs
outrank background at the ranked partner caps (measured: 16 bands lose
4 planted mid-span pairs to cap outranking, 24 lose none).

Verification ladder (containment-specific):
  1. exact containment score |A ∩ B| / |A| on gram-hash sets (native
     array_intersect), A = the shorter doc;
  2. for the uncertain band below the containment threshold, the
     longest-common-substring ratio via a suffix-automaton pandas UDF --
     the "suffix-array substring path" of BASELINE.json north_rule: a
     true containment has an LCS-substring covering ~all of the short doc
     even when stray edits depress the gram containment score.

Reference analog: none -- the reference matches whole titles only; this
tier is part of the transcript-scale extension (SURVEY.md par.2.9 tier 3+).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F
from pyspark.sql.types import DoubleType

from dedup.config import DedupConfig, DEFAULT_CONFIG
from dedup.functions.sketch import window_band_hashes_text_udf
from dedup.operators.candidates import band_hit_pairs, collision_groups
from dedup.tracking import register


# ---------------------------------------------------------------------------
# suffix-automaton longest common substring (verification kernel)
# ---------------------------------------------------------------------------

def lcs_substring_len(a: str, b: str) -> int:
    """Longest common substring length via a suffix automaton of ``a``
    walked with ``b`` -- O(|a| + |b|) expected. Equivalent to (and used in
    place of) the classic generalized-suffix-array LCP scan."""
    if not a or not b:
        return 0
    # suffix automaton of a
    MAXN = 2 * len(a)
    nxt: list[dict[str, int]] = [dict() for _ in range(MAXN + 5)]
    link = [0] * (MAXN + 5)
    length = [0] * (MAXN + 5)
    last, size = 0, 1
    link[0] = -1
    for ch in a:
        cur = size
        size += 1
        length[cur] = length[last] + 1
        p = last
        while p != -1 and ch not in nxt[p]:
            nxt[p][ch] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = nxt[p][ch]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = size
                size += 1
                length[clone] = length[p] + 1
                nxt[clone] = dict(nxt[q])
                link[clone] = link[q]
                while p != -1 and nxt[p].get(ch) == q:
                    nxt[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    # walk b
    v, l, best = 0, 0, 0
    for ch in b:
        while v and ch not in nxt[v]:
            v = link[v]
            l = length[v]
        if ch in nxt[v]:
            v = nxt[v][ch]
            l += 1
            if l > best:
                best = l
    return best


def lcs_substring_ratio_udf(text_a: Column | str, text_b: Column | str) -> Column:
    """LCS-substring length / min(len_a, len_b) as an Arrow-batched UDF."""

    @F.pandas_udf(DoubleType())
    def _ratio(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = np.zeros(len(xs))
        for i, (a, b) in enumerate(zip(xs.fillna(""), ys.fillna(""))):
            m = min(len(a), len(b))
            out[i] = (lcs_substring_len(a, b) / m) if m else 0.0
        return pd.Series(out)

    ca = F.col(text_a) if isinstance(text_a, str) else text_a
    cb = F.col(text_b) if isinstance(text_b, str) else text_b
    # optimizer barrier (see similarity.levenshtein_ratio_pairs): keeps the
    # downstream lcs_ratio filter from dragging this UDF below the explicit
    # repartition() exchange into a near-serial pre-shuffle stage.
    return _ratio.asNondeterministic()(ca, cb)


# ---------------------------------------------------------------------------
# windowed-sketch candidate generation
# ---------------------------------------------------------------------------

@dataclass
class ContainmentCandidates:
    pairs: DataFrame            # (id_short, id_long)
    window_band_skew: DataFrame  # (band_hash, group_size) dropped groups
    capped_pairs: DataFrame     # (id_short, id_long, band_hits, reason) dropped by caps


def containment_candidates(
    prepared: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
    tracker: list[DataFrame] | None = None,
) -> ContainmentCandidates:
    """(id_short, id_long) candidates sharing a long contiguous gram span,
    plus two accounting ledgers (no silent truncation): oversized window
    band groups and pairs dropped by the ranked partner caps.

    EVERY doc is windowed uniformly (window W grams, stride s = W/2; docs
    shorter than W emit one whole-doc window), each window gets its own
    MinHash (composed from per-block sketches) and band hashes -- one
    fused UDF, window_band_hashes_text_udf -- and windows meet on band
    keys exactly like the ordinary LSH path. Windows slice the POSITIONAL
    gram sequence (duplicates preserved): element i is the gram at char i,
    so a span shared at ANY offset yields window pairs aligned within
    stride/2 regardless of what grams the long doc used earlier. (The r3 plan
    sliced the DISTINCT first-occurrence sequence, which drifts for
    mid-document embeddings -- VERDICT r3 missing #1.) Geometry: a shared
    span of >= W grams guarantees some window pair aligned within W/4,
    i.e. set Jaccard >= ~0.6 -- well above the band-collision knee at this
    (b, r). MinHash is set-semantics, so in-window duplicate grams do not
    perturb signatures.

    Plan shape shares candidate_pairs' collision_groups and
    band_hit_pairs: ONE groupBy on the band key folds size accounting +
    member-list assembly; pair fan-out is local array math bounded by
    containment_max_band_group, a small cap because an oversized WINDOW
    group is per-span boilerplate that the whole-doc tier already links
    transitively."""
    s = config.containment_stride
    # Shingling is FUSED into the window sketch UDF (it computes positional
    # byte-k-gram codes from norm_text in numpy): the positional gram
    # array never exists as a Spark column, so the interpreted
    # transform(substr)+xxhash64 chain -- 92.6s of this
    # stage's ~200s at 64k convs / local[16], plus a persist barrier --
    # is gone, and Arrow ships text bytes instead of 8-byte-per-gram
    # arrays. ``n_grams`` (DISTINCT gram count, for the short/long
    # ordering and the min-grams gate) still comes from the prepared
    # table's materialized gram_hashes -- a native size(), no reshingle.
    docs = prepared.select(
        F.col("doc_id").alias("id"),
        F.size("gram_hashes").alias("n_grams"),
        "norm_text",
    ).filter(
        # a doc under the min-grams gate can never survive verification
        # as the short side, and (having fewer distinct grams than any
        # gated short) can never be the long side either -- skip it
        F.col("n_grams") >= config.containment_min_grams
    )
    # Per-BLOCK MinHash (non-overlapping stride-gram segments) composed
    # into per-window signatures and hashed into band keys ALL inside one
    # fused UDF (window_band_hashes_text_udf, r6): with w == 2*s (enforced
    # by DedupConfig) window i covers exactly blocks i and i+1, and
    # MinHash of a union is the elementwise min of the parts' MinHashes --
    # so min over adjacent block signatures yields window signatures
    # identical to sketching each overlapping window slice directly, at
    # half the UDF gram work; emitting the 24-bands-x-2-rows band hashes
    # (see DedupConfig for the geometry rationale) directly from numpy
    # removes the interpreted per-window zip_with(least) + per-band
    # xxhash64-over-slice chains AND halves the Arrow transfer (24 hashes
    # per window out vs 48-slot signatures per block). Band rows carry
    # only (id, band_hash) -- band_idx is folded into the hash (VERDICT
    # r5 #5).
    bands = docs.select(
        "id",
        F.explode(
            window_band_hashes_text_udf("norm_text", s, config)
        ).alias("band_hash"),
    )
    # collision groups as sorted id member lists (a doc may appear twice
    # in one group -- two of its windows colliding on the same band key --
    # and the fan-out preserves that multiplicity in band_hits, exactly as
    # the r3 self-join did). The band rows deliberately carry ONLY
    # (id, band_hash): n_grams is a function of id, so short/long
    # orientation joins it onto the AGGREGATED pair set below (~1000x
    # fewer rows at 100k convs: 423k pairs vs 24M band rows) instead of
    # riding every shuffle row and fattening the collect_list buffers.
    # Sorting ids sorts identically to sorting (id, n_grams) structs, so
    # the fan-out's i<j combination multiset is unchanged.
    ok, window_band_skew = collision_groups(
        bands, "id", config.containment_max_band_group, tracker
    )
    # NO family collapse here, unlike candidate_pairs: window families
    # repeat across far fewer bands than whole-doc boilerplate families,
    # so collapsing the ~20x more numerous window groups costs more than
    # the fan-out it saves. Measured on this stage alone at 3.6k turns
    # (2x3 interleaved runs, identical outputs): routing it through
    # candidate_pairs took 32 -> 35 Spark jobs, 96 -> 115 stages and
    # 8.75 -> 10.1 s median wall. Each group row is one band hit (weight
    # 1), and a pair whose best collision happened in a quiet band group
    # is kept even with a single hit: dropping it would silently lose
    # edit-diluted single-window containments. Counting on the unordered
    # (id_a < id_b) key is a bijection onto (id_short, id_long) groups,
    # so counting before orientation is arithmetically identical; the
    # id_a < id_b filter also drops same-doc window pairs.
    pair_hits = band_hit_pairs(
        ok,
        "band_hash",
        F.lit(1),
        config.shuffle_partitions,
        config.containment_min_band_hits,
        config.containment_noise_group_size,
    )
    sizes = docs.select("id", "n_grams")
    scored = (
        pair_hits.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb")),
            "id_b",
        )
        .select(
            F.when(F.col("na") <= F.col("nb"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("id_short"),
            F.when(F.col("na") <= F.col("nb"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("id_long"),
            "band_hits",
        )
        .persist()
    )
    register(scored, tracker)
    # RANKED PARTNER CAPS (config.containment_max_partners): a doc
    # colliding with hundreds of partners is shared boilerplate; verifying
    # every such pair ships the fat gram arrays ~|partners| times. Keep the
    # strongest-signal partners per short (band-hit rank, deterministic id
    # tiebreak), then bound the long side at 4x. True containments rank
    # top (aligned windows hit nearly every band); capped boilerplate
    # family edges remain reachable transitively through stronger edges.
    # Every dropped pair lands in the capped_pairs LEDGER -- same "no
    # silent truncation" discipline as the band-skew tables.
    cap = config.containment_max_partners
    w_short = Window.partitionBy("id_short").orderBy(
        F.col("band_hits").desc(), F.col("id_long").asc()
    )
    s1 = scored.withColumn("__r", F.row_number().over(w_short))
    drop_short = s1.filter(F.col("__r") > cap).select(
        "id_short", "id_long", "band_hits", F.lit("short_cap").alias("reason")
    )
    kept1 = s1.filter(F.col("__r") <= cap).drop("__r")
    w_long = Window.partitionBy("id_long").orderBy(
        F.col("band_hits").desc(), F.col("id_short").asc()
    )
    s2 = kept1.withColumn("__r", F.row_number().over(w_long))
    drop_long = s2.filter(F.col("__r") > 4 * cap).select(
        "id_short", "id_long", "band_hits", F.lit("long_cap").alias("reason")
    )
    kept = s2.filter(F.col("__r") <= 4 * cap)
    return ContainmentCandidates(
        pairs=kept.select("id_short", "id_long"),
        window_band_skew=window_band_skew,
        capped_pairs=drop_short.unionByName(drop_long),
    )


def verify_containment(
    cands: DataFrame,
    prepared: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
    tracker: list[DataFrame] | None = None,
) -> DataFrame:
    """-> (id_a, id_b, containment, lcs_ratio, tier='containment') edges,
    canonical id order. Containment = |short ∩ long| / |short| on gram-hash
    sets (native); LCS-substring UDF only for the uncertain band.

    THREE-PHASE (what rides the pair join dominates -- same lesson as
    verify.py): (0) a narrow (doc_id, n_grams) join drops too-short pairs
    before any array ships; (1) the gram-array join + intersection runs
    ONCE and is checkpointed as a SKINNY (ids, containment) table -- the
    sure/unsure branches must not each re-run the fat join, and the fat
    arrays must not be materialized into the checkpoint; (2) texts join
    only for the uncertain band that actually pays the LCS kernel."""
    thr = config.containment_threshold

    # phase 0: narrow length gate
    sizes = prepared.select("doc_id", F.size("gram_hashes").alias("n_grams"))
    cands = (
        cands.join(
            sizes.select(
                F.col("doc_id").alias("id_short"), F.col("n_grams").alias("n_s")
            ),
            "id_short",
        )
        .filter(F.col("n_s") >= config.containment_min_grams)
        .select("id_short", "id_long")
    )

    # phase 1: gram intersection, once, skinny output
    g = prepared.select("doc_id", "gram_hashes")
    scored = (
        cands.join(
            g.select(
                F.col("doc_id").alias("id_short"), F.col("gram_hashes").alias("gh_s")
            ).hint("shuffle_hash"),
            "id_short",
        )
        .join(
            g.select(
                F.col("doc_id").alias("id_long"), F.col("gram_hashes").alias("gh_l")
            ).hint("shuffle_hash"),
            "id_long",
        )
        .withColumn(
            "containment",
            F.size(F.array_intersect("gh_s", "gh_l")).cast("double")
            / F.size("gh_s").cast("double"),
        )
        .filter(F.col("containment") >= thr - 0.2)  # below both bands: dead
        .select("id_short", "id_long", "containment")
    )
    scored = scored.localCheckpoint()
    register(scored, tracker)

    sure = scored.filter(F.col("containment") >= thr).withColumn(
        "lcs_ratio", F.lit(None).cast("double")
    )
    # phase 2 -- uncertain band: gram containment diluted by edits inside
    # the span; ask the substring kernel whether a long exact span still
    # exists. Texts join HERE, for this band only.
    t = prepared.select("doc_id", "norm_text")
    unsure = (
        scored.filter(F.col("containment") < thr)
        .join(
            t.select(
                F.col("doc_id").alias("id_short"), F.col("norm_text").alias("text_s")
            ).hint("shuffle_hash"),
            "id_short",
        )
        .join(
            t.select(
                F.col("doc_id").alias("id_long"), F.col("norm_text").alias("text_l")
            ).hint("shuffle_hash"),
            "id_long",
        )
        .repartition(config.lev_partitions)
        .withColumn("lcs_ratio", lcs_substring_ratio_udf("text_s", "text_l"))
        .filter(F.col("lcs_ratio") >= config.containment_lcs_ratio)
        .select("id_short", "id_long", "containment", "lcs_ratio")
    )
    out = sure.unionByName(unsure)
    return out.select(
        F.least("id_short", "id_long").alias("id_a"),
        F.greatest("id_short", "id_long").alias("id_b"),
        "containment",
        "lcs_ratio",
        F.lit("containment").alias("tier"),
    ).dropDuplicates(["id_a", "id_b"])
