"""Candidate-pair generation: MinHash + LSH band equi-join with skew
accounting.

This REPLACES (not ports) the reference's brute-force candidate scan --
one query's IDF posting lists accumulated against all N truth titles
(/root/reference/doppelspeller/match_maker.py:16-50,192-203), O(Q*N) work
that is the single biggest scaling wall (SURVEY.md J2). LSH makes candidate
count O(#near-dups): docs sharing any (band_idx, band_hash) key meet in an
equi-join; everything else never shuffles together.

Skew story (north_rule "salted hash join to defuse hot-band skew"):
boilerplate-heavy corpora (identical system prompts) produce band groups
with thousands of members => a naive self-join does size^2 work inside one
key. Three defenses, in order:
  1. exact tier already collapsed *identical* docs to one representative;
  2. band groups larger than ``max_band_group`` are counted + dropped into
     a skew-accounting DataFrame (returned, persisted to metrics -- no
     silent truncation). A real near-dup pair lost here still meets in any
     of the other b-1 bands, so recall loss is (fraction of oversized
     bands)^b -- measured, not assumed;
  3. surviving groups split at ``salt_hot_threshold``: cool groups fan out
     pairs LOCALLY from their collected id list (no join at all); hot
     groups take a salted self-join -- the build side is split into
     ``salt_buckets`` sub-keys so one hot band spreads over several tasks
     (AQE skew-join then handles residual partition skew).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from dedup.config import DedupConfig, DEFAULT_CONFIG
from dedup.functions.normalize import normalize_text_col, normalize_ascii_col
from dedup.functions.sketch import band_hashes_col, doc_sketch_udf
from dedup.tracking import register


def prepare_docs(
    docs: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "doc_text",
    config: DedupConfig = DEFAULT_CONFIG,
    ascii_fast_path: bool = False,
) -> DataFrame:
    """One projection pass: normalize -> one fused sketch UDF (distinct
    gram codes, MinHash signature, SimHash). ``ascii_fast_path`` selects
    normalize_ascii_col, whose output differs from the default normalizer
    (see its docstring); only the entry queries set it, to match their
    oracle."""
    norm = (
        normalize_ascii_col(text_col, config)
        if ascii_fast_path
        else normalize_text_col(text_col, config)
    )
    # CPU-heavy (3 UDF/sketch passes per row) but often byte-small input
    # (a checkpointed assembled table is a handful of parquet files):
    # repartition explicitly or the whole stage runs in 1-2 tasks.
    docs = docs.repartition(config.conv_partitions, id_col)
    # Shingle + distinct + gram-hash + MinHash + SimHash run FUSED inside
    # one Arrow round trip (doc_sketch_udf): the interpreted
    # transform(substr)+xxhash64+array_distinct chain this stage previously
    # ran JVM-side was ~half its wall time at 64k convs, and the gram
    # array now crosses the Python boundary once instead of three times.
    # gram_hashes values are raw byte-gram codes -- a collision-free
    # encoding of the distinct gram set -- so every set-level consumer
    # (exact Jaccard, containment score, n_grams) is value-identical for
    # ASCII text, and the bounded-range codes dictionary/bit-pack to a
    # fraction of hashed values' size in the checkpoint and in every
    # downstream join that ships gram arrays.
    out = docs.withColumn("norm_text", norm).withColumn(
        "sk", doc_sketch_udf("norm_text", config)
    )
    return out.select(
        F.col(id_col).alias("doc_id"),
        "norm_text",
        F.col("sk.gram_hashes").alias("gram_hashes"),
        F.col("sk.minhash").alias("minhash"),
        F.col("sk.simhash").alias("simhash"),
    )


@dataclass
class CandidateResult:
    pairs: DataFrame          # (id_a, id_b) canonical, deduped
    band_skew: DataFrame      # (band_hash, group_size) for dropped groups


def pair_structs(ids: Column) -> Column:
    """All position pairs i < j of a sorted array as struct(id_a, id_b) --
    the LOCAL fan-out that replaces a band-key self-join for bounded
    groups. Stays entirely inside codegen (transform/slice/flatten)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def band_postings(prepared: DataFrame, config: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """prepared docs (doc_id, minhash) -> band postings (doc_id, band_hash),
    one row per LSH band: the single postings format, shared by the batch
    path and the persisted streaming corpus table."""
    # band rows carry ONLY (doc_id, band_hash): the band index already
    # participates in the hash (band_hashes_col hashes (i, slice)), so
    # grouping by the hash alone forms the identical collision groups --
    # carrying band_idx through the explode + shuffle + groupBy key was a
    # third of every band row's bytes for zero information (VERDICT r5
    # next-round #5; a cross-band 64-bit hash collision could only merge
    # two groups and ADD candidate pairs, never lose one).
    return prepared.select(
        "doc_id",
        F.explode(band_hashes_col("minhash", config)).alias("band_hash"),
    )


def candidate_pairs(
    postings: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
    tracker: list[DataFrame] | None = None,
) -> CandidateResult:
    """band postings (doc_id, band_hash) -> candidate (id_a < id_b) pairs.

    Plan shape: ONE groupBy on the band key that folds group-size
    accounting AND posting-list assembly into a single shuffle
    (collect_list) -> local pair fan-out for cool groups / salted
    self-join for hot groups -> band-hit-counted pair dedup.

    The r3 plan ran sizes-agg + bands-join + band-key self-join -- three
    byte-small shuffles plus a persist of every posting -- and its fixed
    overhead dominated at any parallelism (measured 0.495 scaling
    efficiency, VERDICT r3). Folding into collect_list leaves exactly two
    shuffles (band groupBy, pair groupBy); per-group fan-out is bounded by
    ``max_band_group`` so a group row can never straggle.

    ``tracker``: persisted intermediates are appended here so long-lived
    drivers (pipeline stages, streaming micro-batches) can unpersist them
    once the pairs have materialized -- otherwise cached band groups
    accumulate across batches."""
    # Single shuffle: collision groups as sorted id lists. Singleton groups
    # (the vast majority of band keys) can never pair and are dropped
    # before the persist, so the cache holds only collision groups -- far
    # smaller than the r3 all-postings cache.
    groups = (
        postings.groupBy("band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .withColumn("gsz", F.size("ids"))
        .filter(F.col("gsz") > 1)
        .persist()
    )
    register(groups, tracker)

    band_skew = groups.filter(F.col("gsz") > config.max_band_group).select(
        "band_hash", F.col("gsz").alias("group_size")
    )
    ok = groups.filter(F.col("gsz") <= config.max_band_group)

    # FAMILY COLLAPSE before any pair fan-out: near-dup clusters (and
    # boilerplate families) produce the IDENTICAL sorted id list in many
    # of the 32 bands -- fanning each band's group into pairs shuffles the
    # same gsz^2/2 pair rows up to 32x. Collapsing groups on the member
    # list first (one byte-small groupBy over collision groups, counting
    # the bands each family occupies) emits every family's pairs ONCE,
    # weighted by n_bands; the final per-pair aggregate then SUMS weights,
    # which is arithmetically identical to counting raw band collisions
    # (each colliding group contributes exactly its band multiplicity).
    # Measured at 64k convs: the candidate job's pair shuffle was the
    # stage's dominant, core-count-invariant cost -- shuffle-volume-bound,
    # not CPU-bound, so shrinking the volume is what makes it scale.
    fam = ok.groupBy("ids").agg(
        F.count(F.lit(1)).alias("n_bands"),
        F.min("gsz").alias("gsz"),  # gsz is a function of ids: min == the value
    )

    # Cool families (the bulk): pair fan-out is local array math on the
    # sorted id list -- no join, no shuffle, ids already ascending so
    # id_a < id_b holds by construction.
    # repartition first: the family agg's output is byte-tiny, so AQE
    # coalesces it to one or two partitions -- and the interpreted
    # transform/flatten fan-out (sum gsz^2/2 struct builds) then runs
    # near-serially in the map side of the pair groupBy (measured: the
    # candidate job spent ~4s of its 5.5s there at sf0.1). Hash
    # repartition on the family key spreads the fan-out across the
    # cluster at the cost of shuffling a few thousand skinny rows.
    cool = fam.filter(F.col("gsz") <= config.salt_hot_threshold).repartition(
        config.shuffle_partitions, "ids"
    )
    cool_pairs = cool.select(
        "gsz", "n_bands", F.explode(pair_structs(F.col("ids"))).alias("p")
    ).select(
        F.col("p.id_a").alias("id_a"),
        F.col("p.id_b").alias("id_b"),
        "gsz",
        "n_bands",
    )

    # Hot families (the boilerplate tail) keep the SALTED self-join (the
    # north_rule skew defense): at cluster scale ``max_band_group`` may be
    # raised to 10^4+, where a single family row's local fan-out (gsz^2/2
    # pairs in ONE task) would straggle -- the salted join spreads one hot
    # family over salt_buckets reducers instead. Probe side gets a
    # deterministic salt bucket from its doc_id, build side explodes over
    # all buckets, so shuffle volume stays ~1x for the cool slice. The
    # family id is a hash of the member list (a collision would only merge
    # two families' candidate sets -- extra pairs for verify, no loss).
    hot = fam.filter(F.col("gsz") > config.salt_hot_threshold)
    hot_post = hot.select(
        F.xxhash64("ids").alias("fam_id"),
        "gsz",
        "n_bands",
        F.explode("ids").alias("doc_id"),
    )
    n_salt = config.salt_buckets
    hot_left = hot_post.select(
        "fam_id",
        F.col("doc_id").alias("id_a"),
        "gsz",
        "n_bands",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)).cast("bigint").alias("salt"),
    )
    hot_right = hot_post.select(
        "fam_id",
        F.col("doc_id").alias("id_b"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.lit(n_salt - 1).cast("bigint"))).alias("salt"),
    )
    hot_pairs = hot_left.join(
        hot_right, on=["fam_id", "salt"], how="inner"
    ).select("id_a", "id_b", "gsz", "n_bands")

    # Band-hit counting replaces a plain pair dedup (same discipline as the
    # containment path): a true J >= threshold pair collides in >= 2 of the
    # 32 bands w.p. 1 - 5e-6, while the r=4 scheme's soft knee floods the
    # candidate set with single-hit boilerplate collisions (J ~ 0.3-0.5)
    # that the verify tier then pays ~100x their worth to reject. Pairs
    # whose quietest colliding group is small stay candidates even with a
    # single hit -- isolated collisions are cheap to verify and may be
    # legitimate low-J Levenshtein-tier duplicates.
    pairs = (
        cool_pairs.unionByName(hot_pairs)
        .filter(F.col("id_a") < F.col("id_b"))  # hot join emits unordered pairs
        .groupBy("id_a", "id_b")
        .agg(
            F.sum("n_bands").alias("band_hits"),
            F.min("gsz").alias("min_gsz"),
        )
        .filter(
            (F.col("band_hits") >= config.lsh_min_band_hits)
            | (F.col("min_gsz") <= config.lsh_noise_group_size)
        )
        .select("id_a", "id_b")
    )
    return CandidateResult(pairs=pairs, band_skew=band_skew)
