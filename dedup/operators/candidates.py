"""Candidate-pair generation: MinHash + LSH band collision groups with
skew accounting.

This REPLACES (not ports) the reference's brute-force candidate scan --
one query's IDF posting lists accumulated against all N truth titles
(/root/reference/doppelspeller/match_maker.py:16-50,192-203), O(Q*N) work
that is the single biggest scaling wall (SURVEY.md J2). LSH makes candidate
count O(#near-dups): docs sharing any band hash meet in one collision
group; everything else never pairs up.

Skew story: boilerplate-heavy corpora (identical system prompts) produce
band groups with thousands of members => a naive self-join does size^2
work inside one key. Two defenses, in order:
  1. exact tier already collapsed *identical* docs to one representative;
  2. band groups larger than ``max_band_group`` are counted + dropped into
     a skew-accounting DataFrame (returned, persisted to metrics -- no
     silent truncation). A real near-dup pair lost here still meets in any
     of the other b-1 bands, so recall loss is (fraction of oversized
     bands)^b -- measured, not assumed.
Every surviving group fans out its pairs LOCALLY from its sorted id list
(no join at all), so one group costs at most C(max_band_group, 2) pairs
in one task. ``collision_groups`` and ``band_hit_pairs`` are shared with
the containment tier's window bands.
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


def collision_groups(
    postings: DataFrame,
    id_col: str,
    max_group: int,
    tracker: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """band postings (id_col, band_hash) -> (groups, skew): collision
    groups (band_hash, ids, gsz) of 2..max_group members as sorted id
    lists, and the ledger (band_hash, group_size) of the larger ones.

    ONE groupBy on the band key folds group-size accounting AND posting-list
    assembly into a single shuffle (collect_list). Singleton groups (the
    vast majority of band keys) can never pair and are dropped before the
    persist, so the cache holds only collision groups; it is appended to
    ``tracker`` so long-lived callers (pipeline stages, streaming
    micro-batches) can unpersist it once the pairs have materialized."""
    groups = (
        postings.groupBy("band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .withColumn("gsz", F.size("ids"))
        .filter(F.col("gsz") > 1)
        .persist()
    )
    register(groups, tracker)
    skew = groups.filter(F.col("gsz") > max_group).select(
        "band_hash", F.col("gsz").alias("group_size")
    )
    return groups.filter(F.col("gsz") <= max_group), skew


def band_hit_pairs(
    rows: DataFrame,
    key: str,
    weight: Column,
    partitions: int,
    min_hits: int,
    noise_group: int,
) -> DataFrame:
    """rows (ids, gsz, ...) -> (id_a, id_b, band_hits, min_gsz): every
    i < j pair of each sorted id list, its ``weight`` summed per pair into
    band_hits, kept if band_hits >= ``min_hits`` OR its quietest colliding
    group has <= ``noise_group`` members.

    The fan-out is local array math, so it runs behind a hash repartition
    on ``key``: the grouped input is byte-tiny, AQE coalesces it to one or
    two partitions, and the interpreted transform/flatten fan-out (sum
    gsz^2/2 struct builds) would then run near-serially in the map side of
    the pair groupBy (measured: ~4s of the candidate job's 5.5s at sf0.1).

    Band-hit counting replaces a plain pair dedup: a true near-dup pair
    collides in many bands, while boilerplate-similar pairs mostly collide
    once inside big groups -- which verify would pay ~100x their worth to
    reject. Pairs whose quietest colliding group is small stay even with a
    single hit: isolated collisions are cheap to verify and may be
    legitimate low-J duplicates."""
    return (
        rows.repartition(partitions, key)
        .select(
            "gsz",
            weight.alias("w"),
            F.explode(pair_structs(F.col("ids"))).alias("p"),
        )
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"), "gsz", "w")
        .filter(F.col("id_a") < F.col("id_b"))  # a doc twice in one group
        .groupBy("id_a", "id_b")
        .agg(F.sum("w").alias("band_hits"), F.min("gsz").alias("min_gsz"))
        .filter((F.col("band_hits") >= min_hits) | (F.col("min_gsz") <= noise_group))
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

    Plan shape: collision groups (one band groupBy) -> family collapse ->
    local pair fan-out -> band-hit-counted pair dedup.

    ``tracker``: persisted intermediates are appended here (see
    collision_groups)."""
    ok, band_skew = collision_groups(postings, "doc_id", config.max_band_group, tracker)

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
    pairs = band_hit_pairs(
        fam,
        "ids",
        F.col("n_bands"),
        config.shuffle_partitions,
        config.lsh_min_band_hits,
        config.lsh_noise_group_size,
    ).select("id_a", "id_b")
    return CandidateResult(pairs=pairs, band_skew=band_skew)
