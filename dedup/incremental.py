"""Incremental re-dedup of appended conversations (SURVEY.md par.2.11):
new transcripts arrive, and instead of re-running the pipeline over the
full corpus, only candidate pairs that touch a new doc are generated and
verified.

Contract: a batch's candidates equal the batch path's candidates
(dedup/operators/candidates.py ``candidate_pairs``) over the corpus plus
the batch, restricted to pairs that touch the batch. There is one LSH
candidate generator; this module only chooses the postings it runs on.

Per-batch cost contract (the scale property this module exists for):
  * SKETCH work (normalize/shingle/MinHash/band UDFs) runs over the NEW
    batch only -- O(batch). The existing corpus is touched exclusively
    through its persisted BAND POSTINGS table (``existing_bands``), an
    append-only narrow (doc_id, band_hash) table the caller maintains
    (dedup/streaming.py appends each batch's ``new_bands``).
  * The corpus postings are pruned to the batch's band keys first
    (broadcast semi-join). Every collision group that holds a new doc is
    therefore complete, and ``candidate_pairs`` sizes, caps and
    hit-counts it exactly as the batch path would. Groups over
    ``max_band_group`` are dropped into ``band_skew`` (no silent
    truncation), so the pair fan-out is at most C(max_band_group, 2) per
    touched group -- one boilerplate band key in the historical corpus
    cannot make a micro-batch quadratic.
  * Verification fetches heavy columns (gram hashes, text) only for docs
    that actually appear in a candidate pair (broadcast semi-join on pair
    ids), so the corpus' fat columns never shuffle per batch. The fetch
    runs once, into the checkpoint verify reads.

On Iceberg this consumes incremental snapshots; here the "append" is any
DataFrame of new transcripts. The same shape drives the Structured
Streaming wrapper (dedup/streaming.py) via foreachBatch.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from dedup.config import DedupConfig, DEFAULT_CONFIG
from dedup.operators.assemble import assemble_conversations
from dedup.operators.candidates import band_postings, candidate_pairs, prepare_docs
from dedup.operators.verify import verify_pairs
from dedup.tracking import register


def latest_rows(df: DataFrame) -> DataFrame:
    """One row per ``doc_id``: the row of its highest ``batch``, which is
    dropped. A conversation re-prepared in a later batch supersedes its
    older partial rows."""
    w = Window.partitionBy("doc_id").orderBy(F.col("batch").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch")
    )


@dataclass
class IncrementalResult:
    new_prepared: DataFrame       # sketches of the appended conversations
    new_bands: DataFrame          # band postings of the new docs (append to corpus bands)
    verified_pairs: DataFrame     # verified edges touching a new doc
    band_skew: DataFrame          # (band_hash, group_size) groups dropped by the cap


def incremental_dedup(
    new_transcripts: DataFrame,
    existing_prepared: DataFrame,
    existing_bands: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
) -> IncrementalResult:
    """Dedup appended conversations against an existing prepared corpus.

    ``existing_prepared``: the corpus sketches, ``prepare_docs`` columns
    plus a ``batch`` version; per doc_id the highest batch wins
    (``latest_rows``). ``existing_bands``: the corpus band postings
    (doc_id, band_hash), the only way the corpus is searched. For an empty
    corpus both are empty frames; there is no separate first-batch path.

    Returns the new side's sketches + band postings (callers append both
    to their corpus tables) and verified duplicate edges touching the new
    docs, plus the skew-cap ledger. Its checkpoints are registered
    (dedup/tracking.py): run it and the writes of its results inside one
    scope."""
    assembled = assemble_conversations(new_transcripts, config)
    new_prepared = prepare_docs(assembled, "conv_id", "doc_text", config)
    # consumed by: band postings, the new-doc filter, verify's input, and
    # the caller's corpus append -- localCheckpoint so the sketch UDFs run
    # once. The postings are a narrow native explode over it, cheaper to
    # re-run per consumer than to checkpoint.
    new_prepared = register(new_prepared.localCheckpoint())
    new_bands = band_postings(new_prepared, config)
    new_ids = F.broadcast(new_prepared.select("doc_id"))

    # corpus postings on the batch's band keys; a doc this batch
    # re-prepares drops its superseded postings (anti-join)
    touched = existing_bands.join(
        F.broadcast(new_bands.select("band_hash")), "band_hash", "left_semi"
    ).join(new_ids, "doc_id", "left_anti")
    res = candidate_pairs(new_bands.unionByName(touched), config)

    # touched groups also fan out old x old pairs: keep those touching a new doc
    is_new = new_prepared.select("doc_id", F.lit(True).alias("new"))
    pairs = register(
        res.pairs.join(F.broadcast(is_new.toDF("id_a", "a_new")), "id_a", "left")
        .join(F.broadcast(is_new.toDF("id_b", "b_new")), "id_b", "left")
        .filter(F.col("a_new") | F.col("b_new"))
        .select("id_a", "id_b")
        .localCheckpoint()
    )

    # verify's input, fetched once: the new docs plus the latest version of
    # each corpus doc that appears in a pair. Heavy columns come only for
    # those docs, so the corpus' gram arrays / text never shuffle per
    # batch, and the latest-wins window sorts only the fetched rows. A
    # re-seen doc exists on both sides; its re-prepared version in
    # new_prepared wins (anti-join). verify_pairs reads its input three
    # times (sketch, gram and text sides): the checkpoint runs the fetch once.
    # The union's partitions are the new docs' plus the fetch's; the
    # coalesce keeps verify's per-doc ccv UDF at conv_partitions tasks.
    pair_ids = pairs.select(F.col("id_a").alias("doc_id")).unionByName(
        pairs.select(F.col("id_b").alias("doc_id"))
    )
    fetched = latest_rows(
        existing_prepared.join(F.broadcast(pair_ids), "doc_id", "left_semi")
    ).join(new_ids, "doc_id", "left_anti")
    docs = register(
        new_prepared.unionByName(fetched).coalesce(config.conv_partitions).localCheckpoint()
    )
    return IncrementalResult(
        new_prepared=new_prepared,
        new_bands=new_bands,
        verified_pairs=verify_pairs(pairs, docs, config),
        band_skew=res.band_skew,
    )
