"""Structured Streaming wrapper: continuous dedup of arriving transcripts.

The reference is strictly batch (CSV in -> CSV out, SURVEY.md par.2.11);
this module is the engine's streaming extension: ``readStream`` over a
directory (or any streaming source) of transcript rows, and per micro-batch
``foreachBatch`` runs ``incremental_dedup`` (dedup/incremental.py) against
the corpus state accumulated so far -- every micro-batch, the first one
included (empty corpus) -- appending verified edges, the new sketches, AND
the new band postings to the warehouse. The first micro-batch stamps the
config fingerprint into the warehouse; a later batch under a different
config fails instead of joining incompatible postings.

Why foreachBatch and not a stateful streaming agg: LSH dedup needs joins
against the full historical corpus (unbounded state, keyed by band hash);
``applyInPandasWithState`` state must fit per-key in memory and cannot be
re-joined -- the checkpointed corpus table IS the right state store, and
foreachBatch gives exactly-once appends against it (sink-side idempotence
via batch-id subdirectories).

CROSS-BATCH CONVERSATION ASSEMBLY (turn-level arrival): a conversation's
turns may arrive in different micro-batches. Every batch's raw turns are
persisted to an append-only ``turns`` state table; when a conv_id is
RE-SEEN, its full turn set (buffered + new) is re-assembled and re-prepared,
and the new ``corpus_prepared`` row SUPERSEDES the old one under a
latest-batch-wins read rule (``corpus_prepared_view``). Verified edges
follow the same rule: an edge is current only if written at or after the
last re-preparation of BOTH its endpoints (``stream_edges_view``) -- older
edges were computed against a partial document and are superseded by the
re-verification the re-seen batch performs. The re-seen batch itself
ignores the doc's superseded postings; later batches still see them in
``corpus_bands``, where they can add candidate pairs (verified against the
LATEST doc version) and count toward a band group's size.

Per-batch cost is O(batch), not O(corpus): the historical corpus is only
ever touched through (a) the append-only ``corpus_bands`` postings table
(narrow 2-column scan, semi-joined on the micro-batch's band keys -- on a
real deployment an Iceberg table bucket-partitioned by band_hash, so the
join is storage-pruned) and (b) a broadcast semi-join fetching heavy
columns for the handful of docs that land in a candidate pair. The turns
state is touched only through a broadcast semi-join on the batch's conv_ids
(bucket-partition by conv_id to storage-prune). No sketch UDF ever re-runs
over historical rows except for the re-seen conversations themselves --
O(re-seen batch), not O(corpus). The latest-wins views are CONSUMER reads,
never executed inside the per-batch loop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from dedup.config import DedupConfig, DEFAULT_CONFIG
from dedup.incremental import incremental_dedup
from dedup.tracking import register, scope

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

FINGERPRINT_FILE = "config_fingerprint"
PREPARED_COLS = ["doc_id", "norm_text", "gram_hashes", "minhash", "simhash"]
# (doc_id, band_hash): band_idx is folded into the hash -- see
# dedup/operators/candidates.py::band_postings and config.SKETCH_FORMAT_VERSION
BAND_COLS = ["doc_id", "band_hash"]


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _read_state(
    spark: SparkSession, path: str, cols: list[str], with_batch: bool = False
) -> DataFrame | None:
    """Read an append-only batch-directory state table; None only when the
    table genuinely does not exist yet (first batch). Emptiness is decided
    STRUCTURALLY (does any batch=* subdirectory hold a parquet file?), not
    by parsing AnalysisException message text -- error-class strings vary
    across Spark versions and a mismatch would break first-batch bootstrap.
    Any read failure on a non-empty table (corrupt file from a crashed
    write, permission error) propagates so the stream fails loudly instead
    of silently deduping against nothing."""
    if not os.path.isdir(path):
        return None
    has_data = any(
        f.endswith(".parquet")
        for _root, _dirs, files in os.walk(path)
        for f in files
    )
    if not has_data:
        return None  # directory exists but holds no committed batch yet
    # select the canonical columns: the batch=<id> directory level is
    # inferred as a partition column on read; keep it only when the caller
    # needs version ordering (latest-wins supersede semantics)
    extra = ["batch"] if with_batch else []
    return spark.read.parquet(path).select(*cols, *extra)


def corpus_prepared_view(spark: SparkSession, warehouse: str) -> DataFrame:
    """Consumer view of the corpus: one row per doc_id, LATEST batch wins
    (a re-seen conversation's re-preparation supersedes its partial doc)."""
    df = _read_state(
        spark, os.path.join(warehouse, "corpus_prepared"), PREPARED_COLS, with_batch=True
    )
    if df is None:
        raise FileNotFoundError(f"no corpus_prepared under {warehouse}")
    w = Window.partitionBy("doc_id").orderBy(F.col("batch").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*PREPARED_COLS)
    )


def stream_edges_view(spark: SparkSession, warehouse: str) -> DataFrame:
    """Consumer view of the verified edges: an edge is CURRENT iff it was
    written at or after the last (re-)preparation batch of both endpoints.
    Edges older than an endpoint's re-preparation were verified against a
    partial document; the re-seen batch re-paired and re-verified that doc
    against the corpus, so the newer batches carry the authoritative set."""
    edges = spark.read.parquet(os.path.join(warehouse, "stream_edges"))
    latest = (
        spark.read.parquet(os.path.join(warehouse, "corpus_prepared"))
        .groupBy("doc_id")
        .agg(F.max("batch").alias("last_b"))
    )
    return (
        edges.join(
            latest.select(F.col("doc_id").alias("id_a"), F.col("last_b").alias("ba")),
            "id_a",
        )
        .join(
            latest.select(F.col("doc_id").alias("id_b"), F.col("last_b").alias("bb")),
            "id_b",
        )
        .filter((F.col("batch") >= F.col("ba")) & (F.col("batch") >= F.col("bb")))
        .drop("batch", "ba", "bb")
    )


def _check_fingerprint(warehouse: str, config: DedupConfig, first_batch: bool) -> None:
    """The first micro-batch stamps ``config.config_fingerprint()`` into the
    warehouse; every later batch must run under the same fingerprint.
    Corpus sketches and postings built under another config (seed, bands,
    shingle size, sketch format) would silently join to nothing."""
    path = os.path.join(warehouse, FINGERPRINT_FILE)
    want = config.config_fingerprint()
    if first_batch:
        os.makedirs(warehouse, exist_ok=True)
        with open(path, "w") as fh:
            fh.write(want)
        return
    try:
        with open(path) as fh:
            stored = fh.read().strip()
    except FileNotFoundError:
        stored = None
    if stored != want:
        raise ValueError(
            f"warehouse {warehouse} holds corpus state built under config "
            f"fingerprint {stored}, but this stream runs under {want}"
        )


def start_streaming_dedup(
    spark: SparkSession,
    stream: DataFrame,
    warehouse: str,
    config: DedupConfig = DEFAULT_CONFIG,
    checkpoint_dir: str | None = None,
):
    """Start the continuous dedup query. Warehouse layout:
      <warehouse>/turns/batch=<id>/             (append-only raw turns)
      <warehouse>/corpus_prepared/batch=<id>/   (append-only sketches;
                                                 latest batch per doc_id wins)
      <warehouse>/corpus_bands/batch=<id>/      (append-only band postings)
      <warehouse>/stream_edges/batch=<id>/      (verified dup edges;
                                                 see stream_edges_view)
      <warehouse>/stream_skew/batch=<id>/       (capped-band accounting)
      <warehouse>/config_fingerprint            (config the state was built under)
    Batch-id directories make retried micro-batches idempotent (a retry
    overwrites its own directory, never duplicates)."""
    turns_dir = os.path.join(warehouse, "turns")
    corpus_dir = os.path.join(warehouse, "corpus_prepared")
    bands_dir = os.path.join(warehouse, "corpus_bands")
    edges_dir = os.path.join(warehouse, "stream_edges")
    skew_dir = os.path.join(warehouse, "stream_skew")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        existing = _read_state(spark, corpus_dir, PREPARED_COLS, with_batch=True)
        _check_fingerprint(warehouse, config, first_batch=existing is None)
        # one scope per micro-batch: its checkpoints are released once the
        # batch's state tables are written (or the batch raised) -- a
        # long-lived stream must not accumulate pinned blocks across batches
        with scope():
            # batch turns feed three consumers (turns append, re-seen probe,
            # dedup input); checkpoint so the source is read once
            batch = register(batch_df.localCheckpoint())
            # 1. persist this batch's raw turns FIRST (idempotent: a retry
            #    overwrites its own dir); prior turns are read with an explicit
            #    batch != batch_id filter so a retry never sees its own rows.
            batch.select(*TRANSCRIPT_COLS).write.mode("overwrite").parquet(
                os.path.join(turns_dir, f"batch={batch_id}")
            )

            # 2. cross-batch assembly: conv_ids seen in EARLIER batches get
            #    their full turn set re-assembled (supersede-on-reseen).
            prior_turns = _read_state(
                spark, turns_dir, TRANSCRIPT_COLS, with_batch=True
            ).filter(F.col("batch") != batch_id)
            batch_convs = batch.select("conv_id").dropDuplicates()
            reseen_turns = prior_turns.join(
                F.broadcast(batch_convs), "conv_id", "left_semi"
            ).select(*TRANSCRIPT_COLS)
            effective = batch.select(*TRANSCRIPT_COLS).unionByName(reseen_turns)

            res = incremental_dedup(
                effective, existing, _read_state(spark, bands_dir, BAND_COLS), config
            )
            res.new_prepared.select(*PREPARED_COLS).write.mode("overwrite").parquet(
                os.path.join(corpus_dir, f"batch={batch_id}")
            )
            res.new_bands.select(*BAND_COLS).write.mode("overwrite").parquet(
                os.path.join(bands_dir, f"batch={batch_id}")
            )
            res.verified_pairs.write.mode("overwrite").parquet(
                os.path.join(edges_dir, f"batch={batch_id}")
            )
            res.band_skew.write.mode("overwrite").parquet(
                os.path.join(skew_dir, f"batch={batch_id}")
            )

    writer = stream.writeStream.foreachBatch(process_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
