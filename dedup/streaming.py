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

STATE READ RULE (``_read_state``, the one reader for the micro-batch and
the consumer views): a state table is read with its declared schema
(``STATE_DDL``), so no read runs a schema-inference job. Inside micro-batch
N it returns only the rows of other batches (``batch != N``); a table with
no such batch yet -- the first batch, or a table a crash left unwritten --
is an empty frame of the same schema. Every batch, the first included,
therefore runs the same plan. A replayed batch N (a restart after a crash
before its commit) sees exactly the state the original attempt saw: its own
half-written directories are invisible to its reads and overwritten by its
writes, and the first batch's fingerprint stamp is decided by the same
listing (does ``corpus_prepared`` hold another batch?), not by a Spark job.

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
never executed inside the per-batch loop. One cost does grow with the
stream's age: each state read lists every ``batch=<id>`` directory of its
table, once in ``_has_batches`` and once in Spark's partition discovery, and
nothing compacts them. Past 32 directories
(``spark.sql.sources.parallelPartitionDiscovery.threshold``) that discovery
runs as a Spark job.

Per-batch cost also has a fixed part per task. Every Arrow-UDF task starts
with the worker's ``importlib.invalidate_caches()``, which re-read every zip
archive on the worker's path, 0.12-0.27 s per task on a 4-CPU host, until
``dedup/__init__.py`` made it re-read only changed archives. And a stage
split into more tasks than its rows need pays the rest of its per-task
cost for nothing: a 100-turn micro-batch ran its three UDF stages (doc
sketch, char-count vectors, ratio) as 8 + 9 + 9 tasks for about 12 docs.
So each micro-batch runs ``incremental_dedup`` with conv and shuffle
partitions ceil(rows / ``TURNS_PER_TASK``), at most ``conv_partitions``,
where rows are the turns it deduplicates: its own plus the buffered turns
of the conversations it re-opens, counted on the checkpoint of that input.
A few turns that continue many long conversations therefore keep the
tasks their re-assembly needs. The Levenshtein stage keeps
``lev_partitions``: its work grows with the pairs that reach the DP and
their text lengths, which a turn count does not measure.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from dedup.config import DedupConfig, DEFAULT_CONFIG
from dedup.incremental import incremental_dedup, latest_rows
from dedup.tracking import register, scope

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

FINGERPRINT_FILE = "config_fingerprint"
# Turns per task a micro-batch's per-doc and per-posting stages are sized
# to ("Per-batch cost" above): about what a batch run gives one conv
# partition (3,600 turns over 8 partitions is 450).
TURNS_PER_TASK = 500
# Declared schema of every state table that is read back: its producer's
# output (TRANSCRIPT_DDL, prepare_docs, band_postings, verify_pairs). The
# batch=<id> directory level reads as the ``batch`` column.
STATE_DDL = {
    "turns": TRANSCRIPT_DDL,
    "corpus_prepared": (
        "doc_id string, norm_text string, gram_hashes array<bigint>, "
        "minhash array<bigint>, simhash bigint"
    ),
    # (doc_id, band_hash): band_idx is folded into the hash -- see
    # dedup/operators/candidates.py::band_postings and config.SKETCH_FORMAT_VERSION
    "corpus_bands": "doc_id string, band_hash bigint",
    "stream_edges": (
        "id_a string, id_b string, jaccard double, hamming int, "
        "lev_ratio int, tier string"
    ),
}


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _has_batches(path: str, batch_id: int | None) -> bool:
    """Does a batch=<id> directory other than ``batch_id``'s hold a parquet
    file? A directory listing: a torn write's ``_temporary`` files sit one
    level deeper and do not count."""
    own = f"batch={batch_id}"
    return os.path.isdir(path) and any(
        d.startswith("batch=")
        and d != own
        and any(f.endswith(".parquet") for f in os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
    )


def _read_state(
    spark: SparkSession, warehouse: str, table: str, batch_id: int | None = None
) -> DataFrame:
    """The rows of one state table and their ``batch``, read with the
    table's declared schema (STATE_DDL), so no schema-inference job runs.
    Given a ``batch_id``, only the rows of other (earlier) batches. A table
    with no such batch yet is an empty frame of the same schema; limit(0)
    makes it an empty relation to the optimizer, so the joins against it
    fold away and submit no job."""
    schema = f"{STATE_DDL[table]}, batch bigint"
    path = os.path.join(warehouse, table)
    if not _has_batches(path, batch_id):
        return spark.createDataFrame([], schema).limit(0)
    df = spark.read.schema(schema).parquet(path)
    return df if batch_id is None else df.filter(F.col("batch") != batch_id)


def corpus_prepared_view(spark: SparkSession, warehouse: str) -> DataFrame:
    """Consumer view of the corpus: one row per doc_id, LATEST batch wins
    (a re-seen conversation's re-preparation supersedes its partial doc)."""
    return latest_rows(_read_state(spark, warehouse, "corpus_prepared"))


def stream_edges_view(spark: SparkSession, warehouse: str) -> DataFrame:
    """Consumer view of the verified edges: an edge is CURRENT iff it was
    written at or after the last (re-)preparation batch of both endpoints.
    Edges older than an endpoint's re-preparation were verified against a
    partial document; the re-seen batch re-paired and re-verified that doc
    against the corpus, so the newer batches carry the authoritative set."""
    edges = _read_state(spark, warehouse, "stream_edges")
    latest = (
        _read_state(spark, warehouse, "corpus_prepared")
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

    def write(df: DataFrame, table: str, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(warehouse, table, f"batch={batch_id}")
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # one scope per micro-batch: its checkpoints are released once the
        # batch's state tables are written (or the batch raised) -- a
        # long-lived stream must not accumulate pinned blocks across batches
        with scope():
            # batch turns feed three consumers (turns append, re-seen probe,
            # dedup input); checkpoint so the source is read once
            batch = register(batch_df.localCheckpoint()).select(*TRANSCRIPT_COLS)
            # 1. cross-batch assembly: conv_ids seen in EARLIER batches get
            #    their full turn set re-assembled (supersede-on-reseen).
            #    The dedup input is checkpointed once; its row count says
            #    whether the batch is empty and sizes the stages below.
            batch_convs = batch.select("conv_id").dropDuplicates()
            reseen_turns = (
                _read_state(spark, warehouse, "turns", batch_id)
                .join(F.broadcast(batch_convs), "conv_id", "left_semi")
                .select(*TRANSCRIPT_COLS)
            )
            dedup_input = register(batch.unionByName(reseen_turns).localCheckpoint())
            rows = dedup_input.count()
            if rows == 0:
                return
            first = not _has_batches(os.path.join(warehouse, "corpus_prepared"), batch_id)
            _check_fingerprint(warehouse, config, first_batch=first)
            # 2. persist this batch's raw turns before its other state
            #    (idempotent: a retry overwrites its own dir; every state
            #    read skips its rows)
            write(batch, "turns", batch_id)
            # 3. dedup, the per-doc and per-posting stages sized to the rows
            #    deduplicated: one task per TURNS_PER_TASK turns. The
            #    Levenshtein stage keeps lev_partitions: its work follows
            #    the pairs and their text lengths, not the turns. Partition
            #    counts split the work, they do not change what it finds,
            #    and the fingerprint stamped and checked above is the
            #    unsized config's.
            p = min(math.ceil(rows / TURNS_PER_TASK), config.conv_partitions)
            res = incremental_dedup(
                dedup_input,
                _read_state(spark, warehouse, "corpus_prepared", batch_id),
                _read_state(spark, warehouse, "corpus_bands", batch_id).drop("batch"),
                config.with_(conv_partitions=p, shuffle_partitions=p),
            )
            write(res.new_prepared, "corpus_prepared", batch_id)
            write(res.new_bands, "corpus_bands", batch_id)
            write(res.verified_pairs, "stream_edges", batch_id)
            write(res.band_skew, "stream_skew", batch_id)

    writer = stream.writeStream.foreachBatch(process_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
