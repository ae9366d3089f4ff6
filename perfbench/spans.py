"""Per-layer tracing for the ``--trace 1`` run of the benchmark.

Spans are opened from the benchmark's own files only. ``Tracer.install``
replaces each layer's public function where its caller looks it up (for
example ``dedup.pipeline.verify_pairs``) with a wrapper that times the call
and tags every Spark job it submits with a job group named after the span.
After the session stops, the event log (``spark.eventLog.enabled``) joins
per-stage task metrics to those groups, and the Python UDF profiler
(``spark.sql.pyspark.udf.profiler=perf``) gives the time spent inside each
Arrow-batched kernel.

Operators return lazy frames, so an operator span covers only the eager
work done while its frame is built (persist and localCheckpoint barriers).
The table job that finally evaluates the frame is charged to the catalog
write on the batch path, and to the micro-batch's own state-table writes
(the ``streaming`` layer) on the streaming path.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import dedup.catalog
import dedup.incremental
import dedup.operators.containment
import dedup.pipeline
import dedup.streaming
import dedup.tracking

JOB_GROUP = "spark.jobGroup.id"
UDF_PROFILER = "spark.sql.pyspark.udf.profiler"

# Root span of one batch run. Its self time is the part of run_pipeline that
# no layer span covers; ``trace.coverage`` reports the covered share.
RUN_SPAN = "pipeline.run"

# (module, attribute, span): each public function is patched where its
# caller resolves it. run_pipeline imports the operators into its own
# namespace and containment at call time from its module; the streaming
# micro-batch calls incremental_dedup from dedup.streaming, which calls the
# operators from dedup.incremental.
OPERATOR_SPANS = [
    (dedup.pipeline, "assemble_conversations", "assemble"),
    (dedup.pipeline, "prepare_docs", "candidates.prepare_docs"),
    (dedup.pipeline, "candidate_pairs", "candidates.candidate_pairs"),
    (dedup.pipeline, "exact_duplicate_groups", "exact"),
    (dedup.pipeline, "exact_duplicate_pairs", "exact"),
    (dedup.pipeline, "representatives", "exact"),
    (dedup.pipeline, "verify_pairs", "verify"),
    (dedup.pipeline, "connected_components", "cluster"),
    (dedup.operators.containment, "containment_candidates", "containment.containment_candidates"),
    (dedup.operators.containment, "verify_containment", "containment.verify_containment"),
    (dedup.streaming, "incremental_dedup", "incremental"),
    (dedup.incremental, "assemble_conversations", "assemble"),
    (dedup.incremental, "prepare_docs", "candidates.prepare_docs"),
    (dedup.incremental, "candidate_pairs", "candidates.candidate_pairs"),
    (dedup.incremental, "verify_pairs", "verify"),
]

# Layers whose spans submit Spark jobs, in report order. ``pipeline`` is the
# metrics-table write plus tracking.drain on the batch path; ``streaming`` is
# the micro-batch body outside incremental_dedup (state-table writes, drain).
LAYERS = [
    "assemble",
    "candidates.prepare_docs",
    "candidates.candidate_pairs",
    "exact",
    "verify",
    "containment.containment_candidates",
    "containment.verify_containment",
    "cluster",
    "catalog",
    "pipeline",
    "incremental",
    "streaming",
]
# operators that only build a lazy frame: they submit no Spark job on either
# path (the table write evaluates the frame), so they report self time only
LAZY_LAYERS = {
    "assemble",
    "candidates.prepare_docs",
    "candidates.candidate_pairs",
    "exact",
    "containment.containment_candidates",
}
SPARK_FIELDS = [
    ("self_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("busy_s", "s"),
    ("busy_frac", "ratio"),
    ("shuffle_write_mb", "MB"),
    ("gc_s", "s"),
]
# tables run_pipeline builds through write_or_resume (build_s and write_s),
# then the ledgers written inside those builds and the run's metrics table
# (write_s only)
CATALOG_STAGES = [
    "assembled",
    "prepared",
    "exact_groups",
    "candidate_pairs",
    "verified_pairs",
    "containment_pairs",
    "clusters",
]
CATALOG_WRITES = ["band_skew", "window_band_skew", "containment_capped", "metrics"]
# kernel metric -> (source file, name of the Arrow-batch function its
# factory wraps in pandas_udf); the profiler keys its stats by both.
KERNELS = {
    "sketch.doc_sketch_udf": ("sketch.py", "_sketch"),
    "similarity.bigram_gated_staged_ratio_udf": ("similarity.py", "_gated"),
    "similarity.char_count_vector_udf": ("similarity.py", "_ccv"),
    "sketch.window_band_hashes_text_udf": ("sketch.py", "_wbh"),
    "containment.lcs_substring_ratio_udf": ("containment.py", "_ratio"),
}
# per-run figures read from the committed tables after each traced run
EXTRAS = [
    ("session.start_s", "s"),
    ("generate.s", "s"),
    ("pipeline.wall_s", "s"),
    ("incremental.wall_s", "s"),
    ("catalog.rows_out", "count"),
    ("catalog.bytes_written", "bytes"),
    ("catalog.commit_s", "s"),
    ("candidates.band_skew_rows", "count"),
    ("candidates.yield", "ratio"),
    ("containment.capped_pairs", "count"),
    ("containment.window_band_skew_rows", "count"),
    ("cluster.edges_in", "count"),
    ("cluster.components", "count"),
    ("incremental.corpus2x_latency_ratio", "ratio"),
    ("streaming.state_mb", "MB"),
    ("trace.overhead", "ratio"),
    ("trace.coverage", "ratio"),
]


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every (name, unit) the traced run prints, in order."""
    out = [
        (f"{layer}.{f}", unit)
        for layer in LAYERS
        for f, unit in (SPARK_FIELDS[:1] if layer in LAZY_LAYERS else SPARK_FIELDS)
    ]
    for stage in CATALOG_STAGES:
        out += [(f"catalog.{stage}.build_s", "s"), (f"catalog.{stage}.write_s", "s")]
    out += [(f"catalog.{table}.write_s", "s") for table in CATALOG_WRITES]
    out += [(f"{k}.udf_s", "s") for k in KERNELS]
    return out + EXTRAS


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Tracer:
    """Spans kept in memory, aggregated by name, plus per-stage catalog
    figures taken from each ``CheckpointCatalog.write`` result."""

    def __init__(self, spark, root_layer: str):
        self.sc = spark.sparkContext
        # layer charged for tracking.drain: "pipeline" or "streaming"
        self.root_layer = root_layer
        self.wall: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        self.figures: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, name)
        children = [0.0]
        stack.append(children)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            stack.pop()
            if stack:
                stack[-1][0] += wall
            self.sc.setLocalProperty(JOB_GROUP, prev_group)
            with self._lock:
                self.wall[name] += wall
                self.self_s[name] += wall - children[0]

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.figures[key] += value

    # -- patching ----------------------------------------------------------
    def install(self) -> None:
        for obj, attr, name in OPERATOR_SPANS:
            self._patch(obj, attr, self._wrap(getattr(obj, attr), name))
        cat = dedup.catalog.CheckpointCatalog
        self._patch(cat, "write", self._wrap_write(cat.write))
        self._patch(cat, "write_or_resume", self._wrap_build(cat.write_or_resume))
        self._patch(dedup.tracking, "drain", self._wrap(dedup.tracking.drain, self.root_layer))

    def uninstall(self) -> None:
        while self._saved:
            obj, attr, orig = self._saved.pop()
            setattr(obj, attr, orig)

    def _patch(self, obj, attr: str, fn) -> None:
        self._saved.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, fn)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_write(self, write):
        @functools.wraps(write)
        def traced(cat, name, df, stage=None, **kw):
            # keyed by table, not stage: a ledger written inside a build is
            # charged to its own write_s, and left out of the build's build_s
            key = "metrics" if name.startswith("metrics_") else name
            t0 = time.perf_counter()
            # run_pipeline's own metrics table belongs to the pipeline layer
            with self.span("pipeline" if key == "metrics" else "catalog"):
                res = write(cat, name, df, stage=stage, **kw)
            self._local.write_s = getattr(self._local, "write_s", 0.0) + time.perf_counter() - t0
            b = res.breakdown
            self.add(f"catalog.{key}.write_s", b["job"])
            self.add("catalog.commit_s", b["footer"] + b["commit"])
            self.add("catalog.rows_out", res.rows)
            self.add("catalog.bytes_written", tree_bytes(res.path))
            return res

        return traced

    def _wrap_build(self, write_or_resume):
        @functools.wraps(write_or_resume)
        def traced(cat, name, df_fn, stage=None, **kw):
            def build():
                t0 = time.perf_counter()
                w0 = getattr(self._local, "write_s", 0.0)
                try:
                    return df_fn()
                finally:
                    nested = getattr(self._local, "write_s", 0.0) - w0
                    self.add(f"catalog.{name}.build_s", time.perf_counter() - t0 - nested)

            return write_or_resume(cat, name, build, stage=stage, **kw)

        return traced


def kernel_seconds(spark) -> dict[str, float]:
    """Cumulative profiler time inside each kernel's Arrow-batch function,
    summed over every UDF profile the session collected."""
    out = dict.fromkeys(KERNELS, 0.0)
    for stats in spark._profiler_collector._perf_profile_results.values():
        if stats is None:
            continue
        for (path, _line, func), (_cc, _nc, _tt, cum, _callers) in stats.stats.items():
            for name, (fname, fn) in KERNELS.items():
                if func == fn and os.path.basename(path) == fname:
                    out[name] += cum
    return out


def task_metrics_by_group(event_dir: str, since_ms: float, until_ms: float) -> dict:
    """Jobs, tasks and summed task metrics per job group, for the jobs and
    stages submitted inside [since_ms, until_ms] (driver wall clock)."""
    out: dict = defaultdict(lambda: defaultdict(float))
    stage_group: dict = {}

    def group(ev):
        return (ev.get("Properties") or {}).get(JOB_GROUP)

    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):  # one file per app
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if since_ms <= ev.get("Submission Time", 0) <= until_ms:
                        out[group(ev)]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if since_ms <= info.get("Submission Time", 0) <= until_ms:
                        stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group(ev)
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    m = ev.get("Task Metrics")
                    if key not in stage_group or not m:
                        continue
                    acc = out[stage_group[key]]
                    acc["tasks"] += 1
                    acc["busy_s"] += m["Executor Run Time"] / 1000
                    acc["gc_s"] += m["JVM GC Time"] / 1000
                    acc["shuffle_write_mb"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                    )
                    acc["spill_mb"] += (
                        m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    ) / 1e6
    return out


def layer_of_group(group: str | None, streaming: bool) -> str | None:
    """Job group -> layer. A streaming query tags its own jobs with its run
    id, so on the streaming path any unknown group is the micro-batch body."""
    if group == RUN_SPAN:
        return "pipeline"
    if group in LAYERS:
        return group
    if group is not None and streaming:
        return "streaming"
    return None
