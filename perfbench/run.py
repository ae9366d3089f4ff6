"""Transcript-dedup benchmark: one workload, one seed, one timed run.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 30 --trace 0

Runs the product through its public entry points (dedup.pipeline.run_pipeline
and dedup.streaming.start_streaming_dedup) on local[nproc], checks every
output against the generator's planted truth, and prints one JSON object as
the last line of stdout: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of perfbench/spans.py with ``--trace 1``. The line before
it carries the host, the samples and the set-up breakdown. Exits non-zero
when a unit of work raises or fails an output check. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3  # corpus generation + materialisation repeats; setup_s uses the median

END_TO_END = [
    ("latency_s", "s"),
    ("turns_per_s", "turns/s"),
    ("recall", "ratio"),
    ("precision", "ratio"),
    ("peak_rss_mb", "MB"),
    ("warehouse_bytes_per_input_byte", "ratio"),
    ("setup_s", "s"),
]


# -- processes ---------------------------------------------------------------
def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: resident memory with each shared page
    split between the processes that map it, so that the Python workers
    forked from one daemon do not count their shared pages once each."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass  # the process ended between listing and reading
    return total


class PeakRss:
    """Peak summed resident memory (PSS) of every process this one started
    (the Spark JVM and its Python workers), polled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes(descendants(os.getpid())))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- session -----------------------------------------------------------------
def host_memory_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def start_session(work: str, nproc: int, event_dir: str | None):
    from dedup.config import DedupConfig
    from dedup.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    # phase() in dedup.phasetimer adds count() actions when this is set
    os.environ.pop("SPARK_GRAFT_PHASE_TIMING", None)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # a fifth of the host, at most the 8 GB the paper-scale probe used: the
    # heap is pre-touched below, so all of it stays resident for the run
    heap_gb = max(2, min(8, int(host_memory_gb() // 5)))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # a fixed, pre-touched heap: heap resizing made peak RSS vary by 14%
    # across runs, and old-generation pages first touched at run-dependent
    # times made single runs read 70% high; peak RSS then moves with the
    # JVM's off-heap memory and the Python workers, not with GC timing
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Xms{heap_gb}g -XX:+AlwaysPreTouch -Djava.io.tmpdir={local}"
    )
    # Python workers import dedup from the checkout
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{ROOT}:{prev}" if prev else ROOT
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    )
    config = DedupConfig(
        shuffle_partitions=2 * nproc, conv_partitions=2 * nproc, lev_partitions=2 * nproc
    )
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc}]", config=config)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, config, time.perf_counter() - t0, heap_gb


def stop_session(spark) -> None:
    """Stop Spark, close the JVM and wait until it and its workers end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    wait_gone(pids, timeout=30)


# -- run ---------------------------------------------------------------------
def host_info(nproc: int, heap_gb: int, spark) -> dict:
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        res = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = res.stdout.strip() or None
    return {
        "nproc": nproc,
        "memory_gb": round(host_memory_gb(), 1),
        "driver_heap_gb": heap_gb,
        "spark": spark.version,
        "python": platform.python_version(),
        "commit": commit,
    }


def timed_units(workload, seconds: float, tracer=None):
    """Closed loop: run units back to back, starting another only while the
    last one would still end within ``seconds``; at least one. Returns
    outcomes, attempted units and failed units."""
    outcomes, attempted, failed = [], 0, 0
    start = time.perf_counter()
    last = 0.0
    while not outcomes and not failed or time.perf_counter() - start + last <= seconds:
        t0 = time.perf_counter()
        try:
            out = workload.run(tracer=tracer)
        except Exception:  # a failed unit counts in `failed`; the loop goes on
            traceback.print_exc()
            failed += 1
            attempted += 1
            continue
        attempted += out.units
        failed += out.units if out.problems else 0
        for p in out.problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        outcomes.append(out)
        last = time.perf_counter() - t0
        # between units, outside the timed region: drop cached blocks and
        # collect the heap so each unit starts from the same state
        workload.spark.catalog.clearCache()
        workload.spark.sparkContext._jvm.System.gc()
    return outcomes, attempted, failed


def end_to_end(workload, outcomes, setup_s: float, peak_rss: int) -> dict:
    lat = [x for o in outcomes for x in o.latencies]
    turns_per_s = (
        # throughput over all micro-batches of the streaming path
        sum(o.turns for o in outcomes) / sum(lat)
        if workload.root_layer == "streaming"
        else workload.turns / statistics.median(lat)
    )
    return {
        "latency_s": statistics.median(lat),
        "turns_per_s": turns_per_s,
        "recall": statistics.median(o.recall for o in outcomes),
        "precision": statistics.median(o.precision for o in outcomes),
        "peak_rss_mb": peak_rss / 1e6,
        "warehouse_bytes_per_input_byte": statistics.median(
            o.warehouse_bytes for o in outcomes
        ) / workload.input_bytes,
        "setup_s": setup_s,
    }


def per_layer(workload, tracer, outcomes, units, kernels, groups, extra) -> dict:
    import spans

    nproc = extra["nproc"]
    lat = [x for o in outcomes for x in o.latencies]
    self_s = {layer: tracer.self_s.get(layer, 0.0) for layer in spans.LAYERS}
    streaming = workload.root_layer == "streaming"
    if streaming:
        self_s["streaming"] = sum(lat) - tracer.wall.get("incremental", 0.0)
        covered = tracer.wall.get("incremental", 0.0) + tracer.wall.get("streaming", 0.0)
        coverage = covered / sum(lat)
    else:
        run_wall = tracer.wall[spans.RUN_SPAN]
        coverage = 1 - tracer.self_s[spans.RUN_SPAN] / run_wall
    spark_by_layer: dict = {layer: {} for layer in spans.LAYERS}
    for group, acc in groups.items():
        layer = spans.layer_of_group(group, streaming)
        if layer is None:
            continue
        for k, v in acc.items():
            spark_by_layer[layer][k] = spark_by_layer[layer].get(k, 0.0) + v
    out = {}
    for layer in spans.LAYERS:
        acc = spark_by_layer[layer]
        s = self_s[layer]
        vals = {
            "self_s": s,
            "jobs": acc.get("jobs", 0.0),
            "tasks": acc.get("tasks", 0.0),
            "busy_s": acc.get("busy_s", 0.0),
            "busy_frac": acc.get("busy_s", 0.0) / (s * nproc) if s > 0 else 0.0,
            "shuffle_write_mb": acc.get("shuffle_write_mb", 0.0),
            "gc_s": acc.get("gc_s", 0.0),
        }
        for f, _unit in spans.SPARK_FIELDS:
            # per unit: per pipeline run, or per micro-batch on the streaming path
            out[f"{layer}.{f}"] = vals[f] if f == "busy_frac" else vals[f] / units
    for key, v in tracer.figures.items():
        out[key] = v / units
    for name, v in kernels.items():
        out[f"{name}.udf_s"] = v / units
    figures: dict = {}
    for o in outcomes:
        for k, v in o.figures.items():
            figures[k] = figures.get(k, 0.0) + v / len(outcomes)
    out.update(figures)
    out.update(
        {
            "session.start_s": extra["session_s"],
            "generate.s": extra["generate_s"],
            "pipeline.wall_s": 0.0 if streaming else tracer.wall[spans.RUN_SPAN] / units,
            "incremental.wall_s": tracer.wall.get("incremental", 0.0) / units,
            "incremental.corpus2x_latency_ratio": extra.get("corpus2x_ratio", 0.0),
            "trace.overhead": statistics.median(lat) / extra["untraced_latency"],
            "trace.coverage": coverage,
        }
    )
    return {n: out.get(n, 0.0) for n, _unit in spans.per_layer_metrics()}


def run(args, work: str) -> tuple[dict, dict]:
    import spans
    import workloads

    nproc = len(os.sched_getaffinity(0))
    event_dir = os.path.join(work, "events") if args.trace else None
    spark, config, session_s, heap_gb = start_session(work, nproc, event_dir)
    detail: dict = {"workload": args.workload, "seed": args.seed}
    try:
        detail["host"] = host_info(nproc, heap_gb, spark)
        wl = workloads.WORKLOADS[args.workload](spark, config, work, args.seed)
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        checked = wl.warm_up()  # untimed units whose output is checked too
        warm_s = time.perf_counter() - t0
        generate_s = statistics.median(reps)
        setup_s = session_s + generate_s + warm_s
        detail["setup"] = {
            "session_s": session_s,
            "generate_and_write_s": reps,
            "warm_up_s": warm_s,
            "warm_up_latencies": [x for o in checked for x in o.latencies],
        }
        if not args.trace:
            with PeakRss() as rss:
                outcomes, attempted, failed = timed_units(wl, args.seconds)
        else:
            # untraced references in this session: tracing overhead, and
            # per-batch latency against a corpus twice as large
            ref = wl.run()
            checked.append(ref)
            extra = {
                "nproc": nproc,
                "session_s": session_s,
                "generate_s": generate_s,
                "untraced_latency": statistics.median(ref.latencies),
            }
            if wl.root_layer == "streaming":
                big = wl.run(snapshot=wl.corpus2x())
                extra["corpus2x_ratio"] = statistics.median(big.latencies) / statistics.median(
                    ref.latencies
                )
            tracer = spans.Tracer(spark, wl.root_layer)
            tracer.install()
            spark.conf.set(spans.UDF_PROFILER, "perf")
            since = time.time() * 1000
            try:
                outcomes, attempted, failed = timed_units(wl, args.seconds, tracer=tracer)
            finally:
                until = time.time() * 1000
                tracer.uninstall()
                spark.conf.unset(spans.UDF_PROFILER)
            kernels = spans.kernel_seconds(spark)
        detail["samples"] = [o.latencies for o in outcomes]
        digests: dict[str, list[list[str]]] = {}
        for o in checked + outcomes:
            digests.setdefault(o.input, []).append(o.digests)
        detail["digests"] = {k: max(v, key=len) for k, v in digests.items()}
        for out in checked:
            attempted += out.units
            failed += out.units if out.problems else 0
            for p in out.problems:
                print(f"perfbench: check failed in an untimed unit: {p}", file=sys.stderr)
    finally:
        stop_session(spark)
    if any(
        d != detail["digests"][k][: len(d)] for k, ds in digests.items() for d in ds
    ):
        print("perfbench: outputs differ between units of one invocation", file=sys.stderr)
        failed = attempted
    metrics, names = {}, END_TO_END
    if outcomes and not args.trace:
        metrics = end_to_end(wl, outcomes, setup_s, rss.peak)
    elif outcomes:
        groups = spans.task_metrics_by_group(event_dir, since, until)
        detail["spill_mb"] = sum(acc.get("spill_mb", 0.0) for acc in groups.values())
        units = sum(o.units for o in outcomes)
        metrics = per_layer(wl, tracer, outcomes, units, kernels, groups, extra)
        names = spans.per_layer_metrics()
    unit_of = dict(names)
    result = {
        "correct": failed == 0 and bool(outcomes),
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()},
    }
    return result, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "dedup", "pipeline.py")):
        print(f"perfbench: no dedup package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
