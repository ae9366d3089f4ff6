"""Scaling-efficiency evidence (BASELINE.json two-cluster-size criterion,
sandbox proxy): run the identical dedup pipeline at local[N] and local[4N]
on the same input in separate JVMs, report throughput at both plus
efficiency = (T_N / T_4N) / 4 -- AND the per-stage breakdown at both
levels, so the non-scaling stage is identified empirically instead of
guessed (round-2 verdict item 1).

Methodology notes (this sandbox):
  * wall-clock noise here is 1.5-2x run-to-run (shared host), so each
    parallelism level runs ``repeats`` times INTERLEAVED (N, 4N, N, 4N, ...)
    and the minimum per level is used -- min is the standard noise-robust
    estimator for wall time on a shared machine. Per-stage minima are taken
    independently (each stage's best observation), which is valid for
    attribution because stages are sequential barriers.
  * the corpus must be large enough that parallel compute dominates the
    per-stage fixed costs (job scheduling, AQE planning rounds, Python
    worker spin-up, checkpoint commit barriers). Those fixed costs are
    O(stages), not O(data): at the 10^12-turn target they are irrelevant,
    so measuring them as if they were the workload would make the proxy
    say nothing about cluster scaling. ``convs`` (SPARK_GRAFT_BENCH_CONVS)
    sizes the corpus; the default 8000 (~104k turns) makes the pipeline's
    parallel region ~5-10x the fixed floor at local[8].

Usage: python tools/bench_scaling.py [n_small] [sf_dir] [convs] [repeats]
Writes BENCH_SCALING.json at the repo root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# per-executor resources for cluster-mode topologies (the honest proxy):
# N executors x EXEC_CORES cores, one JVM + python-worker pool each, same
# per-executor memory at both cluster sizes -- scaling the cluster means
# MORE executors, not bigger ones.
EXEC_CORES = 4
EXEC_MEM_MB = 10240


def run_once(cpus: int, sf_dir: str, convs: int | None, mode: str) -> dict:
    # PER-CORE-CONSTANT heap (default 3 GB/core): a 4N-core cluster brings
    # 4N x the memory, and GC cost tracks allocation-rate / heap-size -- a
    # constant TOTAL heap at both levels (the pre-r4 methodology) gives the
    # big topology 4x less headroom per allocating task thread and measures
    # that starvation as "bad scaling". Same principle the local-cluster
    # mode applies per executor (EXEC_MEM_MB is per-executor, not total).
    gb_per_core = int(os.environ.get("SPARK_GRAFT_MEM_PER_CORE_GB", "3"))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_ONLY_PIPELINE="1",
        # the campaign interleaves its own repeats; bench.py's internal
        # best-of-2 pipeline loop would double every campaign run for no
        # extra information
        SPARK_GRAFT_BENCH_PIPE_REPEATS="1",
        SPARK_DRIVER_MEMORY=f"{gb_per_core * cpus}g",
        # share the deterministic corpus across runs (driver-side text gen
        # is minutes at 24k+ convs and identical every run)
        SPARK_GRAFT_CORPUS_CACHE=os.environ.get(
            "SPARK_GRAFT_CORPUS_CACHE", "/tmp/spark_graft_corpus_cache"
        ),
    )
    if mode == "cluster":
        n_exec = cpus // EXEC_CORES
        env["SPARK_GRAFT_MASTER"] = (
            f"local-cluster[{n_exec},{EXEC_CORES},{EXEC_MEM_MB}]"
        )
        env["SPARK_DRIVER_MEMORY"] = "8g"
    if convs:
        env["SPARK_GRAFT_BENCH_CONVS"] = str(convs)
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    r = json.loads(line)
    # record the driver heap ACTUALLY set for this run (cluster mode
    # overrides it to 8g; the artifact must not recompute it from env)
    r["_driver_memory"] = env["SPARK_DRIVER_MEMORY"]
    return r


def main():
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    convs = int(sys.argv[3]) if len(sys.argv) > 3 else int(
        os.environ.get("SPARK_GRAFT_BENCH_CONVS", "8000")
    )
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    # "cluster" = local-cluster topologies (N vs 4N separate executor JVMs,
    # per-executor heaps/python pools -- mirrors the north rule's criterion
    # and removes the shared-heap GC artifact of thread-mode local[N]);
    # "threads" = classic local[N] vs local[4N].
    mode = sys.argv[5] if len(sys.argv) > 5 else os.environ.get(
        "SPARK_GRAFT_SCALING_MODE", "threads"
    )
    n_big = n_small * 4

    runs: dict[int, list[dict]] = {n_small: [], n_big: []}
    for i in range(repeats):
        for n in (n_small, n_big):  # interleave to decorrelate host drift
            r = run_once(n, sf_dir, convs, mode)
            runs[n].append(r)
            print(
                f"run {i}: {mode}[{n}] pipeline "
                f"{r['queries']['pipeline_dedup']}s stages="
                f"{r['extras'].get('pipeline_stages')}",
                file=sys.stderr,
            )

    def best(n: int) -> dict:
        return min(runs[n], key=lambda r: r["queries"]["pipeline_dedup"])

    def stage_min(n: int) -> dict[str, float]:
        """Per-stage minima across repeats (stages are sequential, so each
        stage's best observation is a valid noise-robust estimate)."""
        acc: dict[str, float] = {}
        for r in runs[n]:
            for st, secs in r["extras"].get("pipeline_stages", {}).items():
                acc[st] = min(acc.get(st, 1e18), secs)
        return {k: round(v, 3) for k, v in acc.items()}

    small, big = best(n_small), best(n_big)
    t_small = small["queries"]["pipeline_dedup"]
    t_big = big["queries"]["pipeline_dedup"]
    speedup = t_small / t_big
    efficiency = speedup / (n_big / n_small)

    st_small, st_big = stage_min(n_small), stage_min(n_big)
    stage_table = {
        st: {
            "secs_small": st_small[st],
            "secs_big": st_big.get(st, 0.0),
            "speedup": round(st_small[st] / st_big[st], 3) if st_big.get(st) else None,
            "efficiency": round(st_small[st] / st_big[st] / (n_big / n_small), 3)
            if st_big.get(st)
            else None,
        }
        for st in st_small
    }
    # efficiency over per-stage minima (sum of bests) -- removes cross-run
    # noise correlation that a single best-run total carries
    sum_small = sum(v["secs_small"] for v in stage_table.values())
    sum_big = sum(v["secs_big"] for v in stage_table.values())

    result = {
        "mode": mode,
        "topology_small": f"local-cluster[{n_small // EXEC_CORES},{EXEC_CORES},{EXEC_MEM_MB}]"
        if mode == "cluster"
        else f"local[{n_small}]",
        "topology_big": f"local-cluster[{n_big // EXEC_CORES},{EXEC_CORES},{EXEC_MEM_MB}]"
        if mode == "cluster"
        else f"local[{n_big}]",
        "n_small": n_small,
        "n_big": n_big,
        "driver_memory_small": small["_driver_memory"],
        "driver_memory_big": big["_driver_memory"],
        "convs": convs,
        "turns": small["extras"]["turns"],
        "repeats": repeats,
        "pipeline_secs_small": t_small,
        "pipeline_secs_big": t_big,
        "pipeline_secs_small_all": [r["queries"]["pipeline_dedup"] for r in runs[n_small]],
        "pipeline_secs_big_all": [r["queries"]["pipeline_dedup"] for r in runs[n_big]],
        "turns_per_sec_small": best(n_small)["extras"]["turns_per_sec"],
        "turns_per_sec_big": best(n_big)["extras"]["turns_per_sec"],
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(efficiency, 3),
        "stage_sum_secs_small": round(sum_small, 3),
        "stage_sum_secs_big": round(sum_big, 3),
        "speedup_stage_sum": round(sum_small / sum_big, 3) if sum_big else None,
        "scaling_efficiency_stage_sum": round(sum_small / sum_big / (n_big / n_small), 3)
        if sum_big
        else None,
        "stages": stage_table,
        "total_secs_small": small["value"],
        "total_secs_big": big["value"],
        "sf_dir": sf_dir,
        # full per-run history, so a campaign can be extended from this
        # list rather than from a log re-parse
        "raw_runs": {
            str(n): [
                {
                    "secs": r["queries"]["pipeline_dedup"],
                    "stages": r["extras"].get("pipeline_stages"),
                    "breakdown": r["extras"].get("pipeline_stage_breakdown"),
                    "turns_per_sec": r["extras"].get("turns_per_sec"),
                }
                for r in runs[n]
            ]
            for n in (n_small, n_big)
        },
    }

    # Fixed-floor attribution from the per-stage build/job/footer/commit
    # breakdown (catalog.StageResult.breakdown): footer + commit are pure
    # per-stage fixed costs (driver-side manifest/rename, O(stages) not
    # O(data)); netting them out shows what efficiency the same plan gets
    # once the parallel region dominates -- i.e. at the 10^12-turn target.
    def floor_secs(n: int) -> float:
        fixed = 0.0
        for r in runs[n]:
            bd = r["extras"].get("pipeline_stage_breakdown", {})
            tot = sum(d.get("footer", 0) + d.get("commit", 0) for d in bd.values())
            fixed = max(fixed, tot)
        return round(fixed, 3)

    best_small, best_big = best(n_small), best(n_big)
    result["stage_breakdown_small"] = best_small["extras"].get(
        "pipeline_stage_breakdown", {}
    )
    result["stage_breakdown_big"] = best_big["extras"].get(
        "pipeline_stage_breakdown", {}
    )
    result["fixed_footer_commit_secs_small"] = floor_secs(n_small)
    result["fixed_footer_commit_secs_big"] = floor_secs(n_big)

    out_path = os.environ.get(
        "SPARK_GRAFT_SCALING_OUT", os.path.join(ROOT, "BENCH_SCALING.json")
    )
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
