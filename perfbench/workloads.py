"""The benchmark's workloads: seeded inputs, one timed unit of work, and the
output checks.

Each workload is a closed loop driven by this one client process: the next
unit of work starts only after the previous one has finished and been
checked. Inputs come from ``dedup.generate.make_corpus``; the program under
test receives only the generated rows, written as parquet files.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from dedup.generate import make_corpus
from dedup.pipeline import run_pipeline
from dedup.streaming import read_transcript_stream, start_streaming_dedup, stream_edges_view

import spans

# Both workloads keep make_corpus's defaults (30% duplicated bases, 25%
# boilerplate, 5% containment, 25% exact variants). Input sizes are stated in
# turns and filled with whole conversations, so that throughput compares
# across seeds. The size is bounded by the run time: a warm-up call and one
# timed call must fit in about a minute (see README.md).
N_CONVERSATIONS = 330
BATCH_TURNS = 3600
# batch_mixed warms up on a small prefix of the same corpus: the cold call
# pays JIT compilation of the per-job machinery, which data size hardly
# changes, and the timed call after it is as warm as after a full-size one.
WARM_TURNS = 300
# incremental_append: turns fed per micro-batch, and micro-batches per pass.
# Every pass restores the seeded warehouse and feeds the same files.
MICRO_BATCH_TURNS = 100
BATCHES_PER_PASS = 2

TURNS_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def write_turns(turns: pd.DataFrame, path: str) -> None:
    """One parquet file in the layout of dedup.streaming.TRANSCRIPT_DDL."""
    turns = turns.assign(ts=turns["ts"].dt.tz_localize("UTC"))
    table = pa.Table.from_pandas(turns, schema=TURNS_SCHEMA, preserve_index=False)
    pq.write_table(table, path)


def text_bytes(turns: pd.DataFrame) -> int:
    return int(turns["text"].str.encode("utf-8").str.len().sum())


def digest(lines) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def first_turns(corpus, budget: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Whole planted clusters (a base and its variants), in generation
    order, until ``budget`` turns: transcripts and truth of that prefix."""
    sizes = corpus.transcripts.groupby("conv_id", sort=False).size()
    base = sizes.index.str.split("v").str[0]
    per_base = sizes.groupby(base, sort=False).sum()
    if per_base.sum() < budget:
        raise ValueError(f"corpus has {per_base.sum()} turns, fewer than {budget}")
    kept_bases = per_base.index[per_base.cumsum().shift(fill_value=0) < budget]
    kept = sizes.index[base.isin(kept_bases)]
    t, truth = corpus.transcripts, corpus.truth_clusters
    return t[t["conv_id"].isin(kept)], truth[truth["conv_id"].isin(kept)]


def cluster_pairs(df: pd.DataFrame) -> set[tuple[str, str]]:
    out: set[tuple[str, str]] = set()
    for _, grp in df.groupby("cluster_id"):
        out.update(itertools.combinations(sorted(grp["conv_id"]), 2))
    return out


def manifest_rows(wh: str, table: str) -> int:
    try:
        with open(os.path.join(wh, table, "_MANIFEST.json")) as fh:
            return json.load(fh)["rows"]
    except FileNotFoundError:
        return 0


@dataclass
class BatchInput:
    """One parquet input of batch_mixed and its planted truth."""

    path: str
    turns: int
    input_bytes: int
    conv_ids: set[str]
    truth_pairs: set[tuple[str, str]]


@dataclass
class Outcome:
    """One unit of timed work: its latency samples and its checked output."""

    latencies: list[float]
    units: int                 # attempted units: pipeline runs or micro-batches
    turns: int
    # output digest per unit; units of one invocation on the same ``input``
    # see the same rows in the same order, so one list must be a prefix of
    # every longer one
    input: str
    digests: list[str]
    recall: float
    precision: float
    warehouse_bytes: int
    problems: list[str] = field(default_factory=list)
    figures: dict = field(default_factory=dict)


class BatchMixed:
    """One run_pipeline call per unit, into a fresh warehouse."""

    name = "batch_mixed"
    root_layer = "pipeline"

    def __init__(self, spark, config, work: str, seed: int):
        self.spark, self.config, self.work, self.seed = spark, config, work, seed

    def setup(self) -> None:
        corpus = make_corpus(N_CONVERSATIONS, seed=self.seed)
        self.warm, self.timed = (
            self._write_input(corpus, budget, name)
            for budget, name in ((WARM_TURNS, "warm"), (BATCH_TURNS, "timed"))
        )
        self.turns = self.timed.turns
        self.input_bytes = self.timed.input_bytes

    def _write_input(self, corpus, budget: int, name: str) -> BatchInput:
        turns, truth = first_turns(corpus, budget)
        path = os.path.join(self.work, f"{name}.parquet")
        write_turns(turns, path)
        return BatchInput(
            path, len(turns), text_bytes(turns), set(truth["conv_id"]), cluster_pairs(truth)
        )

    def warm_up(self) -> list[Outcome]:
        """One untimed, checked run over the small input: the first run in a
        session pays JIT and Python-worker start-up."""
        return [self.run(inp=self.warm)]

    def run(self, tracer=None, inp: BatchInput | None = None) -> Outcome:
        inp = inp or self.timed
        wh = os.path.join(self.work, "warehouse")
        shutil.rmtree(wh, ignore_errors=True)
        t0 = time.perf_counter()
        with tracer.span(spans.RUN_SPAN) if tracer else nullcontext():
            run_pipeline(self.spark, self.spark.read.parquet(inp.path), wh, self.config)
        latency = time.perf_counter() - t0
        return self._check(wh, inp, latency, tracer is not None)

    def _check(self, wh: str, inp: BatchInput, latency: float, with_figures: bool) -> Outcome:
        clusters = pq.read_table(
            os.path.join(wh, "clusters"), columns=["conv_id", "cluster_id"]
        ).to_pandas()
        problems = []
        if not clusters["conv_id"].is_unique or set(clusters["conv_id"]) != inp.conv_ids:
            problems.append("clusters must give every input conversation exactly one cluster")
        got = cluster_pairs(clusters)
        hit = len(got & inp.truth_pairs)
        recall = hit / max(len(inp.truth_pairs), 1)
        precision = hit / max(len(got), 1)
        if recall < 0.99:
            problems.append(f"dup-pair recall {recall:.4f} < 0.99")
        if precision < 0.95:
            problems.append(f"dup-pair precision {precision:.4f} < 0.95")
        rep = clusters.groupby("cluster_id")["conv_id"].transform("min")
        lines = sorted(f"{c}\t{r}" for c, r in zip(clusters["conv_id"], rep))
        out = Outcome(
            latencies=[latency],
            units=1,
            turns=inp.turns,
            input=os.path.basename(inp.path),
            digests=[digest(lines)],
            recall=recall,
            precision=precision,
            warehouse_bytes=spans.tree_bytes(wh),
            problems=problems,
        )
        if with_figures:
            out.figures = self._figures(wh, clusters)
        return out

    @staticmethod
    def _figures(wh: str, clusters: pd.DataFrame) -> dict:
        capped = pq.read_table(os.path.join(wh, "containment_capped"), columns=["pairs_dropped"])
        groups = pq.read_table(os.path.join(wh, "exact_groups"), columns=["group_size"])
        exact_edges = int(pc.sum(groups["group_size"]).as_py() or 0) - groups.num_rows
        cands = manifest_rows(wh, "candidate_pairs")
        verified = manifest_rows(wh, "verified_pairs")
        sizes = clusters.groupby("cluster_id").size()
        return {
            "candidates.band_skew_rows": manifest_rows(wh, "band_skew"),
            "candidates.yield": verified / cands if cands else 0.0,
            "containment.capped_pairs": int(pc.sum(capped["pairs_dropped"]).as_py() or 0),
            "containment.window_band_skew_rows": manifest_rows(wh, "window_band_skew"),
            "cluster.edges_in": verified + manifest_rows(wh, "containment_pairs") + exact_edges,
            "cluster.components": int((sizes > 1).sum()),
        }


class IncrementalAppend:
    """Set-up seeds a streaming warehouse with most of a corpus; each unit is
    a pass that restores that warehouse and feeds the rest as micro-batches
    through start_streaming_dedup (availableNow, one file per trigger)."""

    name = "incremental_append"
    root_layer = "streaming"

    def __init__(self, spark, config, work: str, seed: int):
        self.spark, self.config, self.work, self.seed = spark, config, work, seed
        self.src = os.path.join(work, "stream_src")
        self.wh = os.path.join(work, "stream_wh")
        self.ckpt = os.path.join(work, "stream_ckpt")

    def setup(self) -> None:
        corpus = make_corpus(N_CONVERSATIONS, seed=self.seed)
        turns = corpus.transcripts
        sizes = turns.groupby("conv_id").size()
        ids = sorted(sizes.index)
        random.Random(self.seed).shuffle(ids)
        # micro-batches take whole conversations off the shuffled list until
        # each holds MICRO_BATCH_TURNS turns; the stream is seeded with the rest
        batches: list[list[str]] = [[] for _ in range(BATCHES_PER_PASS)]
        for chunk in batches:
            while sizes[chunk].sum() < MICRO_BATCH_TURNS:
                chunk.append(ids.pop())
        self.new_ids = {c for chunk in batches for c in chunk}
        self.seed_turns = turns[~turns["conv_id"].isin(self.new_ids)]
        self.batch_files, self.batch_turns = [], []
        for i, chunk in enumerate(batches):
            path = os.path.join(self.work, f"batch{i:03d}.parquet")
            rows = turns[turns["conv_id"].isin(chunk)]
            write_turns(rows, path)
            self.batch_files.append(path)
            self.batch_turns.append(len(rows))
        self.input_bytes = text_bytes(turns)
        self.truth = dict(zip(corpus.truth_clusters["conv_id"], corpus.truth_clusters["cluster_id"]))
        self.planted = self._planted_pairs(turns)

    def _planted_pairs(self, turns: pd.DataFrame) -> set[tuple[str, str]]:
        """(base, variant) pairs with at least one new doc. Containment
        variants (one extra turn) are left out: this path has no
        containment tier."""
        n_turns = turns.groupby("conv_id").size()
        out = set()
        for var in n_turns.index:
            base = var.split("v")[0]
            if base == var or n_turns[var] != n_turns[base]:
                continue
            if base in self.new_ids or var in self.new_ids:
                out.add((min(base, var), max(base, var)))
        return out

    def _seed(self, seed_turns: pd.DataFrame, tag: str) -> str:
        """Run the stream once over ``seed_turns``; return a snapshot dir
        holding the source, warehouse and checkpoint it left behind."""
        for d in (self.src, self.wh, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.src)
        write_turns(seed_turns, os.path.join(self.src, "seed.parquet"))
        self._run_stream()
        snap = os.path.join(self.work, tag)
        shutil.rmtree(snap, ignore_errors=True)
        for d in (self.src, self.wh, self.ckpt):
            shutil.copytree(d, os.path.join(snap, os.path.basename(d)))
        return snap

    def _restore(self, snap: str) -> None:
        for d in (self.src, self.wh, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(os.path.join(snap, os.path.basename(d)), d)

    def _run_stream(self) -> list[float]:
        stream = read_transcript_stream(self.spark, self.src, max_files_per_trigger=1)
        q = start_streaming_dedup(self.spark, stream, self.wh, self.config, checkpoint_dir=self.ckpt)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        return [
            p.durationMs["triggerExecution"] / 1000
            for p in q.recentProgress
            if p.numInputRows > 0
        ]

    def warm_up(self) -> list[Outcome]:
        """Seed the warehouse. The seeding trigger runs the first-batch path
        cold; a separate warm-up pass over the incremental path would cost
        a sixth of the run's time."""
        self.snapshot = self._seed(self.seed_turns, "seeded")
        return []

    def run(self, tracer=None, snapshot: str | None = None) -> Outcome:
        # spans come from the patched operators; the trigger is the unit
        files = self.batch_files
        self._restore(snapshot or self.snapshot)
        base_bytes = spans.tree_bytes(self.wh)
        now = time.time()
        # the file source orders new files by modification time
        for i, path in enumerate(files):
            dst = os.path.join(self.src, os.path.basename(path))
            shutil.copyfile(path, dst)
            os.utime(dst, (now + i, now + i))
        latencies = self._run_stream()
        # the seed is micro-batch 0; the fed files are micro-batches 1..n
        per_batch = [
            pq.read_table(
                os.path.join(self.wh, "stream_edges", f"batch={b}"), columns=["id_a", "id_b"]
            ).to_pandas()
            for b in range(1, len(files) + 1)
        ]
        edges = {
            (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
            for r in stream_edges_view(self.spark, self.wh).select("id_a", "id_b").collect()
        }
        new_edges = [e for e in edges if e[0] in self.new_ids or e[1] in self.new_ids]
        good = sum(self.truth.get(a, a) == self.truth.get(b, b) for a, b in new_edges)
        problems = []
        if len(latencies) != len(files):
            problems.append(f"{len(latencies)} triggers for {len(files)} micro-batches")
        wh_bytes = spans.tree_bytes(self.wh)
        return Outcome(
            latencies=latencies,
            units=len(files),
            turns=sum(self.batch_turns[: len(files)]),
            input="micro-batches",
            digests=[
                digest(sorted(f"{a}\t{b}" for a, b in zip(e["id_a"], e["id_b"]))) for e in per_batch
            ],
            recall=len(self.planted & edges) / max(len(self.planted), 1),
            precision=good / max(len(new_edges), 1),
            warehouse_bytes=wh_bytes,
            problems=problems,
            figures={"streaming.state_mb": (wh_bytes - base_bytes) / 1e6 / len(files)},
        )

    def corpus2x(self) -> str:
        """Snapshot of a warehouse seeded with twice the corpus: the seed
        turns plus as many novel conversations again."""
        n_seed = self.seed_turns["conv_id"].nunique()
        extra = make_corpus(n_conversations=n_seed, dup_fraction=0.0, seed=self.seed + 1).transcripts
        extra = extra.assign(conv_id="x" + extra["conv_id"])
        snap = self._seed(pd.concat([self.seed_turns, extra], ignore_index=True), "seeded2x")
        self._restore(self.snapshot)
        return snap


WORKLOADS = {w.name: w for w in (BatchMixed, IncrementalAppend)}
