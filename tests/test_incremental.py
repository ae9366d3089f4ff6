"""Incremental dedup: appended near-dup conversations must link to their
existing originals without re-sketching the corpus; streaming wrapper runs
the same path via foreachBatch."""

import pyspark.sql.functions as F
import pytest

from dedup.config import DedupConfig
from dedup.generate import make_corpus, misspell
from dedup.incremental import incremental_dedup
from dedup.operators.assemble import assemble_conversations
from dedup.operators.candidates import band_postings, candidate_pairs, prepare_docs
from dedup.operators.verify import verify_pairs


def test_incremental_links_new_to_existing(spark, config):
    corpus = make_corpus(n_conversations=40, dup_fraction=0.0, seed=55)
    src = spark.createDataFrame(corpus.transcripts)
    existing = prepare_docs(
        assemble_conversations(src, config), "conv_id", "doc_text", config
    ).cache()
    existing.count()

    # new batch: near-dup copies of two existing conversations + one novel
    import random

    rng = random.Random(9)
    base = corpus.transcripts[corpus.transcripts.conv_id.isin(["c0000003", "c0000007"])]
    newbie = base.copy()
    newbie["conv_id"] = "x" + newbie["conv_id"]
    newbie["text"] = [misspell(rng, t) for t in newbie["text"]]
    novel = corpus.transcripts[corpus.transcripts.conv_id == "c0000001"].copy()
    novel["conv_id"] = "znovel"
    novel["text"] = ["completely different content about nothing shared"] * len(novel)
    batch = spark.createDataFrame(
        __import__("pandas").concat([newbie, novel], ignore_index=True)
    )

    res = incremental_dedup(
        batch, existing.withColumn("batch", F.lit(0)), band_postings(existing, config), config
    )
    edges = {(r["id_a"], r["id_b"]) for r in res.verified_pairs.collect()}
    flat = {x for e in edges for x in e}
    assert {"xc0000003", "c0000003"} <= flat
    assert {"xc0000007", "c0000007"} <= flat
    assert ("c0000003", "xc0000003") in edges or ("xc0000003", "c0000003") in edges
    assert "znovel" not in flat
    assert res.new_prepared.count() == 3


def test_streaming_dedup_available_now(spark, config, tmp_path):
    from dedup.streaming import read_transcript_stream, start_streaming_dedup

    corpus = make_corpus(n_conversations=25, dup_fraction=0.4, seed=77)
    # input_hint schema: turn_idx is int32
    src = spark.createDataFrame(corpus.transcripts).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    in_dir = str(tmp_path / "in")
    src.repartition(3).write.mode("overwrite").parquet(in_dir)

    wh = str(tmp_path / "wh")
    stream = read_transcript_stream(spark, in_dir, max_files_per_trigger=1)
    q = start_streaming_dedup(
        spark, stream, wh, config, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    corpus_prepared = spark.read.parquet(f"{wh}/corpus_prepared")
    assert corpus_prepared.count() > 0
    edges = spark.read.parquet(f"{wh}/stream_edges")
    # at least the exact duplicates planted in the corpus must surface
    assert edges.count() > 0


def test_incremental_reuses_postings_no_corpus_resketch(spark, config, monkeypatch):
    """O(batch) contract: the band UDF never re-runs over the historical
    corpus -- band_postings is invoked exactly once (new side only)."""
    import dedup.incremental as inc

    corpus = make_corpus(n_conversations=30, dup_fraction=0.0, seed=21)
    src = spark.createDataFrame(corpus.transcripts)
    existing = prepare_docs(
        assemble_conversations(src, config), "conv_id", "doc_text", config
    ).localCheckpoint()
    bands = band_postings(existing, config).localCheckpoint()

    batch_pd = corpus.transcripts[corpus.transcripts.conv_id == "c0000005"].copy()
    batch_pd["conv_id"] = "xc0000005"  # exact dup of an existing conversation
    batch = spark.createDataFrame(batch_pd)

    calls = []
    orig = inc.band_postings

    def spy(prepared, cfg):
        calls.append(prepared)
        return orig(prepared, cfg)

    monkeypatch.setattr(inc, "band_postings", spy)
    res = inc.incremental_dedup(
        batch, existing.withColumn("batch", F.lit(0)), bands, config
    )
    edges = {(r["id_a"], r["id_b"]) for r in res.verified_pairs.collect()}
    assert len(calls) == 1, "historical corpus must not be re-banded"
    assert ("c0000005", "xc0000005") in edges
    # new_bands covers exactly the new docs, one posting per LSH band
    assert res.new_bands.count() == config.lsh_bands * res.new_prepared.count()


def test_incremental_equals_batch_path_on_touched_pairs(spark, config, monkeypatch):
    """A batch's verified edges equal the batch path's over corpus + batch,
    restricted to pairs touching the batch. Two corpus copies of one
    conversation plus two batch copies make every band group of that
    conversation 4 docs: over a cap of 3 on the full group, so the batch
    path drops them all, whatever side of the append each copy is on."""
    import random

    import pandas as pd

    monkeypatch.setattr(DedupConfig, "max_band_group", 3)
    corpus = make_corpus(n_conversations=20, dup_fraction=0.0, seed=31)
    t = corpus.transcripts
    dup = t[t.conv_id == "c0000002"]
    near = t[t.conv_id == "c0000004"].copy()
    rng = random.Random(5)
    near["conv_id"] = "n0000004"
    near["text"] = [misspell(rng, x) for x in near["text"]]
    old_pd = pd.concat([t, dup.assign(conv_id="a0000002")], ignore_index=True)
    new_pd = pd.concat(
        [dup.assign(conv_id="b0000002"), dup.assign(conv_id="b1000002"), near],
        ignore_index=True,
    )
    new_ids = {"b0000002", "b1000002", "n0000004"}

    def prep(pdf):
        df = assemble_conversations(spark.createDataFrame(pdf), config)
        return prepare_docs(df, "conv_id", "doc_text", config).localCheckpoint()

    existing = prep(old_pd)
    res = incremental_dedup(
        spark.createDataFrame(new_pd),
        existing.withColumn("batch", F.lit(0)),
        band_postings(existing, config),
        config,
    )
    got = {(r["id_a"], r["id_b"]) for r in res.verified_pairs.collect()}

    everything = prep(pd.concat([old_pd, new_pd], ignore_index=True))
    ref = verify_pairs(
        candidate_pairs(band_postings(everything, config), config).pairs, everything, config
    )
    want = {
        (r["id_a"], r["id_b"])
        for r in ref.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert ("c0000004", "n0000004") in want
    assert got == want


def test_streaming_maintains_bands_table(spark, config, tmp_path):
    """The warehouse keeps an append-only corpus_bands postings table in
    lockstep with corpus_prepared (lsh_bands postings per doc)."""
    from dedup.streaming import read_transcript_stream, start_streaming_dedup

    corpus = make_corpus(n_conversations=12, dup_fraction=0.3, seed=99)
    src = spark.createDataFrame(corpus.transcripts).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    in_dir = str(tmp_path / "in")
    # repartition BY conv_id: a conversation split across micro-batches
    # assembles per-batch partial docs (the availableNow file source has no
    # conversation boundary awareness) -- keep each conv in one batch here
    src.repartition(2, "conv_id").write.mode("overwrite").parquet(in_dir)

    wh = str(tmp_path / "wh")
    stream = read_transcript_stream(spark, in_dir, max_files_per_trigger=1)
    q = start_streaming_dedup(
        spark, stream, wh, config, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    n_docs = spark.read.parquet(f"{wh}/corpus_prepared").count()
    n_bands = spark.read.parquet(f"{wh}/corpus_bands").count()
    # make_corpus plants near-dup variant conversations beyond the base 12
    assert n_docs == corpus.transcripts.conv_id.nunique()
    assert n_bands == config.lsh_bands * n_docs


def test_streaming_cross_batch_conversation_assembly(spark, config, tmp_path):
    """A conversation whose turns ARRIVE SPLIT across two micro-batches must
    end up identical to the single-batch run: the re-seen batch re-assembles
    the full turn set, supersedes the partial doc (latest-batch-wins view),
    and re-verifies its edges (r2 verdict item 3 -- this replaces the old
    'partition input by conv_id' dodge)."""
    import os
    import shutil
    import time

    from dedup.streaming import (
        corpus_prepared_view,
        read_transcript_stream,
        start_streaming_dedup,
        stream_edges_view,
    )

    corpus = make_corpus(n_conversations=12, dup_fraction=0.4, seed=101)
    src = spark.createDataFrame(corpus.transcripts).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    # choose a conversation with >= 4 turns and split its turns in half
    counts = corpus.transcripts.groupby("conv_id").size()
    split_conv = sorted(counts[counts >= 4].index)[0]
    half = int(counts[split_conv]) // 2
    part1 = src.filter(
        (F.col("conv_id") != split_conv) | (F.col("turn_idx") < half)
    )
    part2 = src.filter(
        (F.col("conv_id") == split_conv) & (F.col("turn_idx") >= half)
    )

    def _write_single_file(df, in_dir, name, mtime):
        staging = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        os.makedirs(in_dir, exist_ok=True)
        part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
        dst = os.path.join(in_dir, name)
        shutil.move(os.path.join(staging, part), dst)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    in_split = str(tmp_path / "in_split")
    _write_single_file(part1, in_split, "a.parquet", now - 120)
    _write_single_file(part2, in_split, "b.parquet", now)
    in_ref = str(tmp_path / "in_ref")
    _write_single_file(src, in_ref, "all.parquet", now)

    wh_split, wh_ref = str(tmp_path / "wh_split"), str(tmp_path / "wh_ref")
    for in_dir, wh, per_trigger in ((in_split, wh_split, 1), (in_ref, wh_ref, 2)):
        q = start_streaming_dedup(
            spark,
            read_transcript_stream(spark, in_dir, max_files_per_trigger=per_trigger),
            wh,
            config,
            checkpoint_dir=str(tmp_path / f"ckpt_{os.path.basename(wh)}"),
        )
        q.awaitTermination(300)

    # the scenario really happened: the split conv has a superseded row
    raw = spark.read.parquet(f"{wh_split}/corpus_prepared")
    assert raw.filter(F.col("doc_id") == split_conv).count() == 2

    # latest-wins corpus view matches the single-batch run exactly
    v_split = {
        (r["doc_id"], r["norm_text"])
        for r in corpus_prepared_view(spark, wh_split).collect()
    }
    v_ref = {
        (r["doc_id"], r["norm_text"])
        for r in corpus_prepared_view(spark, wh_ref).collect()
    }
    assert v_split == v_ref

    # current-edge view matches the single-batch edge set
    e_split = {
        (r["id_a"], r["id_b"]) for r in stream_edges_view(spark, wh_split).collect()
    }
    e_ref = {
        (r["id_a"], r["id_b"]) for r in stream_edges_view(spark, wh_ref).collect()
    }
    assert e_split == e_ref


def test_streaming_rejects_config_change(spark, config, tmp_path):
    """A restart under a different config must fail loudly, naming both
    fingerprints, instead of joining incompatible postings."""
    from pyspark.errors import StreamingQueryException

    from dedup.streaming import read_transcript_stream, start_streaming_dedup

    corpus = make_corpus(n_conversations=8, dup_fraction=0.0, seed=13)
    src = spark.createDataFrame(corpus.transcripts).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    in_dir, wh, ckpt = (str(tmp_path / d) for d in ("in", "wh", "ckpt"))
    src.filter(F.col("conv_id") != "c0000001").write.parquet(in_dir)
    q = start_streaming_dedup(
        spark, read_transcript_stream(spark, in_dir), wh, config, checkpoint_dir=ckpt
    )
    q.awaitTermination(300)
    assert q.exception() is None

    src.filter(F.col("conv_id") == "c0000001").write.mode("append").parquet(in_dir)
    other = config.with_(max_chars=config.max_chars // 2)
    q = start_streaming_dedup(
        spark, read_transcript_stream(spark, in_dir), wh, other, checkpoint_dir=ckpt
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    msg = str(q.exception())
    assert config.config_fingerprint() in msg
    assert other.config_fingerprint() in msg


def _state_producers(spark, config):
    """Each read-back state table's producer output, on a tiny corpus."""
    from dedup.streaming import TRANSCRIPT_DDL

    corpus = make_corpus(n_conversations=6, dup_fraction=0.5, seed=3)
    turns = spark.createDataFrame(
        corpus.transcripts.assign(turn_idx=corpus.transcripts["turn_idx"].astype("int32")),
        TRANSCRIPT_DDL,
    )
    prepared = prepare_docs(
        assemble_conversations(turns, config), "conv_id", "doc_text", config
    )
    bands = band_postings(prepared, config)
    edges = verify_pairs(candidate_pairs(bands, config).pairs, prepared, config)
    return {
        "turns": turns,
        "corpus_prepared": prepared,
        "corpus_bands": bands,
        "stream_edges": edges,
    }


def _names_and_types(schema):
    # simpleString() ignores nullability, array containsNull included
    return [(f.name, f.dataType.simpleString()) for f in schema]


def test_state_schemas_match_producers(spark, config, tmp_path):
    """Each declared state schema (read here from a missing table, i.e. the
    empty frame) equals its producer's output schema, ignoring nullability;
    the batch=<id> level reads as a trailing ``batch`` column."""
    from dedup.streaming import _read_state

    for table, df in _state_producers(spark, config).items():
        declared = _read_state(spark, str(tmp_path), table).schema
        assert _names_and_types(declared) == _names_and_types(df.schema) + [
            ("batch", "bigint")
        ], table


def test_state_reads_submit_no_job(spark, config, tmp_path):
    """Reading the state tables -- inside a micro-batch and through both
    consumer views -- submits no Spark job: the schemas are declared, not
    inferred from the parquet footers."""
    from dedup.streaming import _read_state, corpus_prepared_view, stream_edges_view
    from dedup.tracking import scope

    wh = str(tmp_path / "wh")
    with scope():
        for table, df in _state_producers(spark, config).items():
            df.write.parquet(f"{wh}/{table}/batch=0")

    sc = spark.sparkContext

    def jobs_of(read):
        sc.setJobGroup("state-reads", "state reads")
        try:
            return read(), sc.statusTracker().getJobIdsForGroup("state-reads")
        finally:
            sc.setJobGroup("after-state-reads", "")

    views, jobs = jobs_of(
        lambda: [corpus_prepared_view(spark, wh), stream_edges_view(spark, wh)]
    )
    assert jobs == []
    reads, jobs = jobs_of(
        lambda: [_read_state(spark, wh, t, 1) for t in ("turns", "corpus_prepared", "corpus_bands")]
    )
    assert jobs == []
    # the frames read what was written (these counts do run jobs)
    assert reads[1].count() == views[0].count() > 0
    assert reads[2].count() == config.lsh_bands * reads[1].count()


def _single_file(df, tmp_path, dst, mtime):
    """Write ``df`` as the one parquet file ``dst``, modified at ``mtime``:
    the file source orders new files by modification time."""
    import os
    import shutil

    staging = str(tmp_path / f"stage_{os.path.basename(dst)}")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
    shutil.move(os.path.join(staging, part), dst)
    os.utime(dst, (mtime, mtime))


def test_streaming_replays_first_batch_after_crash(spark, config, tmp_path):
    """A first micro-batch that crashed between its corpus_prepared and
    corpus_bands writes is replayed on restart (its commit is missing) and
    must end up where an uncrashed stream does: the replay reads only prior
    batches, so its own half-written state neither changes its plan nor
    makes it fail."""
    import os
    import shutil
    import time

    from dedup.streaming import read_transcript_stream, start_streaming_dedup, stream_edges_view

    corpus = make_corpus(n_conversations=12, dup_fraction=0.4, seed=101)
    src = spark.createDataFrame(corpus.transcripts).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    # alternate conversations between the two batches, so bases and their
    # variants land on both sides and edges cross batches
    ids = sorted(corpus.transcripts.conv_id.unique())
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    now = time.time()
    _single_file(
        src.filter(F.col("conv_id").isin(ids[0::2])), tmp_path, str(in_dir / "a.parquet"), now - 120
    )

    def run(wh, ckpt):
        q = start_streaming_dedup(
            spark,
            read_transcript_stream(spark, str(in_dir), max_files_per_trigger=1),
            wh,
            config,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(300)
        assert q.exception() is None

    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    run(wh, ckpt)
    # crash after corpus_prepared/batch=0: the bands write and the commit are lost
    for name in ("0", ".0.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    shutil.rmtree(os.path.join(wh, "corpus_bands"))
    _single_file(
        src.filter(F.col("conv_id").isin(ids[1::2])), tmp_path, str(in_dir / "b.parquet"), now
    )
    run(wh, ckpt)  # replays batch 0, then runs batch 1

    wh_ref = str(tmp_path / "wh_ref")
    run(wh_ref, str(tmp_path / "ckpt_ref"))  # batch 0 = a, batch 1 = b

    def edges(w):
        return {(r["id_a"], r["id_b"]) for r in stream_edges_view(spark, w).collect()}

    assert sorted(os.listdir(os.path.join(wh, "corpus_bands"))) == ["batch=0", "batch=1"]
    got, want = edges(wh), edges(wh_ref)
    assert want and got == want


def test_streaming_sizes_small_batch_stages(spark, config, tmp_path):
    """A micro-batch of a few conversations (far under TURNS_PER_TASK
    turns) runs its stages in one task each, so each state table gets at
    most one part file for it, and it finds the edges incremental_dedup
    finds with the unsized config on the same state. Four conversations,
    not one: a single doc lands in one file at any partition count."""
    import os
    import time

    from dedup.streaming import _read_state, read_transcript_stream, start_streaming_dedup
    from dedup.tracking import scope

    corpus = make_corpus(n_conversations=12, dup_fraction=0.4, seed=101)
    src = spark.createDataFrame(corpus.transcripts).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    # three variants whose bases are in the seeding batch, and one novel doc
    small = ["c0000000v1", "c0000001v1", "c0000002v1", "c0000011"]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    now = time.time()
    _single_file(src.filter(~F.col("conv_id").isin(small)), tmp_path, str(in_dir / "a.parquet"), now - 120)
    _single_file(src.filter(F.col("conv_id").isin(small)), tmp_path, str(in_dir / "b.parquet"), now)

    wh = str(tmp_path / "wh")
    q = start_streaming_dedup(
        spark,
        read_transcript_stream(spark, str(in_dir), max_files_per_trigger=1),
        wh,
        config,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert q.exception() is None

    for table in ("corpus_prepared", "corpus_bands", "stream_edges"):
        files = os.listdir(os.path.join(wh, table, "batch=1"))
        assert len([f for f in files if f.startswith("part-")]) <= 1, table

    got = {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(f"{wh}/stream_edges/batch=1").collect()
    }
    with scope():
        res = incremental_dedup(
            _read_state(spark, wh, "turns").filter(F.col("batch") == 1).drop("batch"),
            _read_state(spark, wh, "corpus_prepared", 1),
            _read_state(spark, wh, "corpus_bands", 1).drop("batch"),
            config,
        )
        want = {(r["id_a"], r["id_b"]) for r in res.verified_pairs.collect()}
    assert len(want) >= 3 and got == want


def test_streaming_sizes_stages_by_reopened_turns(spark, config, tmp_path, monkeypatch):
    """A micro-batch's stages are sized by the turns it deduplicates, not by
    its own: a few turns that re-open long conversations re-assemble all of
    their buffered turns, and get the tasks those need. The Levenshtein
    stage keeps lev_partitions."""
    import math
    import time

    import dedup.streaming as streaming

    corpus = make_corpus(n_conversations=12, dup_fraction=0.4, seed=101)
    src = spark.createDataFrame(corpus.transcripts).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    # the last turn of four conversations arrives in the second batch
    counts = corpus.transcripts.groupby("conv_id").size()
    reopened = {c: int(n) for c, n in counts[counts >= 6].items()}
    reopened = dict(sorted(reopened.items())[:4])
    last = F.lit(False)
    for conv, n in reopened.items():
        last = last | ((F.col("conv_id") == conv) & (F.col("turn_idx") == n - 1))
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    now = time.time()
    _single_file(src.filter(~last), tmp_path, str(in_dir / "a.parquet"), now - 120)
    _single_file(src.filter(last), tmp_path, str(in_dir / "b.parquet"), now)

    calls = []

    def spy(new_transcripts, existing_prepared, existing_bands, cfg):
        calls.append((new_transcripts.count(), cfg))
        return incremental_dedup(new_transcripts, existing_prepared, existing_bands, cfg)

    monkeypatch.setattr(streaming, "incremental_dedup", spy)
    monkeypatch.setattr(streaming, "TURNS_PER_TASK", 10)
    q = streaming.start_streaming_dedup(
        spark,
        streaming.read_transcript_stream(spark, str(in_dir), max_files_per_trigger=1),
        str(tmp_path / "wh"),
        config,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert q.exception() is None

    assert len(calls) == 2
    rows, cfg = calls[1]
    assert rows == sum(reopened.values())
    p = min(math.ceil(rows / 10), config.conv_partitions)
    assert p > 1  # the batch's own 4 turns would give 1
    assert (cfg.conv_partitions, cfg.shuffle_partitions) == (p, p)
    assert cfg.lev_partitions == config.lev_partitions


def test_streaming_empty_batch_writes_nothing(spark, config, tmp_path):
    """A micro-batch of 0 rows returns before any write: no state
    directory and no config_fingerprint stamp."""
    import os

    from dedup.streaming import TRANSCRIPT_DDL, read_transcript_stream, start_streaming_dedup

    in_dir, wh = str(tmp_path / "in"), str(tmp_path / "wh")
    spark.createDataFrame([], TRANSCRIPT_DDL).coalesce(1).write.parquet(in_dir)
    assert any(f.endswith(".parquet") for f in os.listdir(in_dir))
    q = start_streaming_dedup(
        spark, read_transcript_stream(spark, in_dir), wh, config, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    assert q.exception() is None
    assert [p.numInputRows for p in q.recentProgress] == [0]
    assert not os.path.exists(wh)
