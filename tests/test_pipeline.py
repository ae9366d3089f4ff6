"""End-to-end pipeline: dup-pair recall >= 0.99 + precision on planted
clusters; resume skips committed stages and reproduces identical clusters
(FIXTURES.md F1/F6)."""

import glob
import hashlib
import itertools
import os
import shutil
import threading
import time

import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import StructType

from dedup.catalog import MANIFEST_NAME, CheckpointCatalog
from dedup.generate import make_corpus
from dedup.pipeline import STAGES, run_pipeline


def _pairs(df, id_col, cl_col):
    out = set()
    for _, grp in df.groupby(cl_col):
        ids = sorted(grp[id_col])
        out.update(itertools.combinations(ids, 2))
    return out


def _content_hashes(path):
    return [
        hashlib.md5(pq.read_table(f).to_pandas().to_csv().encode()).hexdigest()
        for f in sorted(glob.glob(f"{path}/part*.parquet"))
    ]


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(n_conversations=150, seed=33)


def test_recall_and_precision(spark, config, corpus, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    report = run_pipeline(spark, spark.createDataFrame(corpus.transcripts), wh, config)
    assert [s.table for s in report.stages] == [
        "prepared", "exact_groups", "candidate_pairs",
        "verified_pairs", "containment_pairs", "clusters",
    ]
    clusters = spark.read.parquet(f"{wh}/clusters").toPandas()
    tp = _pairs(corpus.truth_clusters, "conv_id", "cluster_id")
    gp = _pairs(clusters, "conv_id", "cluster_id")
    recall = len(tp & gp) / max(len(tp), 1)
    precision = len(tp & gp) / max(len(gp), 1)
    assert recall >= 0.99, f"recall {recall}"
    assert precision >= 0.95, f"precision {precision}"
    # every conversation is assigned exactly one cluster
    assert len(clusters) == corpus.transcripts.conv_id.nunique()


def test_resume_mid_stage(spark, config, corpus, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("whr"))
    tdf = spark.createDataFrame(corpus.transcripts)
    run_pipeline(spark, tdf, wh, config)
    before = _content_hashes(f"{wh}/clusters")

    # simulate a kill after candidate_pairs: later stages gone
    shutil.rmtree(f"{wh}/verified_pairs")
    shutil.rmtree(f"{wh}/clusters")
    report = run_pipeline(spark, tdf, wh, config)
    resumed = {s.table: s.resumed for s in report.stages}
    assert resumed["prepared"] and resumed["candidate_pairs"]
    assert not resumed["verified_pairs"] and not resumed["clusters"]
    assert _content_hashes(f"{wh}/clusters") == before

    # full second resume: everything skips
    report2 = run_pipeline(spark, tdf, wh, config)
    assert all(s.resumed for s in report2.stages)


def test_committed_table_read_submits_no_job(spark, tmp_path):
    """Re-reading a committed table takes its schema from the manifest:
    no parquet schema inference, so no Spark job. The read schema is the
    inferred one, with every field nullable: a file read relaxes the
    non-null literal and the non-null array elements of ``t2``."""
    import pyspark.sql.functions as F

    cat = CheckpointCatalog(spark, str(tmp_path / "wh"), config_fingerprint="f")
    t1 = spark.createDataFrame([(1, [2, None], "a")], "id long, xs array<int>, s string")
    cat.write("t1", t1)
    cat.write("t2", t1.select("id", F.lit(7).alias("k"), F.array(F.lit(1)).alias("ys")))
    sc = spark.sparkContext
    sc.setJobGroup("catalog-table-read", "read committed tables")
    try:
        read = {name: cat.table(name) for name in ("t1", "t2")}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("catalog-table-read")) == []
    assert read["t1"].schema == StructType.fromJson(cat.manifest("t1")["schema"])
    for name, df in read.items():
        assert df.schema == spark.read.parquet(cat.path(name)).schema
    assert read["t2"].collect() == [(1, 7, [1])]


def test_config_change_invalidates_checkpoints(spark, config, corpus, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("whc"))
    tdf = spark.createDataFrame(corpus.transcripts.head(200))
    run_pipeline(spark, tdf, wh, config)
    other = config.with_(max_chars=config.max_chars // 2)
    report = run_pipeline(spark, tdf, wh, other)
    assert not any(s.resumed for s in report.stages)  # fingerprint mismatch


def test_pipeline_releases_all_cached_blocks(spark, config, corpus, tmp_path_factory):
    """After run_pipeline returns, NO cached/localCheckpointed RDD blocks
    may remain registered: a long-lived driver (bench loop, streaming,
    service) must not accumulate block-manager state across runs (r1 item 8
    / r2 verdict item 6). getPersistentRDDs is the source of truth for both
    .persist() and .localCheckpoint() blocks."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    # drop anything earlier module tests left behind so the assertion
    # isolates run_pipeline's own behavior
    for rdd_id in list(spark.sparkContext._jsc.getPersistentRDDs().keySet()):
        try:
            jsc.unpersistRDD(rdd_id, True)
        except Exception:
            pass
    wh = str(tmp_path_factory.mktemp("wh_blocks"))
    run_pipeline(spark, spark.createDataFrame(corpus.transcripts), wh, config)
    retained = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert not retained, f"leaked persistent RDDs: {retained}"


def test_failed_stage_releases_its_blocks(spark, config, tmp_path, monkeypatch):
    """A stage that raises still releases what it persisted: here the
    containment stage fails after its ledgers materialized the window
    collision groups and the ranked partner caps."""
    import dedup.operators.containment as containment

    def fail(*args, **kwargs):
        raise RuntimeError("verify_containment failed")

    monkeypatch.setattr(containment, "verify_containment", fail)
    tdf = spark.createDataFrame(make_corpus(n_conversations=40, seed=5).transcripts)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="verify_containment failed"):
        run_pipeline(spark, tdf, str(tmp_path / "wh"), config)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == before


def test_chains_overlap_and_report_keeps_stage_order(spark, config, tmp_path, monkeypatch):
    """Containment runs beside the near-duplicate chain: verification here
    starts only once the containment table has committed, which a
    pipeline running the chains one after another never reaches. The
    report keeps the fixed stage order all the same."""
    import dedup.pipeline

    wh = str(tmp_path / "wh")
    verify = dedup.pipeline.verify_pairs

    def verify_after_containment(*args, **kwargs):
        manifest = os.path.join(wh, "containment_pairs", MANIFEST_NAME)
        deadline = time.monotonic() + 60
        while not os.path.exists(manifest):
            assert time.monotonic() < deadline, "containment did not commit during verify"
            time.sleep(0.05)
        return verify(*args, **kwargs)

    monkeypatch.setattr(dedup.pipeline, "verify_pairs", verify_after_containment)
    tdf = spark.createDataFrame(make_corpus(n_conversations=40, seed=5).transcripts)
    report = run_pipeline(spark, tdf, wh, config)
    assert [s.table for s in report.stages] == list(STAGES) == [
        "prepared", "exact_groups", "candidate_pairs",
        "verified_pairs", "containment_pairs", "clusters",
    ]
    parts = sorted(glob.glob(f"{wh}/metrics_{report.run_id}/part*.parquet"))
    assert [st for f in parts for st in pq.read_table(f).column("stage").to_pylist()] == list(STAGES)


def test_failed_chain_waits_for_the_other(spark, config, tmp_path, monkeypatch):
    """Verification fails on the calling thread while containment is still
    running: the error propagates only after containment committed, with
    every block released and the helper thread gone."""
    import dedup.operators.containment as containment
    import dedup.pipeline

    failed = threading.Event()

    def fail(*args, **kwargs):
        failed.set()
        raise RuntimeError("verify_pairs failed")

    verify_containment = containment.verify_containment

    def verify_containment_after_failure(*args, **kwargs):
        assert failed.wait(60), "verify_pairs was never called"
        return verify_containment(*args, **kwargs)

    monkeypatch.setattr(dedup.pipeline, "verify_pairs", fail)
    monkeypatch.setattr(containment, "verify_containment", verify_containment_after_failure)
    wh = str(tmp_path / "wh")
    tdf = spark.createDataFrame(make_corpus(n_conversations=40, seed=5).transcripts)
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    threads = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="verify_pairs failed"):
        run_pipeline(spark, tdf, wh, config)
    assert os.path.exists(os.path.join(wh, "containment_pairs", MANIFEST_NAME))
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == rdds
    assert [t for t in threading.enumerate() if t not in threads] == []


def test_caller_job_group_reaches_containment(spark, config, tmp_path, monkeypatch):
    """The helper thread inherits the caller's local properties, so the
    containment jobs belong to the caller's job group (and a
    ``cancelJobGroup`` on it stops them)."""
    import dedup.operators.containment as containment

    sc = spark.sparkContext
    groups = []
    verify_containment = containment.verify_containment

    def record_group(*args, **kwargs):
        groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        return verify_containment(*args, **kwargs)

    monkeypatch.setattr(containment, "verify_containment", record_group)
    tdf = spark.createDataFrame(make_corpus(n_conversations=40, seed=5).transcripts)
    sc.setJobGroup("caller", "run_pipeline under the caller's job group")
    try:
        run_pipeline(spark, tdf, str(tmp_path / "wh"), config)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert groups == ["caller"]
