"""LSH candidate generation: planted near-dup pairs must surface as
candidates (recall), boilerplate mega-bands must be accounted, salting
must not lose pairs."""

import pyspark.sql.functions as F
import pytest

from dedup.config import DedupConfig
from dedup.generate import make_corpus
from dedup.operators.assemble import assemble_conversations
from dedup.operators.candidates import band_postings, candidate_pairs, prepare_docs


@pytest.fixture(scope="module")
def prepared(spark, config):
    corpus = make_corpus(n_conversations=120, seed=21)
    df = assemble_conversations(spark.createDataFrame(corpus.transcripts), config)
    prep = prepare_docs(df, "conv_id", "doc_text", config).cache()
    prep.count()
    return prep, corpus


def test_candidate_recall_of_planted_near_dups(spark, config, prepared):
    prep, corpus = prepared
    res = candidate_pairs(band_postings(prep, config), config)
    cands = {(r["id_a"], r["id_b"]) for r in res.pairs.collect()}
    # ground truth near-dup pairs with high-enough true Jaccard to be LSH
    # targets: compute exact Jaccard per truth pair, gate at the threshold
    truth_pairs = []
    tc = corpus.truth_clusters
    for _, grp in tc.groupby("cluster_id"):
        ids = sorted(grp["conv_id"])
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                truth_pairs.append((ids[i], ids[j]))
    tp_df = spark.createDataFrame(truth_pairs, "id_a string, id_b string")
    g = prep.select("doc_id", F.col("gram_hashes").alias("grams"), "norm_text")
    jac = (
        tp_df.join(g.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("ga"),
                            F.col("norm_text").alias("ta")), "id_a")
        .join(g.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("gb"),
                       F.col("norm_text").alias("tb")), "id_b")
        .withColumn(
            "jac",
            F.size(F.array_intersect("ga", "gb"))
            / (F.size("ga") + F.size("gb") - F.size(F.array_intersect("ga", "gb"))),
        )
        .withColumn("exact_dup", F.col("ta") == F.col("tb"))
        .select("id_a", "id_b", "jac", "exact_dup")
        .collect()
    )
    # exact dups are collapsed before LSH (tier 1 handles them); candidates
    # must cover the non-exact pairs above the jaccard threshold
    want = {
        (r["id_a"], r["id_b"])
        for r in jac
        if not r["exact_dup"] and r["jac"] >= config.jaccard_threshold
    }
    missed = want - cands
    recall = 1 - len(missed) / max(len(want), 1)
    assert recall >= 0.99, f"candidate recall {recall}: missed {sorted(missed)[:5]}"


def test_band_skew_accounting(spark, config, prepared):
    prep, _ = prepared
    tight = config.with_(max_band_group=2, salt_hot_threshold=1)
    res = candidate_pairs(band_postings(prep, tight), tight)
    skew_rows = res.band_skew.collect()
    # the boilerplate subset guarantees oversized bands at this cap
    assert len(skew_rows) > 0
    assert all(r["group_size"] > 2 for r in skew_rows)


def test_salted_path_equals_plain_join(spark, config, prepared):
    """Pairs from a config that forces EVERYTHING through the salted path
    must equal pairs from the plain-join path -- salting is a physical
    optimization, never a semantic one."""
    prep, _ = prepared

    def pairs(cfg):
        res = candidate_pairs(band_postings(prep, cfg), cfg)
        return {(r["id_a"], r["id_b"]) for r in res.pairs.collect()}

    all_salted = config.with_(salt_hot_threshold=1)   # every group hot
    all_plain = config.with_(salt_hot_threshold=10**9)  # no group hot
    assert pairs(all_salted) == pairs(all_plain)


def test_tracker_releases_persisted_band_postings(spark, config):
    """VERDICT r1 item 8: cached band postings must be releasable once the
    pairs materialize -- the tracker collects every persist() the operator
    takes, and unpersisting them leaves no storage behind."""
    corpus = make_corpus(n_conversations=20, seed=3)
    prep = prepare_docs(
        assemble_conversations(spark.createDataFrame(corpus.transcripts), config),
        "conv_id",
        "doc_text",
        config,
    )
    tracker = []
    res = candidate_pairs(band_postings(prep, config), config, tracker=tracker)
    res.pairs.count()
    assert len(tracker) == 1  # the collision-group cache (singletons pre-dropped)
    assert all(df.storageLevel.useMemory or df.storageLevel.useDisk for df in tracker)
    for df in tracker:
        df.unpersist(blocking=True)
    assert all(
        not (df.storageLevel.useMemory or df.storageLevel.useDisk) for df in tracker
    )
