"""LSH candidate generation: planted near-dup pairs must surface as
candidates (recall), boilerplate mega-bands must be accounted, and on
hand-built postings the pairs and skew ledger must equal a plain-Python
band-hit count."""

import itertools
from collections import defaultdict

import pyspark.sql.functions as F
import pytest

from dedup.config import DedupConfig
from dedup.generate import make_corpus
from dedup.operators.assemble import assemble_conversations
from dedup.operators.candidates import band_postings, candidate_pairs, prepare_docs
from dedup.tracking import scope


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


def test_band_skew_accounting(spark, config, prepared, monkeypatch):
    prep, _ = prepared
    monkeypatch.setattr(DedupConfig, "max_band_group", 2)
    res = candidate_pairs(band_postings(prep, config), config)
    skew_rows = res.band_skew.collect()
    # the boilerplate subset guarantees oversized bands at this cap
    assert len(skew_rows) > 0
    assert all(r["group_size"] > 2 for r in skew_rows)


def test_candidate_pairs_match_band_hit_oracle(spark, config):
    """candidate_pairs == a plain-Python band-hit count over hand-built
    postings: a 40-member family over 3 bands, a group over
    max_band_group (ledger only), a quiet group of 5 whose single-hit
    pairs the noise exemption keeps, a group of 20 whose single-hit pairs
    are dropped, and cross-group pairs with one or two hits."""
    fam = [f"f{i:02d}" for i in range(40)]
    big = [f"b{i:03d}" for i in range(config.max_band_group + 1)]
    quiet = [f"q{i}" for i in range(5)]
    loud = [f"l{i:02d}" for i in range(20)]
    groups = {1: fam, 2: fam, 3: fam, 10: big, 20: quiet, 30: loud,
              31: ["l00", "l01"], 40: ["f00", "l05"]}
    postings = [(d, h) for h, ids in groups.items() for d in ids]

    hits, min_gsz = defaultdict(int), {}
    for ids in groups.values():
        if len(ids) > config.max_band_group:
            continue
        for a, b in itertools.combinations(sorted(ids), 2):
            hits[a, b] += 1
            min_gsz[a, b] = min(min_gsz.get((a, b), len(ids)), len(ids))
    want = {
        p for p, n in hits.items()
        if n >= config.lsh_min_band_hits or min_gsz[p] <= config.lsh_noise_group_size
    }
    # the cases above are all exercised
    assert set(itertools.combinations(fam, 2)) <= want
    assert ("q0", "q4") in want and ("l00", "l01") in want and ("f00", "l05") in want
    assert ("l02", "l03") not in want and not any("b000" in p for p in want)

    df = spark.createDataFrame(postings, "doc_id string, band_hash bigint")
    res = candidate_pairs(df, config)
    assert {(r["id_a"], r["id_b"]) for r in res.pairs.collect()} == want
    assert {(r["band_hash"], r["group_size"]) for r in res.band_skew.collect()} == {
        (10, len(big))
    }


def test_tracker_releases_persisted_band_postings(spark, config):
    """VERDICT r1 item 8: cached band postings must be releasable once the
    pairs materialize -- the enclosing scope collects every persist() the
    operator takes, and its exit leaves no storage behind."""
    corpus = make_corpus(n_conversations=20, seed=3)
    prep = prepare_docs(
        assemble_conversations(spark.createDataFrame(corpus.transcripts), config),
        "conv_id",
        "doc_text",
        config,
    )
    with scope() as frames:
        res = candidate_pairs(band_postings(prep, config), config)
        res.pairs.count()
        assert len(frames) == 1  # the collision-group cache (singletons pre-dropped)
        held = list(frames)
        assert all(df.storageLevel.useMemory or df.storageLevel.useDisk for df in held)
    assert all(
        not (df.storageLevel.useMemory or df.storageLevel.useDisk) for df in held
    )
