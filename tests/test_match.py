"""Title-matching cascade parity (FIXTURES.md F2): misspelled queries must
resolve to their truth titles; unmatched queries get -1; cascade tier
semantics (exact beats close)."""

import pyspark.sql.functions as F
import pytest

from dedup.config import DedupConfig
from dedup.generate import make_title_fixture
from dedup.operators.match import match_titles, jaccard_topk_candidates, _with_norm_and_grams


@pytest.fixture(scope="module")
def fixture(spark, config):
    truth_pd, queries_pd = make_title_fixture(n_truth=400, n_queries=200, seed=3)
    truth = spark.createDataFrame(truth_pd)
    queries = spark.createDataFrame(queries_pd)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DedupConfig, "top_n_predict", 20)
        out = match_titles(queries.select("query_id", "title"), truth, config).cache()
        out.count()
    return truth_pd, queries_pd, out


def test_match_accuracy(fixture):
    truth_pd, queries_pd, out = fixture
    got = {r["query_id"]: r["title_id"] for r in out.collect()}
    expected = dict(zip(queries_pd["query_id"], queries_pd["expected_title_id"]))
    assert set(got) == set(expected)  # every query answered exactly once
    matched_expected = {q: t for q, t in expected.items() if t != -1}
    hits = sum(1 for q, t in matched_expected.items() if got[q] == t)
    recall = hits / len(matched_expected)
    assert recall >= 0.99, f"match recall {recall}"
    # false-positive discipline: queries planted as not-found must not match
    nf = [q for q, t in expected.items() if t == -1]
    fp = sum(1 for q in nf if got[q] != -1)
    assert fp / max(len(nf), 1) <= 0.02, f"{fp} false positives of {len(nf)}"


def test_exact_tier_takes_precedence(spark, config):
    truth = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")], "title_id long, title string"
    )
    queries = spark.createDataFrame(
        [(0, "Alpha-Beta Gamma")], "query_id long, title string"  # normalizes equal
    )
    rows = match_titles(queries, truth, config).collect()
    assert rows[0]["tier"] == "exact" and rows[0]["title_id"] == 1


def test_jaccard_topk_scores_match_reference_formula(spark, config):
    """Spot-check the IDF-weighted Jaccard against a hand computation
    (reference formula match_maker.py:50 with idf match_maker.py:135-142)."""
    import math

    truth_rows = [(1, "abcd"), (2, "bcde"), (3, "zzzz")]
    truth = _with_norm_and_grams(
        spark.createDataFrame(truth_rows, "title_id long, title string"), "title", config
    )
    queries = _with_norm_and_grams(
        spark.createDataFrame([(0, "abcde")], "query_id long, title string"), "title", config
    )
    got = {
        r["title_id"]: r["score"]
        for r in jaccard_topk_candidates(queries, truth, config, top_n=3).collect()
    }
    # grams: truth1={abc,bcd}, truth2={bcd,cde}, truth3={zzz}; query={abc,bcd,cde}
    # df: abc 1, bcd 2, cde 1, zzz 1; N=3
    idf = {"abc": math.log(3 / 1), "bcd": math.log(3 / 2), "cde": math.log(3 / 1)}
    s_q = sum(idf.values())
    s_t1 = idf["abc"] + idf["bcd"]
    i1 = idf["abc"] + idf["bcd"]
    assert got[1] == pytest.approx(i1 / (s_t1 + s_q - i1))
    s_t2 = idf["bcd"] + idf["cde"]
    i2 = idf["bcd"] + idf["cde"]
    assert got[2] == pytest.approx(i2 / (s_t2 + s_q - i2))
    assert 3 not in got or got[3] == pytest.approx(0.0)  # no shared grams


def test_gram_cutoff_path_matches_exact_path(spark, config):
    """Stop-gram pruned candidate generation rescoring must emit IDENTICAL
    scores to the exact all-shared-gram plan whenever the pool is complete
    (cutoff >= max df => every pair generated => same top-k)."""
    truth_pd, queries_pd = make_title_fixture(n_truth=120, n_queries=60, seed=5)
    truth = _with_norm_and_grams(spark.createDataFrame(truth_pd), "title", config)
    queries = _with_norm_and_grams(
        spark.createDataFrame(queries_pd), "title", config
    ).select(F.col("query_id"), "norm_text", "grams")
    exact = {
        (r["query_id"], r["title_id"]): round(r["score"], 9)
        for r in jaccard_topk_candidates(queries, truth, config, top_n=5).collect()
    }
    pruned_cfg = config.with_(gram_df_cutoff=10**9)
    pruned = {
        (r["query_id"], r["title_id"]): round(r["score"], 9)
        for r in jaccard_topk_candidates(queries, truth, pruned_cfg, top_n=5).collect()
    }
    assert exact == pruned


def test_tier4_accepts_below_94_unique_argmax(spark, config):
    """Deterministic tier 4: a query whose best ratio is in [90, 94] (too
    low for tier 3) must match via tier 'accept'."""
    truth = spark.createDataFrame(
        [(1, "intergalactic spark systems limited"), (2, "completely unrelated title co")],
        "title_id long, title string",
    )
    # 3 char-edits on a 35-char title: ratio ~ (70-6)/70*100 ~= 91
    queries = spark.createDataFrame(
        [(0, "intergalaktic spork system limited")], "query_id long, title string"
    )
    got = match_titles(queries, truth, config).collect()
    assert got[0]["title_id"] == 1 and got[0]["tier"] == "accept"
