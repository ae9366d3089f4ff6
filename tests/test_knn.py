"""Embedding similarity search: brute-force cosine top-k exactness vs
numpy; SRP-bucketed near-dup pairs recall vs brute force; SRP buckets of
null and wrong-length vectors."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from dedup.knn import brute_force_topk, cosine_col, srp_buckets_udf, srp_near_dup_pairs


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(8)
    base = rng.normal(size=(40, 16))
    # plant near-dups: 10 vectors get a tiny-noise copy
    dups = base[:10] + rng.normal(scale=0.01, size=(10, 16))
    mat = np.vstack([base, dups]).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))],
        "vec_id long, embedding array<double>",
    )
    return df, mat


def test_brute_force_topk_matches_numpy(spark, vectors):
    df, mat = vectors
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
    norms = np.linalg.norm(mat, axis=1)
    for q in range(3):
        cos = (mat @ mat[q]) / (norms * norms[q])
        exp_top = set(np.argsort(-cos)[:5])
        got_ids = {i for i, _ in by_q[q]}
        # allow tie-boundary differences only if cosines equal at the cut
        assert len(got_ids & exp_top) >= 4
        assert q in got_ids  # self is the top hit
        for i, c in by_q[q]:
            assert c == pytest.approx(cos[i], abs=1e-6)


def test_srp_near_dup_recall(spark, vectors):
    df, mat = vectors
    norms = np.linalg.norm(mat, axis=1)
    want = set()
    for i in range(len(mat)):
        for j in range(i + 1, len(mat)):
            if (mat[i] @ mat[j]) / (norms[i] * norms[j]) >= 0.95:
                want.add((i, j))
    got = {
        (r["id_a"], r["id_b"])
        for r in srp_near_dup_pairs(df, cosine_threshold=0.95, dim=16, n_tables=6).collect()
    }
    assert want, "fixture must plant near-dups"
    recall = len(want & got) / len(want)
    assert recall >= 0.9, f"srp recall {recall}"
    assert got <= want or all(  # every emitted pair truly clears the threshold
        (mat[a] @ mat[b]) / (norms[a] * norms[b]) >= 0.95 - 1e-9 for a, b in got
    )


def _buckets(spark, vectors, dim):
    df = spark.createDataFrame([(v,) for v in vectors], "v array<double>")
    return [r["b"] for r in df.select(srp_buckets_udf("v", dim=dim).alias("b")).collect()]


def test_srp_buckets_null_vector_has_no_buckets(spark):
    got = _buckets(spark, [[1.0, 0.5, -2.0, 0.0], None], dim=4)
    assert len(got[0]) == 4  # one bucket per table
    assert got[1] is None


def test_srp_buckets_wrong_length_raises(spark):
    with pytest.raises(Exception, match=r"dim=4, got length 3"):
        _buckets(spark, [[1.0, 0.5, -2.0, 0.0], [1.0, 2.0, 3.0]], dim=4)
