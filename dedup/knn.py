"""Embedding similarity search: brute-force cosine top-k baseline plus an
LSH-bucketed (random hyperplane / SRP) scale path, and embedding-cosine
near-duplicate pairs.

Brute force is the *correctness* baseline (exact, O(Q*N) -- fine when one
side broadcasts); the sign-random-projection bucket join is the *scale*
path: only vectors sharing a hyperplane-sign bucket meet, the same
candidate-generation shape as MinHash LSH for text.

Dot products use native ``F.zip_with`` + ``F.aggregate`` -- no UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import ArrayType, LongType

from dedup.operators.grouping import grouped_top_k


def dot_col(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(ca, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_col(a: Column | str, b: Column | str) -> Column:
    denom = norm_col(a) * norm_col(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_col(a, b) / denom)


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k of (vec_id, embedding) rows for each
    (query_id, embedding) query: broadcast the (small) query side against
    the corpus; the join is a BroadcastNestedLoopJoin by construction, the
    score is a native column, top-k is a rank window.

    The ranking runs on the cosine ROUNDED to 6 decimals so that an oracle
    ranking on the same rounding orders tie groups identically at the k
    boundary (neighbor_id breaks remaining ties)."""
    q = F.broadcast(queries.select("query_id", F.col("embedding").alias("q_vec")))
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    scored = c.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_col("q_vec", "c_vec"), 6).alias("cosine"),
    )
    return grouped_top_k(
        scored, ["query_id"], "cosine", k, tiebreak_cols=["neighbor_id"]
    )


def srp_buckets_udf(vec_col: Column | str, dim: int = 64, n_tables: int = 4) -> Column:
    """All n_tables SRP bucket ids per vector in ONE vectorized Arrow pass
    (array<bigint>, element t = table t's bucket): the whole batch's
    vectors become one (n, dim) matrix, all tables' hyperplanes one
    (n_tables * n_planes, dim) matrix, and every sign bit falls out of a
    single matmul. Replaces a per-table JVM column chain --
    n_tables * n_planes INTERPRETED 64-element zip_with/aggregate dot
    products per row (~2s serial per 2.6k vectors at the entry query) --
    with ~microseconds per row. Plane matrices and sign convention
    (strictly > 0) are identical; floating-point summation order differs
    from the JVM chain, which can flip the sign of a numerically-zero dot
    product -- statistically neutral for an LSH bucketing (identical
    vectors still land in identical buckets under any summation order).
    A null vector gets a null bucket array; a vector whose length is not
    ``dim`` raises ValueError. Each table hashes 12 hyperplane signs; table
    t's planes are drawn from seed 13 + t."""
    n_planes, seed = 12, 13
    planes = np.stack(
        [
            np.random.RandomState(seed + t).normal(size=(n_planes, dim))
            for t in range(n_tables)
        ]
    )  # (T, P, D)
    flat = planes.reshape(n_tables * n_planes, dim)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(vs: pd.Series) -> pd.Series:
        # a null vector gets a null bucket array (no candidates); a vector
        # of another length is a caller error, not something to bucket
        out = pd.Series([None] * len(vs), dtype=object)
        present = vs[vs.notna()]
        if present.empty:
            return out
        lens = present.map(len)
        if (lens != dim).any():
            raise ValueError(
                f"srp_buckets_udf expects vectors of length dim={dim}, "
                f"got length {lens[lens != dim].iloc[0]}"
            )
        m = np.stack(present.tolist()).astype(np.float64)  # (n, D)
        bits = (m @ flat.T > 0).reshape(len(m), n_tables, n_planes)
        buckets = bits @ weights  # (n, T)
        out.loc[present.index] = pd.Series(list(buckets), index=present.index)
        return out

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _buckets(v)


def srp_candidate_id_pairs(
    embeddings: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
) -> DataFrame:
    """(id_a, id_b) candidate pairs sharing any SRP bucket in any of the
    n_tables bucketings -- IDS ONLY. The fat vector column never enters the
    bucket shuffle: one scan computes all n_tables buckets per vector
    (one vectorized matmul UDF, r6), then the self-join ships 3 small ints
    per posting. At 100 TB the vectors are the payload that matters; this
    keeps them out of the O(n_tables) exchange entirely."""
    base = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    postings = base.select(
        "id",
        F.posexplode(
            srp_buckets_udf("v", dim, n_tables)
        ).alias("tbl", "bucket"),
    )
    left = postings.select("tbl", "bucket", F.col("id").alias("id_a"))
    right = postings.select("tbl", "bucket", F.col("id").alias("id_b"))
    return (
        left.join(right, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def srp_near_dup_pairs(
    embeddings: DataFrame,
    cosine_threshold: float = 0.95,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: n_tables independent SRP
    bucketings; pairs sharing any bucket get exact cosine verification.
    Same generate->verify shape as the text pipeline.

    TWO-PHASE: phase 1 (srp_candidate_id_pairs) joins ids on
    (tbl, bucket) with no vector payload; phase 2 fetches vectors for the
    surviving deduped pairs only -- two narrow hash joins on id instead of
    shuffling every vector n_tables times on both sides of a self-join."""
    base = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cands = srp_candidate_id_pairs(embeddings, dim, id_col, vec_col, n_tables)
    return (
        cands.join(base.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cosine", F.round(cosine_col("va", "vb"), 9))
        .filter(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
    )
