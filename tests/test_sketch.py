"""Sketches of the production kernel (doc_sketch_udf): MinHash estimator
property test (estimate within Chernoff-ish bound of exact Jaccard),
determinism across runs, band math, SimHash behavior, gram encoding."""

import numpy as np
import pyspark.sql.functions as F

from dedup.config import DedupConfig
from dedup.functions.shingle import char_ngrams_col
from dedup.functions.sketch import band_hashes_col, doc_sketch_udf, hamming_col


def _prep(spark, config, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    return df.select(
        "id",
        "t",
        char_ngrams_col("t", config.k_shingle).alias("g"),
        doc_sketch_udf("t", config).alias("sk"),
    ).select(
        "id",
        "t",
        "g",
        F.col("sk.gram_hashes").alias("h"),
        F.col("sk.minhash").alias("sig"),
        F.col("sk.simhash").alias("sim"),
    )


def test_minhash_estimates_jaccard(spark, config):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    variants = [
        base,
        base.replace("quick", "quuck"),
        base.replace("dog", "cat").replace("fox", "fix"),
        "completely different text about spark shuffle partitions and joins",
    ]
    rows = _prep(spark, config, variants).collect()
    grams = [set(r["g"]) for r in rows]
    sigs = [np.array(r["sig"]) for r in rows]
    k = config.num_perm
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            exact = len(grams[i] & grams[j]) / len(grams[i] | grams[j])
            est = float((sigs[i] == sigs[j]).mean())
            # 3-sigma binomial bound
            bound = 3 * np.sqrt(max(exact * (1 - exact), 0.01) / k)
            assert abs(est - exact) <= bound + 1e-9, (i, j, exact, est)


def test_minhash_deterministic_across_sessions(spark, config, monkeypatch):
    texts = ["alpha bravo charlie delta", "echo foxtrot golf hotel"]
    a = [r["sig"] for r in _prep(spark, config, texts).collect()]
    b = [r["sig"] for r in _prep(spark, config, texts).collect()]
    assert a == b
    # different seed -> different signatures
    monkeypatch.setattr(DedupConfig, "minhash_seed", config.minhash_seed + 1)
    c = [r["sig"] for r in _prep(spark, config, texts).collect()]
    assert a != c


def test_band_hashes_shape_and_equality(spark, config):
    texts = ["identical text body here", "identical text body here", "another thing"]
    df = _prep(spark, config, texts).select(
        "id", band_hashes_col("sig", config).alias("bands")
    )
    rows = {r["id"]: r["bands"] for r in df.collect()}
    assert all(len(v) == config.lsh_bands for v in rows.values())
    assert rows[0] == rows[1]
    assert rows[0] != rows[2]
    # same values in different band positions must not collide
    assert len(set(rows[0])) == config.lsh_bands


def test_simhash_hamming(spark, config):
    base = "the quick brown fox jumps over the lazy dog " * 3
    texts = [base, base.replace("quick", "quickk"), "totally different words entirely"]
    df = _prep(spark, config, texts)
    a = df.alias("a").crossJoin(df.alias("b")).select(
        F.col("a.id").alias("ia"),
        F.col("b.id").alias("ib"),
        hamming_col(F.col("a.sim"), F.col("b.sim")).alias("ham"),
    )
    h = {(r["ia"], r["ib"]): r["ham"] for r in a.collect()}
    assert h[(0, 0)] == 0
    assert h[(0, 1)] <= 8          # near-dup -> small hamming
    assert h[(0, 2)] > 12          # unrelated -> large hamming


def test_gram_hashes_are_byte_codes_of_distinct_grams(spark, config):
    """Exact Jaccard and the containment score read gram_hashes as the
    doc's gram SET, so the encoding must be collision-free: each value is
    the big-endian byte code of one distinct char_ngrams_col gram."""
    texts = ["abcdef", "abcabcabc", "aaaa", "ab", "", "a b  c d", "000 zzz 000"]
    for r in _prep(spark, config, texts).collect():
        codes = sorted(int.from_bytes(g.encode("ascii"), "big") for g in r["g"])
        assert list(r["h"]) == codes, r["t"]
