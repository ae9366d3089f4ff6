"""Pair verification: a pair whose MinHash estimate cannot be computed
still reaches the SimHash tier."""

from dedup.operators.verify import verify_pairs


def test_null_minhash_pair_takes_simhash_tier(spark, config):
    schema = (
        "doc_id string, norm_text string, gram_hashes array<bigint>, "
        "minhash array<bigint>, simhash bigint"
    )
    prepared = spark.createDataFrame(
        [
            ("a", "hello world", [1, 2, 3], list(range(config.num_perm)), 12345),
            ("b", "goodbye moon", [4, 5, 6], None, 12345),
        ],
        schema,
    )
    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    got = verify_pairs(pairs, prepared, config).collect()
    assert [(r["id_a"], r["id_b"], r["tier"]) for r in got] == [("a", "b", "simhash")]
