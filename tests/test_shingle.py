"""Shingling parity: char 3-gram *set*, full-length grams only
(/root/reference/doppelspeller/common.py:150-151)."""

from dedup.functions.shingle import char_ngrams_col, words_col


def ref_n_grams(title: str, k: int = 3) -> set[str]:
    return {title[i : i + k] for i in range(len(title)) if len(title[i : i + k]) == k}


def test_char_ngrams_matches_reference_set(spark):
    texts = ["abcdef", "abc", "aaaa", "ab", "a b c d", "000"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select("t", char_ngrams_col("t", 3).alias("g")).collect()
    for r in rows:
        assert set(r["g"]) == ref_n_grams(r["t"]), r["t"]
        assert len(r["g"]) == len(set(r["g"]))  # distinct


def test_words_col_matches_python_split(spark):
    texts = ["a b  c", " leading", "trailing ", "one", ""]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select("t", words_col("t").alias("w")).collect()
    for r in rows:
        assert list(r["w"]) == r["t"].split(), repr(r["t"])
