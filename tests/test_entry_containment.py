"""Non-ASCII input through both containment entry queries: each must equal
its DuckDB oracle_sql() under tools/check_entry.py's canonical hash.

Both sides normalize with a JVM regex / DuckDB regex that keeps only ASCII
letters, digits and whitespace, so the normalized text is ASCII and the
byte 3-grams that distinct_gram_count_udf counts are the char 3-grams the
oracle counts. Accents, CJK, emoji and a no-break space in the raw text
must change neither."""

import importlib.util
import os

import duckdb
import pandas as pd
import pyspark.sql.functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORDS = (
    "café naïve Zürich été 東京 数据 "
    "\U0001f642 \U0001f680 Straße señor\u00a0façade résumé "
    "cluster shuffle partition prompt agent vector token window stride "
    "gram band sketch verify spark join sort merge scan filter"
).split(" ")


def _canon():
    path = os.path.join(ROOT, "tools", "check_entry.py")
    spec = importlib.util.spec_from_file_location("check_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def _documents(n: int = 12) -> pd.DataFrame:
    texts = []
    for i in range(n):
        # a per-doc rotation and stride keep the texts (and their 3-gram
        # sets) distinct from one another
        words = [_WORDS[(i * 7 + j * (i % 5 + 1)) % len(_WORDS)] for j in range(90)]
        texts.append(f"doc {i} " + " ".join(words))
    return pd.DataFrame({"doc_id": range(1, n + 1), "text": texts})


def test_containment_entry_queries_non_ascii(spark, tmp_path):
    import __spark_entry__ as entry
    from dedup.functions.normalize import normalize_ascii_col
    from dedup.functions.sketch import distinct_gram_count_udf
    from dedup.tracking import drain_tracked

    docs = _documents()
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    sf_dir = str(tmp_path)

    norm = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(normalize_ascii_col("text", entry.CFG).alias("t"))
        .select("t", distinct_gram_count_udf(F.col("t"), 3).alias("n"))
        .collect()
    )
    for r in norm:
        assert r["t"].isascii(), r["t"]
        assert r["n"] == len({r["t"][i : i + 3] for i in range(len(r["t"]) - 2)})

    canon = _canon()
    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{sf_dir}/documents.parquet'")
    queries, oracles = entry.queries(), entry.oracle_sql()
    try:
        for name in ("containment_pairs", "containment_mid"):
            got = canon(queries[name](spark, sf_dir).toPandas())
            want = canon(con.sql(oracles[name]).df())
            assert got[0] > 0, name
            assert got == want, name
    finally:
        drain_tracked()
