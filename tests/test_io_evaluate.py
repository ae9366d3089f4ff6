"""CSV source/sink parity (S1/S4) + accuracy harness (A6/A7)."""

import glob

import pandas as pd
import pytest

from dedup.io import TRUTH_MAPPING, read_titles_csv, write_predictions_csv
from dedup.operators.evaluate import prediction_accuracy


def test_read_titles_csv_mapping_and_cast(spark, tmp_path):
    p = tmp_path / "truth.csv"
    p.write_text("company_id|name\n7|Acme Corp\n9|Globex\n")
    df = read_titles_csv(spark, str(p), TRUTH_MAPPING, delimiter="|")
    rows = {r["title_id"]: r["title"] for r in df.collect()}
    assert rows == {7: "Acme Corp", 9: "Globex"}
    assert dict(df.dtypes) == {"title_id": "bigint", "title": "string"}


def test_read_titles_csv_validates_columns(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("wrong|name\n1|x\n")
    with pytest.raises(ValueError, match="company_id"):
        read_titles_csv(spark, str(p), TRUTH_MAPPING, delimiter="|")


def test_typed_loader_key_order_audit(spark, tmp_path):
    """S2 key-order audit (reference common.py:78-81): a mapping whose
    internal keys are renamed or reordered must fail loudly BEFORE any
    read, regardless of the file's actual columns."""
    from dedup.io import read_ground_truth, read_test_queries

    p = tmp_path / "truth.csv"
    p.write_text("company_id|name\n7|Acme Corp\n")
    ok = read_ground_truth(spark, str(p))
    assert {r["title_id"] for r in ok.collect()} == {7}
    reordered = [("title", ("name", "string")), ("title_id", ("company_id", "long"))]
    with pytest.raises(ValueError, match="required key order"):
        read_ground_truth(spark, str(p), column_mapping=reordered)
    renamed = [("query_idx", ("test_index", "long")), ("title", ("name", "string"))]
    with pytest.raises(ValueError, match="required key order"):
        read_test_queries(spark, str(p), column_mapping=renamed)


def test_write_predictions_csv_sorted(spark, tmp_path):
    df = spark.createDataFrame(
        [(3, 30), (1, 10), (2, -1)], "query_id long, title_id long"
    )
    out = str(tmp_path / "out")
    write_predictions_csv(df, out)
    f = glob.glob(f"{out}/part-*.csv")[0]
    got = pd.read_csv(f, sep="|")
    assert list(got["query_id"]) == [1, 2, 3]  # sorted
    assert list(got.columns) == ["title_id", "query_id"]


def test_prediction_accuracy_buckets_and_custom_error(spark):
    preds = spark.createDataFrame(
        [(0, 1), (1, 2), (2, -1), (3, -1), (4, 9)],
        "query_id long, title_id long",
    )
    actuals = spark.createDataFrame(
        [(0, 1), (1, 3), (2, -1), (3, 5), (4, 9)],
        "query_id long, expected_title_id long",
    )
    r = prediction_accuracy(preds, actuals)
    assert r["correctly_matched"] == 2       # q0, q4
    assert r["incorrectly_matched"] == 1     # q1
    assert r["correctly_not_found"] == 1     # q2
    assert r["incorrectly_not_found"] == 1   # q3
    assert r["custom_error"] == 1 + 5 * 1    # reference cli.py:128-129

