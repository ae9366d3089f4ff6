"""Accuracy harness: confusion matrix + the reference's custom error
metric (FN_like + 5 * FP_like).

Reference: ``get-predictions-accuracy``
(/root/reference/doppelspeller/cli.py:86-132) joins predictions against
actuals and buckets into correctly/incorrectly matched and
correctly/incorrectly not-found; custom error = incorrect_not_found +
FALSE_POSITIVE_PENALTY_FACTOR * incorrect_matched (cli.py:128-129,
settings.py:77; same metric numba'd for training at train.py:17-29).

One distributed agg -- SURVEY.md A6/A7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
import pyspark.sql.functions as F

NOT_FOUND = -1
FALSE_POSITIVE_PENALTY_FACTOR = 5  # reference settings.py:77


def prediction_accuracy(
    predictions: DataFrame,
    actuals: DataFrame,
) -> Row:
    """predictions: (query_id, title_id); actuals: (query_id,
    expected_title_id). Returns one row of confusion counts + custom_error.

    Bucket semantics follow the reference exactly (cli.py:107-126):
      correctly_matched      pred != -1 and pred == expected
      incorrectly_matched    pred != -1 and pred != expected  (FP-like)
      correctly_not_found    pred == -1 and expected == -1
      incorrectly_not_found  pred == -1 and expected != -1    (FN-like)
    """
    joined = predictions.select("query_id", "title_id").join(
        actuals.select("query_id", "expected_title_id"), "query_id", "inner"
    )
    pred, exp = F.col("title_id"), F.col("expected_title_id")
    agg = joined.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(((pred != NOT_FOUND) & (pred == exp)).cast("long")).alias(
            "correctly_matched"
        ),
        F.sum(((pred != NOT_FOUND) & (pred != exp)).cast("long")).alias(
            "incorrectly_matched"
        ),
        F.sum(((pred == NOT_FOUND) & (exp == NOT_FOUND)).cast("long")).alias(
            "correctly_not_found"
        ),
        F.sum(((pred == NOT_FOUND) & (exp != NOT_FOUND)).cast("long")).alias(
            "incorrectly_not_found"
        ),
    ).withColumn(
        "custom_error",
        F.col("incorrectly_not_found")
        + FALSE_POSITIVE_PENALTY_FACTOR * F.col("incorrectly_matched"),
    )
    return agg.first()

