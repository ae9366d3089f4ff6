"""Grouped selection operators: top-k per group, argmax with
ambiguity-drop -- window-function re-expressions of the reference's
group-max patterns.

Reference analogs:
  * grouped argmax: ``groupby(test_index)[col].transform(max) == col``
    (/root/reference/doppelspeller/predict.py:173-176,244-246) -> SURVEY A3.
  * ambiguity drop: any group with a TIED max is dropped entirely -- both
    rows -- NOT deduplicated to one
    (/root/reference/doppelspeller/predict.py:158-161) -> SURVEY A4.
  * top-k per query: single-pass running top-k
    (/root/reference/doppelspeller/match_maker.py:53-71) -> SURVEY J3;
    in Spark a rank-window (with AQE handling group skew).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F


def grouped_top_k(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Top-k rows per group by order_col, highest first. Deterministic when
    tiebreak_cols cover remaining ties (reference top-k is order-unstable
    within a float32-epsilon buffer, match_maker.py:68-70; we choose
    determinism)."""
    order = [F.col(order_col).desc()]
    for t in tiebreak_cols or []:
        order.append(F.col(t).asc())
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def group_argmax_unique(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
) -> DataFrame:
    """Keep the max-score row per group; groups whose max is TIED by more
    than one row are dropped entirely (reference 'ambiguous => unmatched'
    semantics, predict.py:158-161 -- deliberately NOT dropDuplicates)."""
    w = Window.partitionBy(*group_cols)
    flagged = df.withColumn("__mx", F.max(score_col).over(w))
    top = flagged.filter(F.col(score_col) == F.col("__mx")).drop("__mx")
    counted = top.withColumn("__n", F.count(F.lit(1)).over(w))
    return counted.filter(F.col("__n") == 1).drop("__n")
