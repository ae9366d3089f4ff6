"""Tier-1: exact-duplicate grouping on normalized text.

Reference analog: the exact-match probe into a reversed dict
(/root/reference/doppelspeller/predict.py:97-113, dict built 70-77) --
prediction 1.0, removed from later tiers. In dedup form the "join against
truth" becomes a self-grouping: every set of conversations sharing the same
normalized text is an exact-dup group, and only one representative per
group continues into the (much more expensive) near-dup tiers.

Scale: groupBy on ``xxhash64(norm_text)`` -- a map-side-combinable hash
agg, the cheapest possible first tier. We group on the 64-bit hash, not the
full text, so shuffle rows are ~16 bytes of key instead of kilobytes of
text. Collision risk at 10^9 docs is ~1e-2 pairs under birthday math, and
nothing splits a collision apart: its two texts would share one group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def exact_duplicate_groups(
    docs: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "norm_text",
) -> DataFrame:
    """docs -> (exact_key, member_ids array, group_size, representative).

    ``representative`` = min(id) -- the deterministic canonical member that
    proceeds to later tiers on behalf of the whole group."""
    return docs.groupBy(F.xxhash64(F.col(text_col)).alias("exact_key")).agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("member_ids"),
        F.count(F.lit(1)).alias("group_size"),
        F.min(F.col(id_col)).alias("representative"),
    )


def exact_duplicate_pairs(groups: DataFrame) -> DataFrame:
    """Expand groups (size > 1) into canonical (id_a < id_b) edges against
    the representative -- O(group) edges, not O(group^2); connected
    components later closes the clique implicitly."""
    g = groups.filter(F.col("group_size") > 1)
    return (
        g.select(
            F.col("representative").alias("id_a"),
            F.explode("member_ids").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", F.lit("exact").alias("tier"))
    )


def representatives(docs: DataFrame, groups: DataFrame, id_col: str = "conv_id") -> DataFrame:
    """Keep one doc per exact group (semi-join on representative)."""
    reps = groups.select(F.col("representative").alias(id_col))
    return docs.join(reps, on=id_col, how="left_semi")
