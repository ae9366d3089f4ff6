"""SimHash near-pair join via the pigeonhole chunk trick (Manku, Jain &
Das Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07): split the
64-bit sketch into ``max_hamming + 1`` chunks -- any pair within hamming
distance ``max_hamming`` must agree EXACTLY on at least one chunk -- then
equi-join on (chunk_idx, chunk_value) and verify the true hamming distance
with native ``bit_count``.

Replaces the O(n^2) crossJoin a naive SimHash scan needs; candidate volume
is O(collisions on 16-bit chunks), all JVM-side (no UDFs anywhere)."""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from dedup.functions.sketch import hamming_col


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_id, simhash) -> (id_a, id_b, hamming) for all pairs with
    hamming(simhash_a, simhash_b) <= max_hamming, id_a < id_b."""
    n_chunks = max_hamming + 1
    chunk_bits = 64 // n_chunks
    mask = (1 << chunk_bits) - 1

    chunks = docs.select(
        F.col("doc_id").alias("id"),
        F.col("simhash").alias("sh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "sh", F.col("c.chunk_idx").alias("ci"), F.col("c.chunk_val").alias("cv"))

    left = chunks.select(
        "ci", "cv", F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    right = chunks.select(
        "ci", "cv", F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    return (
        left.join(right, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming_col("sh_a", "sh_b"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )
