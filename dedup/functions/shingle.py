"""Shingling + tokenization as native Spark columns (JVM-side, codegen).

Reference semantics:
  * char n-gram *set*, only full-length grams
    (/root/reference/doppelspeller/common.py:150-151, N_GRAMS=3 settings.py:15)
  * words = whitespace split (/root/reference/doppelspeller/common.py:66)
  * number_of_words = len(words) (common.py:67)

No UDFs here: ``transform(sequence(...))`` + ``array_distinct`` keep the
whole projection inside whole-stage codegen. The dedup sketches shingle
inside their own UDFs instead (dedup/functions/sketch.py:byte_kgram_codes);
these columns feed the title-match cascade and the entry queries.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

from dedup.config import DEFAULT_CONFIG


def char_ngrams_col(col: Column | str, k: int = DEFAULT_CONFIG.k_shingle) -> Column:
    """Distinct character k-grams of ``col`` (full-length grams only),
    first-occurrence order -- the reference's gram-*set* semantics.

    ``sequence(1, length-k+1)`` enumerates gram start positions; strings
    shorter than k yield an empty array (reference never produces them:
    normalization pads to >= k)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    starts = F.when(
        n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(F.transform(starts, lambda i: c.substr(i, F.lit(k))))


def words_col(col: Column | str) -> Column:
    """Whitespace tokenization matching Python ``str.split()`` (runs of any
    whitespace, no empty tokens)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != "")
