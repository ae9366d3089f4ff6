"""Text-analysis operators for a large-scale training-data pipeline:
language ID (n-gram heuristic), quality scoring, token counting, document
fingerprinting. All native ``pyspark.sql.functions`` columns -- zero
Python in the hot path; each has an exact ANSI-SQL oracle
(__spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

from dedup.functions.shingle import words_col

# tiny per-language stopword marker sets for the heuristic language ID;
# chosen to be disjoint across languages.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "with"],
    "es": ["el", "la", "los", "las", "es"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "des", "est", "dans"],
}

_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# BPE-ish token pattern: words, numbers, or single non-space symbols --
# a cheap deterministic proxy for subword tokenizer counts.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_col(text: Column | str) -> Column:
    """Whitespace token count -- native split/size."""
    return F.size(words_col(text))


def bpe_ish_token_count_col(text: Column | str) -> Column:
    """Count of TOKEN_PATTERN matches via regexp_extract_all -- the
    'subword-ish' count used for corpus budgeting."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), 0))


def lang_id_col(text: Column | str) -> Column:
    """Heuristic language ID: argmax of marker-word hits; 'und' when no
    marker hits. Deterministic tie-break by language code order."""
    words = words_col(F.lower(F.col(text) if isinstance(text, str) else text))
    scores = []
    for lang in sorted(_LANG_MARKERS):
        markers = F.array(*[F.lit(m) for m in _LANG_MARKERS[lang]])
        score = F.size(F.filter(words, lambda w: F.array_contains(markers, w)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # on a tied score the fold keeps the earlier language in sorted order
    best = F.aggregate(
        F.array(*scores),
        F.struct(F.lit(-1).alias("score"), F.lit("und").alias("lang")),
        lambda acc, s: F.when(s["score"] > acc["score"], s).otherwise(acc),
    )
    return F.when(best["score"] <= 0, F.lit("und")).otherwise(best["lang"])


def quality_score_col(text: Column | str) -> Column:
    """Composite quality score in [0,1]: length band + alpha ratio +
    stopword presence (C4/Gopher-style cheap filters), all native columns."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c).cast("double")
    words = words_col(c)
    n_words = F.size(words).cast("double")
    alpha_chars = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stop_hits = F.size(
        F.filter(F.transform(words, lambda w: F.lower(w)), lambda w: F.array_contains(stop_arr, w))
    ).cast("double")
    stop_ratio = F.when(n_words > 0, stop_hits / n_words).otherwise(F.lit(0.0))
    mean_word_len = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    len_ok = (n_words >= 5) & (mean_word_len >= 2) & (mean_word_len <= 12)
    return F.round(
        (F.when(len_ok, 0.4).otherwise(0.0))
        + alpha_ratio * 0.4
        + F.least(stop_ratio * 2.0, F.lit(1.0)) * 0.2,
        6,
    )


def fingerprint_col(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the text (content
    address). Cross-engine stable (DuckDB md5 == Spark md5)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def rolling_hash_col(text: Column | str) -> Column:
    """Polynomial rolling hash over character codes (base 31, mod 1e9+7)
    -- the classic document fingerprint; expressed with aggregate() so it
    stays JVM-side."""
    base, mod = 31, 1_000_000_007
    c = F.col(text) if isinstance(text, str) else text
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("bigint"))
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * base + x) % mod,
    )
