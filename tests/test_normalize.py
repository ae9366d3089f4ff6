"""Normalization parity with the reference's transform_title
(/root/reference/doppelspeller/common.py:20-47), including its own unit
test's golden string (/root/reference/doppelspeller/tests/test_common.py:16-19).
"""

import re
import unicodedata

import pytest

from dedup.functions.normalize import normalize_ascii_col, normalize_text_col

_SPACE_RUN = re.compile(r" +")
_DROP = re.compile(r"[^a-zA-Z0-9\s]")


def transform_title(title: str, max_chars: int = 255, k: int = 3) -> str:
    """Plain-Python reimplementation of the reference's transform_title,
    the oracle that ``normalize_text_col`` (the Spark path) is checked
    against."""
    text = unicodedata.normalize("NFD", title)
    text = text.encode("ascii", "ignore").decode("utf-8").lower().replace("-", " ")
    text = _DROP.sub("", text)
    text = _SPACE_RUN.sub(" ", text).strip()
    n = len(text)
    text = text[:max_chars].strip()
    if n < k:
        return text.rjust(k, "0")
    return text

GOLDEN = [
    # the reference's own unit-test case
    (
        """LKJblksd skjasl dfkjf &* 8*&&&8 GGdjsdkj--sdsd-"sdi..//' d'  k   bkjh77_asda33""",
        "lkjblksd skjasl dfkjf 88 ggdjsdkj sdsd sdi d k bkjh77asda33",
    ),
    ("ab", "0ab"),                      # rjust pad (common.py:34-38)
    ("", "000"),
    ("Café Brontë", "cafe bronte"),     # NFD accent folding
    ("A-B-C", "a b c"),                 # dash -> space
    ("x" * 300, "x" * 255),             # truncation to 255 (settings.py:68)
    ("  many    spaces  ", "many spaces"),
]


@pytest.mark.parametrize("raw,expected", GOLDEN)
def test_transform_title_python(raw, expected):
    assert transform_title(raw) == expected


def test_normalize_udf_matches_python(spark, config):
    title_cfg = config.with_(max_chars=255)  # reference title parity
    raws = [g[0] for g in GOLDEN] + [None]
    df = spark.createDataFrame([(r,) for r in raws], "text string")
    got = [
        r["norm"]
        for r in df.select(
            normalize_text_col("text", title_cfg).alias("norm")
        ).collect()
    ]
    expected = [transform_title(r or "") for r in raws]
    assert got == expected


def test_normalize_ascii_col_parity_on_ascii(spark, config):
    title_cfg = config.with_(max_chars=255)
    ascii_goldens = [g for g in GOLDEN if g[0].isascii()]
    df = spark.createDataFrame([(r,) for r, _ in ascii_goldens], "text string")
    got = [
        r["norm"]
        for r in df.select(
            normalize_ascii_col("text", title_cfg).alias("norm")
        ).collect()
    ]
    assert got == [e for _, e in ascii_goldens]
