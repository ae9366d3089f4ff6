"""Text normalization with exact parity to the reference's
``transform_title`` (/root/reference/doppelspeller/common.py:20-47).

Golden semantics (tested against the reference's own unit-test string,
/root/reference/doppelspeller/tests/test_common.py:16-19):

1. Unicode NFD normalize, then ASCII-fold by dropping non-ASCII bytes.
2. Lowercase; map ``-`` -> space.
3. Keep only ``[a-zA-Z0-9\\s]``.
4. Collapse runs of *spaces* (only U+0020 -- the reference regex is ``' +'``,
   common.py:16) to one space; ``str.strip()``.
5. If the pre-truncation length < k_shingle: right-justify-pad with ``'0'``
   to k_shingle (common.py:34-38).
6. Else truncate to ``max_chars`` and ``strip()`` again (common.py:32).

Implemented as a vectorized pandas UDF (Arrow-batched pandas ``.str`` ops;
no per-row Python UDF) because Spark has no built-in NFD accent folding.
``normalize_ascii_col`` below is a JVM-only approximation built from
``lower/regexp_replace/trim`` columns; it is NOT equivalent, even on ASCII
input (see its docstring), and serves the entry queries, whose DuckDB
oracle mirrors its JVM regex semantics.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
import pyspark.sql.functions as F
from pyspark.sql.types import StringType

from dedup.config import DedupConfig, DEFAULT_CONFIG


def _normalize_series(ser: pd.Series, max_chars: int, k: int) -> pd.Series:
    ser = ser.fillna("")
    out = (
        ser.str.normalize("NFD")
        .str.encode("ascii", "ignore")
        .str.decode("utf-8")
        .str.lower()
        .str.replace("-", " ", regex=False)
        .str.replace(r"[^a-zA-Z0-9\s]", "", regex=True)
        .str.replace(r" +", " ", regex=True)
        .str.strip()
    )
    pre_len = out.str.len()
    out = out.str.slice(0, max_chars).str.strip()
    short = pre_len < k
    if short.any():
        out = out.where(~short, out[short].str.rjust(k, "0"))
    return out


def normalize_text_col(
    col: Column | str, config: DedupConfig = DEFAULT_CONFIG
) -> Column:
    """Vectorized pandas UDF column: full transform_title parity incl. NFD."""
    max_chars, k = config.max_chars, config.k_shingle

    @F.pandas_udf(StringType())
    def _norm(ser: pd.Series) -> pd.Series:
        return _normalize_series(ser, max_chars, k)

    return _norm(F.col(col) if isinstance(col, str) else col)


def normalize_ascii_col(
    col: Column | str, config: DedupConfig = DEFAULT_CONFIG
) -> Column:
    r"""JVM-only variant (no Python round-trip): keeps the scan inside
    whole-stage codegen. Its output differs from normalize_text_col even
    on ASCII input, because Spark's trim strips only spaces and Java's
    ``\s`` is narrower than Python's. Measured:

        input            this column        normalize_text_col
        'hello world\n'  'hello world\n'    'hello world'
        '\tTab start'    '\ttab start'      'tab start'
        'x\x1cy'         '0xy'              'x\x1cy'

    Non-ASCII letters are dropped, not folded: 'café naïve' becomes
    'caf nave' here and 'cafe naive' there. The pipeline always uses
    normalize_text_col; the entry queries use this column because their
    DuckDB oracle mirrors its semantics."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.coalesce(c, F.lit(""))
    c = F.lower(c)
    c = F.regexp_replace(c, "-", " ")
    c = F.regexp_replace(c, r"[^a-zA-Z0-9\s]", "")
    c = F.regexp_replace(c, " +", " ")
    c = F.trim(c)
    pre_len = F.length(c)
    c = F.trim(F.substring(c, 1, config.max_chars))
    return F.when(pre_len < config.k_shingle, F.lpad(c, config.k_shingle, "0")).otherwise(c)
