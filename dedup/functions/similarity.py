"""Similarity kernels with exact parity to the reference's matcher.

* Levenshtein **ratio** (D2): python-Levenshtein ``ratio()`` semantics --
  edit distance with substitution cost 2 (equivalently the indel distance),
  ``ratio = (lx+ly - dist2)/(lx+ly)``, then ``int(round(r*100))`` with
  Python's banker's rounding (np.rint matches). Reference: numba DP with
  cost-2 substitution /root/reference/doppelspeller/feature_engineering.py:25-63;
  wrapper /root/reference/doppelspeller/common.py:161-163.
  NOTE: Spark's builtin ``levenshtein()`` uses substitution cost 1 and is
  NOT ratio-compatible (SURVEY.md D2) -- hence our own bit-parallel indel
  kernel, capped: since the cascade only *uses* ratios > threshold, any
  pair whose distance exceeds the threshold-implied bound exits early.

* Token-sort ratio (D3): sort words, join with single spaces, then D2
  (/root/reference/doppelspeller/common.py:165-167). ``token_sort_py`` is
  the one token sort: words are what ``str.split()`` splits off.

* Deletion-ratio length gate (D4): ``((lx+ly-|lx-ly|)/(lx+ly))*100`` -- a
  cheap upper bound on D2 computed as *native columns* so Catalyst filters
  rows BEFORE the Python UDF (/root/reference/doppelspeller/predict.py:140-145;
  the reference also orders this gate by hand, predict.py:148-156).

* Staged gate chain (D5): deletion_ratio < T -> 0; ratio > T -> ratio;
  else token-sort ratio (/root/reference/doppelspeller/predict.py:147-156).
  One UDF, ``gated_ratios_udf``, returns both ratios of a pair; pair
  verification and the title cascade each derive the chain from it.

* Exact IDF-weighted Jaccard (D1) is a join+agg, not a kernel -- see
  dedup/operators/match.py; the exact *set* Jaccard on shingle arrays used
  by pair verification is a native column expression (``array_intersect``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
import pyspark.sql.functions as F
from pyspark.sql.types import ArrayType, IntegerType

from dedup.functions.sketch import byte_kgram_codes


# ---------------------------------------------------------------------------
# indel distance (Levenshtein with substitution cost 2 == lx+ly-2*LCS)
# ---------------------------------------------------------------------------

def _indel_bitparallel(a: np.ndarray, b: np.ndarray, dmax: int | None = None) -> int:
    """Exact indel distance via bit-parallel LCS (Crochemore, Iliopoulos,
    Pinzon & Reid 2001): one big-int add/and/or triple per row of ``a``
    over an |b|-bit vector -- O(|a| * |b|/w) word ops with w = machine-int
    limb width, ~3ms for a 4000x4000 pair regardless of similarity. The
    only DP behind every ratio and distance in this module: each row is
    three big-int ops instead of several numpy calls, so it is faster than
    a row-vectorized numpy DP (banded or not) at every measured size.
    dist = |a| + |b| - 2*LCS, capped: returns ``min(dist, dmax + 1)``.

    ``dmax`` enables an exact early exit: after i rows the final LCS
    can exceed the current LCS by at most the remaining row count, so
    dist >= |b| - |a| + 2*i - 2*LCS_i; once that bound passes dmax the
    pair can never come back under it. Checked every 128 rows (one
    popcount of the |b|-bit vector) -- for the verify tier's dominant
    population (boilerplate pairs that FAIL the ratio threshold) this
    exits after a fraction of the rows."""
    la, m = len(a), len(b)
    pm: dict[int, int] = {}
    bit = 1
    for c in bytes(b):
        pm[c] = pm.get(c, 0) | bit
        bit <<= 1
    v = (1 << m) - 1
    full = v
    if dmax is None:
        for c in bytes(a):
            u = v & pm.get(c, 0)
            v = (v + u) | (v - u)
    else:
        i = 0
        for c in bytes(a):
            u = v & pm.get(c, 0)
            v = (v + u) | (v - u)
            i += 1
            if not (i & 127):
                lcs_i = m - (v & full).bit_count()
                if m - la + 2 * i - 2 * lcs_i > dmax:
                    return dmax + 1
    lcs = m - (v & full).bit_count()
    d = la + m - 2 * lcs
    return d if dmax is None else min(d, dmax + 1)


def _indel_distance(a: np.ndarray, b: np.ndarray, dmax: int | None = None) -> int:
    """Distance between two uint8/int code arrays with unit indel cost and
    substitution forbidden (cost 2 via delete+insert == python-Levenshtein
    ratio() distance), capped at ``dmax + 1`` when ``dmax`` is given.
    Common affixes are stripped first; the bit-parallel kernel scores
    the rest."""
    # strip common prefix/suffix (edit distance is invariant to shared
    # affixes) -- near-duplicate pairs, the hot case of the verify tier,
    # collapse to a tiny middle section.
    la, lb = len(a), len(b)
    n = min(la, lb)
    neq = a[:n] != b[:n]
    pre = int(np.argmax(neq)) if neq.any() else n
    a, b = a[pre:], b[pre:]
    la, lb = la - pre, lb - pre
    n = min(la, lb)
    if n:
        neq = a[la - n :][::-1] != b[lb - n :][::-1]
        suf = int(np.argmax(neq)) if neq.any() else n
        if suf:
            a, b = a[: la - suf], b[: lb - suf]
            la, lb = la - suf, lb - suf
    if la < lb:  # iterate over the longer string's rows
        a, b, la, lb = b, a, lb, la
    if dmax is not None and la - lb > dmax:  # dist >= la - lb
        return dmax + 1
    return _indel_bitparallel(a, b, dmax)


def _utf8(s: str) -> np.ndarray:
    return np.frombuffer(s.encode("utf-8", "ignore"), dtype=np.uint8)


def _nbytes(s: str) -> int:
    """Length in UTF-8 bytes: the unit of the DP and of every length the
    ratios below divide by (equal to len(s) on ASCII text)."""
    return len(s.encode("utf-8", "ignore"))


def indel_distance_str(x: str, y: str, dmax: int | None = None) -> int:
    return _indel_distance(_utf8(x), _utf8(y), dmax)


def levenshtein_ratio_py(x: str, y: str, dmax: int | None = None) -> int:
    """int(round(100 * (lx+ly-dist2)/(lx+ly))) -- python-Levenshtein parity
    (/root/reference/doppelspeller/common.py:161-163) on ASCII text; the
    lengths count UTF-8 bytes, the unit of the DP, so a non-ASCII pair gets
    its byte-level ratio, always in [0, 100]. If dist > dmax the kernel
    returns dmax + 1, so the ratio is an upper bound that stays below any
    threshold that implied dmax."""
    a, b = _utf8(x), _utf8(y)
    total = len(a) + len(b)
    if total == 0:
        return 100
    d = _indel_distance(a, b, dmax)
    return int(np.rint(100.0 * (total - d) / total))


def token_sort_py(x: str) -> str:
    return " ".join(sorted(x.split()))


def _dmax(total: int, threshold: float) -> int:
    """DP cap for a pair of ``total`` bytes: a ratio above ``threshold``
    needs an indel distance below (1 - threshold/100) * total, so any
    distance past this cap proves the ratio does not clear it."""
    return int(np.floor(total * (1 - threshold / 100.0))) + 1


# ---------------------------------------------------------------------------
# Spark column forms
# ---------------------------------------------------------------------------

def deletion_ratio_col(lx: Column | str, ly: Column | str) -> Column:
    """D4 from two length columns as pure column arithmetic -- evaluated
    JVM-side BEFORE any UDF. Callers pass ``F.octet_length`` of the texts:
    UTF-8 bytes, the unit of the DP, of the 3-gram bound and of the
    char-count vectors."""
    lx, ly = ((F.col(c) if isinstance(c, str) else c).cast("double") for c in (lx, ly))
    total = lx + ly
    return F.when(total == 0, F.lit(100.0)).otherwise(
        (total - F.abs(lx - ly)) / total * 100.0
    )


_CCV_BINS = 64
# byte -> slot of the folded count vector. Slot 0 holds every ASCII byte
# str.split() splits on (0x09-0x0D, 0x1C-0x1F, space) and is EXCLUDED from
# the bag bound: token_sort_py rewrites every whitespace run to a single
# space, so whitespace counts are NOT invariant under the token-sort
# fallback (conversation norm_text keeps '\n' turn separators), but
# non-whitespace byte counts are. Any other byte value goes to
# 1 + (byte % (_CCV_BINS - 1)). Non-ASCII whitespace is multi-byte and not
# folded; norm_text is ASCII.
_CCV_SLOT = 1 + np.arange(256) % (_CCV_BINS - 1)
_CCV_SLOT[[*range(0x09, 0x0E), *range(0x1C, 0x20), 0x20]] = 0


def char_count_vector_py(s: str) -> np.ndarray:
    """The folded byte-count vector of one text (int32, ``_CCV_BINS``
    slots; see _CCV_SLOT)."""
    return np.bincount(_CCV_SLOT[_utf8(s)], minlength=_CCV_BINS).astype(np.int32)


def char_count_vector_udf(text: Column | str) -> Column:
    """Per-DOC char_count_vector_py as array<int>. Feeds the exact
    bag-distance lower bound below; computed once per doc (never per
    pair)."""

    @F.pandas_udf(ArrayType(IntegerType()))
    def _ccv(xs: pd.Series) -> pd.Series:
        return pd.Series([char_count_vector_py(s) for s in xs.fillna("")])

    c = F.col(text) if isinstance(text, str) else text
    return _ccv(c)


def bag_l1_col(ccv_a: Column | str, ccv_b: Column | str) -> Column:
    """L1 distance between the NON-WHITESPACE slots of two char-count
    vectors -- an EXACT lower bound on the byte-level indel distance for
    both staged-ratio paths: every unit insert/delete changes one folded
    byte count by exactly 1, so d >= L1 over any subset of slots; and
    token-sorting preserves all non-whitespace byte counts (it only
    reorders tokens and rewrites whitespace runs), so the same reduced L1
    also lower-bounds the token-sort path's distance. A pair with reduced
    L1 > (1 - thr/100) * (len_a + len_b) can therefore never clear the
    staged ratio threshold -- droppable BEFORE the DP, with zero recall
    loss (bound is exact, not probabilistic), including for texts that
    differ only in turn segmentation (whitespace kind)."""
    ca = F.col(ccv_a) if isinstance(ccv_a, str) else ccv_a
    cb = F.col(ccv_b) if isinstance(ccv_b, str) else ccv_b
    # drop slot 0 (whitespace) from both sides before the elementwise |a-b|
    ca_nw = F.slice(ca, 2, _CCV_BINS)
    cb_nw = F.slice(cb, 2, _CCV_BINS)
    return F.aggregate(
        F.zip_with(ca_nw, cb_nw, lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def indel_distance_pairs(x: Column | str, y: Column | str) -> Column:
    """Arrow-batched pandas UDF returning the raw cost-2 (indel) edit
    distance per pair -- the quantity under levenshtein_ratio_py's hood,
    exposed so an oracle can check it exactly (a contiguous k-char deletion
    has distance exactly k: <=k by construction, >=k by the length bound)."""

    @F.pandas_udf(IntegerType())
    def _dist(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = np.empty(len(xs), dtype=np.int32)
        for i, (a, b) in enumerate(zip(xs.fillna(""), ys.fillna(""))):
            out[i] = indel_distance_str(a, b)
        return pd.Series(out)

    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    # optimizer barrier (see gated_ratios_udf) -- the kernel is pure
    return _dist.asNondeterministic()(cx, cy)


def _trigram_l1(a: str, b: str) -> int:
    """L1 distance between the exact byte 3-gram count vectors of ``a`` and
    ``b``. One unit indel changes at most 2q - 1 = 5 q-gram counts: it
    removes the <= 3 grams that cover the edited byte and adds the <= 2
    that span the join (the q-gram lemma; Ukkonen, TCS 1992). So
    L1 <= 5 * indel distance, an exact lower bound that, unlike a byte
    histogram, sees order.

    The codes of both sides are tagged with a side bit and sorted as one
    array, so each distinct gram is one run; the running count of ``b``
    tags at each run end gives both counts of that gram."""
    qa, qb = byte_kgram_codes(a, 3), byte_kgram_codes(b, 3)
    k = np.concatenate((qa, qb)).astype(np.int32)  # codes < 2**24
    if not len(k):
        return 0
    k <<= 1
    k[len(qa) :] |= 1
    k.sort()
    ends = np.append(np.flatnonzero((k[1:] ^ k[:-1]) > 1), len(k) - 1)
    nb = np.cumsum(k & 1, dtype=np.int32)[ends]
    # a run of n codes, nb of them b's, differs by |n - 2 * nb|
    return int(np.abs(np.diff(ends - 2 * nb, prepend=-1)).sum())


def gated_ratios_udf(x: Column | str, y: Column | str, threshold: float) -> Column:
    """The two ratios of the staged D4->D2->D5 chain (D5 above) as one
    column, ``struct<lev int, tsort int>``: the cost-2 Levenshtein ratio of
    the texts and of their token sorts (token_sort_py). Callers derive the
    staged value as ``lev`` when it is above the threshold, else ``tsort``.

    Contract: each field is EXACT when it is above ``threshold`` and at or
    below it otherwise. A pair failing the deletion-ratio gate gets (0, 0);
    an empty pair (100, 100). Callers gating on the ROUNDED integer ratio
    at t must pass t - 0.5, so raw ratios in [t - 0.5, t) are computed
    exactly too.

    Each path runs its DP only if the 3-gram count L1 of its two texts (see
    _trigram_l1) is at most 5 * (1 - threshold/100) * total: one unit indel
    changes at most 5 counts, so a larger L1 proves the indel distance
    exceeds the threshold-implied bound and the ratio stays at or below
    the threshold (the path returns 0). An admitted DP is capped at
    _dmax(total, threshold). The bound is computed pair-side, in
    O(len log len) numpy work per text; per-doc count vectors joined onto
    both pair sides would cost two extra exchanges for a pair population
    that is already small after the sketch gates.

    The deletion-ratio gate is re-checked here before any DP: Spark
    evaluates a pandas UDF on every row it reaches, so only a filter
    ahead of the UDF keeps rows away from it."""
    frac = 1.0 - threshold / 100.0

    def _path_ratio(a: str, b: str) -> int:
        total = _nbytes(a) + _nbytes(b)
        if _trigram_l1(a, b) > 5.0 * frac * total:
            return 0
        return levenshtein_ratio_py(a, b, _dmax(total, threshold))

    @F.pandas_udf("lev int, tsort int")
    def _gated(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
        lev = np.zeros(len(xs), dtype=np.int32)
        tsort = np.zeros(len(xs), dtype=np.int32)
        for i, (a, b) in enumerate(zip(xs.fillna(""), ys.fillna(""))):
            la, lb = _nbytes(a), _nbytes(b)
            total = la + lb
            if total == 0:
                lev[i] = tsort[i] = 100
                continue
            if ((total - abs(la - lb)) / total) * 100 < threshold:
                continue
            lev[i] = _path_ratio(a, b)
            tsort[i] = _path_ratio(token_sort_py(a), token_sort_py(b))
        return pd.DataFrame({"lev": lev, "tsort": tsort})

    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    # asNondeterministic: an OPTIMIZER BARRIER, not a semantic statement --
    # the kernel is pure. Without it, a filter on the ratio column is pushed
    # through the explicit pre-UDF repartition() exchange and drags a
    # duplicate ArrowEvalPython below it: the DP then runs TWICE, once
    # inside the skinny (1-3 task) pre-shuffle stage, serializing the most
    # CPU-heavy stage of the pipeline (measured 57s -> ~2s on the bench
    # corpus verify tier). It also keeps Catalyst from inlining the struct
    # into each field read, which would run the UDF once per field.
    return _gated.asNondeterministic()(cx, cy)


def exact_jaccard_col(grams_a: Column | str, grams_b: Column | str) -> Column:
    """Plain set Jaccard on two shingle arrays -- native columns only.
    Works on the string grams or (faster) the xxhash64'd gram arrays; the
    value is identical absent 64-bit hash collisions."""
    ga = F.col(grams_a) if isinstance(grams_a, str) else grams_a
    gb = F.col(grams_b) if isinstance(grams_b, str) else grams_b
    inter = F.size(F.array_intersect(ga, gb)).cast("double")
    union = (F.size(ga) + F.size(gb)).cast("double") - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def minhash_estimate_col(sig_a: Column | str, sig_b: Column | str) -> Column:
    """Estimated Jaccard = fraction of agreeing MinHash signature slots --
    native zip_with/filter over two array<bigint>, far cheaper than exact
    set intersection on the full shingle arrays. Used as a pre-gate so the
    exact verification only runs on plausible pairs (binomial error
    ~ sqrt(j(1-j)/k), so gate at threshold - 4.5 sigma for ~1e-6 miss)."""
    sa = F.col(sig_a) if isinstance(sig_a, str) else sig_a
    sb = F.col(sig_b) if isinstance(sig_b, str) else sig_b
    agree = F.size(F.filter(F.zip_with(sa, sb, lambda x, y: x == y), lambda v: v))
    return agree.cast("double") / F.size(sa).cast("double")
