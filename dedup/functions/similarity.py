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
  (/root/reference/doppelspeller/common.py:165-167).

* Deletion-ratio length gate (D4): ``((lx+ly-|lx-ly|)/(lx+ly))*100`` -- a
  cheap upper bound on D2 computed as *native columns* so Catalyst filters
  rows BEFORE the Python UDF (/root/reference/doppelspeller/predict.py:140-145;
  the reference also orders this gate by hand, predict.py:148-156).

* Staged gate chain (D5): deletion_ratio < T -> 0; ratio > T -> ratio;
  else token-sort ratio (/root/reference/doppelspeller/predict.py:147-156).

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

from dedup.config import DedupConfig, DEFAULT_CONFIG


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


def indel_distance_str(x: str, y: str, dmax: int | None = None) -> int:
    a = np.frombuffer(x.encode("utf-8", "ignore"), dtype=np.uint8)
    b = np.frombuffer(y.encode("utf-8", "ignore"), dtype=np.uint8)
    return _indel_distance(a, b, dmax)


def levenshtein_ratio_py(x: str, y: str, dmax: int | None = None) -> int:
    """int(round(100 * (lx+ly-dist2)/(lx+ly))) -- python-Levenshtein parity
    (/root/reference/doppelspeller/common.py:161-163). If dist > dmax the
    kernel returns dmax + 1, so the ratio is an upper bound that stays
    below any threshold that implied dmax."""
    total = len(x) + len(y)
    if total == 0:
        return 100
    d = indel_distance_str(x, y, dmax)
    return int(np.rint(100.0 * (total - d) / total))


def token_sort_py(x: str) -> str:
    return " ".join(sorted(x.split()))


def staged_ratio_py(x: str, y: str, threshold: int = 94) -> int:
    """Full D4->D2->D5 chain (/root/reference/doppelspeller/predict.py:147-156):
    deletion-ratio gate, then ratio, token-sort fallback when ratio <= T."""
    lx, ly = len(x), len(y)
    total = lx + ly
    if total == 0:
        return 100
    if ((total - abs(lx - ly)) / total) * 100 < threshold:
        return 0
    dmax_for = lambda n: int(np.floor(n * (1 - threshold / 100.0))) + 1
    r = levenshtein_ratio_py(x, y, dmax_for(total))
    if r <= threshold:
        xs, ys = token_sort_py(x), token_sort_py(y)
        return levenshtein_ratio_py(xs, ys, dmax_for(len(xs) + len(ys)))
    return r


# ---------------------------------------------------------------------------
# Spark column forms
# ---------------------------------------------------------------------------

def deletion_ratio_col(x: Column | str, y: Column | str) -> Column:
    """D4 as pure column arithmetic -- evaluated JVM-side BEFORE any UDF."""
    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    lx, ly = F.length(cx).cast("double"), F.length(cy).cast("double")
    total = lx + ly
    return F.when(total == 0, F.lit(100.0)).otherwise(
        (total - F.abs(lx - ly)) / total * 100.0
    )


def token_sort_col(col: Column | str) -> Column:
    """D3 key: sort words alphabetically, single-space join
    (/root/reference/doppelspeller/common.py:166) -- native columns."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(" ", F.array_sort(F.filter(F.split(c, r"\s+"), lambda w: w != "")))


def levenshtein_ratio_pairs(
    x: Column | str, y: Column | str, threshold: float | None = None
) -> Column:
    """Arrow-batched pandas UDF computing the cost-2 Levenshtein ratio per
    pair. ``threshold`` caps the DP (early exit); pass None for the exact
    uncapped ratio. Callers gating on the ROUNDED integer ratio must
    pass (t - 0.5) so raw ratios in [t-0.5, t) stay inside the cap."""
    thr = threshold

    @F.pandas_udf(IntegerType())
    def _ratio(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = np.empty(len(xs), dtype=np.int32)
        for i, (a, b) in enumerate(zip(xs.fillna(""), ys.fillna(""))):
            dmax = None
            if thr is not None:
                dmax = int(np.floor((len(a) + len(b)) * (1 - thr / 100.0))) + 1
            out[i] = levenshtein_ratio_py(a, b, dmax)
        return pd.Series(out)

    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    # asNondeterministic: an OPTIMIZER BARRIER, not a semantic statement --
    # the kernel is pure. Without it, a filter on the ratio column is pushed
    # through the explicit pre-UDF repartition() exchange and drags a
    # duplicate ArrowEvalPython below it: the DP then runs TWICE, once
    # inside the skinny (1-3 task) pre-shuffle stage, serializing the most
    # CPU-heavy stage of the pipeline (measured 57s -> ~2s on the bench
    # corpus verify tier).
    return _ratio.asNondeterministic()(cx, cy)


_CCV_BINS = 64
# bucket 0 is reserved for ALL whitespace bytes (space/tab/LF/CR) and is
# EXCLUDED from the bag bound: token_sort_py rewrites every whitespace run
# to a single space, so whitespace counts are NOT invariant under the
# token-sort fallback (conversation norm_text keeps '\n' turn separators),
# but non-whitespace byte counts are. Folding whitespace into a skippable
# bucket keeps the bound exact for BOTH ratio paths.
_WS_BYTES = (0x20, 0x09, 0x0A, 0x0D)


def char_count_vector_udf(text: Column | str, bins: int = _CCV_BINS) -> Column:
    """Per-DOC folded byte-count vector (array<int> of ``bins``): slot 0
    counts whitespace bytes, non-whitespace byte values bucket into
    1 + (byte % (bins-1)). Feeds the exact bag-distance lower bound below;
    computed once per doc (never per pair)."""

    @F.pandas_udf(ArrayType(IntegerType()))
    def _ccv(xs: pd.Series) -> pd.Series:
        out = []
        for s in xs.fillna(""):
            b = np.frombuffer(s.encode("utf-8", "ignore"), dtype=np.uint8)
            ws = (b == 0x20) | (b == 0x09) | (b == 0x0A) | (b == 0x0D)
            folded = np.where(ws, 0, 1 + (b % (bins - 1)))
            out.append(np.bincount(folded, minlength=bins).astype(np.int32))
        return pd.Series(out)

    c = F.col(text) if isinstance(text, str) else text
    return _ccv(c)


def bag_l1_col(ccv_a: Column | str, ccv_b: Column | str, bins: int = _CCV_BINS) -> Column:
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
    ca_nw = F.slice(ca, 2, bins)
    cb_nw = F.slice(cb, 2, bins)
    return F.aggregate(
        F.zip_with(ca_nw, cb_nw, lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def indel_distance_pairs(
    x: Column | str, y: Column | str, dmax: int | None = None
) -> Column:
    """Arrow-batched pandas UDF returning the raw cost-2 (indel) edit
    distance per pair -- the quantity under levenshtein_ratio_py's hood,
    exposed so an oracle can check it exactly (a contiguous k-char deletion
    has distance exactly k: <=k by construction, >=k by the length bound)."""
    thr = dmax

    @F.pandas_udf(IntegerType())
    def _dist(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = np.empty(len(xs), dtype=np.int32)
        for i, (a, b) in enumerate(zip(xs.fillna(""), ys.fillna(""))):
            out[i] = indel_distance_str(a, b, thr)
        return pd.Series(out)

    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    # optimizer barrier (see levenshtein_ratio_pairs) -- kernel is pure
    return _dist.asNondeterministic()(cx, cy)


_BGV_BINS = 256


def _bigram_counts_py(s: str, bins: int = _BGV_BINS) -> np.ndarray:
    """Byte-bigram count vector of one string: adjacent byte pairs hashed
    to ``bins`` buckets. One unit indel edit changes at most 3 bigram
    counts (removes <= 2 at the edit site, adds <= 1 merged), so
    L1(BG_a, BG_b) <= 3 * d -- an EXACT lower bound on the indel distance
    that, unlike the unigram bag, SEES ORDER. Folding to ``bins`` buckets
    only lowers the L1, so the bound survives hashing."""
    b = np.frombuffer(s.encode("utf-8", "ignore"), dtype=np.uint8)
    if len(b) < 2:
        return np.zeros(bins, dtype=np.int32)
    big = (b[:-1].astype(np.uint32) << 8) | b[1:]
    return np.bincount(big % bins, minlength=bins).astype(np.int32)


def bigram_gated_staged_ratio_udf(
    x: Column | str,
    y: Column | str,
    config: DedupConfig = DEFAULT_CONFIG,
) -> Column:
    """The staged D4->D2->D5 gate chain (staged_ratio_py) as one column,
    with the exact byte-bigram DP-admission bound applied PAIR-SIDE inside
    the UDF: one unit indel changes <= 3 bigram counts (see
    _bigram_counts_py), so L1(BG_a, BG_b) > 3 * dmax proves the direct ratio
    can never clear the threshold, and the same bound over token-sorted
    text proves it for the token-sort fallback -- a pair is DP'd only if
    either path remains arithmetically possible (zero recall loss; gated
    pairs return 0, below any threshold filter).

    Pair-side, not doc-side: a doc-side variant (per-doc bigram vectors
    joined onto both pair sides) shipped every doc's 256-int direct +
    token-sorted vectors through two extra join exchanges to gate a pair
    population that is already small after the narrow sketch gates --
    two Python UDF passes over ALL docs plus two shuffles of ~2KB/doc to
    save per-pair numpy work measured in microseconds. Counting bigrams
    inside the DP UDF costs O(len) per pair (trivial next to one
    DP row) and deletes both exchanges from the verify plan.

    The deletion-ratio gate runs as native columns BEFORE the UDF is
    reached only when the caller filters on it first (verify.py's
    need_lev does): Spark evaluates a pandas UDF inside a when/otherwise
    for every row, so the UDF re-checks the gate before any DP.

    r6: each of the two DP paths is admission-gated INDEPENDENTLY, per
    the staged chain's own structure -- the direct DP is skipped when the
    direct bigram bound already proves ratio <= threshold (previously the
    staged chain still ran it before falling back), and the token-sort DP
    is skipped when the token-sorted bigram bound proves the fallback
    <= threshold (previously every direct-DP miss paid a SECOND full DP
    over the sorted text -- the dominant verify-stage compute: profiled
    2.1ms/pair x 57.7k pairs at 101k turns, most failing both paths).
    VALUES above the threshold are bit-identical to staged_ratio_py (the
    bounds are exact, no false skips); a skipped path returns a value at
    or below the threshold, which the callers' ``> threshold`` filter
    drops either way -- the documented contract of this UDF."""
    thr = config.lev_threshold
    frac = 1.0 - thr / 100.0

    @F.pandas_udf(IntegerType())
    def _gated(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = np.zeros(len(xs), dtype=np.int32)
        dmax_for = lambda n: int(np.floor(n * frac)) + 1  # noqa: E731
        for i, (a, b) in enumerate(zip(xs.fillna(""), ys.fillna(""))):
            la, lb = len(a), len(b)
            total = la + lb
            if total == 0:
                out[i] = 100
                continue
            if ((total - abs(la - lb)) / total) * 100 < thr:
                continue
            r = 0
            if (
                int(np.abs(_bigram_counts_py(a) - _bigram_counts_py(b)).sum())
                <= 3.0 * frac * total
            ):
                r = levenshtein_ratio_py(a, b, dmax_for(total))
                if r > thr:
                    out[i] = r
                    continue
            # direct path is <= thr (computed or proven by its bound);
            # token-sort fallback only if ITS exact bound admits it
            sa, sb = token_sort_py(a), token_sort_py(b)
            if (
                int(np.abs(_bigram_counts_py(sa) - _bigram_counts_py(sb)).sum())
                <= 3.0 * frac * (len(sa) + len(sb))
            ):
                out[i] = levenshtein_ratio_py(sa, sb, dmax_for(len(sa) + len(sb)))
            else:
                out[i] = r  # <= thr, as is the provably-gated true fallback
        return pd.Series(out)

    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    # native deletion-ratio pre-gate + optimizer barrier (see
    # levenshtein_ratio_pairs) -- the kernel is pure
    return F.when(deletion_ratio_col(cx, cy) < F.lit(float(thr)), F.lit(0)).otherwise(
        _gated.asNondeterministic()(cx, cy)
    )


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
