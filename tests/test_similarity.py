"""Levenshtein-ratio parity (cost-2 substitution, FIXTURES.md F4) and the
staged D4->D2->D5 gate chain (/root/reference/doppelspeller/predict.py:140-156).
"""

import random

import numpy as np
import pytest

from dedup.functions.similarity import (
    deletion_ratio_col,
    indel_distance_str,
    levenshtein_ratio_pairs,
    levenshtein_ratio_py,
    staged_ratio_py,
    token_sort_py,
)
from dedup.config import DedupConfig


def brute_indel(x: str, y: str) -> int:
    prev = list(range(len(y) + 1))
    for i in range(1, len(x) + 1):
        cur = [i] + [0] * len(y)
        for j in range(1, len(y) + 1):
            best = min(prev[j] + 1, cur[j - 1] + 1)
            if x[i - 1] == y[j - 1]:
                best = min(best, prev[j - 1])
            cur[j] = best
        prev = cur
    return prev[len(y)]


def ref_ratio(x: str, y: str) -> int:
    """python-Levenshtein ratio()*100 int-rounded (common.py:161-163)."""
    total = len(x) + len(y)
    if total == 0:
        return 100
    return int(np.rint(100.0 * (total - brute_indel(x, y)) / total))


def _mutate(rng: random.Random, x: str, alphabet: str, edits: int) -> str:
    y = list(x)
    for _ in range(edits):
        pos = rng.randrange(len(y) + 1)
        if rng.random() < 0.5 and y:
            del y[pos % len(y)]
        else:
            y.insert(pos, rng.choice(alphabet))
    return "".join(y)


def test_indel_randomized_parity():
    """One capped contract at every size: indel_distance_str(x, y, dmax)
    == min(exact, dmax + 1), exact when dmax is None. Lengths run 0-600
    chars, across short pairs, long near-duplicates (distances straddle
    the threshold-derived cap) and long unrelated pairs."""
    alphabet = "abcde "
    rng = random.Random(99)
    pairs = []
    for _ in range(300):
        x = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 25)))
        y = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 25)))
        pairs.append((x, y))
    for i in range(90):
        x = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 600)))
        if i % 3:
            y = _mutate(rng, x, alphabet, rng.randint(0, 40))
        else:
            y = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 600)))
        pairs.append((x, y))
    for x, y in pairs:
        exact = brute_indel(x, y)
        assert indel_distance_str(x, y) == exact
        assert levenshtein_ratio_py(x, y) == ref_ratio(x, y)
        thr_dmax = int(np.floor((len(x) + len(y)) * (1 - 94 / 100.0))) + 1
        for dmax in (0, thr_dmax, exact - 1, exact):
            if dmax < 0:
                continue
            got = indel_distance_str(x, y, dmax)
            assert got == min(exact, dmax + 1), (x, y, dmax, got, exact)


# F4 golden pairs
F4 = [
    ("identical title here", "identical title here", 100),     # identical
    ("abcdefghij klmnopqrst", "abcdefghij klmnopqst", None),    # single deletion
    ("the quick brown fox jumped", "quick the brown fox jumped", None),  # word swap
]


def test_staged_chain_semantics():
    t = 94
    # identical -> 100
    assert staged_ratio_py("same text", "same text", t) == 100
    # word-swap: plain ratio <= 94 but token-sort == 100 -> returns 100
    a = "the quick brown fox jumped over dogs"
    b = "quick the brown fox jumped over dogs"
    assert ref_ratio(a, b) <= t
    assert staged_ratio_py(a, b, t) == 100
    # deletion-ratio length gate: wildly different lengths -> 0 without DP
    assert staged_ratio_py("ab c", "a" * 100, t) == 0
    # single char deletion on a long string stays above threshold
    x = "a reasonably long company title string"
    y = x.replace("company ", "company", 1)  # remove one space
    assert staged_ratio_py(x, y, t) == ref_ratio(x, y) > t


def test_staged_matches_reference_composition():
    """staged == reference's _get_levenshtein_ratio for ratios above the
    threshold (below it only the branch, not the value, is contractual)."""
    t = 94
    rng = random.Random(4)
    from dedup.generate import misspell

    base_words = "spark shuffle partition cluster vector token prompt agent"
    for _ in range(200):
        x = " ".join(rng.sample(base_words.split(), 5))
        y = misspell(rng, x, n_ops=1)
        lx, ly = len(x), len(y)
        total = lx + ly
        dr = ((total - abs(lx - ly)) / total) * 100 if total else 100
        if dr < t:
            expected = 0
        else:
            r = ref_ratio(x, y)
            expected = ref_ratio(token_sort_py(x), token_sort_py(y)) if r <= t else r
        got = staged_ratio_py(x, y, t)
        if expected > t or got > t:
            assert got == expected, (x, y)
        else:
            assert got <= t  # same non-match decision


def test_spark_columns_match_python(spark):
    rng = random.Random(5)
    pairs = []
    from dedup.generate import misspell

    for i in range(60):
        x = " ".join(rng.choice("alpha bravo charlie delta echo".split()) for _ in range(6))
        y = misspell(rng, x) if i % 2 else x + " tail"
        pairs.append((x, y))
    df = spark.createDataFrame(pairs, "x string, y string")
    rows = df.select(
        "x",
        "y",
        levenshtein_ratio_pairs("x", "y").alias("plain"),
        deletion_ratio_col("x", "y").alias("delr"),
    ).collect()
    for r in rows:
        assert r["plain"] == ref_ratio(r["x"], r["y"])
        lx, ly = len(r["x"]), len(r["y"])
        assert r["delr"] == pytest.approx(((lx + ly - abs(lx - ly)) / (lx + ly)) * 100)


def test_bag_l1_lower_bounds_indel_distance():
    """The bag (char-count L1) distance must lower-bound the exact indel
    distance for ANY folding -- the verify tier's pre-DP gate is only sound
    if this holds (and it must also hold for token-sorted forms, whose
    char counts are identical)."""
    import random

    import numpy as np

    from dedup.functions.similarity import indel_distance_str, token_sort_py

    rng = random.Random(17)
    alphabet = "abcdefghij 0123"
    for _ in range(300):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        d = indel_distance_str(a, b)
        for bins in (64, 16, 7):
            ca = np.bincount(
                np.frombuffer(a.encode(), dtype=np.uint8) % bins, minlength=bins
            )
            cb = np.bincount(
                np.frombuffer(b.encode(), dtype=np.uint8) % bins, minlength=bins
            )
            l1 = int(np.abs(ca - cb).sum())
            assert l1 <= d, (a, b, bins, l1, d)
        # token-sort preserves byte counts on single-spaced text
        sa, sb = token_sort_py(" ".join(a.split())), token_sort_py(" ".join(b.split()))
        assert sorted(sa) == sorted(" ".join(a.split()))
        assert sorted(sb) == sorted(" ".join(b.split()))


def _fold_ws(s: str, bins: int = 64):
    """Mirror of char_count_vector_udf's folding: slot 0 = whitespace,
    non-ws bytes -> 1 + (byte % (bins-1))."""
    import numpy as np

    b = np.frombuffer(s.encode(), dtype=np.uint8)
    ws = (b == 0x20) | (b == 0x09) | (b == 0x0A) | (b == 0x0D)
    return np.bincount(np.where(ws, 0, 1 + (b % (bins - 1))), minlength=bins)


def test_bag_bound_whitespace_agnostic_soundness():
    """The REDUCED bag L1 (whitespace slot excluded) must lower-bound the
    indel distance of BOTH staged-ratio paths -- including the token-sort
    path on multi-whitespace text, where token_sort_py rewrites '\\n'/'\\t'
    runs to single spaces and the unreduced bound was unsound (r2 advice)."""
    import random

    import numpy as np

    from dedup.functions.similarity import indel_distance_str, token_sort_py

    rng = random.Random(7)
    for _ in range(400):
        x = "".join(rng.choice("abc \n\t") for _ in range(rng.randint(0, 40)))
        y = "".join(rng.choice("abc \n\t") for _ in range(rng.randint(0, 40)))
        l1 = int(np.abs(_fold_ws(x)[1:] - _fold_ws(y)[1:]).sum())
        assert l1 <= indel_distance_str(x, y)
        assert l1 <= indel_distance_str(token_sort_py(x), token_sort_py(y))


def test_bag_gate_keeps_turn_segmentation_duplicates(spark):
    """Regression (r2 advice, verify.py bag gate): a pair with identical
    token content but different TURN segmentation (different '\\n'
    placement/count -- exactly what conversation norm_text produces) is a
    true duplicate via the token-sort path (ratio 100), and the
    whitespace-agnostic bag bound must keep it. The unreduced bound counted
    the separator-kind mismatch (L1 8 > 0.06 * total 4.2 here) and dropped
    the edge before the DP."""
    import pyspark.sql.functions as F

    from dedup.functions.similarity import (
        bag_l1_col,
        char_count_vector_udf,
        staged_ratio_py,
    )

    a = "alpha beta\ngamma\ndelta\nepsilon\nzeta"
    b = "delta epsilon zeta alpha beta gamma"
    assert staged_ratio_py(a, b, 94) == 100  # true duplicate (token-sort)
    df = spark.createDataFrame([(a, b)], "ta string, tb string").select(
        char_count_vector_udf("ta").alias("ca"),
        char_count_vector_udf("tb").alias("cb"),
        (F.length("ta") + F.length("tb")).alias("total"),
    )
    row = df.select(
        bag_l1_col("ca", "cb").alias("l1"), F.col("total")
    ).first()
    assert row["l1"] == 0  # non-ws content identical
    assert row["l1"] <= row["total"] * (1 - 94 / 100.0)  # bag_ok: kept


def test_bigram_l1_lower_bounds_indel_distance():
    """The byte-bigram L1 must lower-bound 3x the indel distance for both
    ratio paths (direct on raw text; token-sorted text for the fallback) --
    the DP admission gate in verify.py is only sound if this holds."""
    import random

    import numpy as np

    from dedup.functions.similarity import indel_distance_str, token_sort_py

    def bgv(s, bins=256):
        b = np.frombuffer(s.encode(), dtype=np.uint8)
        if len(b) < 2:
            return np.zeros(bins, dtype=np.int64)
        big = (b[:-1].astype(np.uint32) << 8) | b[1:]
        return np.bincount(big % bins, minlength=bins)

    rng = random.Random(31)
    for _ in range(400):
        x = "".join(rng.choice("abcd \n") for _ in range(rng.randint(0, 50)))
        y = "".join(rng.choice("abcd \n") for _ in range(rng.randint(0, 50)))
        l1 = int(np.abs(bgv(x) - bgv(y)).sum())
        assert l1 <= 3 * indel_distance_str(x, y), (x, y)
        xs, ys = token_sort_py(x), token_sort_py(y)
        l1s = int(np.abs(bgv(xs) - bgv(ys)).sum())
        assert l1s <= 3 * indel_distance_str(xs, ys), (xs, ys)


def test_bitparallel_early_exit_parity():
    """_indel_bitparallel with dmax must return min(exact, dmax + 1): the
    popcount early exit is a bound, never an approximation."""
    import random

    import numpy as np

    from dedup.functions.similarity import _indel_bitparallel

    rng = random.Random(77)
    for _ in range(300):
        n = rng.randint(1, 400)
        x = "".join(rng.choice("abcdef ") for _ in range(n))
        # mutate a copy so distances span the dmax boundary
        y = _mutate(rng, x, "abcdef ", rng.randint(0, 30))
        a = np.frombuffer(x.encode(), dtype=np.uint8)
        b = np.frombuffer(y.encode(), dtype=np.uint8)
        exact = _indel_bitparallel(a, b)
        for dmax in (0, 5, exact - 1, exact, exact + 3):
            if dmax < 0:
                continue
            got = _indel_bitparallel(a, b, dmax)
            assert got == min(exact, dmax + 1), (x, y, dmax)


def test_bigram_gated_udf_above_threshold_parity(spark):
    """r6 per-path DP admission: for every pair, the gated UDF's value
    must equal staged_ratio_py whenever EITHER is above the threshold
    (exact bounds, no false skips); below the threshold both must stay
    below it (the only contract verify.py's filter relies on)."""
    import random

    import pyspark.sql.functions as F

    from dedup.config import DedupConfig
    from dedup.functions.similarity import (
        bigram_gated_staged_ratio_udf,
        staged_ratio_py,
    )

    cfg = DedupConfig()
    thr = cfg.lev_threshold
    rng = random.Random(13)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    rows = []
    for _ in range(120):
        base = " ".join(rng.choice(words) for _ in range(rng.randint(3, 40)))
        mutated = list(base)
        for _ in range(rng.randint(0, 8)):
            pos = rng.randrange(len(mutated) + 1)
            if rng.random() < 0.5 and mutated:
                del mutated[pos % len(mutated)]
            else:
                mutated.insert(pos, rng.choice("abcdez "))
        rows.append((base, "".join(mutated)))
        # token-sort-only duplicates exercise the fallback path
        toks = base.split()
        rng.shuffle(toks)
        rows.append((base, " ".join(toks)))
    df = spark.createDataFrame(rows, "ta string, tb string")
    got = df.select(
        "ta", "tb", bigram_gated_staged_ratio_udf("ta", "tb", cfg).alias("r")
    ).collect()
    for row in got:
        want = staged_ratio_py(row["ta"], row["tb"], thr)
        if want > thr or row["r"] > thr:
            assert row["r"] == want, (row["ta"], row["tb"], row["r"], want)
        else:
            assert row["r"] <= thr and want <= thr
