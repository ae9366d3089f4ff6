"""Levenshtein-ratio parity (cost-2 substitution, FIXTURES.md F4) and the
staged D4->D2->D5 gate chain (/root/reference/doppelspeller/predict.py:140-156).
"""

import collections
import random

import numpy as np
import pytest

import pyspark.sql.functions as F

from dedup.functions.similarity import (
    _dmax,
    _nbytes,
    deletion_ratio_col,
    gated_ratios_udf,
    indel_distance_str,
    levenshtein_ratio_py,
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


def staged_ratio_py(x: str, y: str, threshold: int = 94) -> int:
    """Full D4->D2->D5 chain (/root/reference/doppelspeller/predict.py:147-156):
    deletion-ratio gate, then ratio, token-sort fallback when ratio <= T.
    Lengths count UTF-8 bytes, as in levenshtein_ratio_py. The oracle the
    gated UDF is checked against."""
    lx, ly = _nbytes(x), _nbytes(y)
    total = lx + ly
    if total == 0:
        return 100
    if ((total - abs(lx - ly)) / total) * 100 < threshold:
        return 0
    r = levenshtein_ratio_py(x, y, _dmax(total, threshold))
    if r <= threshold:
        xs, ys = token_sort_py(x), token_sort_py(y)
        return levenshtein_ratio_py(xs, ys, _dmax(_nbytes(xs) + _nbytes(ys), threshold))
    return r


def _staged_udf(ta: str, tb: str, threshold: float):
    """The staged chain as verify_pairs derives it from gated_ratios_udf."""
    r = gated_ratios_udf(ta, tb, threshold)
    return F.when(r["lev"] > threshold, r["lev"]).otherwise(r["tsort"])


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


def test_non_ascii_ratios_count_bytes(spark):
    """Each ratio divides a UTF-8 byte distance by a UTF-8 byte length, so
    a non-ASCII pair gets its byte-level ratio, in [0, 100]. Counting the
    length in characters gave levenshtein_ratio_py('\u00e9', 'e') = -50.
    The staged chain and the gated UDF agree with the byte-level chain
    above the threshold, on both paths."""

    def byte_staged(x, y, t):
        bx, by = x.encode(), y.encode()
        total = len(bx) + len(by)
        if total == 0:
            return 100
        if ((total - abs(len(bx) - len(by))) / total) * 100 < t:
            return 0
        r = ref_ratio(bx, by)
        if r <= t:
            return ref_ratio(token_sort_py(x).encode(), token_sort_py(y).encode())
        return r

    t = DedupConfig().lev_threshold
    rng = random.Random(23)
    alphabet = "ab \u00e9\u00fc\u4e2d\U0001f600"
    words = ["caf\u00e9", "na\u00efve", "\u4e2d\u6587", "\U0001f600", "ok", "spark"]
    pairs = [("\u00e9", "e"), ("na\u00efve caf\u00e9", "naive cafe"), ("", "\u00e9")]
    for _ in range(60):
        x = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
        pairs.append((x, _mutate(rng, x, alphabet, rng.randint(0, 6))))
    for _ in range(60):
        toks = [rng.choice(words) for _ in range(rng.randint(5, 12))]
        x = " ".join(toks)
        rng.shuffle(toks)
        pairs.append((x, _mutate(rng, " ".join(toks), "\u00e9a", rng.randint(0, 1))))
    above = 0
    for x, y in pairs:
        r = levenshtein_ratio_py(x, y)
        assert 0 <= r <= 100 and r == ref_ratio(x.encode(), y.encode()), (x, y, r)
        want, got = byte_staged(x, y, t), staged_ratio_py(x, y, t)
        assert 0 <= got <= 100
        if want > t or got > t:
            assert got == want, (x, y, got, want)
            above += 1
    assert above >= 20
    rows = spark.createDataFrame(pairs, "ta string, tb string").select(
        "ta", "tb", _staged_udf("ta", "tb", t).alias("r")
    ).collect()
    for row in rows:
        want = staged_ratio_py(row["ta"], row["tb"], t)
        assert 0 <= row["r"] <= 100
        if want > t or row["r"] > t:
            assert row["r"] == want, (row["ta"], row["tb"], row["r"], want)


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
        gated_ratios_udf("x", "y", 0)["lev"].alias("plain"),
        deletion_ratio_col(F.octet_length("x"), F.octet_length("y")).alias("delr"),
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


def test_bag_bound_whitespace_agnostic_soundness():
    """The REDUCED bag L1 (whitespace slot excluded) must lower-bound the
    indel distance of BOTH staged-ratio paths -- including the token-sort
    path on multi-whitespace text, where token_sort_py rewrites runs of any
    whitespace str.split() splits on ('\\n', '\\t', vertical tab, form
    feed, file separator, ...) to single spaces and the unreduced bound was
    unsound (r2 advice)."""
    import random

    import numpy as np

    from dedup.functions.similarity import (
        char_count_vector_py,
        indel_distance_str,
        token_sort_py,
    )

    rng = random.Random(7)
    alphabet = "abc \n\t\x0b\x0c\x1c"
    for _ in range(400):
        x = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        y = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        l1 = int(np.abs(char_count_vector_py(x)[1:] - char_count_vector_py(y)[1:]).sum())
        assert l1 <= indel_distance_str(x, y)
        assert l1 <= indel_distance_str(token_sort_py(x), token_sort_py(y))


def test_bag_gate_keeps_turn_segmentation_duplicates(spark):
    """Regression (r2 advice, verify.py bag gate): a pair with identical
    token content but different TURN segmentation (different '\\n'
    placement/count -- exactly what conversation norm_text produces) is a
    true duplicate via the token-sort path (ratio 100), and the
    whitespace-agnostic bag bound must keep it. The unreduced bound counted
    the separator-kind mismatch (L1 8 > 0.06 * total 4.2 here) and dropped
    the edge before the DP. The second pair joins ten words with form feeds,
    which normalize_text_col keeps and str.split() splits on: a fold that
    counted only space/tab/LF/CR as whitespace put L1 9 > 0.06 * 112."""
    from dedup.functions.similarity import bag_l1_col, char_count_vector_udf

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    pairs = [
        ("alpha beta\ngamma\ndelta\nepsilon\nzeta", "delta epsilon zeta alpha beta gamma"),
        ("\x0c".join(words), " ".join(reversed(words))),
    ]
    for a, b in pairs:
        assert staged_ratio_py(a, b, 94) == 100  # true duplicate (token-sort)
    df = spark.createDataFrame(pairs, "ta string, tb string").select(
        char_count_vector_udf("ta").alias("ca"),
        char_count_vector_udf("tb").alias("cb"),
        (F.length("ta") + F.length("tb")).alias("total"),
    )
    rows = df.select(bag_l1_col("ca", "cb").alias("l1"), F.col("total")).collect()
    assert [r["total"] for r in rows] == [70, 112]
    for row in rows:
        assert row["l1"] == 0  # non-ws content identical
        assert row["l1"] <= row["total"] * (1 - 94 / 100.0)  # bag_ok: kept


def _trigram_counts(s: str) -> collections.Counter:
    b = s.encode()
    return collections.Counter(b[i : i + 3] for i in range(len(b) - 2))


def test_bigram_l1_lower_bounds_indel_distance():
    """The DP admission bound of gated_ratios_udf: the L1
    between exact byte 3-gram counts (_trigram_l1) equals a Counter
    oracle and is at most 5x the indel distance, on both ratio paths
    (direct texts; token-sorted texts for the fallback). Covers empty,
    1-2 char and non-ASCII strings -- the gate is only sound if this
    holds."""
    from dedup.functions.similarity import _trigram_l1

    rng = random.Random(31)
    alphabets = ["abcd \n", "ab c\u00e9\u6771\U0001f642 "]
    for i in range(600):
        alphabet = alphabets[i % 2]
        x = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 50)))
        if i % 3:
            y = _mutate(rng, x, alphabet, rng.randint(0, 6))
        else:
            y = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 3)))
        for a, b in ((x, y), (token_sort_py(x), token_sort_py(y))):
            ca, cb = _trigram_counts(a), _trigram_counts(b)
            l1 = _trigram_l1(a, b)
            assert l1 == sum(((ca - cb) + (cb - ca)).values()), (a, b)
            assert l1 <= 5 * indel_distance_str(a, b), (a, b)


def test_trigram_bound_rejects_anagrammed_words(spark):
    """A pair whose byte histograms are identical -- every word of one text
    is an anagram of the other's -- passes a byte-count bound on both
    paths, so such a bound runs both capped DPs and returns their capped
    ratio (94 here). Its 3-gram counts differ on both paths (L1 ~1.4k
    against a limit of ~480), so the exact bound skips both DPs and the
    UDF returns 0 on both."""

    rng = random.Random(5)
    words = []
    while sum(len(w) + 1 for w in words) < 800:
        words.append("".join(rng.sample("abcdefghijklmnoprstuvwy", rng.randint(4, 8))))

    def anagram(w):
        while True:
            v = "".join(rng.sample(w, len(w)))
            if v != w:
                return v

    a = " ".join(words)
    b = " ".join(anagram(w) for w in words)
    assert len(a) >= 500 and sorted(a) == sorted(b)
    assert staged_ratio_py(a, b, 94) <= 94
    df = spark.createDataFrame([(a, b)], "ta string, tb string")
    got = df.select(gated_ratios_udf("ta", "tb", DedupConfig.lev_threshold).alias("r"))
    assert got.first()["r"].asDict() == {"lev": 0, "tsort": 0}


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
    """Per-path DP admission: for every pair, the gated UDF's value must
    equal staged_ratio_py whenever EITHER is above the threshold (exact
    bounds, no false skips); below the threshold both must stay below it
    (the only contract verify.py's filter relies on). 160 of the 400 pairs
    are near the threshold (staged ratio 90-98) on either path: direct
    edits, or shuffled word order plus edits for the token-sort fallback."""
    import random

    thr = DedupConfig.lev_threshold
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
    near = 0
    while near < 160:
        base = " ".join(rng.choice(words) for _ in range(rng.randint(20, 80)))
        toks = base.split()
        if near % 2:
            rng.shuffle(toks)
        edits = max(1, int(len(base) * rng.uniform(0.005, 0.05)))
        mutated = _mutate(rng, " ".join(toks), "abcdez ", edits)
        if 90 <= staged_ratio_py(base, mutated, thr) <= 98:
            rows.append((base, mutated))
            near += 1
    df = spark.createDataFrame(rows, "ta string, tb string")
    got = df.select(
        "ta", "tb", _staged_udf("ta", "tb", thr).alias("r")
    ).collect()
    above = 0
    for row in got:
        want = staged_ratio_py(row["ta"], row["tb"], thr)
        if want > thr or row["r"] > thr:
            assert row["r"] == want, (row["ta"], row["tb"], row["r"], want)
            above += 1
        else:
            assert row["r"] <= thr and want <= thr
    assert above >= 100


@pytest.mark.parametrize("thr", [94, 89.5])
def test_gated_ratios_fields_match_brute_force(spark, thr):
    """Each field of gated_ratios_udf equals the brute-force ratio -- of the
    texts for ``lev``, of their token_sort_py forms for ``tsort`` --
    whenever either value is above the threshold, and both stay at or
    below it otherwise; a pair failing the byte deletion gate gets (0, 0).
    89.5 is the title cascade's rounding-aware gate. Texts mix separators
    str.split() splits on but Java's \\s does not (\\x1c), or that only one
    of the two token sorts used to treat as whitespace."""
    rng = random.Random(41)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    seps = [" ", " ", "\x0b", "\x0c", "\x1c", "\n"]

    def join(toks):
        return "".join(t + rng.choice(seps) for t in toks).rstrip()

    pairs = []
    for i in range(240):
        toks = [rng.choice(words) for _ in range(rng.randint(2, 12))]
        base = join(toks)
        # same separators (direct path), new separators, or new word order
        if i % 3 == 2:
            rng.shuffle(toks)
        other = base if i % 3 == 0 else join(toks)
        edits = rng.randint(0, max(1, len(base) // 20))
        pairs.append((base, _mutate(rng, other, "abz \x1c", edits)))
    rows = spark.createDataFrame(pairs, "ta string, tb string").select(
        "ta", "tb", gated_ratios_udf("ta", "tb", thr).alias("r")
    ).collect()
    above = {"lev": 0, "tsort": 0}
    for row in rows:
        a, b = row["ta"], row["tb"]
        total = len(a) + len(b)
        got = row["r"].asDict()
        if total and (total - abs(len(a) - len(b))) / total * 100 < thr:
            assert got == {"lev": 0, "tsort": 0}, (a, b, got)
            continue
        want = {
            "lev": ref_ratio(a, b),
            "tsort": ref_ratio(token_sort_py(a), token_sort_py(b)),
        }
        for k in want:
            if want[k] > thr or got[k] > thr:
                assert got[k] == want[k], (a, b, k, got, want)
                above[k] += 1
            else:
                assert got[k] <= thr
    assert above["lev"] >= 20 and above["tsort"] >= 40, above


def test_match_titles_token_sort_splits_like_verify(spark, config):
    """The title cascade's token-sort fallback is token_sort_py, the one
    pair verification uses: words split at \\x1c as at a space, so this
    pair's token-sort ratio is 100 and it matches via the close tier. A
    Java-\\s token sort kept "beta\\x1calpha" as one word: ratio 83 on both
    paths, and the query went unmatched."""
    from dedup.operators.match import match_titles

    query, title = "beta\x1calpha gamma delta systems", "alpha beta gamma delta systems"
    assert levenshtein_ratio_py(query, title) == 83
    assert levenshtein_ratio_py(token_sort_py(query), token_sort_py(title)) == 100
    queries = spark.createDataFrame([(1, query)], "query_id long, title string")
    truth = spark.createDataFrame(
        [(10, title), (11, "omega ledger holdings")], "title_id long, title string"
    )
    got = [r.asDict() for r in match_titles(queries, truth, config).collect()]
    assert got == [{"query_id": 1, "title_id": 10, "prediction": 1.0, "tier": "close"}]
