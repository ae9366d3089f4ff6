"""MinHash / SimHash sketches and LSH band hashes as Arrow-vectorized
pandas UDFs with numpy matrix bodies (no per-row Python UDFs -- the
``input_hint`` mandate; the moral successor of the reference's numba
kernels, /root/reference/doppelspeller/match_maker.py:16-71).

Inputs are ``array<bigint>`` columns of xxhash64'd shingles produced
JVM-side (dedup/functions/shingle.py:gram_hashes_col) -- the hashing of raw
text stays in whole-stage codegen; only the permutation/min and bit-vote
math crosses into Python, batched.

MinHash family: h_i(x) = (a_i * x + b_i) mod p, p = 2^61-1, over x = the
64-bit shingle hash mapped into [0, p). Deterministic (a, b) tables come
from DedupConfig.perm_params() so signatures are reproducible run-to-run
(SURVEY.md par.7). The reference itself declared-but-never-used
``sequences_min_hash`` columns (/root/reference/doppelspeller/constants.py:8,17)
-- this module is that road actually taken.

Vectorization shape: one batch of B docs with G total shingles becomes a
flat uint64 vector; each permutation is two vector ops + one
``np.minimum.reduceat`` segment-min -- O(num_perm * G) numpy work, no
Python loops over rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
import pyspark.sql.functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from dedup.config import DedupConfig, DEFAULT_CONFIG, MERSENNE_PRIME, MAX_HASH

def _fold61(v: np.ndarray, tmp: np.ndarray) -> None:
    """In-place reduce v (any uint64) into [0, p) with the Mersenne
    identity 2^61 ≡ 1 (mod p): v = (v >> 61) + (v & p), conditional
    subtract. Shift/mask/add/compare only -- uint64 vector DIVISION
    (np.remainder) has no SIMD path and benchmarked ~10x slower per
    element than this fold; the three remainders per mulmod were most of
    the MinHash kernel's wall time (and its memory-bandwidth pressure,
    the reason the prepare stage stopped scaling with cores)."""
    p = MERSENNE_PRIME
    np.right_shift(v, np.uint64(61), out=tmp)
    np.bitwise_and(v, p, out=v)
    np.add(v, tmp, out=v)                  # < p + 7 (inputs < 2^64)
    np.subtract(v, p, out=tmp)             # wraps below p
    np.minimum(v, tmp, out=v)              # unsigned min picks the reduced one


def _mulmod_p(a: np.uint64, x: np.ndarray, work: np.ndarray | None = None) -> np.ndarray:
    """(a * x) mod (2^61-1) for inputs < 2^61, without 128-bit ints: split
    both operands into 31/30-bit halves so every partial product fits in
    uint64, then fold with the Mersenne identity 2^61 ≡ 1 (mod p).

    Allocation-light: uses (and optionally reuses via ``work``, shape
    (3, len(x))) three scratch vectors with in-place ufuncs -- the kernel
    is memory-bandwidth-bound at scale, so every avoided pass over a
    G-length vector is wall time. Division-free: all reductions go through
    _fold61."""
    one, m31, m30 = np.uint64(1), np.uint64(31), np.uint64(30)
    mask31 = np.uint64((1 << 31) - 1)
    mask30 = np.uint64((1 << 30) - 1)
    a1, a0 = a >> m31, a & mask31          # a1 < 2^30, a0 < 2^31
    if work is None or work.shape != (3, len(x)):
        work = np.empty((3, len(x)), dtype=np.uint64)
    acc, u, v = work[0], work[1], work[2]
    # a*x = a1*x1*2^62 + (a1*x0 + a0*x1)*2^31 + a0*x0
    np.right_shift(x, m31, out=v)          # v = x1 < 2^30
    np.multiply(v, a1, out=acc)            # a1*x1 < 2^60
    np.left_shift(acc, one, out=acc)       # *2^62 ≡ *2 (mod p); acc < 2^61
    np.multiply(v, a0, out=v)              # v = a0*x1
    np.bitwise_and(x, mask31, out=u)       # u = x0 < 2^31
    np.multiply(u, a1, out=u)              # u = a1*x0
    np.add(v, u, out=v)                    # v = mid = a1*x0 + a0*x1 < 2^62
    # mid*2^31 ≡ (mid >> 30) + ((mid & mask30) << 31) (mod p)
    np.bitwise_and(v, mask30, out=u)
    np.left_shift(u, m31, out=u)
    np.right_shift(v, m30, out=v)
    np.add(v, u, out=v)                    # v = t1 < 2^61 + 2^32
    np.add(acc, v, out=acc)                # acc < 2^62 + 2^32
    np.bitwise_and(x, mask31, out=u)       # recompute x0 (destroyed above)
    np.multiply(u, a0, out=u)              # a0*x0 < 2^62
    np.add(acc, u, out=acc)                # acc < 2^63 + 2^62 -- fits uint64
    _fold61(acc, u)
    return acc


def _to_field(hashes: np.ndarray) -> np.ndarray:
    """Map signed-int64 xxhash64 values into [0, p)."""
    return hashes.astype(np.uint64) % MERSENNE_PRIME


# bound on total shingle count per vectorized MinHash chunk. The kernel
# makes num_perm passes over the chunk's gram vector, so the chunk MUST be
# CACHE-RESIDENT or all 128 passes stream from DRAM: x slice + 3 mulmod
# scratch vectors at 24k grams ~= 0.8 MB (L2-resident), vs the earlier
# 512k-gram chunk (~16 MB) that hit the DRAM ceiling -- measured
# standalone at 32 procs: 512k chunk = 45M gram-perms/s/core single, 11M
# under contention (0.41 of ideal aggregate); 24k chunk = 101M single
# (2.2x faster -- the passes come from cache) and 84M under contention
# (0.94 per-core efficiency). Chunking overhead (numpy dispatch per
# chunk x perm) is ~10us/call, negligible against the passes. This is the
# difference between a prepare stage that stops scaling at 8 threads and
# one that scales to the core count.
_MINHASH_CHUNK_GRAMS = 24_000


def _minhash_matrix(
    sizes: np.ndarray, flat: np.ndarray, a_params, b_params, num_perm: int
) -> np.ndarray:
    """Segment MinHash kernel shared by the whole-doc and block UDFs:
    ``sizes[i]`` grams per segment, ``flat`` = the segments' int64 gram
    hashes concatenated in order. Returns an (n_segments, num_perm) int64
    signature matrix; empty segments get the MAX_HASH sentinel row (never
    collides with a real min).

    Vectorization shape: segments are chunked by total gram budget; inside
    a chunk, each permutation is two vector ops + one np.minimum.reduceat
    segment-min over the chunk's flat gram vector -- O(num_perm * G) work
    with an O(G) working set (never O(num_perm * G) memory)."""
    p = MERSENNE_PRIME
    n = len(sizes)
    sigs = np.full((n, num_perm), int(MAX_HASH), dtype=np.uint64)
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes, out=bounds[1:])
    start = 0
    while start < n:
        stop = start + 1
        total = int(sizes[start])
        while stop < n and total + sizes[stop] <= _MINHASH_CHUNK_GRAMS:
            total += int(sizes[stop])
            stop += 1
        csizes = sizes[start:stop]
        nonempty = csizes > 0
        if nonempty.any():
            x = _to_field(flat[bounds[start] : bounds[stop]])
            offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
            np.cumsum(csizes[nonempty][:-1], out=offsets[1:])
            block = sigs[start:stop]
            ne_idx = np.nonzero(nonempty)[0]
            work = np.empty((3, len(x)), dtype=np.uint64)
            tmp = work[1]
            for i in range(num_perm):
                h = _mulmod_p(np.uint64(a_params[i]), x, work)
                np.add(h, b_params[i], out=h)      # < 2p, fits uint64
                np.subtract(h, p, out=tmp)         # division-free mod:
                np.minimum(h, tmp, out=h)          # wraps below p
                block[ne_idx, i] = np.minimum.reduceat(h, offsets)
        start = stop
    return sigs.astype(np.int64)


def minhash_signature_udf(
    gram_hashes: Column | str,
    config: DedupConfig = DEFAULT_CONFIG,
    num_perm: int | None = None,
) -> Column:
    """array<bigint> shingle hashes -> array<bigint> MinHash signature of
    length num_perm (one segment per row; see _minhash_matrix).
    ``num_perm`` overrides the signature length with a PREFIX of the
    config's deterministic permutation table (used by the containment
    window geometry, which needs far fewer permutations -- see
    DedupConfig.containment_num_perm)."""
    a_params, b_params = config.perm_params()
    num_perm = num_perm or config.num_perm
    a_params, b_params = a_params[:num_perm], b_params[:num_perm]

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(batches: pd.Series) -> pd.Series:
        n = len(batches)
        if n == 0:
            return pd.Series([], dtype=object)
        sizes = np.fromiter(
            (0 if v is None else len(v) for v in batches), dtype=np.int64, count=n
        )
        arrs = [
            np.asarray(v, dtype=np.int64)
            for v in batches
            if v is not None and len(v)
        ]
        flat = np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)
        sigs = _minhash_matrix(sizes, flat, a_params, b_params, num_perm)
        return pd.Series(list(sigs))

    c = F.col(gram_hashes) if isinstance(gram_hashes, str) else gram_hashes
    return _sig(c)


def byte_kgram_codes(text: str, k: int) -> np.ndarray:
    """Positional k-gram sequence of ``text`` as exact big-endian byte
    codes (int64, < 2^(8k)): element i is the k bytes of the UTF-8
    encoding starting at byte i. For ASCII text this is exactly the char
    k-gram sequence with a COLLISION-FREE encoding; for multibyte UTF-8 it
    is byte-grams -- equally valid span evidence since both sides of a
    shared span encode identically. Replaces the interpreted
    transform(substr)+xxhash64 chain (measured 92s of the containment
    stage at 64k convs / local[16]): the gram values only ever feed the
    MinHash permutation field, so any deterministic injective-enough
    encoding works and the 3-byte pack is free next to a hash."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = len(b) - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.int64)
    out = b[:n].astype(np.int64)
    for j in range(1, k):
        out <<= 8
        np.bitwise_or(out, b[j : j + n], out=out)
    return out


def block_minhash_text_udf(
    text: Column | str, stride: int, config: DedupConfig = DEFAULT_CONFIG
) -> Column:
    """Normalized TEXT -> array<array<bigint>>: one MinHash signature per
    non-overlapping ``stride``-gram block of the positional byte-k-gram
    sequence (see byte_kgram_codes; last block = the tail).

    Why blocks instead of sketching each sliding window directly: MinHash
    of a set union is the elementwise min of the parts' MinHashes, so with
    window = 2 * stride every sliding window's signature is EXACTLY
    zip_with(least) of two adjacent block signatures. Each gram then feeds
    the permutation kernel ONCE instead of once per overlapping window.

    Fuses shingling INTO the sketch UDF: the positional gram array never
    materializes as a Spark column, so (a) the interpreted higher-order
    transform(substr(..)) + xxhash64 chain -- which ran OUTSIDE codegen at
    ~7us/gram and dominated the containment stage's wall (c_pos_hashes,
    92.6s of the stage's ~200s at 64k convs / local[16]) -- disappears,
    and (b) Arrow ships the ~1x text bytes instead of the 8x positional
    int64 array. The numpy 3-shift gram pack is memory-bandwidth-trivial
    next to the permutation kernel that follows it.

    Signature length is config.containment_num_perm (a PREFIX of the
    whole-doc permutation table): aligned window pairs carry Jaccard
    >= 0.6 by construction, so the window LSH runs a shorter, lower-r
    geometry than the whole-doc path -- see the DedupConfig block."""
    a_params, b_params = config.perm_params()
    num_perm = config.containment_num_perm
    a_params, b_params = a_params[:num_perm], b_params[:num_perm]
    k = config.k_shingle
    s = int(stride)

    @F.pandas_udf(ArrayType(ArrayType(LongType())))
    def _blocks(texts: pd.Series) -> pd.Series:
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype=object)
        arrs: list[np.ndarray] = []
        seg_sizes: list[int] = []
        row_nblocks = np.zeros(n, dtype=np.int64)
        for r_i, v in enumerate(texts):
            if v is None:
                continue
            a = byte_kgram_codes(v, k)
            if len(a) == 0:
                continue
            nb = (len(a) + s - 1) // s
            row_nblocks[r_i] = nb
            arrs.append(a)
            seg_sizes.extend([s] * (nb - 1))
            seg_sizes.append(len(a) - s * (nb - 1))
        flat = np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)
        sizes = np.asarray(seg_sizes, dtype=np.int64)
        sigs = _minhash_matrix(sizes, flat, a_params, b_params, num_perm)
        out: list[list] = []
        pos = 0
        for nb in row_nblocks:
            out.append([sigs[pos + j] for j in range(nb)])
            pos += nb
        return pd.Series(out, dtype=object)

    c = F.col(text) if isinstance(text, str) else text
    return _blocks(c)


def window_band_hashes_text_udf(
    text: Column | str, stride: int, config: DedupConfig = DEFAULT_CONFIG
) -> Column:
    """Normalized TEXT -> array<bigint>: the containment window path's
    BAND HASHES, fully fused (r6) -- shingle -> per-block MinHash ->
    window composition (min of adjacent block signatures; exact for
    window == 2 * stride) -> per-band splitmix64 chain hash, all inside
    one numpy batch. Element order: window-major, band-minor
    (window 0's containment_lsh_bands hashes first).

    Replaces the three-step JVM chain block_minhash_text_udf ->
    window_sigs_col -> band_hashes_col: the window zip_with(least) and
    the per-band xxhash64-over-slice both run INTERPRETED per element,
    and the per-block signatures crossed Arrow only to be reduced to
    hashes. Collision semantics are what LSH needs -- equal
    (band index, band rows) => equal hash, distinct inputs collide with
    ~2^-64 probability (splitmix64 is bijective per mixing step); band
    hash VALUES change family vs the JVM chain, which is statistically
    neutral: a true containment's aligned windows are equal element-wise,
    so they collide in every band under ANY deterministic family, and
    band-hit counts/ranks of planted pairs are family-independent.
    Empty texts yield an empty array (no windows -- same invariant as
    window_sigs_col's empty guard)."""
    a_params, b_params = config.perm_params()
    num_perm = config.containment_num_perm
    a_params, b_params = a_params[:num_perm], b_params[:num_perm]
    n_bands = config.containment_lsh_bands
    n_rows = config.containment_lsh_rows
    k = config.k_shingle
    s = int(stride)

    @F.pandas_udf(ArrayType(LongType()))
    def _wbh(texts: pd.Series) -> pd.Series:
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype=object)
        arrs: list[np.ndarray] = []
        seg_sizes: list[int] = []
        row_nblocks = np.zeros(n, dtype=np.int64)
        for r_i, v in enumerate(texts):
            if v is None:
                continue
            a = byte_kgram_codes(v, k)
            if len(a) == 0:
                continue
            nb = (len(a) + s - 1) // s
            row_nblocks[r_i] = nb
            arrs.append(a)
            seg_sizes.extend([s] * (nb - 1))
            seg_sizes.append(len(a) - s * (nb - 1))
        flat = np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)
        sizes = np.asarray(seg_sizes, dtype=np.int64)
        sigs = _minhash_matrix(sizes, flat, a_params, b_params, num_perm).view(
            np.uint64
        )
        # per-band seed: mix of the 1-based band index (so identical rows
        # in different bands never share a hash)
        band_seed = _mix64(
            (np.arange(n_bands, dtype=np.uint64) + np.uint64(1))
            * np.uint64(0x9E3779B97F4A7C15)
        )
        out: list[list] = []
        pos = 0
        for nb in row_nblocks:
            if nb == 0:
                out.append([])
                continue
            blk = sigs[pos : pos + nb]
            pos += nb
            # window w = blocks w, w+1 (single-block doc: the block alone)
            win = np.minimum(blk[:-1], blk[1:]) if nb > 1 else blk
            v = win.reshape(win.shape[0], n_bands, n_rows)
            acc = np.broadcast_to(band_seed, (win.shape[0], n_bands)).copy()
            for r in range(n_rows):
                acc = _mix64(acc ^ v[:, :, r])
            out.append(acc.view(np.int64).ravel().tolist())
        return pd.Series(out, dtype=object)

    c = F.col(text) if isinstance(text, str) else text
    return _wbh(c)


def band_hashes_col(
    signature: Column | str,
    config: DedupConfig = DEFAULT_CONFIG,
    bands: int | None = None,
    rows: int | None = None,
) -> Column:
    """MinHash signature -> array<bigint> of lsh_bands band hashes, fully
    NATIVE: xxhash64 over (band_idx, the band's r signature values). The
    band index participates in the hash so identical signature rows landing
    in different bands never collide.

    This replaced an FNV pandas UDF: band hashing only needs
    equal-slices ⟺ equal-hash, and xxhash64 over an array slice keeps the
    whole LSH candidate stage JVM-side -- no Python worker ever spins up
    for candidate generation, which was a measured per-stage FIXED cost
    (worker fork + numpy/pandas import across all task threads) that did
    not shrink with cores (VERDICT r4: candidate_pairs flat at 0.28
    efficiency across 4 vs 16 cores).

    ``bands``/``rows`` override the whole-doc (b, r) -- the containment
    window path passes its own geometry (see containment_lsh_bands)."""
    bands = bands or config.lsh_bands
    rows = rows or config.lsh_rows
    c = F.col(signature) if isinstance(signature, str) else signature
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(i, F.slice(c, i * rows + 1, rows)),
    )


# bound on total shingle count processed per vectorized simhash chunk: the
# bit matrix is G x 64 bytes, so 32k grams ~= 2 MB peak per worker --
# cache-resident for the unpackbits -> reduceat passes (same DRAM-ceiling
# reasoning as _MINHASH_CHUNK_GRAMS; the earlier 256k bound put a 16 MB
# matrix on every worker and 32 workers on one memory controller).
_SIMHASH_CHUNK_GRAMS = 32_000


def simhash_udf(
    gram_hashes: Column | str, config: DedupConfig = DEFAULT_CONFIG
) -> Column:
    """64-bit SimHash over shingle hashes: per-bit +/-1 votes, sign -> bit.
    Downstream hamming distance is native SQL ``bit_count(a ^ b)`` -- no UDF
    on the pair side (SURVEY.md par.7 step 5).

    Vectorized across ROWS like the MinHash UDF (flat concat + segment
    reduce): the whole Arrow batch's hashes become one flat uint64 vector,
    bits unpack via np.unpackbits (little-endian bit order == shift order),
    per-doc bit votes are one np.add.reduceat, and the winning bits pack
    back with np.packbits -- no Python loop over rows or bits. Row-chunked
    so the G x 64 bit matrix stays memory-bounded for gram-heavy batches."""

    @F.pandas_udf(LongType())
    def _simhash(batches: pd.Series) -> pd.Series:
        n = len(batches)
        if n == 0:
            return pd.Series([], dtype=np.int64)
        sizes = np.fromiter(
            (0 if v is None else len(v) for v in batches), dtype=np.int64, count=n
        )
        arrs = [
            np.asarray(v, dtype=np.int64)
            for v in batches
            if v is not None and len(v)
        ]
        flat = np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)
        return pd.Series(_simhash_vector(sizes, flat))

    c = F.col(gram_hashes) if isinstance(gram_hashes, str) else gram_hashes
    return _simhash(c)


def _simhash_vector(sizes: np.ndarray, flat: np.ndarray) -> np.ndarray:
    """Segment SimHash kernel: ``sizes[i]`` gram hashes per doc, ``flat``
    their int64 values concatenated in order -> int64 simhash per doc
    (0 for empty docs). Chunked so the G x 64 bit matrix stays
    cache-resident (see _SIMHASH_CHUNK_GRAMS)."""
    n = len(sizes)
    out = np.zeros(n, dtype=np.int64)
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes, out=bounds[1:])
    start = 0
    while start < n:
        stop = start + 1
        total = int(sizes[start])
        while stop < n and total + sizes[stop] <= _SIMHASH_CHUNK_GRAMS:
            total += int(sizes[stop])
            stop += 1
        csizes = sizes[start:stop]
        nonempty = csizes > 0
        if nonempty.any():
            cflat = flat[bounds[start] : bounds[stop]].view(np.uint64)
            # (G, 64) bit matrix; bitorder='little' makes column j the
            # coefficient of 2^j, matching the shift-based definition.
            bits = np.unpackbits(
                cflat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
            np.cumsum(csizes[nonempty][:-1], out=offsets[1:])
            # dtype=int64: accumulating uint8 bits would wrap at 256 grams
            ones = np.add.reduceat(bits, offsets, axis=0, dtype=np.int64)
            votes_pos = (2 * ones) > csizes[nonempty][:, None]
            words = np.packbits(votes_pos, axis=1, bitorder="little")
            out[start:stop][nonempty] = (
                words.copy().view(np.uint64).ravel().view(np.int64)
            )
        start = stop
    return out


# splitmix64 finalizer constants (public domain, Steele et al. / xorshift
# literature): an invertible uint64 mix, so distinct gram codes stay
# distinct (gram-set Jaccard is EXACTLY preserved) while all 64 output
# bits are well-distributed (SimHash votes need high bits; raw k-byte
# codes only populate 8k low bits).
_SM64_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SM64_C2 = np.uint64(0x94D049BB133111EB)


def _mix64(v: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (bijective on uint64)."""
    v = v.astype(np.uint64)
    v = v ^ (v >> np.uint64(30))
    v = v * _SM64_C1
    v = v ^ (v >> np.uint64(27))
    v = v * _SM64_C2
    v = v ^ (v >> np.uint64(31))
    return v


def doc_sketch_udf(
    text: Column | str, config: DedupConfig = DEFAULT_CONFIG
) -> Column:
    """Normalized TEXT -> struct(gram_hashes array<bigint>,
    minhash array<bigint>, simhash bigint): the whole per-doc sketch
    pipeline in ONE Arrow round trip.

    Fuses shingling into the sketch UDF (same move as
    block_minhash_text_udf, which removed 92.6s/stage at 64k convs):
    positional byte-k-gram codes (byte_kgram_codes) -> np.unique for the
    distinct gram set -> MinHash over the raw codes + SimHash over their
    splitmix64-mixed view, all from one flat vector. The
    interpreted transform(substr)+xxhash64+array_distinct chain the
    prepared stage previously ran JVM-side (~7us/gram, outside codegen)
    disappears, and the gram array crosses the Python boundary once
    (outbound) instead of twice inbound (MinHash UDF + SimHash UDF).

    Values: gram_hashes are raw byte-gram codes, not xxhash64 of gram
    strings -- a collision-free encoding of the doc's distinct k-gram
    set, so every set-level consumer (exact Jaccard, containment
    |S∩L|/|S|, n_grams) computes identical numbers for ASCII text;
    MinHash/SimHash/LSH keys change hash family, which is statistically
    neutral (tests assert planted recall, and the dup_pairs_jaccard
    oracle equality holds because the verified output depends only on
    exact Jaccard)."""
    from pyspark.sql.types import StructField, StructType

    a_params, b_params = config.perm_params()
    num_perm = config.num_perm
    k = config.k_shingle

    @F.pandas_udf(
        StructType(
            [
                StructField("gram_hashes", ArrayType(LongType())),
                StructField("minhash", ArrayType(LongType())),
                StructField("simhash", LongType()),
            ]
        )
    )
    def _sketch(texts: pd.Series) -> pd.DataFrame:
        n = len(texts)
        if n == 0:
            return pd.DataFrame(
                {"gram_hashes": [], "minhash": [], "simhash": []}
            )
        grams: list[np.ndarray] = []
        sizes = np.zeros(n, dtype=np.int64)
        for r_i, v in enumerate(texts):
            if v is None:
                grams.append(np.empty(0, dtype=np.int64))
                continue
            u = np.unique(byte_kgram_codes(v, k))
            grams.append(u)
            sizes[r_i] = len(u)
        flat = (
            np.concatenate(grams) if len(grams) else np.empty(0, dtype=np.int64)
        )
        # MinHash runs on the RAW codes (h(x) = (ax+b) mod p is a universal
        # family -- input distribution is irrelevant); SimHash unpacks its
        # input's BITS as votes, so it gets the splitmix64-mixed view. The
        # STORED gram_hashes are the raw codes: < 2^(8k), so the checkpoint
        # column dictionary/bit-packs to a fraction of the mixed values'
        # size, and every downstream join that ships gram arrays (exact-
        # Jaccard verify, containment gram-intersect -- the two heaviest
        # shuffles in the pipeline) ships those smaller bytes too. Jaccard
        # and containment scores are unchanged: raw codes are already a
        # collision-FREE encoding of the distinct gram set.
        sigs = _minhash_matrix(sizes, flat, a_params, b_params, num_perm)
        sims = _simhash_vector(sizes, _mix64(flat).view(np.int64))
        return pd.DataFrame(
            {
                "gram_hashes": [g.tolist() for g in grams],
                "minhash": list(sigs),
                "simhash": sims,
            }
        )

    c = F.col(text) if isinstance(text, str) else text
    return _sketch(c)


def distinct_gram_count_udf(text: Column | str, k: int) -> Column:
    """Number of DISTINCT character k-grams of ``text`` as one vectorized
    Arrow pass (np.unique over byte_kgram_codes). For ASCII text this is
    value-identical to ``F.size(char_ngrams_col(text, k))`` (bytes == chars
    and the byte codes are collision-free), at ~1000x less cost: the JVM
    chain is an INTERPRETED higher-order transform that re-evaluates its
    captured string expression per element -- measured 10ms/doc for a
    258-char prefix expression (51s serial over 5000 docs, the dominant
    cost of both containment entry queries) vs ~10us/doc here."""

    @F.pandas_udf(IntegerType())
    def _cnt(xs: pd.Series) -> pd.Series:
        n = len(xs)
        out = np.zeros(n, dtype=np.int32)
        for i, s in enumerate(xs):
            if s is not None:
                out[i] = len(np.unique(byte_kgram_codes(s, k)))
        return pd.Series(out)

    c = F.col(text) if isinstance(text, str) else text
    return _cnt(c)


def hamming_col(a: Column | str, b: Column | str) -> Column:
    """Native bit_count(a XOR b) -- JVM-side hamming distance on SimHashes."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))
