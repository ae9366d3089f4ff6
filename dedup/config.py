"""All tunable thresholds and scale knobs in one frozen dataclass.

Mirrors the role of the reference's ``settings.py``
(/root/reference/doppelspeller/settings.py:14-77): every semantic constant
(shingle size, Levenshtein threshold, top-k) lives here so parity with the
reference config is a single object, and scale knobs (partitions, band
caps) sit next to them.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, replace
from typing import ClassVar

import numpy as np

# Mersenne prime 2^61 - 1: modulus for the MinHash permutation family.
MERSENNE_PRIME = np.uint64((1 << 61) - 1)
MAX_HASH = np.uint64((1 << 61) - 2)

# Version of the SKETCH WIRE FORMAT: what gram_hashes encode (raw byte
# k-gram codes since r5), which hash family MinHash/SimHash/band hashing
# use, and the band-postings row shape ((doc_id, band_hash) since r6 --
# band_idx no longer rides postings; it is already folded into the hash).
# Folded into config_fingerprint (ADVICE r5 #1): corpus tables persisted
# by an OLDER format (existing_prepared / corpus_bands in incremental or
# streaming mode, checkpointed pipeline stages) must never silently join
# against sketches produced by a newer one -- the joins would simply find
# nothing. Bump this whenever sketch semantics or postings schema change.
SKETCH_FORMAT_VERSION = 3


@dataclass(frozen=True)
class DedupConfig:
    """Fields are the settings product code sets; ``ClassVar`` entries are
    constants no product caller sets (passing one raises TypeError). A
    test that needs another constant patches the class, e.g.
    ``monkeypatch.setattr(DedupConfig, "max_band_group", 3)``: config is
    read on the driver only, never inside a UDF body on a worker."""

    # --- shingling (reference: N_GRAMS=3, settings.py:15) ---
    k_shingle: ClassVar[int] = 3
    # normalized text truncation. The reference caps TITLES at 255 chars
    # (MAX_CHARACTERS_ALLOWED_IN_THE_TITLE, settings.py:67-68 -- a uint8
    # encoding artifact); title-parity mode (operators/match.py) pins 255
    # via TITLE_MAX_CHARS. Whole conversations need a far larger cap.
    max_chars: int = 32768

    # --- MinHash / LSH ---
    lsh_bands: ClassVar[int] = 32          # b bands ...
    lsh_rows: ClassVar[int] = 4            # ... of r rows each: num_perm = b*r
    minhash_seed: ClassVar[int] = 709  # deterministic permutation table seed

    # --- verification thresholds ---
    # Jaccard threshold a candidate pair must clear on exact shingle-set
    # Jaccard to count as a duplicate.
    jaccard_threshold: ClassVar[float] = 0.8
    # Levenshtein-ratio threshold (reference: LEVENSHTEIN_RATIO_THRESHOLD=94,
    # settings.py:75; gate semantics predict.py:147-156).
    lev_threshold: ClassVar[int] = 94
    # SimHash hamming distance at or under which verify's phase 1 keeps a
    # pair for exact scoring even when its MinHash estimate is low.
    simhash_hamming_threshold: ClassVar[int] = 3
    # MinHash-estimate pre-gate: skip exact set intersection when the
    # signature agreement sits more than this many binomial sigmas below
    # jaccard_threshold (4.5 sigma ~= 3e-6 false-skip per true pair).
    minhash_gate_sigmas: ClassVar[float] = 4.5
    # Levenshtein-path estimate gate: a pair with ratio > T has indel
    # distance d < (1-T/100)(la+lb); each edit disturbs <= k_shingle grams,
    # so its shingle Jaccard is at least roughly
    #   (L - k*d) / (L + k*d)  with  L ~= min gram count,
    # ~0.47 at T=94, k=3. Pairs whose MinHash estimate sits below
    # lev_est_gate (= that bound minus sampling slack) cannot pass the
    # Levenshtein tier and skip the expensive DP entirely.
    lev_est_gate: ClassVar[float] = 0.33
    # partitions for the Levenshtein UDF stage: byte-tiny but CPU-heavy, so
    # AQE's size-based coalescing would serialize it; repartition explicitly.
    lev_partitions: int = 64

    # --- candidate-generation scale controls ---
    # A band group larger than this is boilerplate, not near-dup signal:
    # it is capped (pairs beyond the cap are dropped WITH accounting in the
    # metrics table -- no silent truncation). SURVEY.md par. 4 item 1.
    # Every kept group fans out its pairs locally in one task, so this also
    # bounds one task's fan-out at C(max_band_group, 2) pairs (19,900).
    max_band_group: ClassVar[int] = 200
    # Candidate pairs must collide in at least this many DISTINCT bands,
    # UNLESS their quietest colliding band group is <= lsh_noise_group_size
    # (then a single hit suffices). Math: at (b=32, r=4) a J>=0.8 pair
    # collides per band with p = J^4 >= 0.41, so P(<2 hits) <= 5e-6 --
    # recall is untouched -- while boilerplate-similarity pairs (J ~ 0.3-
    # 0.5, the r=4 knee's soft tail) mostly collide once inside big
    # groups: measured 3-4x fewer candidate pairs on the bench corpus
    # (5.2M -> ~1.5M at 14k docs), which is what the non-scaling verify
    # phase-1 sketch join was choking on. The group-size exemption keeps
    # isolated low-J true pairs (e.g. Levenshtein-tier duplicates near the
    # gram floor) that collide once in a quiet band.
    lsh_min_band_hits: ClassVar[int] = 2
    lsh_noise_group_size: ClassVar[int] = 16

    # --- long-span containment (windowed sketches + substring verify) ---
    containment_stride: int = 128      # window = 2 * stride grams
    containment_min_grams: ClassVar[int] = 64  # shorter docs are noise, skip
    containment_threshold: ClassVar[float] = 0.9  # |short ∩ long| / |short|
    containment_lcs_ratio: ClassVar[float] = 0.8  # LCS-substring / len(short) fallback
    # Window-sketch LSH geometry -- DELIBERATELY different from the
    # whole-doc (num_perm=128, 32x4) geometry. The whole-doc bands must
    # trip at set Jaccard ~0.8; aligned window pairs of a true containment
    # have GUARANTEED Jaccard >= 0.6 (worst stride misalignment delta=W/4
    # gives J=(W-delta)/(W+delta)=0.6 on a clean span), so windows can run
    # r=2 rows/band: per-band collision p=J^r=0.36 at the worst alignment
    # vs 0.13 under the whole-doc r=4 -- 24 bands of 2 rows give
    # P(>=2 hits)=0.9997 per single aligned window pair vs 0.938 under
    # 32x4, at 3/8 the MinHash permutation work (48 perms, not 128 -- the
    # window sketch UDF was the containment stage's dominant compute) and
    # 3/4 the band-join shuffle rows. r=2 also degrades more gracefully
    # for edit-diluted spans: at J=0.45 the expected hits are 4.9 (24x0.2)
    # vs 1.3 (32x0.041). Background noise rises (random window pairs
    # collide at j^2 not j^4), which the group-size cap + min-band-hits
    # filter and the ranked partner caps bound -- but the band COUNT must
    # stay high enough that planted pairs outrank background at the
    # partner caps. Measured on the sf0.01 mid-span corpus (planted
    # middle-component containments at stride-unaligned offsets):
    #   128/32x4: 12,026 cands, 199,805 cap-dropped background, 0 missing
    #    48/24x2: 12,692 cands,  60,334 cap-dropped,            0 missing
    #    32/16x2: 12,467 cands,  35,328 cap-dropped,            4 MISSING
    #             (16 bands compress band-hit rank separation; planted
    #              pairs got outranked by background at the partner caps)
    # 48/24x2 is the knee: every planted pair kept, least background
    # among the zero-miss geometries, ~2.7x less sketch compute.
    containment_lsh_bands: ClassVar[int] = 24
    containment_lsh_rows: ClassVar[int] = 2
    # minimum distinct window-band collisions for a pair to become a
    # candidate. A true containment aligns window pairs at Jaccard >= ~0.6
    # (expected ~8.6 of 24 r=2 band hits per aligned window pair, and
    # several window pairs), while boilerplate background collisions mostly
    # hit once: 2 cuts the candidate set ~5x on the self-similar synthetic
    # corpus at the cost of P(>=2 | >=1) ~= 0.9997 per single aligned window
    # in the worst alignment. Exactly-aligned windows (identical spans)
    # always hit all bands, so prefix/suffix containment recall is exact.
    containment_min_band_hits: ClassVar[int] = 2
    # The min-band-hits filter only applies to pairs whose EVERY collision
    # came from a band group larger than this: a single-hit pair that met in
    # a small (quiet) group is cheap to verify and is kept, so the ~6%
    # worst-alignment recall loss of a blanket >=2 filter only arises inside
    # genuinely noisy boilerplate groups where verification would blow up.
    # 4, not the whole-doc path's 16: positional windows (unlike the r3
    # distinct-order windows) align shared boilerplate spans across ALL the
    # docs carrying them, so moderately-sized window groups are mostly
    # background; a truly quiet collision is a 2-4 member group. Measured
    # at 42k docs / 25% boilerplate: the 16-exemption passed 32M scored
    # pairs of which the partner caps kept 2%.
    containment_noise_group_size: ClassVar[int] = 4
    # Window band groups larger than this are per-span boilerplate, dropped
    # WITH accounting (window_band_skew). Much lower than the whole-doc
    # max_band_group=200: a window group of size g appears in ~all 24 bands
    # AND at several overlapping window positions, so its pair fan-out is
    # ~64x a whole-doc group's, and a true containment inside a >=33-doc
    # boilerplate family stays reachable transitively through the family's
    # stronger in-cap edges (clustering is transitive). Measured at 42k
    # docs: cap 200 -> 166M raw window pairs, cap 32 -> ~30M.
    containment_max_band_group: ClassVar[int] = 32
    # Ranked partner caps: each short doc keeps at most this many candidate
    # long partners (and each long doc at most 4x as many shorts), ranked
    # by band-hit count (strongest window-collision signal first,
    # deterministic id tiebreak). A doc colliding with hundreds of partners
    # is shared boilerplate, and verifying every such pair is what shipped
    # ~50 GB of gram arrays through the verify join on the bench corpus
    # (1.6M candidate pairs from 14k docs). True containments rank at the
    # top: an aligned (prefix/suffix) containment hits nearly every band of
    # every short window, and even edit-diluted mid-embeddings outrank
    # single-collision span noise. Capped pairs within a boilerplate family
    # remain reachable through the family's stronger edges (clustering is
    # transitive); the cap mirrors max_band_group's role upstream.
    containment_max_partners: ClassVar[int] = 16

    # --- cascade (reference: top-100 predict, settings.py:56) ---
    top_n_predict: ClassVar[int] = 100
    # Tier-2 candidate-generation gram-frequency cutoff: when set, candidate
    # pairs are generated only through grams with truth-df <= cutoff, then
    # rescored EXACTLY over all shared grams. None = exact all-shared-gram
    # join (the reference's semantics; O(sum df_q*df_t) shuffle volume --
    # 267M rows on the 10k x 30k example set, 96%+ of it through stop-grams
    # that can never put a pair into any top-k). A pair is missed only if
    # it shares NO gram with df <= cutoff: on the example truth set at 300,
    # that is 3 of 10,000 queries (measured), and such a pair's idf-weighted
    # score is bounded by |shared| * ln(N/cutoff).
    gram_df_cutoff: int | None = None
    # Tier-4 deterministic acceptance (replaces the reference's XGBoost
    # re-rank, dropped per north_rule): accept a query's unique-argmax
    # candidate when max(lev_ratio, token_sort_ratio) >= this threshold.
    # 90 was selected by grid search on the reference's example TRAIN split
    # (never the test split): custom_error 749 vs 2036 without the tier
    # (reference-with-model golden: 633).
    match_accept_ratio: ClassVar[int] = 90

    # --- partitioning / shuffle knobs ---
    shuffle_partitions: int = 32
    conv_partitions: int = 32          # repartition(n, conv_id) before assembly
    arrow_batch_size: ClassVar[int] = 4096

    # --- clustering ---
    cc_max_iterations: ClassVar[int] = 50
    # edge sets at or under this size use the driver union-find fast path.
    # Kept modest: the driver holds ~2 string ids per edge, so 1M edges is
    # ~100-200 MB.
    cc_driver_threshold: ClassVar[int] = 1_000_000

    @property
    def num_perm(self) -> int:
        """MinHash signature length: one slice of lsh_rows per band."""
        return self.lsh_bands * self.lsh_rows

    @property
    def containment_num_perm(self) -> int:
        """Window-sketch signature length, a prefix of the whole-doc table."""
        return self.containment_lsh_bands * self.containment_lsh_rows

    @property
    def containment_window(self) -> int:
        """Grams per window sketch. The windower composes each window's
        MinHash from two adjacent stride blocks (min of MinHashes == MinHash
        of the union), which is exact only at twice the stride."""
        return 2 * self.containment_stride

    # Deterministic (a, b) permutation parameters for MinHash:
    # h_i(x) = ((a_i * x + b_i) mod p) with p = 2^61-1, a_i in [1, p),
    # b_i in [0, p). Fixed seed => run-to-run reproducible signatures
    # (SURVEY.md par. 7 "Exactly-reproducible MinHash").
    def perm_params(self) -> tuple[np.ndarray, np.ndarray]:
        rng = np.random.RandomState(self.minhash_seed)
        a = rng.randint(1, int(MERSENNE_PRIME), size=self.num_perm, dtype=np.uint64)
        b = rng.randint(0, int(MERSENNE_PRIME), size=self.num_perm, dtype=np.uint64)
        return a, b

    def config_fingerprint(self) -> str:
        """Stable hash of all semantic knobs PLUS the sketch wire-format
        version; stamped into checkpoint manifests so a resume never
        silently mixes configs, and so tables persisted under an older
        sketch format (gram encodings, hash families, postings schema)
        invalidate instead of silently joining empty (ADVICE r5 #1).
        Hashes every annotated name, ClassVar constants included, so
        turning a field into a constant leaves fingerprints unchanged."""
        knobs = sorted((n, getattr(self, n)) for n in type(self).__annotations__)
        payload = repr((SKETCH_FORMAT_VERSION, knobs)).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)


DEFAULT_CONFIG = DedupConfig()
