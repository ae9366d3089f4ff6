"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exposes one engine operator (SURVEY.md par.2) over
the driver's parquet tables at ``sf_dir``; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL (omitted for hash-dependent ops -> rows-only
check). Column names and rounding are aligned on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from dedup.config import DedupConfig
from dedup.tracking import drain_tracked, track_cache
from dedup.functions.normalize import normalize_ascii_col
from dedup.functions.shingle import char_ngrams_col, gram_hashes_col, words_col
from dedup.functions.similarity import exact_jaccard_col
from dedup.functions.sketch import hamming_col, simhash_udf
from dedup.knn import brute_force_topk, srp_near_dup_pairs
from dedup.operators.assemble import assemble_conversations
from dedup.operators.candidates import candidate_pairs, prepare_docs
from dedup.operators.cluster import connected_components
from dedup.operators.exact import exact_duplicate_groups
from dedup.operators.grouping import group_argmax_unique, grouped_top_k
from dedup.textstats import (
    bpe_ish_token_count_col,
    fingerprint_col,
    quality_score_col,
    rolling_hash_col,
    token_count_col,
    lang_id_col,
)

CFG = DedupConfig(shuffle_partitions=32, conv_partitions=32)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _norm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # documents.text is ASCII (checked) -> JVM-only normalize fast path,
    # exactly expressible in the DuckDB oracle.
    return _docs(spark, sf_dir).select(
        "doc_id", normalize_ascii_col("text", CFG).alias("norm_text")
    )


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic derived corpus with planted exact dups: the documents
    table unioned with a shifted-id copy of every 7th document."""
    d = _norm_docs(spark, sf_dir)
    copies = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return d.unionByName(copies)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_normalize(spark, sf_dir):
    return _norm_docs(spark, sf_dir)


def q_exact_groups(spark, sf_dir):
    return (
        exact_duplicate_groups(_docs_with_dups(spark, sf_dir), "doc_id", "norm_text")
        .select(
            "representative",
            F.col("group_size").cast("long").alias("group_size"),
            F.col("member_ids").cast("array<long>").alias("member_ids"),
        )
        .withColumn("member_ids", F.to_json("member_ids"))
    )


def q_ngram_df(spark, sf_dir):
    # repartition: the scan is one split and the interpreted gram transform
    # would otherwise run serially in the pre-shuffle stage (r06)
    d = _norm_docs(spark, sf_dir).repartition(CFG.shuffle_partitions, "doc_id")
    return (
        d.select(F.explode(char_ngrams_col("norm_text", 3)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )


def q_word_idf(spark, sf_dir):
    d = _norm_docs(spark, sf_dir).repartition(CFG.shuffle_partitions, "doc_id")
    n = d.count()
    return (
        d.select(F.explode(F.array_distinct(words_col("norm_text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .withColumn("idf", F.round(F.log(F.lit(float(n)) / F.col("df")), 6))
    )


def q_jaccard_topk(spark, sf_dir):
    """IDF-weighted char-3-gram Jaccard top-5 (reference formula,
    match_maker.py:50) -- queries are every 10th doc, truth is all docs."""
    from dedup.operators.match import jaccard_topk_candidates

    # shared by query side, truth side, and the idf agg; tracked so the
    # next entry query (or the bench loop) releases it -- an un-released
    # cache here starved later queries in the shared bench session (r2).
    # repartition first: the parquet scan is ONE split, so the interpreted
    # gram-transform chain otherwise materializes the whole cache in a
    # single task (~4s serial at sf0.1; r06).
    d = track_cache(
        _norm_docs(spark, sf_dir)
        .repartition(CFG.shuffle_partitions, "doc_id")
        .withColumn("grams", char_ngrams_col("norm_text", 3))
    )
    queries = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("query_id"), "norm_text", "grams"
    )
    truth = d.select(F.col("doc_id").alias("title_id"), "norm_text", "grams")
    # top_n=None: no inner ranking window -- the only top-k sort is the
    # round-6 one below (ranking must happen on the ROUNDED score so the
    # Spark side and the DuckDB oracle rank on the same key).
    scored = jaccard_topk_candidates(queries, truth, CFG, top_n=None)
    scored = scored.withColumn("score_r", F.round("score", 6))
    top = grouped_top_k(
        scored, ["query_id"], "score_r", 5, tiebreak_cols=["title_id"]
    )
    return top.select("query_id", "title_id", F.col("score_r").alias("score"))


# tier-2 pruned-plan cutoff for the entry query below: grams with truth-df
# <= this generate candidates; scores are then EXACT over all shared grams
# (dedup/operators/match.py pruned plan). Small enough to actually prune
# stop-grams at sf0.01 (500 truth docs), large enough to keep a dense pool.
_PRUNE_CUTOFF = 25


def q_jaccard_pruned(spark, sf_dir):
    """The PRUNED tier-2 plan under the correctness gate (r2 verdict item 5):
    candidates are generated only through rare grams (truth-df <= cutoff),
    then rescored exactly over ALL shared grams. The oracle enumerates the
    same pool -- pairs sharing at least one rare gram -- and computes the
    same full-intersection score, so hash equality gates the pruned plan's
    own guarantee: emitted scores identical to the exact plan, pool pruned
    only of pairs sharing exclusively stop-grams."""
    from dedup.operators.match import jaccard_topk_candidates

    d = track_cache(
        _norm_docs(spark, sf_dir)
        .repartition(CFG.shuffle_partitions, "doc_id")  # see q_jaccard_topk
        .withColumn("grams", char_ngrams_col("norm_text", 3))
    )
    queries = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("query_id"), "norm_text", "grams"
    )
    truth = d.select(F.col("doc_id").alias("title_id"), "norm_text", "grams")
    scored = jaccard_topk_candidates(
        queries, truth, CFG.with_(gram_df_cutoff=_PRUNE_CUTOFF), top_n=None
    )
    return scored.select(
        "query_id", "title_id", F.round("score", 6).alias("score")
    )


def q_dup_pairs(spark, sf_dir):
    """Near-dup pairs at exact-Jaccard >= 0.8: LSH candidates verified by
    exact shingle Jaccard. Oracle is brute-force all-pairs -- equality IS
    the LSH-recall statement (P(miss) < 1e-7 at this (b, r))."""
    from dedup.functions.similarity import minhash_estimate_col
    from dedup.operators.verify import jaccard_gate_threshold

    # feeds the LSH branch and both pair-join sides; tracked (see q_jaccard_topk)
    prep = track_cache(
        prepare_docs(_docs(spark, sf_dir), "doc_id", "text", CFG, ascii_fast_path=True)
    )
    cand = candidate_pairs(prep, CFG).pairs
    g = prep.select("doc_id", "gram_hashes", "minhash")
    gate = jaccard_gate_threshold(CFG)
    pairs = (
        cand.join(
            g.select(
                F.col("doc_id").alias("id_a"),
                F.col("gram_hashes").alias("ga"),
                F.col("minhash").alias("ma"),
            ),
            "id_a",
        )
        .join(
            g.select(
                F.col("doc_id").alias("id_b"),
                F.col("gram_hashes").alias("gb"),
                F.col("minhash").alias("mb"),
            ),
            "id_b",
        )
        # cheap signature-agreement gate before the exact set intersection
        .filter(minhash_estimate_col("ma", "mb") >= F.lit(gate))
        .withColumn("jaccard", F.round(exact_jaccard_col("ga", "gb"), 6))
        .filter(F.col("jaccard") >= CFG.jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


def q_dup_clusters(spark, sf_dir):
    """Connected components over the q_dup_pairs edges; singleton docs keep
    their own id. Oracle: recursive min-label propagation in SQL."""
    pairs = q_dup_pairs(spark, sf_dir).select("id_a", "id_b")
    cc = connected_components(pairs, CFG)
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("node"))
    # cc has one row per DUPLICATED doc (a small fraction of the corpus at
    # any scale factor): broadcast it so the docs side is never shuffled
    # just to attach cluster ids (r06; was a sort-merge join)
    return (
        docs.join(F.broadcast(cc), "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("cluster_id", "node").alias("cluster_id"),
        )
    )


def q_assemble_events(spark, sf_dir):
    """input_hint-shaped transcripts derived from the events table
    (conv = user, turn order = (ts, event_id)), assembled under stable turn
    ordering -- the window-function assembly operator on driver data."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    transcripts = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat_ws(":", "event_type", F.coalesce("props", F.lit(""))).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
    )
    out = assemble_conversations(transcripts, CFG)
    return out.select(
        "conv_id", F.col("n_turns").cast("long").alias("n_turns"), "doc_text"
    )


def q_group_argmax(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = group_argmax_unique(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        ["l_orderkey"],
        "l_extendedprice",
    )
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice")


def q_grouped_topk(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = grouped_top_k(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        ["l_orderkey"],
        "l_extendedprice",
        k=3,
        tiebreak_cols=["l_linenumber"],
    )
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice")


def q_text_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count_col("text").cast("long").alias("n_tokens"),
        bpe_ish_token_count_col("text").cast("long").alias("n_bpe_tokens"),
        fingerprint_col("text").alias("fingerprint"),
        rolling_hash_col("text").alias("rhash"),
    )


def q_quality(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.round(quality_score_col("text"), 6).alias("quality"),
        lang_id_col("text").alias("lang_guess"),
    )


def q_word_count_vectors(spark, sf_dir):
    """P6 truth-word document-count vectors
    (/root/reference/doppelspeller/feature_engineering.py:309-319),
    exploded to (doc_id, slot, word_count) rows so the oracle compare
    needs no array-representation canonicalization."""
    from dedup.operators.features import truth_word_count_vectors

    d = _docs(spark, sf_dir)
    vecs = truth_word_count_vectors(
        d.select("doc_id", "text"), id_col="doc_id", title_col="text"
    )
    return vecs.select(
        "doc_id", F.posexplode("wc_vec").alias("slot", "word_count")
    ).select("doc_id", F.col("slot").cast("int").alias("slot"), "word_count")


def q_knn(spark, sf_dir):
    # repartition: the scan is one split, and the interpreted zip_with dot
    # products of the broadcast nested-loop join would otherwise run in a
    # single task (r06)
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .repartition(CFG.shuffle_partitions, "vec_id")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


# --- hash-dependent ops: planted-duplicate derived-corpus oracles ----------
# The outputs of LSH / SimHash / the DP kernel are not themselves
# SQL-expressible, but their CONTRACTS are: plant pairs whose presence (and
# exact score) the math guarantees, and let the oracle enumerate them. The
# full (unplanted) candidate sets are separately verified end-to-end by
# dup_pairs_jaccard's brute-force all-pairs oracle.

def _raw_docs_with_dups(spark, sf_dir):
    """Raw-text twin of _docs_with_dups: every 7th document gets an exact
    shifted-id copy (deterministic planted exact duplicates)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return d.unionByName(copies), d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(1_000_000)).alias("id_b"),
    )


def q_minhash_candidates(spark, sf_dir):
    """LSH recall gate: an exact duplicate has an identical MinHash
    signature, hence identical hashes in ALL 32 bands, so the candidate
    join finds it with probability 1 (the max_band_group cap cannot drop a
    pair from every band for groups this small). The result is the planted
    pair set, which the oracle enumerates directly."""
    corpus, planted = _raw_docs_with_dups(spark, sf_dir)
    prep = prepare_docs(corpus, "doc_id", "text", CFG, ascii_fast_path=True)
    cand = candidate_pairs(prep, CFG).pairs
    return cand.join(planted, ["id_a", "id_b"], "inner")


def q_simhash_pairs(spark, sf_dir):
    """SimHash pigeonhole-join recall gate: exact duplicates have identical
    sketches (hamming 0 <= threshold), so every planted pair must surface
    with hamming exactly 0."""
    from dedup.operators.simhash_join import simhash_near_pairs

    corpus, planted = _raw_docs_with_dups(spark, sf_dir)
    prep = prepare_docs(corpus, "doc_id", "text", CFG, ascii_fast_path=True)
    pairs = simhash_near_pairs(
        prep.select("doc_id", "simhash"),
        max_hamming=CFG.simhash_hamming_threshold,
    )
    return pairs.join(planted, ["id_a", "id_b"], "inner").select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_lev_verify(spark, sf_dir):
    """Cost-2 (indel) Levenshtein kernel with an EXACT distance oracle:
    pair every document with a copy missing a contiguous k-char chunk
    (k = 1 + doc_id % 5, deleted at offset 5). The indel distance is
    exactly k -- <= k by construction, >= k because each unit-cost edit
    changes the length by one -- so the oracle is pure arithmetic. (The
    ratio form is deliberately not oracled: DuckDB's levenshtein() is
    substitution-cost-1; the rounded-ratio chain has randomized
    brute-force parity coverage in tests/test_similarity.py instead.)"""
    from dedup.functions.similarity import indel_distance_pairs

    d = _norm_docs(spark, sf_dir).filter(F.length("norm_text") >= 60)
    k = (F.col("doc_id") % 5 + 1).cast("int")
    pairs = d.select(
        "doc_id",
        F.col("norm_text").alias("ta"),
        F.concat(
            F.substring("norm_text", 1, 5),
            F.col("norm_text").substr(F.lit(6) + k, F.length("norm_text")),
        ).alias("tb"),
    )
    return pairs.select(
        "doc_id", indel_distance_pairs("ta", "tb").alias("dist")
    )


# containment entry runs at a smaller window so the planted 258-char
# prefixes carry a full window; semantic thresholds stay at defaults.
CONT_CFG = CFG.with_(containment_window=64, containment_stride=32)
_PFX_CHARS = 258


def q_containment_pairs(spark, sf_dir):
    """Short-in-long containment gate: every sufficiently long document
    plants a short doc = its first 258 normalized chars. The short doc's
    first distinct-gram window equals the long doc's first window EXACTLY
    (first-occurrence gram order of a prefix is a prefix of the full doc's),
    so the windowed-LSH band join finds the pair with probability 1, and
    gram containment is exactly 1.0 (a prefix's gram set is a subset).

    r06 perf notes (results identical): ``d`` is repartitioned off the
    single-split scan and cached (it feeds corpus AND planted -- the
    normalize chain ran twice, serially, before); the eligibility gram
    count runs through the vectorized distinct_gram_count_udf, which for
    this ASCII text equals size(char_ngrams_col(...)) exactly -- the
    interpreted per-element JVM chain re-evaluated the prefix expression
    per gram and measured 51s serial per evaluation at sf0.1."""
    from dedup.functions.sketch import distinct_gram_count_udf
    from dedup.operators.containment import (
        containment_candidates,
        verify_containment,
    )

    d = track_cache(
        _norm_docs(spark, sf_dir).repartition(CFG.shuffle_partitions, "doc_id")
    )
    pfx = F.trim(F.substring("norm_text", 1, _PFX_CHARS))
    eligible = d.filter(
        (F.length("norm_text") >= 320)
        & (distinct_gram_count_udf(pfx, 3) >= CONT_CFG.containment_window)
    )
    shorts = eligible.select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        pfx.alias("norm_text"),
    )
    corpus = d.select("doc_id", "norm_text").unionByName(shorts)
    # feeds pos_df, phase-0 sizes, both phase-1 gram sides and both phase-2
    # text sides -- uncached, the normalize+shingle+sketch chain recomputes
    # per branch (measured ~10x)
    prep = track_cache(
        prepare_docs(corpus, "doc_id", "norm_text", CONT_CFG, ascii_fast_path=True)
    )
    verified = verify_containment(
        containment_candidates(prep, CONT_CFG).pairs, prep, CONT_CFG
    )
    planted = eligible.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(2_000_000)).alias("id_b"),
    )
    return verified.join(planted, ["id_a", "id_b"], "inner").select(
        "id_a", "id_b", F.round("containment", 6).alias("containment")
    )


def q_containment_mid(spark, sf_dir):
    """MID-document containment gate (the hard case VERDICT r3 flagged:
    windows over the DISTINCT gram sequence progressively misalign for
    spans embedded past the start of a long doc; positional windows fix
    it). Derived corpus: for each run of three consecutive doc_ids
    (a, b, c), plant a long doc = a + ' ' + b + ' ' + c -- the middle
    component b sits at char offset len(a)+1, a doc-dependent, generally
    stride-UNALIGNED position. The (b, long) pair must verify with gram
    containment exactly 1.0 (b's text is a verbatim substring, so its
    distinct-gram set is a subset of the long doc's)."""
    from dedup.functions.sketch import distinct_gram_count_udf
    from dedup.operators.containment import (
        containment_candidates,
        verify_containment,
    )

    # repartition + cache: d feeds three join sides, the corpus union AND
    # the planted re-derivation; the gram-count filter uses the vectorized
    # UDF (ASCII-exact -- see q_containment_pairs r06 note).
    d = track_cache(
        _norm_docs(spark, sf_dir).repartition(CFG.shuffle_partitions, "doc_id")
    )
    a = d.select(F.col("doc_id").alias("aid"), F.col("norm_text").alias("ta"))
    b = d.select(F.col("doc_id").alias("bid"), F.col("norm_text").alias("tb"))
    c = d.select(F.col("doc_id").alias("cid"), F.col("norm_text").alias("tc"))
    triples = (
        a.join(b, F.col("bid") == F.col("aid") + 1)
        .join(c, F.col("cid") == F.col("aid") + 2)
        .filter(
            (F.length("tb") >= 150)
            # min_grams gate parity: the pipeline skips shorts with < 64
            # distinct grams, so the planted set excludes them too
            & (distinct_gram_count_udf(F.col("tb"), 3) >= CONT_CFG.containment_min_grams)
        )
    )
    longs = triples.select(
        (F.col("aid") + F.lit(3_000_000)).alias("doc_id"),
        F.concat_ws(" ", "ta", "tb", "tc").alias("norm_text"),
    )
    corpus = d.select("doc_id", "norm_text").unionByName(longs)
    prep = track_cache(  # see q_containment_pairs
        prepare_docs(corpus, "doc_id", "norm_text", CONT_CFG, ascii_fast_path=True)
    )
    verified = verify_containment(
        containment_candidates(prep, CONT_CFG).pairs, prep, CONT_CFG
    )
    planted = triples.select(
        F.col("bid").alias("id_a"),
        (F.col("aid") + F.lit(3_000_000)).alias("id_b"),
    )
    return verified.join(planted, ["id_a", "id_b"], "inner").select(
        "id_a", "id_b", F.round("containment", 6).alias("containment")
    )


def q_srp_near_dups(spark, sf_dir):
    """SRP-bucketed embedding near-dup pairs. The driver corpus has no
    high-cosine pairs (max ~0.51), so a deterministic derived corpus plants
    them: every 5th vector gets a shifted-id duplicate -- the SRP join must
    recover exactly those pairs (cosine 1.0), which the oracle enumerates
    directly."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .repartition(CFG.shuffle_partitions, "vec_id")  # see q_knn (r06)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    copies = emb.filter(F.col("vec_id") % 5 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    corpus = emb.unionByName(copies)
    out = srp_near_dup_pairs(corpus, cosine_threshold=0.95, dim=64, n_tables=6)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-dup clusters of the sf0.001 documents corpus."""
    return q_dup_clusters(spark, "/root/testdata/sf0.001")


def _draining(fn: Callable[[SparkSession, str], DataFrame]):
    """Release the PREVIOUS query's tracked caches before building this one.

    Entry queries return lazy DataFrames, so their own caches cannot be
    dropped in-query; draining at the next query's start caps block-manager
    growth at one query's working set in any sequential harness (the
    driver's correctness gate runs all 18 queries in one session -- round 2
    measured a 4x slowdown of late queries from accumulated blocks)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        drain_tracked()
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "normalize": _draining(q_normalize),
        "exact_dup_groups": _draining(q_exact_groups),
        "ngram_doc_freq": _draining(q_ngram_df),
        "word_idf": _draining(q_word_idf),
        "idf_jaccard_topk": _draining(q_jaccard_topk),
        "idf_jaccard_pruned": _draining(q_jaccard_pruned),
        "dup_pairs_jaccard": _draining(q_dup_pairs),
        "dup_clusters": _draining(q_dup_clusters),
        "assemble_events": _draining(q_assemble_events),
        "group_argmax_unique": _draining(q_group_argmax),
        "grouped_topk": _draining(q_grouped_topk),
        "text_stats": _draining(q_text_stats),
        "quality_lang": _draining(q_quality),
        "word_count_vectors": _draining(q_word_count_vectors),
        "knn_cosine_topk": _draining(q_knn),
        "minhash_lsh_candidates": _draining(q_minhash_candidates),
        "simhash_pairs": _draining(q_simhash_pairs),
        "levenshtein_verify": _draining(q_lev_verify),
        "srp_embedding_near_dups": _draining(q_srp_near_dups),
        "containment_pairs": _draining(q_containment_pairs),
        "containment_mid": _draining(q_containment_mid),
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_NORM = (
    "trim(regexp_replace(regexp_replace(replace(lower(text), '-', ' '), "
    "'[^a-z0-9 \\t\\n\\r]', '', 'g'), ' +', ' ', 'g'))"
)

_NORM_CTE = f"norm as (select doc_id, {_NORM} as norm_text from documents)"

_DUPS_CTE = (
    f"{_NORM_CTE}, corpus as ("
    "select doc_id, norm_text from norm "
    "union all "
    "select doc_id + 1000000 as doc_id, norm_text from norm where doc_id % 7 = 0)"
)

_GRAMS_CTE = (
    "grams as (select doc_id, distinct_grams.gram from norm, "
    "unnest(list_distinct([substring(norm_text, i, 3) "
    "for i in range(1, length(norm_text) - 1)])) as distinct_grams(gram))"
)

_PAIRS_SQL = f"""
with {_NORM_CTE}, {_GRAMS_CTE},
sz as (select doc_id, count(*) as n from grams group by doc_id),
inter as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as i
  from grams a join grams b on a.gram = b.gram and a.doc_id < b.doc_id
  group by 1, 2
),
scored as (
  select id_a, id_b,
         round(i * 1.0 / (sa.n + sb.n - i), 6) as jaccard
  from inter
  join sz sa on sa.doc_id = id_a
  join sz sb on sb.doc_id = id_b
)
select id_a, id_b, jaccard from scored where jaccard >= 0.8
"""


def oracle_sql() -> dict[str, str]:
    return {
        "normalize": f"select doc_id, {_NORM} as norm_text from documents",
        "exact_dup_groups": f"""
            with {_DUPS_CTE}
            select min(doc_id) as representative,
                   count(*) as group_size,
                   to_json(list_sort(list(doc_id))) as member_ids
            from corpus group by norm_text
        """,
        "ngram_doc_freq": f"""
            with {_NORM_CTE}, {_GRAMS_CTE}
            select gram, count(*) as df from grams group by gram
        """,
        "word_idf": f"""
            with {_NORM_CTE},
            words as (select doc_id, w.word from norm,
                      unnest(list_distinct(string_split(norm_text, ' '))) as w(word)
                      where w.word <> '')
            select word, count(*) as df,
                   round(ln((select count(*) from norm) * 1.0 / count(*)), 6) as idf
            from words group by word
        """,
        "idf_jaccard_topk": f"""
            with {_NORM_CTE}, {_GRAMS_CTE},
            n as (select count(*) as n_truth from norm),
            idf as (select gram, ln((select n_truth from n) * 1.0 / count(*)) as idf
                    from grams group by gram),
            sums as (select doc_id, sum(idf) as s from grams join idf using (gram) group by doc_id),
            q as (select doc_id as query_id from norm where doc_id % 10 = 0),
            inter as (
              select a.doc_id as query_id, b.doc_id as title_id, sum(idf.idf) as i
              from grams a join grams b on a.gram = b.gram
              join idf on idf.gram = a.gram
              where a.doc_id in (select query_id from q)
              group by 1, 2
            ),
            scored as (
              select query_id, title_id,
                     round(i / (st.s + sq.s - i), 6) as score
              from inter
              join sums sq on sq.doc_id = query_id
              join sums st on st.doc_id = title_id
            ),
            ranked as (
              select *, row_number() over (partition by query_id
                        order by score desc, title_id asc) as rn
              from scored
            )
            select query_id, title_id, score from ranked where rn <= 5
        """,
        "idf_jaccard_pruned": f"""
            with {_NORM_CTE}, {_GRAMS_CTE},
            n as (select count(*) as n_truth from norm),
            idf as (select gram, count(*) as df,
                           ln((select n_truth from n) * 1.0 / count(*)) as idf
                    from grams group by gram),
            sums as (select doc_id, sum(idf) as s
                     from grams join idf using (gram) group by doc_id),
            q as (select doc_id as query_id from norm where doc_id % 10 = 0),
            cand as (
              select distinct a.doc_id as query_id, b.doc_id as title_id
              from grams a
              join grams b on a.gram = b.gram
              join idf on idf.gram = a.gram
              where a.doc_id in (select query_id from q)
                and idf.df <= {_PRUNE_CUTOFF}
            ),
            inter as (
              select a.doc_id as query_id, b.doc_id as title_id,
                     sum(idf.idf) as i
              from grams a join grams b on a.gram = b.gram
              join idf on idf.gram = a.gram
              join cand on cand.query_id = a.doc_id and cand.title_id = b.doc_id
              group by 1, 2
            )
            select query_id, title_id,
                   round(i / (st.s + sq.s - i), 6) as score
            from inter
            join sums sq on sq.doc_id = query_id
            join sums st on st.doc_id = title_id
        """,
        "dup_pairs_jaccard": _PAIRS_SQL,
        "dup_clusters": f"""
            with recursive {_NORM_CTE}, {_GRAMS_CTE},
            sz as (select doc_id, count(*) as n from grams group by doc_id),
            inter as (
              select a.doc_id as id_a, b.doc_id as id_b, count(*) as i
              from grams a join grams b on a.gram = b.gram and a.doc_id < b.doc_id
              group by 1, 2
            ),
            edges as (
              select id_a, id_b from inter
              join sz sa on sa.doc_id = id_a join sz sb on sb.doc_id = id_b
              where round(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.8
            ),
            sym as (select id_a as u, id_b as v from edges
                    union select id_b, id_a from edges),
            labels(node, lbl) as (
              select doc_id, doc_id from documents
              union
              select sym.u, min(l.lbl)
              from sym join labels l on l.node = sym.v
              group by sym.u
            )
            select node as doc_id, min(lbl) as cluster_id from labels group by node
        """,
        "assemble_events": """
            with t as (
              select cast(user_id as varchar) as conv_id,
                     concat(event_type, ':', coalesce(props, '')) as text,
                     ts, event_id
              from events
            )
            select conv_id, count(*) as n_turns,
                   string_agg(
                     replace(replace(text, '\\', '\\\\'), chr(10), '\\n'),
                     chr(10) order by ts, event_id) as doc_text
            from t group by conv_id
        """,
        "group_argmax_unique": """
            with mx as (
              select l_orderkey, l_linenumber, l_extendedprice,
                     max(l_extendedprice) over (partition by l_orderkey) as m
              from lineitem
            ),
            top as (select l_orderkey, l_linenumber, l_extendedprice from mx
                    where l_extendedprice = m),
            counted as (select *, count(*) over (partition by l_orderkey) as c from top)
            select l_orderkey, l_linenumber, l_extendedprice from counted where c = 1
        """,
        "grouped_topk": """
            with ranked as (
              select l_orderkey, l_linenumber, l_extendedprice,
                     row_number() over (partition by l_orderkey
                       order by l_extendedprice desc, l_linenumber asc) as rn
              from lineitem
            )
            select l_orderkey, l_linenumber, l_extendedprice from ranked where rn <= 3
        """,
        "word_count_vectors": """
            with toks_l as (
              select doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') as fl
              from documents
            ), toks as (
              select doc_id, unnest(fl) as word,
                     generate_subscripts(fl, 1) - 1 as pos
              from toks_l
            ), wc as (
              select word, count(*) as c from toks group by word
            ), hits as (
              select toks.doc_id, toks.pos, wc.c
              from toks join wc using (word)
              where toks.pos < 15
            )
            select d.doc_id, cast(r.range as int) as slot,
                   coalesce(h.c, 0) as word_count
            from documents d
            cross join range(0, 15) r
            left join hits h on h.doc_id = d.doc_id and h.pos = r.range
        """,
        "text_stats": """
            select doc_id,
                   len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) as n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) as n_bpe_tokens,
                   md5(text) as fingerprint,
                   list_reduce(
                     list_prepend(cast(0 as bigint),
                       [cast(ord(text[i]) as bigint) for i in range(1, length(text) + 1)]),
                     (acc, x) -> (acc * 31 + x) % 1000000007) as rhash
            from documents
        """,
        "srp_embedding_near_dups": """
            select vec_id as id_a, vec_id + 1000000 as id_b, 1.0 as cosine
            from embeddings where vec_id % 5 = 0
        """,
        "minhash_lsh_candidates": """
            select doc_id as id_a, doc_id + 1000000 as id_b
            from documents where doc_id % 7 = 0
        """,
        "simhash_pairs": """
            select doc_id as id_a, doc_id + 1000000 as id_b,
                   cast(0 as bigint) as hamming
            from documents where doc_id % 7 = 0
        """,
        "levenshtein_verify": f"""
            with {_NORM_CTE}
            select doc_id, cast(doc_id % 5 + 1 as int) as dist
            from norm where length(norm_text) >= 60
        """,
        "containment_pairs": f"""
            with {_NORM_CTE},
            pfx as (
              select doc_id, trim(substring(norm_text, 1, 258)) as p
              from norm where length(norm_text) >= 320
            )
            select doc_id as id_a, doc_id + 2000000 as id_b,
                   1.0 as containment
            from pfx
            where len(list_distinct([substring(p, i, 3)
                                     for i in range(1, length(p) - 1)])) >= 64
        """,
        "containment_mid": f"""
            with {_NORM_CTE},
            t as (
              select a.doc_id as aid, b.doc_id as bid, b.norm_text as bt
              from norm a
              join norm b on b.doc_id = a.doc_id + 1
              join norm c on c.doc_id = a.doc_id + 2
              where length(b.norm_text) >= 150
            )
            select bid as id_a, aid + 3000000 as id_b, 1.0 as containment
            from t
            where len(list_distinct([substring(bt, i, 3)
                                     for i in range(1, length(bt) - 1)])) >= 64
        """,
        "quality_lang": """
            with w as (
              select doc_id,
                     cast(length(text) as double) as n_chars,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') as words,
                     cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                          as double) as alpha_chars,
                     list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                 x -> x <> '') as lwords
              from documents
            ),
            s as (
              select doc_id, n_chars,
                     cast(len(words) as double) as n_words,
                     case when n_chars > 0 then alpha_chars / n_chars
                          else 0.0 end as alpha_ratio,
                     case when len(words) > 0 then
                       cast(len(list_filter(words, x -> list_contains(
                         ['the','a','an','and','or','of','to','in','is','it'],
                         lower(x)))) as double) / cast(len(words) as double)
                       else 0.0 end as stop_ratio,
                     case when len(words) > 0 then
                       n_chars / cast(len(words) as double)
                       else 0.0 end as mean_word_len,
                     len(list_filter(lwords, x -> list_contains(
                       ['der','die','das','und','ist'], x))) as s_de,
                     len(list_filter(lwords, x -> list_contains(
                       ['the','and','of','is','with'], x))) as s_en,
                     len(list_filter(lwords, x -> list_contains(
                       ['el','la','los','las','es'], x))) as s_es,
                     len(list_filter(lwords, x -> list_contains(
                       ['le','les','des','est','dans'], x))) as s_fr
              from w
            )
            select doc_id,
                   round(
                     (case when n_words >= 5 and mean_word_len >= 2
                                and mean_word_len <= 12
                           then 0.4 else 0.0 end)
                     + alpha_ratio * 0.4
                     + least(stop_ratio * 2.0, 1.0) * 0.2, 6) as quality,
                   case when greatest(s_de, s_en, s_es, s_fr) <= 0 then 'und'
                        when s_de = greatest(s_de, s_en, s_es, s_fr) then 'de'
                        when s_en = greatest(s_de, s_en, s_es, s_fr) then 'en'
                        when s_es = greatest(s_de, s_en, s_es, s_fr) then 'es'
                        else 'fr' end as lang_guess
            from s
        """,
        "knn_cosine_topk": """
            with e2 as (select vec_id, cast(embedding as double[]) as embedding
                        from embeddings),
            q as (select vec_id as query_id, embedding as qv from e2
                  where vec_id % 50 = 0),
            scored as (
              select q.query_id, e.vec_id as neighbor_id,
                     round(list_dot_product(q.qv, e.embedding) /
                           (sqrt(list_dot_product(q.qv, q.qv)) *
                            sqrt(list_dot_product(e.embedding, e.embedding))), 6) as cosine
              from q cross join e2 e
            ),
            ranked as (
              select *, row_number() over (partition by query_id
                        order by cosine desc, neighbor_id asc) as rn
              from scored
            )
            select query_id, neighbor_id, cosine from ranked where rn <= 5
        """,
    }
