from dedup.functions.normalize import normalize_text_col, transform_title
from dedup.functions.shingle import char_ngrams_col, words_col
from dedup.functions.similarity import (
    bigram_gated_staged_ratio_udf,
    deletion_ratio_col,
    levenshtein_ratio_pairs,
    token_sort_col,
)
from dedup.functions.sketch import (
    band_hashes_col,
    block_minhash_text_udf,
    doc_sketch_udf,
    minhash_signature_udf,
    simhash_udf,
)

__all__ = [
    "normalize_text_col",
    "transform_title",
    "char_ngrams_col",
    "words_col",
    "bigram_gated_staged_ratio_udf",
    "deletion_ratio_col",
    "levenshtein_ratio_pairs",
    "token_sort_col",
    "band_hashes_col",
    "block_minhash_text_udf",
    "doc_sketch_udf",
    "minhash_signature_udf",
    "simhash_udf",
]
