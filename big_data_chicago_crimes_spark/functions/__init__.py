"""Reusable column-expression builders (all JVM-side, codegen-friendly)."""

from big_data_chicago_crimes_spark.functions.temporal import (
    date_parts,
    quarter_name,
    season,
)
from big_data_chicago_crimes_spark.functions.text import (
    bpe_ish_token_count,
    char_ngrams,
    doc_fingerprint,
    pii_counts,
    punct_ratio,
    quality_score,
    redact_pii,
    rolling_hash,
    stopword_ratio,
    token_count,
    tokens,
    word_shingles,
)
from big_data_chicago_crimes_spark.functions.vectors import (
    cosine_similarity,
    cosine_similarity_to_literal,
    dot,
    l2_norm,
)

__all__ = [
    "date_parts",
    "quarter_name",
    "season",
    "bpe_ish_token_count",
    "char_ngrams",
    "quality_score",
    "rolling_hash",
    "doc_fingerprint",
    "pii_counts",
    "punct_ratio",
    "redact_pii",
    "stopword_ratio",
    "token_count",
    "tokens",
    "word_shingles",
    "cosine_similarity",
    "cosine_similarity_to_literal",
    "dot",
    "l2_norm",
]
