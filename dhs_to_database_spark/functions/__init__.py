"""Scalar/vector function helpers (re-exported from operator modules).

Everything here is a built-in-expression composition — no Python UDFs —
so these stay JVM-side (SURVEY.md §2.C: the reference's scalar surface
maps 1:1 onto pyspark.sql.functions).
"""

from ..operators.similarity import cosine, dot, l2_norm, lsh_signature  # noqa: F401
from ..operators.tokens import (  # noqa: F401
    char_shingles,
    n_tokens,
    normalized_fingerprint,
    tokenize_words,
    word_shingles,
)

__all__ = [
    "char_shingles",
    "tokenize_words",
    "word_shingles",
    "cosine",
    "dot",
    "l2_norm",
    "lsh_signature",
    "n_tokens",
    "normalized_fingerprint",
]
