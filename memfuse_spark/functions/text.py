"""Text/tokenization column functions (SURVEY.md §2.7 X1, X9, X10).

All are Catalyst expressions (split/regexp/transform) so tokenization of a
100 TB corpus stays inside whole-stage codegen. The tokenizer contract is
shared with the DuckDB oracle: lowercase, split on non-alphanumeric,
drop empties — identical to the reference's BM25 tokenizer
(memfuse `store/keyword_store/bm25_store.py:154-169`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# DuckDB twin of tokenize(); keep in sync with TOKEN_SPLIT_RE.
TOKENIZE_SQL = (
    "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), t -> len(t) > 0)"
)

# CJK unicode ranges the reference counts char-by-char
# (memfuse rag/chunk/contextual.py:197-261).
CJK_RE = "[\\u4e00-\\u9fff\\u3040-\\u30ff\\uac00-\\ud7af]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize(col: Column | str) -> Column:
    """lowercase + split on non-alphanumeric, empties dropped."""
    toks = F.split(F.lower(_c(col)), TOKEN_SPLIT_RE)
    return F.filter(toks, lambda t: F.length(t) > 0)


def word_count_cjk(col: Column | str) -> Column:
    """CJK-aware word count: whitespace words + each CJK char counts as one
    word (reference: rag/chunk/contextual.py:197-261)."""
    col = _c(col)
    non_cjk = F.regexp_replace(col, CJK_RE, " ")
    words = F.filter(F.split(non_cjk, "\\s+"), lambda t: F.length(t) > 0)
    cjk_chars = F.length(col) - F.length(F.regexp_replace(col, CJK_RE, ""))
    return F.size(words) + cjk_chars


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    """Array of character n-grams of the lowercased string (dedup input)."""
    s = F.lower(_c(col))
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1))),
        lambda i: s.substr(i, F.lit(n)),
    )


def word_shingles(tokens: Column | str, n: int = 3) -> Column:
    """Array of n-word shingles (space-joined) from a token array.

    Shorter-than-n documents yield their full token string as the single
    shingle, so every document has ≥1 shingle.
    """
    toks = _c(tokens)
    k = F.size(toks) - (n - 1)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, shingles).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
