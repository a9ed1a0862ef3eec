"""Text expression helpers for the documents table.

All built-in Spark SQL functions (JVM, codegen). Patterns are kept to
portable regex subsets (character classes, +) so a DuckDB oracle can run
the same expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small stopword sets per language for the n-gram/stopword language-ID
# heuristic. Deliberately tiny and deterministic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que"],
    "it": ["il", "la", "gli", "e", "un", "una", "che", "di"],
}

TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
WS_PATTERN = r"\s+"


def normalize_text(col: Column) -> Column:
    """Lowercase, trim, collapse internal whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), WS_PATTERN, " ")


def ws_tokens(col: Column) -> Column:
    """Whitespace tokenization of normalized text."""
    return F.split(normalize_text(col), " ")


def bpe_ish_token_count(col: Column) -> Column:
    """Count of alpha-runs + digit-runs + single punctuation marks — a
    cheap proxy for BPE token count."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), 0))


def punct_ratio(col: Column) -> Column:
    n_punct = F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.try_divide(n_punct.cast("double"), F.length(col).cast("double"))


def stopword_ratio(col: Column, words: list[str] | None = None) -> Column:
    words = words or STOPWORDS["en"]
    toks = ws_tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
    return F.try_divide(hits.cast("double"), F.size(toks).cast("double"))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    (The reference has no fingerprinting; this is the exact-dedup key.)
    """
    return F.md5(normalize_text(col))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of normalized text, as array<string>.

    Zip-based construction: arrays_zip the token array against its own
    1..n-1 shifted copies and concat each row — O(tokens) work instead
    of per-index slice+copy (the slice formulation measured ~8x slower
    at 5k docs). Documents shorter than n words yield a single shingle
    of all tokens; concat_ws skips the nulls arrays_zip pads with.
    """
    toks = ws_tokens(col)
    shifted = [toks] + [F.slice(toks, i + 1, 1_000_000) for i in range(1, n)]
    zipped = F.arrays_zip(*shifted)
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(F.slice(grams, 1, k))


def char_shingles(col: Column, n: int = 5) -> Column:
    """Distinct character n-grams of normalized text.

    Built from the split char array with the shifted-slice zip (the
    word-n-gram trick): one linear split, then n O(1)-indexed array
    views per gram. The substring-per-index transform this replaces
    is O(len^2) — UTF8String substring re-scans from byte 0 (see
    char_array) — and with array_distinct on top measured ~25 s per
    sf0.1 scan vs ~1 s for this form.
    """
    s = normalize_text(col)
    chars = F.slice(F.split(s, ""), 1, F.greatest(F.length(s), F.lit(1)))
    shifted = [chars] + [
        F.slice(chars, i + 1, 1_000_000) for i in range(1, n)
    ]
    zipped = F.arrays_zip(*shifted)
    # concat_ws skips the nulls arrays_zip pads with, so a string
    # shorter than n yields itself (the substring-clamp semantics of
    # the replaced form)
    grams = F.transform(
        zipped, lambda t: F.concat_ws("", *[t[str(i)] for i in range(n)])
    )
    k = F.greatest(F.length(s) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(F.slice(grams, 1, k))


def char_array(col: Column) -> Column:
    """Normalized text as an array of single characters.

    split-by-empty-pattern, sliced to the string length (one linear
    pass). A substring-per-index transform is O(len^2) — UTF8String
    substring re-scans from the start of the string — and measured 26x
    slower on the sf0.1 corpus.
    """
    s = normalize_text(col)
    return F.slice(F.split(s, ""), 1, F.greatest(F.length(s), F.lit(1)))


def rolling_hash(col: Column) -> Column:
    """Order-sensitive rolling hash of the token stream: a left fold
    chaining each token into the accumulator, h' = xxhash64(token, h).

    Unlike the md5 ``fingerprint`` (content identity on the whole
    text), the rolling hash is token-order-sensitive and composes
    incrementally over prefixes. (A classic polynomial hash would need
    wraparound multiplication, which Spark's ANSI mode rejects on
    overflow — the chained-hash fold has the same properties without
    overflow semantics.)
    """
    return F.aggregate(
        ws_tokens(col),
        F.lit(0).cast("long"),
        lambda acc, t: F.xxhash64(t, acc),
    )
