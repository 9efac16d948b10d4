"""Text Column helpers — pure ``pyspark.sql.functions`` expressions.

Everything here compiles to JVM expressions inside whole-stage codegen; no
Python executes per row. Semantics pinned to the reference's Python string
operations (see each docstring's citation into /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Python ``str.split()`` splits on whitespace runs and drops leading/trailing
# empties. Note ``trim()`` (Spark and DuckDB alike) strips only spaces, while
# Python strips all whitespace — so stripping is done with a regex.


def strip_ws(col: Column | str) -> Column:
    """``str.strip()`` equivalent: strip ALL leading/trailing whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def whitespace_tokens(col: Column | str) -> Column:
    """``text.split()`` equivalent → ARRAY<STRING> of words.

    Reference: /root/reference/src/processing/quality_filter.py:163
    """
    stripped = strip_ws(col)
    return F.when(F.length(stripped) == 0, F.array().cast("array<string>")).otherwise(
        F.split(stripped, r"\s+")
    )


def word_count(col: Column | str) -> Column:
    """``len(text.split())`` as BIGINT."""
    return F.size(whitespace_tokens(col)).cast("long")


def alpha_count(col: Column | str) -> Column:
    """Count of Unicode letters (``str.isalpha()`` ≈ ``\\p{L}``).

    Reference: /root/reference/src/processing/quality_filter.py:187
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"[^\p{L}]", "")).cast("long")


def digit_count(col: Column | str) -> Column:
    """Count of decimal digits (``str.isdigit()`` ≈ ``\\p{Nd}``).

    Reference: /root/reference/src/processing/quality_filter.py:188
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"[^\p{Nd}]", "")).cast("long")


def nonspace_count(col: Column | str) -> Column:
    """Count of non-whitespace characters.

    Reference: /root/reference/src/processing/quality_filter.py:189-193
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"\s", "")).cast("long")


def char_ngrams(norm: Column, n: int) -> Column:
    """Every character n-gram of ``norm`` in position order, duplicates
    kept (a multiset); a string shorter than ``n`` is its own one gram.

    The one gram builder of the package: ``char_shingles`` dedups its
    output, and ``dedup.minhash_signatures`` explodes it as is (``min``
    is duplicate-insensitive).

    One linear regex scan: a zero-width lookahead captures the ``n``
    code points at every position. After a zero-width match Java's
    ``Matcher`` steps one UTF-16 unit, so the low-surrogate guard keeps
    it from starting a gram inside an astral character. (Indexing with
    ``substr(norm, i, n)`` walks from the string start to code point
    ``i`` each time: O(len²) per document.)
    """
    grams = F.regexp_extract_all(
        norm, F.lit(r"(?s)(?=(?![\x{DC00}-\x{DFFF}])(.{%d}))" % n), 1
    )
    return F.when(F.length(norm) < n, F.array(norm)).otherwise(grams)


def word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Distinct word n-grams of a token-array column, space-joined; a
    document shorter than ``n`` words is its own one gram (same rule as
    ``oracle._word_ngrams_sql``). The one word-gram builder of the
    package.

    ``toks`` MUST be a bound column (projected in a prior select /
    withColumn), not an inline tokenize expression: expressions
    referenced from inside a HOF lambda are re-evaluated PER ELEMENT in
    interpreted Generate contexts, so an inline ``split`` re-tokenizes
    the document once per gram per word — measured 18.7s vs 1.2s for
    the same n=3 explode at sf1.

    Grams come from O(1) element_at lookups — array_join(slice())
    allocates a sub-array per gram and runs 10x+ slower in interpreted
    Generate contexts.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + F.lit(j)).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) < n, F.array(F.array_join(toks, " "))).otherwise(
        F.array_distinct(grams)
    )


def char_shingles(
    col: Column | str, n: int = 5, *, pre_normalized: bool = False
) -> Column:
    """Distinct character n-grams of the lowercased, space-collapsed text.

    Reference semantics: /root/reference/src/processing/deduplicator.py:110-130
    (lowercase → collapse whitespace → set of char n-grams) — stays
    JVM-side, no explode, no Python.

    Hot-path note: ``char_ngrams`` references the normalized text three
    times (length, short-string branch, gram scan), so an inline
    normalization may run its lowercase+collapse regex once per reference.
    On hot paths, project the normalized text to a column first and
    pass it with ``pre_normalized=True``; see ``dedup.minhash_signatures``
    for the staged pattern.
    """
    c = F.col(col) if isinstance(col, str) else col
    norm = c if pre_normalized else F.regexp_replace(F.lower(c), r"\s+", " ")
    return F.array_distinct(char_ngrams(norm, n))


# sentence-boundary sentinel: the ASCII record separator never appears in
# cleaned corpus text (C6 strips control chars), and RE2 (the DuckDB
# oracle's regex engine) has no lookbehind — so boundaries are MARKED by
# substitution, then split, identically on both engines.
SENTENCE_SENTINEL = "\x1e"


def sentence_split(col: Column | str) -> Column:
    """ARRAY<STRING> of sentences: split after ``.``/``!``/``?`` followed
    by whitespace (the punctuation stays with its sentence, the
    inter-sentence whitespace is consumed). A regex heuristic, not a
    linguistic segmenter — abbreviations like "e.g. " split, same as any
    rule-based splitter without an abbreviation table; deterministic and
    DuckDB-replayable, which the corpus-scale consumers (sentence-aligned
    chunking) need more than abbreviation recall."""
    c = F.col(col) if isinstance(col, str) else col
    marked = F.regexp_replace(c, r"([.!?])\s+", "$1" + SENTENCE_SENTINEL)
    return F.filter(
        F.split(marked, SENTENCE_SENTINEL), lambda s: F.length(s) > 0
    )
