"""Fuzz battery for ``functions/text.py:char_ngrams``: the linear regex
scan must return exactly what the per-position ``substr`` form returned
(kept here as the reference), gram for gram and in order, on strings
that mix astral, combining, line-separator, tab and CJK characters."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.functions.text import char_ngrams

# pools the fuzzer draws from: ASCII, whitespace and separators
# (tab, CR, LF, U+0085, U+2028, U+2029), combining marks, CJK, and
# astral code points (UTF-16 surrogate pairs in the JVM)
_POOLS = [
    "abcxyz ABC.,-019",
    "\t\r\n\x85\u2028\u2029  ",
    "\u0327\u0301\u0308\u20dd",
    "\u4e2d\u6587\u5b57\u6f22\u8a9e\u65e5\u672c\ud55c\uad6d",
    "\U0001f600\U0001f44d\U0001d518\U0001d4d0\U00010348\U0001f1fa",
]
_FIXED = [
    "",
    "a",
    "ab",
    "abcd",
    "abcde",
    "\U0001f600",
    "\U0001f600" * 6,
    "e\u0301e\u0301e\u0301",
    "line\u2028sep\u2029para\x85nel",
    "tab\there\tand\tthere",
    "\u4e2d\u6587\u5b57\u6f22\u8a9e\u65e5\u672c",
    "x\U0001d518y\U0001d518z\U0001d518w",
    "\U0001d518abc",
    "abc\U0001d518",
]


def _substr_ngrams(norm: Column, n: int) -> Column:
    """The O(len²) form ``char_ngrams`` replaced, as the reference."""
    ln = F.length(norm)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(ln - F.lit(n - 1), F.lit(0))),
        lambda i: norm.substr(i, F.lit(n)),
    )
    return F.when(ln < n, F.array(norm)).otherwise(grams)


def _fuzz_strings(seed: int, count: int) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(count):
        pools = rng.sample(_POOLS, rng.randint(1, len(_POOLS)))
        alphabet = "".join(pools)
        out.append("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24))))
    return out


@pytest.mark.parametrize("n", [1, 3, 5])
def test_char_ngrams_regex_matches_substr_reference(spark, n):
    texts = _FIXED + _fuzz_strings(seed=n, count=1000)
    df = spark.createDataFrame(list(enumerate(texts)), "id long, s string")
    rows = df.select(
        "id",
        char_ngrams(F.col("s"), n).alias("got"),
        _substr_ngrams(F.col("s"), n).alias("want"),
    ).collect()
    assert len(rows) == len(texts)
    bad = [(texts[r["id"]], r["got"], r["want"]) for r in rows if r["got"] != r["want"]]
    assert not bad, bad[:5]
    # and both agree with Python's code-point slicing
    for r in rows:
        t = texts[r["id"]]
        want = [t[i : i + n] for i in range(len(t) - n + 1)] if len(t) >= n else [t]
        assert r["got"] == want, (t, r["got"], want)
