"""Count-Min Sketch (Cormode & Muthukrishnan 2005) over the word stream.

The streaming-scale frequency sketch complementing the repo's other
bounded-memory summaries (HLL ``approx_count_distinct``, Bloom admission,
``approx_percentile``): a depth x width counter table whose point-query
estimate ``min_j cell[j][h_j(x)]`` never under-counts and over-counts by
at most ~N/width per row (min over depth rows tightens it to eN/width
w.p. 1-e^-depth). At 100 TB the sketch is the mergeable per-executor
summary you ship instead of a vocab-sized exact count table.

Engine-replayable by construction: row hashes ride the ``md5_fold31``
lane (bit-equal to ``md5_number_lower(s) % 2^31-1`` in DuckDB), so the
whole sketch — and therefore every estimate — is a deterministic integer
function both engines compute identically; the heavy-hitter report's
error CONTRACT (est >= exact AND overestimate <= 5N/width + 20, the
``approx_quantiles_bound`` falsifiable-accuracy pattern) is hash-checked,
not merely asserted.

Batch plan note: the sketch is built from the exact per-word count table
(one map-side-combine aggregate) rather than by exploding depth rows per
TOKEN — depth x vocab rows instead of depth x corpus tokens. A true
one-pass streaming build would fold tokens directly; as a batch operator
the two-level aggregate is strictly cheaper and yields the identical
sketch (addition commutes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.functions.hashing import md5_fold31
from llm_training_data_pipeline_spark.functions.text import whitespace_tokens

#: separator between the hashed item and the row-seed suffix — US control
#: char, can never appear inside a whitespace token
_SEED_SEP = "\x1f"


def _cms_bucket(item: Column, row_j: int, width: int) -> Column:
    """Row-j bucket of ``item``: md5_fold31(item || US || 'cms<j>') % width."""
    return F.pmod(
        md5_fold31(F.concat(item, F.lit(f"{_SEED_SEP}cms{row_j}"))), F.lit(width)
    )


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact lowercased-word occurrence counts: ``(word, cnt)``."""
    return (
        df.select(
            F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_sketch(
    counts: DataFrame, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build the sketch table ``(row_j, bucket, cell)`` from an exact
    ``(word, cnt)`` count table. depth x width cells at most; the explode
    is depth rows per DISTINCT word (see module docstring)."""
    per_row = counts.select(
        F.posexplode(
            F.array(*[_cms_bucket(F.col("word"), j, width) for j in range(depth)])
        ).alias("row_j", "bucket"),
        "cnt",
    )
    return per_row.groupBy("row_j", "bucket").agg(
        F.sum("cnt").cast("long").alias("cell")
    )


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Point-query estimates for ``probes`` (a ``word`` column): joins each
    probe's depth buckets against the sketch and takes the row-wise min.
    The sketch is depth x width rows — broadcast it."""
    probe_buckets = probes.select(
        "*",
        F.posexplode(
            F.array(*[_cms_bucket(F.col("word"), j, width) for j in range(depth)])
        ).alias("row_j", "bucket"),
    )
    joined = probe_buckets.join(F.broadcast(sketch), on=["row_j", "bucket"])
    others = [c for c in probes.columns]
    return joined.groupBy(*others).agg(F.min("cell").alias("est_cnt"))


def heavy_hitters_report(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """The falsifiable-accuracy report: exact top-k words vs their CMS
    estimates, with the never-undercount + bounded-overcount contract as
    a hash-checked boolean. ``(word, exact_cnt, est_cnt,
    overestimate_cnt, bound_ok)``."""
    counts = word_counts(df, text_col)
    sketch = cms_sketch(counts, depth, width)
    topk = counts.orderBy(F.desc("cnt"), F.asc("word")).limit(top_k)
    est = cms_estimate(
        sketch, topk.select(F.col("word"), F.col("cnt").alias("exact_cnt")),
        depth, width,
    )
    total = counts.agg(F.sum("cnt").cast("long").alias("_n"))
    over = F.col("est_cnt") - F.col("exact_cnt")
    return est.crossJoin(F.broadcast(total)).select(
        "word",
        "exact_cnt",
        "est_cnt",
        over.alias("overestimate_cnt"),
        (
            (F.col("est_cnt") >= F.col("exact_cnt"))
            & (over <= F.expr(f"5 * _n div {width}") + F.lit(20))
        ).alias("bound_ok"),
    )
