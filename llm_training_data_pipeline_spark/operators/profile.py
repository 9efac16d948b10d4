"""Dataset profiling: per-column statistics + equal-width histograms.

Before a 100 TB corpus run you profile the input — null rates, key
cardinalities, value ranges, length distributions — because a wrong
assumption (nullable join key, skewed id space, truncated text) costs a
cluster-day. Both operators here are single-aggregate plans:

- ``profile_table``: ONE aggregate pass computes rows / non-null /
  distinct / min / max for every requested column, then a ``stack``
  rotates the 1-row result to one row per column. The distinct counts
  are exact ``countDistinct`` — the form the DuckDB oracle replays;
  over k columns Catalyst expands the input k-fold before the shuffle
  (the standard multi-distinct plan).
- ``numeric_histogram``: clamped equal-width bucketing — one hash
  aggregate on ≤ num_buckets keys, share computed against a broadcast
  1-row total with the repo's exact half-up 6dp integer rounding.

Min/max are emitted as strings for a uniform schema; callers must
project columns whose string form is engine-stable (ints, strings,
pre-formatted dates — not raw doubles, whose scientific-notation
rendering differs across engines; see the ``orders_profile`` query for
the derived-column pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profile: (column, n_rows, n_nonnull, n_distinct,
    min_value, max_value) — one aggregate pass over the table."""
    import re

    for c in cols:  # names are spliced into a stack() SQL string below
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c):
            raise ValueError(
                f"profile_table: column name {c!r} is not a plain "
                "identifier; alias it first (names reach a SQL expr)"
            )
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nn_{c}, _nd_{c}, _min_{c}, _max_{c}" for c in cols
    )
    return row.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_nonnull, n_distinct, min_value, max_value)"
        ),
        F.col("_rows").alias("n_rows"),
    ).select("column", "n_rows", "n_nonnull", "n_distinct", "min_value", "max_value")


def numeric_histogram(
    df: DataFrame, col: str, lo: int, hi: int, num_buckets: int
) -> DataFrame:
    """Equal-width histogram over an integer column: (bucket, lo_edge,
    hi_edge, n, share). Values outside [lo, hi) clamp into the first /
    last bucket (scale-safe: a bigger sf can't overflow the bucket id).
    ``share`` is exact half-up 6dp. NULLs are excluded."""
    if (hi - lo) % num_buckets != 0:
        raise ValueError("bucket width must be integral: (hi-lo) % num_buckets == 0")
    width = (hi - lo) // num_buckets
    bucket = F.least(
        F.lit(num_buckets - 1),
        F.greatest(F.lit(0), F.expr(f"({col} - {lo}) div {width}")),
    ).cast("long")
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "bucket",
        (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("lo_edge"),
        (F.lit(lo) + (F.col("bucket") + 1) * F.lit(width)).alias("hi_edge"),
        "n",
        (
            F.floor(
                (F.col("n") * F.lit(2_000_000) + F.col("_total"))
                / (F.col("_total") * F.lit(2.0))
            ).cast("long")
            / F.lit(1e6)
        ).alias("share"),
    )


def equidepth_histogram(df: DataFrame, col: str, num_buckets: int) -> DataFrame:
    """Equal-depth (quantile) histogram: bucket boundaries are the exact
    interpolated percentiles, then one broadcast range-join counts rows
    per [lo, hi) band (last band inclusive). Two passes: a tiny
    percentile aggregate (broadcast, num_buckets+1 doubles) and one
    scan for the counts — no global sort.

    Complements ``numeric_histogram``: equal-width answers "where is the
    mass", equal-depth answers "where are the cut points" (the
    boundaries double as range-partition split points for layout
    planning). NULLs are excluded."""
    vals = df.filter(F.col(col).isNotNull()).select(F.col(col).alias("_x"))
    ps = [i / num_buckets for i in range(num_buckets + 1)]
    bounds = vals.agg(
        F.percentile("_x", F.array(*[F.lit(p) for p in ps])).alias("_bs")
    ).select(
        F.posexplode(
            F.expr("transform(slice(_bs, 1, size(_bs) - 1), (b, i) -> struct(b AS lo, _bs[i + 1] AS hi))")
        ).alias("bucket", "_band")
    ).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("_band.lo").alias("lo_edge"),
        F.col("_band.hi").alias("hi_edge"),
    )
    joined = vals.join(
        F.broadcast(bounds),
        (F.col("_x") >= F.col("lo_edge"))
        & (
            (F.col("_x") < F.col("hi_edge"))
            | ((F.col("bucket") == num_buckets - 1) & (F.col("_x") <= F.col("hi_edge")))
        ),
    )
    return joined.groupBy("bucket", "lo_edge", "hi_edge").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
