"""Scale utilities: salted joins for skew, bucketed tables for
shuffle-free co-located joins.

These are the knobs a 100 TB deployment turns when AQE alone isn't enough:

- ``salted_join`` — explicit skew mitigation for a join whose LEFT side has
  hot keys: the left side gets a per-row salt, the right side is replicated
  once per salt value, and the join key becomes (key, salt). Hot keys fan
  out over ``num_salts`` reducers instead of one.
- ``bucketed_join_ready`` — join two tables written bucketed+sorted by
  the join key (``sinks.write_bucketed``); Spark then sort-merge-joins
  bucket files pairwise WITHOUT a shuffle (no Exchange in the plan). The
  right choice for repeated joins against the same huge table (e.g.
  doc-id keyed signature tables).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Guard a CPU-heavy fan-out stage (shingle explode, per-token hashing)
    against low upstream parallelism.

    A small or heavily-filtered scan can collapse to a handful of input
    partitions (a 1.5 MB parquet file is ONE FilePartition under the
    default 128 MB ``maxPartitionBytes``), serializing all downstream
    per-row work no matter how many cores exist. When the physical plan
    has fewer partitions than ``defaultParallelism``, repartition by the
    given keys — hash-partitioning on the same key the downstream
    ``groupBy`` uses, so the aggregate reuses the exchange instead of
    adding one. When upstream parallelism is already adequate (the
    100 TB case: thousands of scan partitions), this is a NO-OP — no
    shuffle is added on the big-data path.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    # explicit numPartitions: a bare repartition(cols) is advisory and AQE
    # coalesces tiny shuffles back to one partition — exactly the state
    # this guard exists to escape (partition count must be chosen by CPU
    # cost, not bytes, for hash-heavy fan-out stages)
    return df.repartition(target, *[F.col(c) for c in key_cols])


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Inner/left join with the left side's hot keys spread over
    ``num_salts`` partitions. Result equals ``left.join(right, on, how)``.

    The left salt is derived deterministically from the full row hash, so
    the plan stays reproducible (no ``rand()``); the right side is
    replicated ``num_salts`` times — use only when ``right`` is far smaller
    than the skew being fixed.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(num_salts))
    lsalted = left.withColumn("_salt", salt.cast("int"))
    rsalted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)).cast("array<int>"))
    )
    return lsalted.join(rsalted, on=[on, "_salt"], how=how).drop("_salt")


def bucketed_join_ready(spark: SparkSession, table_a: str, table_b: str, on: str) -> DataFrame:
    """Join two same-bucketed tables; with matching bucket specs Spark
    plans a shuffle-free sort-merge join (verify: no Exchange in
    ``.explain``)."""
    return spark.table(table_a).join(spark.table(table_b), on=on)


def key_skew_profile(df: DataFrame, key_col: str, top_k: int = 5) -> DataFrame:
    """Shuffle-key skew diagnostic: the top-k heaviest keys with their
    row share, plus the skew factor (max key count / mean key count) on
    every row. This is the measurement you take BEFORE choosing between
    a plain join, ``salted_join``, or AQE skew-split for a key — a skew
    factor near 1 means the key partitions evenly; hundreds means one
    reducer owns the stage's tail latency.

    Plan: one hash aggregate on the key (map-side partials), one tiny
    corpus-level aggregate broadcast back, and a top-k sort that
    TakeOrdered handles without a global sort. Shares and the factor are
    exact-integer half-up units (6dp) so the report replays bit-for-bit
    in DuckDB.
    """
    per_key = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    totals = per_key.agg(
        F.sum("n_rows").cast("long").alias("_total"),
        F.count(F.lit(1)).cast("long").alias("_n_keys"),
        F.max("n_rows").cast("long").alias("_max_n"),
    )

    def _units6(num, den):
        return F.when(
            den > 0,
            F.floor((num * 2_000_000 + den) / (den * F.lit(2.0))).cast("long")
            / F.lit(1_000_000.0),
        ).otherwise(F.lit(0.0))

    # top-k BEFORE the rank window: orderBy+limit compiles to
    # TakeOrderedAndProject (per-partition top-k, driver merge — no
    # global sort shuffle), so the single-partition rank window only
    # ever sees k rows, not the full key distribution.
    ranked = (
        per_key.crossJoin(F.broadcast(totals))
        .orderBy(F.desc("n_rows"), F.asc("key"))
        .limit(top_k)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("n_rows"), F.asc("key"))),
        )
    )
    return ranked.select(
        F.col("rank").cast("long").alias("rank"),
        "key",
        "n_rows",
        F.col("_n_keys").alias("n_keys"),
        _units6(F.col("n_rows"), F.col("_total")).alias("row_share"),
        _units6(F.col("_max_n") * F.col("_n_keys"), F.col("_total")).alias(
            "skew_factor"
        ),
    )


def recommend_salts(
    df: DataFrame,
    key_col: str,
    shuffle_partitions: int | None = None,
    max_salts: int = 64,
) -> int:
    """Turn the skew measurement into the ``salted_join`` knob: enough
    salts that the hottest key's rows spread to roughly one average
    reducer's load — ``ceil(max_key_rows / (total_rows /
    shuffle_partitions))`` — capped (each salt replicates the build side
    once, so more salts is not free). Returns 1 when no salting is
    needed; feed the result straight into ``salted_join(num_salts=...)``.
    """
    import math

    if shuffle_partitions is None:
        shuffle_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    row = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("max_n"), F.sum("n").alias("total"))
        .collect()[0]
    )
    if not row["total"]:
        return 1
    per_reducer = max(row["total"] / shuffle_partitions, 1.0)
    return max(1, min(max_salts, math.ceil(row["max_n"] / per_reducer)))


def morton_key(x: Column, y: Column, bits: int = 8) -> Column:
    """Z-order (Morton) key: interleave the low ``bits`` bits of two
    non-negative integer columns — x in the even positions, y in the
    odd. Pure shift/mask arithmetic (whole-stage codegen; replayable in
    any SQL engine).

    Sorting or range-partitioning by this key gives locality in BOTH
    dimensions at once — the data-layout trick (Delta/Iceberg Z-ORDER)
    that lets min/max file statistics prune scans for predicates on
    either column, where a lexicographic sort only prunes its leading
    column. ``zorder_locality_stats`` measures exactly that span
    contraction."""
    key = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(bits):
        xbit = F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(one), 2 * i)
        ybit = F.shiftleft(F.shiftright(y.cast("long"), i).bitwiseAND(one), 2 * i + 1)
        key = key.bitwiseOR(xbit).bitwiseOR(ybit)
    return key


def normalize_to_bits(col: Column, lo: Column, hi: Column, bits: int = 8) -> Column:
    """Map an integer column with known [lo, hi] range onto
    [0, 2^bits): floor((v − lo)·2^bits / (hi − lo + 1)) — monotone and
    range-safe. The division runs in DOUBLE (exact here: numerators
    stay far under 2^53) so the identical IEEE result replays in any
    engine."""
    num = (col.cast("long") - lo.cast("long")) * F.lit(1 << bits)
    span = hi.cast("long") - lo.cast("long") + F.lit(1)
    return F.floor(num.cast("double") / span.cast("double")).cast("long")
