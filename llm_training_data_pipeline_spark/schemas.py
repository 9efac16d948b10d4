"""Explicit schemas + loaders for the driver-generated test tables.

Explicit StructTypes matter at scale: schema inference on 100 TB of parquet
footers is a driver-side metadata storm; pinning schemas also guarantees the
DataFrame types match what the DuckDB oracle sees.

Pipeline row types (WikiArticle / Document / cleaned record) mirror the
reference's dataclasses (``/root/reference/src/ingestion/wiki_parser.py:21-44``,
``/root/reference/src/processing/deduplicator.py:20-26``) as StructTypes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- driver-generated relational tables (TESTDATA.md / FIXTURES.md §B) ---

TABLE_SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    # ts encoding has varied across driver testdata generations:
    # TIMESTAMP(NANOS) (which Spark's reader rejects) in some, plain
    # TIMESTAMP(MICROS) in others. load_table sniffs the parquet footer
    # and picks the right read path; this schema is the nanos-legacy
    # variant (ts read as BIGINT nanos via legacy.parquet.nanosAsLong).
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(TABLE_SCHEMAS)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


_TS_NANOS_CACHE: dict[tuple[str, float, int], tuple[bool, bool]] = {}


def _events_ts_is_nanos(path: str) -> tuple[bool, bool]:
    """Sniff the events parquet footer: ``(is_nanos, sniff_ok)``.

    Driver testdata generations have used both nanos and micros; a footer
    read (driver-side, no data pages touched) picks the right Spark read
    path. Cached per (path, mtime, size) so a regenerated file at the
    same path is re-sniffed. An unreadable footer logs a warning and
    returns ``sniff_ok=False`` — ``load_table`` then probes the micros
    read and falls back to the legacy-nanos path if it fails.
    """
    p = path
    try:
        if os.path.isdir(p):
            inner = [f for f in os.listdir(p) if f.endswith(".parquet")]
            if inner:
                p = os.path.join(p, inner[0])
        st = os.stat(p)
        key = (p, st.st_mtime, st.st_size)
    except OSError:
        key = (p, 0.0, 0)
    if key not in _TS_NANOS_CACHE:
        nanos, ok = False, True
        try:
            import pyarrow.parquet as pq

            t = pq.read_schema(p).field("ts").type
            nanos = getattr(t, "unit", None) == "ns"
        except Exception as e:  # noqa: BLE001
            import logging

            ok = False
            logging.getLogger(__name__).warning(
                "events ts-encoding sniff failed for %s (%s: %s); "
                "assuming TIMESTAMP(MICROS) and probing — the legacy "
                "nanos path takes over if that read fails",
                p, type(e).__name__, e,
            )
        _TS_NANOS_CACHE[key] = (nanos, ok)
    return _TS_NANOS_CACHE[key]


def _read_events_nanos(spark: SparkSession, path: str) -> DataFrame:
    """Read a TIMESTAMP(NANOS) events file via the legacy nanosAsLong path.

    NOTE: ``spark.sql.legacy.parquet.nanosAsLong`` is session-global and
    intentionally NOT restored — the flag must still be set when the lazy
    DataFrame executes (possibly much later), so scoping it around this
    call would break the read. Side effect on other reads: nanos columns
    elsewhere surface as LONG instead of erroring; micros/millis columns
    are unaffected.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(path)
    # ns → µs is exact integer division (data is µs-resolution)
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def load_table(
    spark: SparkSession,
    name: str,
    sf_dir: str = DEFAULT_SF_DIR,
    *,
    min_parallelism: int | None = None,
) -> DataFrame:
    """Read one test table with its pinned schema (no inference).

    ``events`` reads may set the session-global
    ``spark.sql.legacy.parquet.nanosAsLong`` flag as a side effect when
    the file is TIMESTAMP(NANOS) — see ``_read_events_nanos``.

    The driver-generated tables are single-row-group parquet files, which
    Spark cannot split — the scan AND everything codegen-fused onto it
    would run in one task on a 32-core machine. When the scan has fewer
    partitions than ``min_parallelism`` (default: the session's
    defaultParallelism), a round-robin repartition is inserted; for these
    megabyte-scale inputs the extra shuffle is microseconds, and on a real
    multi-file 100 TB table the condition is simply never true.
    """
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        nanos, sniff_ok = _events_ts_is_nanos(path)
        if nanos:
            df = _read_events_nanos(spark, path)
        else:
            schema = StructType(
                [
                    f if f.name != "ts" else StructField("ts", TimestampType())
                    for f in TABLE_SCHEMAS[name]
                ]
            )
            df = spark.read.schema(schema).parquet(path)
            if not sniff_ok:
                # the footer could not be sniffed: probe the micros guess
                # with a one-row job NOW so a TIMESTAMP(NANOS) file fails
                # here (cheaply) instead of deep inside the caller's query,
                # then take the legacy-nanos path
                try:
                    df.limit(1).collect()
                except Exception:  # noqa: BLE001
                    df = _read_events_nanos(spark, path)
    else:
        df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
    target = min_parallelism or spark.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() < min(target, 16):
            df = df.repartition(min(target, 16))
    except Exception:
        pass  # never fail a read over a parallelism hint
    return df


# --- pipeline row types (reference parity) ---

# WikiArticle: /root/reference/src/ingestion/wiki_parser.py:21-44
WIKI_ARTICLE_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("text", StringType()),
        StructField("page_id", LongType()),
        StructField("ns", IntegerType()),
        StructField("redirect", StringType()),
    ]
)

# Document: /root/reference/src/processing/deduplicator.py:20-26
DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("text", StringType()),
        StructField("metadata", MapType(StringType(), StringType())),
    ]
)

# Tokenized output row: /root/reference/src/main.py:374-381
TOKENIZED_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("title", StringType()),
        StructField("text", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("token_count", IntegerType()),
    ]
)
