"""SparkSession factory tuned for the LLM-training-data workload.

Local mode mirrors the driver harness (``local[$SPARK_GRAFT_CPUS]``); on a
real cluster the same confs apply, only ``master`` changes. Every conf here
is scale-motivated:

- AQE on: runtime coalescing of post-shuffle partitions, skew-join splitting
  (text corpora are skewed: a few giant documents / hot LSH buckets).
- ``spark.sql.shuffle.partitions`` sized to ~2x cores locally; at 100 TB a
  cluster run would raise this (or let AQE coalesce from a high initial).
- Arrow enabled: every pandas UDF transfer is columnar, not pickled rows.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle regardless of host TZ.
"""

from __future__ import annotations

import os
import sys

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "llm-training-data-pipeline-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with pipeline-appropriate confs.

    Confs that require a fresh JVM (driver memory) are only effective when no
    session exists yet; everything else is safe to set on a live session.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The driver harness hands us its own SparkSession; this applies the subset
    of our tuning that is legal post-startup. A conf the host has locked
    raises ``AnalysisException``; that key is reported on stderr and
    skipped. Any other error propagates.
    """
    runtime_confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    for k, v in runtime_confs.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            print(f"tune_for_session: {k} is locked ({e})", file=sys.stderr)
    return spark
