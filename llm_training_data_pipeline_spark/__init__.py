"""PySpark-native analytics engine with the query and data-processing
capabilities of ragurajakrishnan15/LLM-Training-Data-Pipeline.

Built Spark-first: DataFrame/SQL logical plans optimized by Catalyst, native
column expressions wherever possible, Arrow-batched pandas UDFs only where
Python semantics are irreducible (Unicode NFKC, mojibake repair, language
detection, BPE encoding), and Structured Streaming for the incremental paths.

Layout
------
- ``session``    SparkSession factory tuned for the pipeline workload
- ``schemas``    explicit StructTypes + loaders for the test tables
- ``operators``  cleaning / quality / dedup / tokenize / textstats /
                 similarity DataFrame->DataFrame transforms
- ``sources``    wiki-XML ingestion, markup stripping, sinks
- ``functions``  reusable Column-expression helpers
- ``plans``      end-to-end pipeline composition + metrics
- ``streaming``  Structured Streaming variants (dedup, windowed aggs)
"""

__version__ = "0.1.0"

from llm_training_data_pipeline_spark.session import get_spark  # noqa: F401
