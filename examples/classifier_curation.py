"""Classifier-gated curation with curriculum output (third-wave tour).

The DCLM/RefinedWeb shape: a small labeled seed set trains a linear
text classifier, the classifier scores the whole corpus, and the
curated survivors are ordered into curriculum phases — plus the
pre-flight profiling every big run starts with:

1. profile the input table (null rates, cardinalities, ranges) and the
   document length distribution;
2. train a Naive Bayes classifier on the seed split, score the rest,
   keep confident predictions (margin gate);
3. diff the curated set against the previous snapshot (what would this
   run add/remove?);
4. order the survivors easy-first into 4 curriculum phases.

Usage: python examples/classifier_curation.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from llm_training_data_pipeline_spark.functions.text import whitespace_tokens
    from llm_training_data_pipeline_spark.operators.classify import nb_classify
    from llm_training_data_pipeline_spark.operators.corpus import (
        corpus_diff,
        curriculum_phases,
    )
    from llm_training_data_pipeline_spark.operators.profile import (
        numeric_histogram,
        profile_table,
    )
    from llm_training_data_pipeline_spark.schemas import load_table
    from llm_training_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="classifier-curation")
    docs = load_table(spark, "documents", sf_dir)

    print("== 1. input profile")
    profile_table(docs, ["doc_id", "lang", "source", "n_chars"]).show(
        truncate=False
    )
    print("== length histogram (non-empty buckets)")
    numeric_histogram(docs, "n_chars", 0, 600, 12).orderBy("bucket").show()

    print("== 2. classifier gate (seed = doc_id % 5 != 0)")
    seed = docs.filter(F.col("doc_id") % 5 != 0)
    rest = docs.filter(F.col("doc_id") % 5 == 0)
    preds = nb_classify(seed, rest, label_col="lang")
    confident = preds.filter(F.col("margin") >= 0.5)
    n_scored, n_kept = preds.count(), confident.count()
    print(f"scored {n_scored}, kept {n_kept} above the margin gate")
    curated = docs.join(
        confident.select("doc_id"), on="doc_id", how="left_semi"
    ).union(seed)

    print("== 3. snapshot diff vs previous run (simulated: every 7th doc new)")
    prev = docs.filter(F.col("doc_id") % 7 != 0)
    corpus_diff(prev, curated).groupBy("status").count().show()

    print("== 4. curriculum phases (easy-first by word count)")
    sized = curated.select(
        "doc_id",
        F.size(whitespace_tokens(F.lower(F.col("text")))).alias("words"),
    )
    phased = curriculum_phases(sized, "words", n_phases=4)
    phased.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("words").alias("min_words"),
        F.max("words").alias("max_words"),
    ).orderBy("phase").show()

    spark.stop()


if __name__ == "__main__":
    main()
