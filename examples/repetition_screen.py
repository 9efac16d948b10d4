"""Repetition-screen tour (round-8 third wave): the three granularities
of repetition control plus the sketch that watches them at scale.

1. per-document — the full Gopher n-gram battery (top-{2,3,4}-gram and
   duplicate-{5..10}-gram character coverage): how many docs bust each
   ceiling, and the worst offenders;
2. cross-document — first-occurrence-wins paragraph dedup: how much
   syndicated paragraph mass the corpus carries;
3. corpus shape — Count-Min heavy hitters (with the error contract) and
   the length-bucket padding-waste table that decides pad-vs-pack
   batching.

Usage: python examples/repetition_screen.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from llm_training_data_pipeline_spark.operators.corpus import (
        length_bucket_stats,
        remove_dup_paragraphs,
    )
    from llm_training_data_pipeline_spark.operators.quality import (
        with_dup_ngram_stats,
    )
    from llm_training_data_pipeline_spark.operators.sketch import (
        heavy_hitters_report,
    )
    from llm_training_data_pipeline_spark.schemas import load_table
    from llm_training_data_pipeline_spark.session import get_spark

    spark = get_spark()
    docs = load_table(spark, "documents", sf_dir)

    print("== 1. Gopher n-gram repetition battery ==")
    scored = with_dup_ngram_stats(docs).localCheckpoint(eager=True)
    n_docs = scored.count()
    n_pass = scored.filter("ngram_repetition_pass").count()
    print(f"docs: {n_docs}, pass all nine ceilings: {n_pass} "
          f"({100.0 * n_pass / max(n_docs, 1):.1f}%)")
    scored.orderBy(F.desc("dup_5gram_char_frac")).select(
        "doc_id", "top_2gram_char_frac", "dup_5gram_char_frac",
        "ngram_repetition_pass",
    ).show(5)

    print("== 2. paragraph dedup (first occurrence wins) ==")
    deduped = remove_dup_paragraphs(docs)
    removed = deduped.agg(F.sum("n_paras_removed")).collect()[0][0]
    print(f"paragraph occurrences removed corpus-wide: {removed}")

    print("== 3. heavy hitters under a saturated CMS (width=8) ==")
    heavy_hitters_report(docs, width=8).orderBy(
        F.desc("exact_cnt")
    ).show(5)

    print("== 4. length-bucket padding waste (pad-vs-pack decision) ==")
    length_bucket_stats(docs).show()


if __name__ == "__main__":
    main()
