"""Semantic curation tour (fourth wave): caps, entropy gate, SemDeDup.

The over-representation + near-duplicate end of corpus curation:

1. cap every source at N documents (RefinedWeb-style anti-domination —
   a rate-based sample cannot express "never more than N");
2. gate the survivors on character entropy (cheap zero-shuffle
   garbage/repetition screen) and report the PMI collocations the kept
   corpus is actually made of;
3. semantically dedup the embedding table with SemDeDup (within-cluster
   cosine pairs only — the cluster structure bounds the quadratic) and
   print the retention report.

Usage: python examples/semantic_curation.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from llm_training_data_pipeline_spark.operators.corpus import (
        cap_per_stratum,
        pmi_collocations,
    )
    from llm_training_data_pipeline_spark.operators.semdedup import semdedup_stats
    from llm_training_data_pipeline_spark.operators.textstats import with_char_entropy
    from llm_training_data_pipeline_spark.schemas import load_table
    from llm_training_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="semantic-curation")

    docs = load_table(spark, "documents", sf_dir)
    capped = cap_per_stratum(docs, stratum_col="source", cap=15)
    print(f"capped: {docs.count()} -> {capped.count()} docs (<=15/source)")

    gated = with_char_entropy(capped).filter(F.col("char_entropy") >= 2.0)
    print(f"entropy gate (H >= 2.0 nats): {gated.count()} docs kept")

    print("top collocations of the kept corpus:")
    for r in pmi_collocations(gated, k=5, min_count=3).collect():
        print(f"  {r['rank']:>2}  {r['w1']} {r['w2']}  (n={r['pair_count']}, pmi={r['pmi']})")

    emb = load_table(spark, "embeddings", sf_dir)
    row = semdedup_stats(emb, threshold=0.35, n_clusters=16).collect()[0]
    print(
        "semdedup: "
        f"{row['n_vectors']} vectors, {row['n_dup_pairs']} in-cluster dup pairs, "
        f"{row['n_dropped']} dropped, retention={row['retention']}"
    )

    from llm_training_data_pipeline_spark.operators.semdedup import semdedup_recall

    rec = semdedup_recall(emb, threshold=0.35, n_clusters=16).collect()[0]
    print(
        "semdedup recall audit: "
        f"{rec['n_caught']}/{rec['n_true_pairs']} true pairs caught "
        f"(recall={rec['recall']}) — the cross-cluster trade, measured"
    )

    # DSIR importance selection (r8): resample the gated corpus toward
    # the English slice — the Xie et al. 2023 step between screening and
    # mixing. Single-pass ratio table, deterministic Gumbel-top-k.
    from llm_training_data_pipeline_spark.operators.corpus import (
        dsir_log_ratios_within,
        dsir_sample,
    )

    lr = dsir_log_ratios_within(gated, F.col("lang") == "en")
    k = max(1, gated.count() // 2)
    picked = dsir_sample(gated, lr, k=k)
    n_en = (
        picked.join(gated.select("doc_id", "lang"), on="doc_id")
        .filter(F.col("lang") == "en")
        .count()
    )
    print(
        f"dsir resample toward en: kept {k} docs, {n_en} en "
        f"(corpus share was {gated.filter(F.col('lang') == 'en').count()}/{gated.count()})"
    )

    from llm_training_data_pipeline_spark.plans.card import dataset_card

    print()
    print(dataset_card(gated.select(*docs.columns), name="curated-corpus"))

    spark.stop()


if __name__ == "__main__":
    main()
