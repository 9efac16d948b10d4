"""Structured-Streaming throughput micro-bench (round-6, VERDICT ask #7).

Replays the ``documents`` table through the streaming dedup operators as a
file-source stream (N parquet files → N micro-batches, memory sink) and
reports rows/s per operator, so streaming regressions become visible
round-over-round in BENCH_NOTES.md instead of only semantics (the r5
stream/batch equivalence tests).

Usage: python tools/stream_bench.py [--sf-dir DIR] [--batches N]
Prints ONE JSON line: {"metric": "streaming_rows_per_sec", ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--batches", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("stream-bench")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from llm_training_data_pipeline_spark.operators.dedup import MinHashConfig
    from llm_training_data_pipeline_spark.schemas import load_table
    from llm_training_data_pipeline_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    from pyspark.sql import functions as F

    # synthetic deterministic event time (documents has none): exact dedup
    # needs a watermark column
    docs = load_table(spark, "documents", args.sf_dir).select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
    )
    n_docs = docs.count()

    def write_source(df, path):
        """N files → N micro-batches with maxFilesPerTrigger=1. The files
        are written concurrently and the file stream replays them in
        modification-time order, so their mtimes are set in part-number
        order: every run replays the same batches in the same order (the
        exact row's watermark drops the same late rows each run)."""
        df.repartition(args.batches).write.mode("overwrite").parquet(path)
        parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        t0 = int(time.time()) - len(parts)
        for i, f in enumerate(parts):
            os.utime(os.path.join(path, f), (t0 + i, t0 + i))

    src = tempfile.mkdtemp(prefix="stream_bench_")
    write_source(docs, src)
    schema = docs.schema

    def run(name, build, src_dir=None, src_schema=None):
        stream = (
            spark.readStream.schema(src_schema or schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir or src)
        )
        out = build(stream)
        t0 = time.time()
        q = (
            out.writeStream.format("memory")
            .queryName(f"bench_{name}")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        elapsed = time.time() - t0
        q.stop()
        got = spark.table(f"bench_{name}").count()
        return {
            "rows_in": n_docs,
            "rows_out": got,
            "sec": round(elapsed, 3),
            "rows_per_sec": round(n_docs / elapsed, 1),
        }

    from llm_training_data_pipeline_spark.streaming.dedup_stream import (
        streaming_copy_number,
    )

    results = {
        "exact": run("exact", lambda s: streaming_exact_dedup(s)),
        # online soft dedup: every row emitted with its running duplicate
        # ordinal — one long of state per digest, no signature matrix
        "copy_number": run("copy_number", lambda s: streaming_copy_number(s)),
    }

    # foreachBatch + signature-store incremental near-dup (r7): the
    # all-JVM near-dup path, no per-group Python round-trip
    from llm_training_data_pipeline_spark.streaming.dedup_stream import (
        streaming_minhash_dedup_incremental,
    )

    state_dir = tempfile.mkdtemp(prefix="stream_bench_sigstore_")
    accepted_counter = {"n": 0}

    def _count_sink(df, epoch_id):
        accepted_counter["n"] += df.count()

    inc_stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    t0 = time.time()
    q = streaming_minhash_dedup_incremental(
        inc_stream,
        state_dir=state_dir,
        sink=_count_sink,
        cfg=MinHashConfig(num_perm=32, num_bands=8),
    ).start()
    q.processAllAvailable()
    elapsed = time.time() - t0
    q.stop()
    results["minhash_incremental"] = {
        "rows_in": n_docs,
        "rows_out": accepted_counter["n"],
        "sec": round(elapsed, 3),
        "rows_per_sec": round(n_docs / elapsed, 1),
    }
    shutil.rmtree(state_dir, ignore_errors=True)

    # same operator at production-sized triggers (N/2 docs per batch):
    # the per-trigger cost is stage-latency-bound, not data-bound, so
    # throughput scales with batch size — this row shows the amortized
    # number the N-batch protocol's fixed floor hides
    state_dir2 = tempfile.mkdtemp(prefix="stream_bench_sigstore2_")
    accepted_counter2 = {"n": 0}

    def _count_sink2(df, epoch_id):
        accepted_counter2["n"] += df.count()

    inc_stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max(args.batches // 2, 1))
        .parquet(src)
    )
    t0 = time.time()
    q = streaming_minhash_dedup_incremental(
        inc_stream2,
        state_dir=state_dir2,
        sink=_count_sink2,
        cfg=MinHashConfig(num_perm=32, num_bands=8),
    ).start()
    q.processAllAvailable()
    elapsed = time.time() - t0
    q.stop()
    results["minhash_incremental_2batch"] = {
        "rows_in": n_docs,
        "rows_out": accepted_counter2["n"],
        "sec": round(elapsed, 3),
        "rows_per_sec": round(n_docs / elapsed, 1),
    }
    shutil.rmtree(state_dir2, ignore_errors=True)

    # end-to-end streaming INGEST composition (r7 verdict #9): the
    # examples/streaming_ingest.py shape — incremental near-dup dedup →
    # script-mix screen → durable parquet accept sink per micro-batch,
    # then one shard_assignment pass over the accumulated corpus — as a
    # timed row, so the composed pipeline's throughput is tracked
    # round-over-round next to the bare dedup operator's.
    from llm_training_data_pipeline_spark.operators import corpus
    from llm_training_data_pipeline_spark.operators.textstats import (
        with_script_mix,
    )

    state_dir3 = tempfile.mkdtemp(prefix="stream_bench_sigstore3_")
    out_dir = tempfile.mkdtemp(prefix="stream_bench_accepted_")

    def _ingest_sink(df, epoch_id):
        kept = (
            with_script_mix(df, "text")
            .filter(~F.col("script_mixed"))
            .select("doc_id", "text", "ts")
        )
        kept.write.mode("append").parquet(out_dir)

    inc_stream3 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max(args.batches // 2, 1))
        .parquet(src)
    )
    t0 = time.time()
    q = streaming_minhash_dedup_incremental(
        inc_stream3,
        state_dir=state_dir3,
        sink=_ingest_sink,
        cfg=MinHashConfig(num_perm=32, num_bands=8),
    ).start()
    q.processAllAvailable()
    q.stop()
    accepted = spark.read.parquet(out_dir)
    n_shards = (
        corpus.shard_assignment(accepted, target_chars=200_000)
        .agg(F.count_distinct(F.col("shard_id")).alias("n"))
        .collect()[0]["n"]
    )
    elapsed = time.time() - t0
    results["ingest_pipeline"] = {
        "rows_in": n_docs,
        "rows_out": accepted.count(),
        "n_shards": n_shards,
        "sec": round(elapsed, 3),
        "rows_per_sec": round(n_docs / elapsed, 1),
    }
    shutil.rmtree(state_dir3, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)

    # Bloom pre-filter: stateless broadcast probe against a static
    # corpus-history filter (the incremental-dedup front line). Keyed by
    # a digest computed in-stream so the probe path includes the hash.
    from llm_training_data_pipeline_spark.operators import bloom

    history = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5(F.col("text")).alias("digest")
    )
    bf = bloom.build_bloom_filter(
        history, "digest", num_bits=bloom.optimal_num_bits(max(n_docs // 2, 1))
    )
    results["bloom_prefilter"] = run(
        "bloom",
        lambda s: bloom.with_bloom_maybe_contains(
            s.withColumn("digest", F.md5(F.col("text"))), "digest", bf
        ).filter(~F.col("maybe_dup")),
    )
    # streaming Count-Min sketch (r8): foreachBatch fold of per-epoch
    # partial sketches into the parquet store — state is depth x width
    # cells per epoch, data-size-independent; the read-back sum is the
    # authoritative sketch (r8 verdict #9: track its rows/s too)
    from llm_training_data_pipeline_spark.streaming.sketch_stream import (
        read_sketch,
        streaming_cms,
    )

    sketch_dir = tempfile.mkdtemp(prefix="stream_bench_cms_")
    cms_stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max(args.batches // 2, 1))
        .parquet(src)
    )
    t0 = time.time()
    q = streaming_cms(cms_stream, state_dir=sketch_dir, depth=4, width=1024).start()
    q.processAllAvailable()
    q.stop()
    sketch_cells = read_sketch(spark, sketch_dir).count()
    elapsed = time.time() - t0
    results["cms_sketch"] = {
        "rows_in": n_docs,
        "sketch_cells": sketch_cells,
        "sec": round(elapsed, 3),
        "rows_per_sec": round(n_docs / elapsed, 1),
    }
    shutil.rmtree(sketch_dir, ignore_errors=True)

    # per-source admission caps: the stateless-looking stateful counter
    # (one int of state per stratum) — measures the applyInPandasWithState
    # floor with minimal state
    from llm_training_data_pipeline_spark.streaming.cap_stream import (
        streaming_source_cap,
    )

    capped_src = docs.withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 20).cast("string"))
    )
    src_cap = tempfile.mkdtemp(prefix="stream_bench_cap_")
    write_source(capped_src, src_cap)
    results["source_cap"] = run(
        "cap",
        lambda s: streaming_source_cap(s, cap=max(n_docs // 40, 1)),
        src_dir=src_cap,
        src_schema=capped_src.schema,
    )
    shutil.rmtree(src_cap, ignore_errors=True)

    # stateless streaming PQ encode (r10): codebook trained batch-side,
    # codes computed row-locally from the driver-literal codebook — the
    # streaming ANN index build (no join, no aggregate, no state store)
    from llm_training_data_pipeline_spark.operators.similarity import (
        collect_pq_codebook,
        pq_codebook,
        pq_encode_expr,
    )

    emb = load_table(spark, "embeddings", args.sf_dir)
    n_emb = emb.count()
    lit_cb = collect_pq_codebook(pq_codebook(emb, m=8, ks=16))
    src_pq = tempfile.mkdtemp(prefix="stream_bench_pq_")
    write_source(emb, src_pq)
    pq_res = run(
        "pq_encode",
        lambda s: s.select(
            "vec_id",
            pq_encode_expr(
                F.transform("embedding", lambda x: x.cast("double")), lit_cb
            ).alias("codes"),
        ),
        src_dir=src_pq,
        src_schema=emb.schema,
    )
    pq_res["rows_in"] = n_emb
    pq_res["rows_per_sec"] = round(n_emb / pq_res["sec"], 1)
    results["pq_encode"] = pq_res
    shutil.rmtree(src_pq, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "streaming_rows_per_sec",
                "sf_dir": args.sf_dir,
                "batches": args.batches,
                "operators": results,
            }
        )
    )
    sys.stdout.flush()


if __name__ == "__main__":
    main()
