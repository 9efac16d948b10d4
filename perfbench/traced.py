"""The traced run: per-layer numbers for one preset, in its own process.

The Spark event log is on (uncompressed, not rolling). After setup and
one untraced cold run, the process does two things:

(a) one warm ``run_pipeline`` under job group ``pipeline``, later folded
    from the event log into whole-run totals;
(b) the preset again one stage at a time, each stage through its module's
    public function under job group ``stage:<name>``, with a
    materialization barrier (eager localCheckpoint, spread to
    ``defaultParallelism`` the way the pipeline's own barriers are)
    between stages.

The trace is valid only if every stage's row count in (b) equals the
summary of (a), and if the stage spans cover at least 95% of (b)'s wall
time, clocked from the call into the recomposition to its return, so work
outside the stage spans (the bookkeeping jobs included) counts against
it. Prints one JSON line. Spawned by ``run.py --trace 1``.
"""

from __future__ import annotations

import argparse
import glob
import os
import time

import checks
import eventlog
from childlib import emit, mark, preset_config, start_session
from sample import check_output, timed_run

MIN_SPAN_COVERAGE = 0.95


class StageRunner:
    """Runs stages under their own job groups and records their spans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []
        self.rows: dict[str, int] = {}
        self.frames: dict[str, object] = {}

    def barrier(self, df):
        df = df.localCheckpoint(eager=True)
        dp = self.sc.defaultParallelism
        if df.rdd.getNumPartitions() < dp:
            df = df.repartition(dp).localCheckpoint(eager=True)
        return df

    def run(self, name: str, fn, rows_as: str | None = None, barrier: bool = True):
        """Time ``fn()``; a DataFrame result goes through the barrier
        (unless ``barrier`` is off) and, when ``rows_as`` is given, its
        count is checked against that pipeline summary row."""
        self.sc.setJobGroup(f"stage:{name}", name)
        t = time.time()
        out = fn()
        if barrier and hasattr(out, "localCheckpoint"):
            out = self.barrier(out)
            if rows_as:
                self.rows[rows_as] = out.count()
            self.frames[name] = out
        self.spans.append((name, t, time.time()))
        return out


def run_stages(spark, cfg, input_path: str, out_dir: str) -> tuple[StageRunner, dict]:
    """The preset's stages in ``build_pipeline`` order, one at a time."""
    from pyspark.sql import functions as F

    from llm_training_data_pipeline_spark.operators import (
        cleaning,
        corpus,
        dedup,
        pii,
        quality,
        textstats,
    )
    from llm_training_data_pipeline_spark.operators import tokenize as tk
    from llm_training_data_pipeline_spark.sources import sinks

    st = StageRunner(spark)
    info: dict = {}

    def read():
        docs = spark.read.parquet(input_path)
        info["input_partitions"] = docs.rdd.getNumPartitions()
        st.rows["ingest"] = docs.count()
        return docs

    # no barrier: cleaning scans the files with their own splits, as in
    # the pipeline (one task on a one-split input)
    docs = st.run("read", read, barrier=False)

    c = cfg.section("cleaning")
    ccfg = cleaning.CleanerConfig(
        **{
            k: c.get(k, getattr(cleaning.CleanerConfig, k))
            for k in (
                "remove_urls", "remove_emails", "remove_citations",
                "normalize_unicode", "fix_encoding", "normalize_whitespace",
            )
        },
        min_length_chars=c.get("min_length_chars", 100),
    )
    df = st.run(
        "clean",
        lambda: cleaning.clean_documents(docs, "text", ccfg)
        .drop("text")
        .withColumnRenamed("cleaned_text", "text"),
        "clean",
    )

    d = cfg.section("deduplication")
    algo = d.get("algorithm", "minhash_lsh")
    if algo == "exact_hash":
        df = st.run("dedup", lambda: dedup.exact_dedup(df), "dedup")
    elif algo == "minhash_lsh":
        mh = dedup.MinHashConfig(
            num_perm=d.get("num_permutations", 128),
            threshold=d.get("threshold", 0.8),
            shingle_size=d.get("shingle_size", 5),
            num_bands=d.get("num_bands", 16),
        )
        df = st.run(
            "dedup",
            lambda: dedup.minhash_dedup(df, cfg=mh, max_bucket_size=d.get("max_band_bucket")),
            "dedup",
        )
    else:
        raise ValueError(f"stage recomposition does not cover dedup algorithm {algo!r}")

    if d.get("paragraph_dedup", {}).get("enabled", False):
        df = st.run(
            "paragraph_dedup",
            lambda: corpus.remove_dup_paragraphs(df, "text").drop("n_paras_removed"),
            "paragraph_dedup",
        )

    q = cfg.section("quality")
    lf = q.get("language_filter", {})
    qcfg = quality.QualityConfig(
        min_words=q.get("min_words", 50),
        max_words=q.get("max_words", 100_000),
        min_avg_word_length=q.get("min_avg_word_length", 3.0),
        max_avg_word_length=q.get("max_avg_word_length", 15.0),
        min_alpha_ratio=q.get("min_alphabetic_ratio", 0.7),
        max_digit_ratio=q.get("max_digit_ratio", 0.3),
        max_symbol_ratio=q.get("max_symbol_ratio", 0.2),
        allowed_languages=tuple(lf.get("allowed_languages", ())) if lf.get("enabled") else None,
    )
    lang_col = None
    if lf.get("enabled"):
        df = st.run("lang_id", lambda: textstats.with_lang_id(df, "text"))
        lang_col = "detected_lang"
    df = st.run(
        "quality",
        lambda: quality.with_quality(df, "text", qcfg, lang_col=lang_col, include_scores=False)
        .filter(F.col("passed"))
        .drop("passed", "reason"),
        "quality",
    )

    if q.get("script_mix_filter", {}).get("enabled", False):
        permille = int(q["script_mix_filter"].get("min_dominant_permille", 800))
        df = st.run(
            "script_mix",
            lambda: textstats.with_script_mix(df, "text")
            .filter(~F.col("script_mixed") | (F.col("dominant_permille") >= permille))
            .drop("n_scripts", "dominant_script", "dominant_permille", "script_mixed"),
            "script_mix",
        )

    if q.get("ngram_repetition_filter", {}).get("enabled", False):
        rc = quality.GopherRepetitionConfig()
        helper = [f"top_{n}gram_char_frac" for n, _ in rc.max_top_ngram_frac] + [
            f"dup_{n}gram_char_frac" for n, _ in rc.max_dup_ngram_frac
        ]
        df = st.run(
            "ngram_repetition",
            lambda: quality.with_dup_ngram_stats(df, "text")
            .filter(F.col("ngram_repetition_pass"))
            .drop("ngram_repetition_pass", *helper),
            "ngram_repetition",
        )

    p = cfg.section("pii")
    if p.get("enabled", False):
        if p.get("action", "redact") != "redact":
            raise ValueError("stage recomposition covers pii.action=redact only")
        df = st.run("pii", lambda: pii.redact_pii(df, "text"), "pii")

    t = cfg.section("tokenization")
    talgo = t.get("algorithm", "bpe")
    if talgo == "byte_bpe":
        raise ValueError("stage recomposition covers word-count tokenizers only")
    wc = st.run(
        "tokenize.word_counts",
        lambda: [
            (r["word"], r["cnt"])
            for r in tk.word_counts(df, "text")
            .orderBy(F.col("cnt").desc(), F.col("word"))
            .limit(2_000_000)
            .collect()
        ],
    )
    tok = st.run(
        "tokenize.learn",
        lambda: tk.TRAINERS[talgo](wc, t.get("vocab_size", 32_000), t.get("min_frequency", 2)),
    )
    df = st.run("tokenize.encode", lambda: tk.tokenize_documents(df, tok, "text"))

    def write():
        sinks.write_parquet(df, os.path.join(out_dir, "pipeline_output.parquet"))
        tok.save(os.path.join(out_dir, "tokenizer.json"))

    st.run("sinks.write", write)

    st.sc.setJobGroup("bookkeeping", "bookkeeping")  # keeps the jobs below out of the stage groups
    info["distinct_words"] = len(wc)
    info["merges"] = len(getattr(tok, "merges", ()))
    info["tokens_out"] = df.agg(F.sum("token_count")).collect()[0][0] or 0
    return st, info


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


def _ids(frame) -> set[int]:
    return {r[0] for r in frame.select("doc_id").collect()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    ap.add_argument("--preset", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--labels", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args()

    log_dir = os.path.join(a.work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark, setup_s = start_session(
        a.t0,
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    cfg = preset_config(a.repo, a.preset)
    cfg.apply_spark_conf(spark)
    labels = checks.load_labels(a.labels)
    failures: list[str] = []

    sc.setJobGroup("cold", "cold run")
    timed_run(spark, cfg, a.input, os.path.join(a.work, "out-cold"))

    mark("pipeline")
    sc.setJobGroup("pipeline", "whole pipeline")
    out_a = os.path.join(a.work, "out-pipeline")
    t_a0 = time.time()
    summary, times = timed_run(spark, cfg, a.input, out_a)
    t_a1 = time.time()
    digest_a, bad = check_output(out_a, labels, cfg)
    failures += bad

    mark("stages")
    out_b = os.path.join(a.work, "out-stages")
    t_b0 = time.time()
    st, info = run_stages(spark, cfg, a.input, out_b)
    wall_b = time.time() - t_b0
    digest_b, bad = check_output(out_b, labels, cfg)
    failures += [f"stage-at-a-time: {b}" for b in bad]
    if digest_b != digest_a:
        failures.append(f"stage-at-a-time output digest {digest_b} != pipeline {digest_a}")
    for name, m in summary["stages"].items():
        if st.rows.get(name) != m.get("rows"):
            failures.append(f"stage {name}: rows {st.rows.get(name)} != pipeline {m.get('rows')}")
    span_sum = sum(b - s for _n, s, b in st.spans)
    coverage = span_sum / wall_b
    if coverage < MIN_SPAN_COVERAGE:
        failures.append(f"stage spans cover {coverage:.3f} of the traced wall time")
    dd = checks.dedup_scores(labels, _ids(st.frames["clean"]), _ids(st.frames["dedup"]))
    sink_bytes = _du(os.path.join(out_b, "pipeline_output.parquet"))
    spark.stop()

    (log_path,) = glob.glob(os.path.join(log_dir, "*"))
    groups = eventlog.fold(eventlog.read_events(log_path))
    zero = eventlog.new_totals()  # for stages the preset lacks

    def g(name: str) -> dict:
        return groups.get(f"stage:{name}", zero)

    span = {n: b - s for n, s, b in st.spans}
    whole = groups.get("pipeline", zero)
    wall_a = t_a1 - t_a0
    m = {
        "sources.read_s": span["read"],
        "sources.input_partitions": info["input_partitions"],
        "sinks.write_s": span["sinks.write"],
        "sinks.bytes_written": sink_bytes,
        "cleaning.busy_s": span["clean"],
        "cleaning.cpu_s": g("clean")["cpu_s"],
        "dedup.busy_s": span["dedup"],
        "dedup.cpu_s": g("dedup")["cpu_s"],
        "dedup.shuffle_bytes": g("dedup")["shuffle_bytes"],
        "dedup.spill_bytes": g("dedup")["spill_bytes"],
        "dedup.dup_recall": dd["dup_recall"],
        "dedup.false_removal": dd["false_removal"],
        "paragraph_dedup.busy_s": span.get("paragraph_dedup", 0.0),
        "paragraph_dedup.shuffle_bytes": g("paragraph_dedup")["shuffle_bytes"],
        "paragraph_dedup.task_skew": (
            eventlog.task_skew(g("paragraph_dedup")) if "paragraph_dedup" in span else 0.0
        ),
        "lang_id.busy_s": span.get("lang_id", 0.0),
        "lang_id.cpu_s": g("lang_id")["cpu_s"],
        "script_mix.busy_s": span.get("script_mix", 0.0),
        "quality.busy_s": span["quality"],
        "ngram_repetition.busy_s": span.get("ngram_repetition", 0.0),
        "ngram_repetition.cpu_s": g("ngram_repetition")["cpu_s"],
        "pii.busy_s": span.get("pii", 0.0),
        "tokenize.word_counts_s": span["tokenize.word_counts"],
        "tokenize.learn_s": span["tokenize.learn"],
        "tokenize.distinct_words": info["distinct_words"],
        "tokenize.merges": info["merges"],
        "tokenize.encode_s": span["tokenize.encode"],
        "tokenize.tokens_out": info["tokens_out"],
        "pipeline.jobs": whole["jobs"],
        "pipeline.tasks": whole["tasks"],
        "pipeline.executor_cpu_s": whole["cpu_s"],
        "pipeline.gc_s": whole["gc_s"],
        "pipeline.shuffle_bytes": whole["shuffle_bytes"],
        "pipeline.spill_bytes": whole["spill_bytes"],
        "pipeline.cpu_utilization": whole["cpu_s"] / (wall_a * cores),
        "pipeline.driver_only_s": wall_a
        - eventlog.busy_union_s(whole["intervals"], t_a0 * 1e3, t_a1 * 1e3),
        "pipeline.trace_overhead_s": span_sum - wall_a,
    }
    emit({
        "setup_s": setup_s,
        "warm_run_s": times["run_s"],
        "digest": digest_a,
        "failures": failures,
        "span_coverage": coverage,
        "spans": span,
        "dedup_copies": dd["copies"],
        "ungrouped_tasks": groups.get("", {}).get("tasks", 0),
        "metrics": m,
    })


if __name__ == "__main__":
    main()
