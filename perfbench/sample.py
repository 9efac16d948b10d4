"""One benchmark sample: a fresh process running the CLI code path.

Times setup (process start → session ready) and the cold
``run_pipeline`` over the generated parquet, checks its output, and
prints one JSON line. Spawned by ``run.py``; not meant
to be run by hand except for debugging:

  python3 perfbench/sample.py --repo . --preset c4 --input DIR/input \
      --labels DIR/labels.json --work DIR --t0 "$(date +%s.%N)"
"""

from __future__ import annotations

import argparse
import os
import shutil
import time

import checks
from childlib import emit, peak_rss_mb, preset_config, start_session, tree_cpu_s


def timed_run(spark, cfg, input_path: str, out_dir: str) -> tuple[dict, dict]:
    """read.parquet + run_pipeline, each public call timed from outside."""
    from llm_training_data_pipeline_spark.plans.pipeline import run_pipeline

    t, cpu = time.time(), tree_cpu_s()
    docs = spark.read.parquet(input_path)
    t_read = time.time()
    summary = run_pipeline(spark, docs, cfg, out_dir)
    t_end = time.time()
    return summary, {"read_s": t_read - t, "run_s": t_end - t, "cpu_s": tree_cpu_s() - cpu}


def check_output(out_dir: str, labels: dict, cfg) -> tuple[str, list[str]]:
    cols = checks.read_output(out_dir)
    lf = cfg.get("quality.language_filter", {}) or {}
    bad = checks.invariant_failures(
        cols,
        labels,
        en_only=bool(lf.get("enabled")) and list(lf.get("allowed_languages", [])) == ["en"],
        pii_scrubbed=bool(cfg.get("pii.enabled", False)),
    )
    return checks.output_digest(out_dir, cols), bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    ap.add_argument("--preset", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--labels", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args()

    spark, setup_s = start_session(a.t0)
    t = time.time()
    cfg = preset_config(a.repo, a.preset)
    cfg.apply_spark_conf(spark)
    conf_s = time.time() - t
    out_dir = os.path.join(a.work, "out-cold")
    summary, times = timed_run(spark, cfg, a.input, out_dir)
    rss_py, rss_jvm = peak_rss_mb(spark)
    spark.stop()

    digest, bad = check_output(out_dir, checks.load_labels(a.labels), cfg)
    shutil.rmtree(out_dir, ignore_errors=True)
    emit({
        "setup_s": setup_s,
        "conf_s": conf_s,
        "read_s": times["read_s"],
        "cold_run_s": times["run_s"],
        "cold_run_cpu_s": times["cpu_s"],
        "peak_rss_mb": rss_py + rss_jvm,
        "peak_rss_jvm_mb": rss_jvm,
        "digest": digest,
        "failures": bad,
        "stages": {s: m.get("rows") for s, m in summary["stages"].items()},
    })


if __name__ == "__main__":
    main()
