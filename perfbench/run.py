"""End-to-end preset benchmark: the pipeline CLI code path on seeded corpora.

  python3 perfbench/run.py --workload fineweb_web --seed 1 --seconds 30 --trace 0

Generates the workload's corpus from the seed (``gen_corpus.py``), then:

- ``--trace 0``: runs samples, each a fresh child process (``sample.py``)
  that mirrors ``plans/pipeline.py:main()`` — get_spark, preset config,
  apply_spark_conf, spark.read.parquet, run_pipeline — and checks its
  output. Samples repeat while the next one still fits in ``--seconds``;
  there is always at least one. Prints the end-to-end metrics.
- ``--trace 1``: one traced child (``traced.py``) with the Spark event
  log on; prints the per-layer metrics.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics`` (name → {value, unit}). Progress and failure
detail go to stderr. Everything the run writes lives under
``.perfbench_work/`` in the checkout and is removed at the end. See
README.md for the workloads and the metric → layer → workload map.

The seed picks one of ``CORPORA`` corpora per workload, corpus
``(seed - 1) % CORPORA + 1``, and every one of them has its output digest
pinned in ``pins.json``: a run never ends correct without its output
content checked.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_corpus  # noqa: E402

RUN_LIMIT_S = 170  # every run ends well inside the 180 s contract
PINS = os.path.join(HERE, "pins.json")
CORPORA = 32  # corpora per workload, each with a pinned output digest

END_TO_END = {
    "setup_s": "s",
    "cold_run_s": "s",
    "cold_run_cpu_s": "s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "sources.read_s": "s",
    "sources.input_partitions": "count",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "cleaning.busy_s": "s",
    "cleaning.cpu_s": "s",
    "dedup.busy_s": "s",
    "dedup.cpu_s": "s",
    "dedup.shuffle_bytes": "bytes",
    "dedup.spill_bytes": "bytes",
    "dedup.dup_recall": "ratio",
    "dedup.false_removal": "ratio",
    "paragraph_dedup.busy_s": "s",
    "paragraph_dedup.shuffle_bytes": "bytes",
    "paragraph_dedup.task_skew": "ratio",
    "lang_id.busy_s": "s",
    "lang_id.cpu_s": "s",
    "script_mix.busy_s": "s",
    "textstats.codegen_fallbacks": "count",
    "quality.busy_s": "s",
    "ngram_repetition.busy_s": "s",
    "ngram_repetition.cpu_s": "s",
    "pii.busy_s": "s",
    "tokenize.word_counts_s": "s",
    "tokenize.learn_s": "s",
    "tokenize.distinct_words": "count",
    "tokenize.merges": "count",
    "tokenize.encode_s": "s",
    "tokenize.tokens_out": "count",
    "pipeline.warm_run_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.executor_cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "pipeline.cpu_utilization": "ratio",
    "pipeline.driver_only_s": "s",
    "pipeline.trace_overhead_s": "s",
}


def corpus_of(seed: int) -> int:
    """The corpus a seed picks, 1..CORPORA."""
    return (seed - 1) % CORPORA + 1


def child_env(work: str) -> dict[str, str]:
    """The pinned child environment: all cores, Spark's default join
    preference, a 2 GB driver heap instead of the CLI's 16 GB default (the
    corpora are a few MB; a bounded heap keeps peak RSS steady and small
    on a shared machine, see README.md), scratch dirs inside the work dir,
    the repo importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_PREFER_SMJ", None)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        # no JVM, the launcher's included, may write to /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    )
    return env


def run_child(script: str, args: list[str], work: str, name: str, timeout: float) -> tuple[dict | None, str, str]:
    """Spawn ``perfbench/<script>`` in its own process group and wait for it.
    Returns (last-line JSON or None, stderr path, error text)."""
    err_path = os.path.join(work, f"{name}.err")
    cmd = [sys.executable, os.path.join(HERE, script), *args, "--t0", repr(time.time())]
    with open(err_path, "w") as err:
        proc = subprocess.Popen(
            cmd, cwd=work, env=child_env(work), stdout=subprocess.PIPE,
            stderr=err, text=True, start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return None, err_path, f"{name}: timed out after {timeout:.0f}s"
        finally:
            _stop_group(proc.pid)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None, err_path, f"{name}: exit code {proc.returncode}"
    try:
        return json.loads(lines[-1]), err_path, ""
    except json.JSONDecodeError:
        return None, err_path, f"{name}: no result line"


def _stop_group(pgid: int, timeout: float = 20.0) -> None:
    """Kill what is left of the child's process group (the JVM, Python
    workers) and wait until none of it is running."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = False
        for d in os.listdir("/proc"):
            try:
                with open(f"/proc/{d}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if rest[0] != "Z" and int(rest[2]) == pgid:
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


def log_segments(err_path: str) -> dict[str, list[str]]:
    """Child stderr split at the ``@@perfbench <segment>`` markers."""
    segs: dict[str, list[str]] = {}
    cur = "start"
    with open(err_path, errors="replace") as f:
        for ln in f:
            if ln.startswith("@@perfbench "):
                cur = ln.split()[1]
            else:
                segs.setdefault(cur, []).append(ln)
    return segs


def pin_failures(workload: str, corpus: int, digest: str, record: bool) -> list[str]:
    """The output digest must equal the pin for (workload, corpus). A
    missing pin is a failure unless ``record`` is set, which adds it."""
    pins = {}
    if os.path.exists(PINS):
        with open(PINS) as f:
            pins = json.load(f)
    pinned = pins.get(workload, {}).get(str(corpus))
    if pinned is None and record:
        pins.setdefault(workload, {})[str(corpus)] = digest
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        return []
    if pinned is None:
        return [f"no pinned output digest for {workload} corpus {corpus}"]
    if pinned == digest:
        return []
    return [f"output digest {digest} != pinned {pinned}"]


def untraced(a, wl, gen, work) -> tuple[int, int, dict]:
    samples, attempted, failed = [], 0, 0
    start = time.time()
    last = 0.0
    while attempted == 0 or time.time() - start + last <= a.seconds:
        attempted += 1
        t = time.time()
        res, err_path, err = run_child(
            "sample.py",
            ["--repo", ROOT, "--preset", wl.preset, "--input", gen["input"],
             "--labels", gen["labels"], "--work", work],
            work, f"sample{attempted}", RUN_LIMIT_S - (t - start),
        )
        last = time.time() - t
        bad = [err] if err else []
        if res:
            bad += res["failures"]
            bad += pin_failures(a.workload, gen["corpus"], res["digest"], a.pin)
            if samples and res["digest"] != samples[0]["digest"]:
                bad.append(f"output digest {res['digest']} != first sample's {samples[0]['digest']}")
        if bad:
            failed += 1
            print(f"sample {attempted} FAILED: {bad}", file=sys.stderr)
            _tail(err_path)
        if res:
            samples.append(res)
            print(f"sample {attempted}: setup {res['setup_s']:.2f}s config {res['conf_s']:.3f}s "
                  f"read {res['read_s']:.2f}s cold {res['cold_run_s']:.2f}s "
                  f"cold cpu {res['cold_run_cpu_s']:.2f}s "
                  f"rss {res['peak_rss_mb']:.0f}MB (jvm {res['peak_rss_jvm_mb']:.0f}MB) "
                  f"digest {res['digest']}", file=sys.stderr)
        if RUN_LIMIT_S - (time.time() - start) < last * 1.2:
            break

    def med(key: str) -> float:
        return statistics.median(s[key] for s in samples) if samples else 0.0

    cold = med("cold_run_s")
    values = {
        "setup_s": med("setup_s"),
        "cold_run_s": cold,
        "cold_run_cpu_s": med("cold_run_cpu_s"),
        "docs_per_s": gen["docs"] / cold if cold else 0.0,
        "peak_rss_mb": med("peak_rss_mb"),
    }
    return attempted, failed, {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def traced(a, wl, gen, work) -> tuple[int, int, dict]:
    res, err_path, err = run_child(
        "traced.py",
        ["--repo", ROOT, "--preset", wl.preset, "--input", gen["input"],
         "--labels", gen["labels"], "--work", work],
        work, "traced", RUN_LIMIT_S,
    )
    bad = [err] if err else []
    m: dict = {}
    if res:
        bad += res["failures"]
        bad += pin_failures(a.workload, gen["corpus"], res["digest"], a.pin)
        m = dict(res["metrics"])
        m["pipeline.warm_run_s"] = res["warm_run_s"]
        m["textstats.codegen_fallbacks"] = checks.count_codegen_fallbacks(
            log_segments(err_path).get("pipeline", [])
        )
        print(f"traced: spans {json.dumps({k: round(v, 2) for k, v in res['spans'].items()})} "
              f"coverage {res['span_coverage']:.3f} ungrouped tasks {res['ungrouped_tasks']}",
              file=sys.stderr)
        if set(m) != set(PER_LAYER):
            bad.append(f"metric names differ from PER_LAYER: {sorted(set(m) ^ set(PER_LAYER))}")
    if bad:
        print(f"traced run FAILED: {bad}", file=sys.stderr)
        _tail(err_path)
    return 1, int(bool(bad)), {k: {"value": m.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}


def _tail(path: str, n: int = 15) -> None:
    try:
        with open(path, errors="replace") as f:
            lines = [ln for ln in f if not ln.startswith("\tat ")]
        sys.stderr.writelines(lines[-n:])
    except OSError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser(description="End-to-end preset benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(gen_corpus.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record the output digest as the pin for (workload, corpus) if none exists")
    a = ap.parse_args()

    wl = gen_corpus.WORKLOADS[a.workload]
    needed = [
        os.path.join(ROOT, "llm_training_data_pipeline_spark", "plans", "pipeline.py"),
        os.path.join(ROOT, "configs", f"{wl.preset}_preset.yaml"),
    ]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        print(f"perfbench: not a checkout of the pipeline repo, missing {missing}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        corpus = corpus_of(a.seed)
        print(f"seed {a.seed}: corpus {corpus}", file=sys.stderr)
        gen = dict(gen_corpus.write(a.workload, corpus, os.path.join(work, "gen")), corpus=corpus)
        run = traced if a.trace else untraced
        attempted, failed, metrics = run(a, wl, gen, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
