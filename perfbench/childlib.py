"""Helpers shared by the two child programs (``sample.py``, ``traced.py``).

Each child is a fresh process that mirrors ``plans/pipeline.py:main()``
for ``--input-format parquet``: get_spark → PipelineConfig.load →
apply_spark_conf → spark.read.parquet → run_pipeline.
"""

from __future__ import annotations

import json
import os
import sys
import time


def mark(name: str) -> None:
    """Write a segment marker into stderr, where Spark's log also goes,
    so the parent can attribute log lines (codegen fallbacks) to a run."""
    print(f"@@perfbench {name}", file=sys.stderr, flush=True)


def start_session(t0: float, extra_conf: dict[str, str] | None = None):
    """Import the package, start the session, run one trivial job.

    Returns (spark, setup_s) where setup_s runs from ``t0`` — the parent's
    clock just before it spawned this process — to the end of that job."""
    from llm_training_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="llm-pipeline-cli", extra_conf=extra_conf)
    spark.range(1).count()
    return spark, time.time() - t0


def preset_config(repo: str, preset: str):
    from llm_training_data_pipeline_spark.plans.config import PipelineConfig

    return PipelineConfig.load(os.path.join(repo, "configs", f"{preset}_preset.yaml"))


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak RSS (VmHWM) in MB of this Python process and of its JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return _vm_hwm_kb("self") / 1024.0, _vm_hwm_kb(jvm) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the JVM, the Python worker daemon and its workers), each counted with
    the CPU time of the children it has already reaped."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rindex(")") + 2 :].split()
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _t) in procs.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    ticks = sum(procs[p][1] for p in tree if p in procs)
    return ticks / os.sysconf("SC_CLK_TCK")


def emit(result: dict) -> None:
    print(json.dumps(result, sort_keys=True), flush=True)
