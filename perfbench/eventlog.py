"""Fold a Spark event log (uncompressed JSON lines) into per-job-group
totals.

Only Spark's own signals are used: every job carries the
``spark.jobGroup.id`` the caller set with ``setJobGroup``; stages inherit
the group of the job that submitted them; ``SparkListenerTaskEnd`` carries
the task's timings and metrics. No library class is patched.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def new_totals() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_bytes": 0,
        "spill_bytes": 0,
        "intervals": [],
        "stage_task_ms": defaultdict(list),
    }


def fold(events: list[dict]) -> dict[str, dict]:
    """Group → totals. ``shuffle_bytes`` counts bytes written to shuffle;
    ``spill_bytes`` counts memory plus disk bytes spilled; ``intervals``
    are task (launch, finish) pairs in epoch ms. Tasks whose stage has no
    group land under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(new_totals)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            out[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get(GROUP_KEY)
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            t = out[stage_group.get(sid, "")]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            t["tasks"] += 1
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            launch, finish = info.get("Launch Time"), info.get("Finish Time")
            if launch and finish:
                t["intervals"].append((launch, finish))
                t["stage_task_ms"][sid].append(finish - launch)
    return dict(out)


def task_skew(totals: dict) -> float:
    """max ÷ median task time of the group's heaviest Spark stage (the one
    with the most summed task time among stages of ≥2 tasks); 1.0 when no
    stage has two tasks."""
    stages = [ms for ms in totals["stage_task_ms"].values() if len(ms) >= 2]
    if not stages:
        return 1.0
    heavy = max(stages, key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 1.0


def busy_union_s(intervals: list[tuple[int, int]], lo_ms: float, hi_ms: float) -> float:
    """Seconds of [lo_ms, hi_ms] during which at least one task ran."""
    spans = sorted(
        (max(a, lo_ms), min(b, hi_ms)) for a, b in intervals if b > lo_ms and a < hi_ms
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3
