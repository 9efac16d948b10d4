import json

import eventlog


def _job(job, stages, group):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group} if group else {},
    }


def _task(stage, launch, finish, cpu_ns=0, shuffle=0, spill=(0, 0), gc=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": finish - launch,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": spill[0],
            "Disk Bytes Spilled": spill[1],
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


# two job groups: "stage:a" runs job 0 (stages 0, 1); "stage:b" runs job 1
# (stage 2, one straggler task); one task of an ungrouped job 2
FIXTURE = [
    _job(0, [0, 1], "stage:a"),
    _task(0, 1000, 1100, cpu_ns=50_000_000, shuffle=300),
    _task(0, 1000, 1200, cpu_ns=70_000_000, shuffle=200),
    {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": 1},
        "Properties": {"spark.jobGroup.id": "stage:a"},
    },
    _task(1, 1200, 1250, cpu_ns=10_000_000, gc=5),
    {"Event": "SparkListenerJobEnd", "Job ID": 0},
    _job(1, [2], "stage:b"),
    _task(2, 2000, 2100, cpu_ns=1_000_000),
    _task(2, 2000, 2100, cpu_ns=1_000_000),
    _task(2, 2000, 2900, cpu_ns=9_000_000, spill=(64, 32)),
    _job(2, [3], None),
    _task(3, 3000, 3010),
]


def test_fold_totals_by_group():
    g = eventlog.fold(FIXTURE)
    a, b = g["stage:a"], g["stage:b"]
    assert (a["jobs"], a["tasks"], b["jobs"], b["tasks"]) == (1, 3, 1, 3)
    assert abs(a["cpu_s"] - 0.13) < 1e-9 and abs(b["cpu_s"] - 0.011) < 1e-9
    assert a["shuffle_bytes"] == 500 and b["shuffle_bytes"] == 0
    assert a["spill_bytes"] == 0 and b["spill_bytes"] == 96
    assert abs(a["gc_s"] - 0.005) < 1e-9
    assert g[""]["tasks"] == 1


def test_task_skew_uses_heaviest_stage():
    g = eventlog.fold(FIXTURE)
    assert eventlog.task_skew(g["stage:b"]) == 9.0  # 900 ms / median 100 ms
    assert eventlog.task_skew(g["stage:a"]) == 200 / 150
    assert eventlog.task_skew(eventlog.new_totals()) == 1.0


def test_busy_union_merges_overlaps_and_clips():
    iv = [(1000, 1200), (1100, 1300), (2000, 2100), (500, 900)]
    assert eventlog.busy_union_s(iv, 1000, 3000) == 0.4
    assert eventlog.busy_union_s(iv, 1150, 2050) == 0.2
    assert eventlog.busy_union_s([], 0, 10) == 0.0


def test_read_events_roundtrip(tmp_path):
    p = tmp_path / "app-1"
    p.write_text("".join(json.dumps(e) + "\n" for e in FIXTURE))
    assert eventlog.fold(eventlog.read_events(str(p))) == eventlog.fold(FIXTURE)
