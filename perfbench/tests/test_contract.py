import json
import os
import shutil
import subprocess
import sys

import gen_corpus
import run

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _spec():
    with open(SPEC) as f:
        return json.load(f)


def test_benchmark_json_matches_the_metrics_run_prints():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(gen_corpus.WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_every_corpus_a_seed_can_pick_is_pinned():
    with open(run.PINS) as f:
        pins = json.load(f)
    picked = {run.corpus_of(seed) for seed in range(-run.CORPORA, 3 * run.CORPORA)}
    assert picked == set(range(1, run.CORPORA + 1))
    for name in gen_corpus.WORKLOADS:
        assert set(pins[name]) == {str(c) for c in picked}, name


def test_a_missing_pin_fails_unless_recorded(monkeypatch, tmp_path):
    pins = tmp_path / "pins.json"
    pins.write_text(json.dumps({"c4_onefile": {"1": "abc"}}))
    monkeypatch.setattr(run, "PINS", str(pins))
    assert run.pin_failures("c4_onefile", 1, "abc", False) == []
    assert run.pin_failures("c4_onefile", 1, "abd", False)
    assert run.pin_failures("c4_onefile", 2, "abc", False)
    assert run.pin_failures("c4_onefile", 2, "abc", True) == []
    assert json.loads(pins.read_text())["c4_onefile"]["2"] == "abc"


def test_exits_nonzero_without_the_repo(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(SPEC, tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fineweb_web", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
