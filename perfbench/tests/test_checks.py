import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

import checks


def test_codegen_fallback_counter():
    log = [
        "26/10/17 00:00:12 WARN WholeStageCodegenExec: Whole-stage codegen disabled for plan (id=6):\n",
        " *(6) Project [doc_id#6L, text#740]\n",
        "26/10/17 00:00:13 WARN SparkStringUtils: Truncated the string representation\n",
        "java.lang.RuntimeException: Whole-stage codegen disabled for plan (id=9)\n",
    ]
    assert checks.count_codegen_fallbacks(log) == 2
    assert checks.count_codegen_fallbacks([]) == 0


def _write_output(d, rows, tokenizer=b'{"vocab": {}}'):
    os.makedirs(d / "pipeline_output.parquet")
    t = pa.Table.from_pylist(
        rows,
        schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("tokens", pa.list_(pa.int32()))]),
    )
    pq.write_table(t, d / "pipeline_output.parquet" / "part-0.parquet")
    (d / "tokenizer.json").write_bytes(tokenizer)


ROWS = [
    {"doc_id": 1, "text": "a b", "tokens": [4, 5]},
    {"doc_id": 2, "text": "c", "tokens": [6]},
]


def test_digest_ignores_row_order_but_not_content(tmp_path):
    _write_output(tmp_path / "x", ROWS)
    _write_output(tmp_path / "y", ROWS[::-1])
    _write_output(tmp_path / "z", [ROWS[0], {**ROWS[1], "tokens": [7]}])
    _write_output(tmp_path / "t", ROWS, tokenizer=b'{"vocab": {"a": 1}}')
    dx, dy, dz, dt = (checks.output_digest(str(tmp_path / n)) for n in "xyzt")
    assert dx == dy and dx != dz and dx != dt


def test_invariants():
    labels = {
        1: {"doc_id": 1, "lang": "en", "pii": ["a@b.com"]},
        2: {"doc_id": 2, "lang": "fr"},
    }
    ok = {"doc_id": [1], "text": ["hello"], "tokens": [[1]]}
    assert checks.invariant_failures(ok, labels, en_only=True, pii_scrubbed=True) == []
    bad = {"doc_id": [1, 2], "text": ["mail a@b.com", "mail a@b.com"], "tokens": [[1], [1]]}
    msgs = checks.invariant_failures(bad, labels, en_only=True, pii_scrubbed=True)
    assert len(msgs) == 3
    assert checks.invariant_failures(bad, labels, en_only=False, pii_scrubbed=False) == [
        "1 output docs share text"
    ]


def test_dedup_scores():
    labels = {
        1: {"doc_id": 1},
        2: {"doc_id": 2, "of": 1},
        3: {"doc_id": 3, "of": 1},
        4: {"doc_id": 4},
        5: {"doc_id": 5, "of": 9},  # original never reached the stage
    }
    s = checks.dedup_scores(labels, {1, 2, 3, 4, 5}, {1, 3, 5})
    assert s["copies"] == 2 and s["dup_recall"] == 0.5 and s["false_removal"] == 0.5
    assert json.dumps(s)
