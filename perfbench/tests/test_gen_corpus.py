import filecmp
import json
import os

import pyarrow.parquet as pq
import pytest

import gen_corpus


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _s, fs in os.walk(root) for f in fs
    )


@pytest.mark.parametrize("workload", sorted(gen_corpus.WORKLOADS))
def test_same_seed_gives_byte_identical_files(tmp_path, workload):
    a = gen_corpus.write(workload, 7, str(tmp_path / "a"))
    b = gen_corpus.write(workload, 7, str(tmp_path / "b"))
    assert a["docs"] == b["docs"]
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b")
    assert len(names) == gen_corpus.WORKLOADS[workload].shards + 1
    for n in names:
        assert filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False), n


def test_other_seed_gives_other_corpus(tmp_path):
    gen_corpus.write("c4_onefile", 1, str(tmp_path / "a"))
    gen_corpus.write("c4_onefile", 2, str(tmp_path / "b"))
    assert not filecmp.cmp(
        tmp_path / "a" / "labels.json", tmp_path / "b" / "labels.json", shallow=False
    )


def test_labels_describe_the_planted_cases(tmp_path):
    out = gen_corpus.write("fineweb_web", 3, str(tmp_path))
    with open(out["labels"]) as f:
        docs = {d["doc_id"]: d for d in json.load(f)["docs"]}
    table = pq.read_table(out["input"])
    texts = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    assert set(texts) == set(docs) and len(docs) == out["docs"]
    kinds = {d["kind"] for d in docs.values()}
    assert kinds == {"base", "exact_copy", "near_copy"}
    for i, d in docs.items():
        if d["kind"] == "exact_copy":
            assert d["of"] < i and texts[i] == texts[d["of"]]
        if d["kind"] == "near_copy":
            assert d["of"] < i and texts[i] != texts[d["of"]]
        for s in d.get("pii", ()):
            assert s in texts[i]
    assert any(d["lang"] != "en" for d in docs.values())
    assert any(d.get("spam") for d in docs.values())


def test_one_file_workload_is_one_row_group(tmp_path):
    out = gen_corpus.write("c4_onefile", 1, str(tmp_path))
    (name,) = os.listdir(out["input"])
    assert pq.ParquetFile(os.path.join(out["input"], name)).num_row_groups == 1
