"""Output checks for one pipeline run, against the generator's labels.

Pure Python over pyarrow reads — no Spark — so the checks cost nothing in
the timed spans and the benchmark's tests can drive them on fixtures.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq


def load_labels(path: str) -> dict[int, dict]:
    with open(path) as f:
        return {d["doc_id"]: d for d in json.load(f)["docs"]}


def read_output(out_dir: str) -> dict[str, list]:
    """``pipeline_output.parquet`` as columns (doc_id, text, tokens)."""
    t = pq.read_table(
        os.path.join(out_dir, "pipeline_output.parquet"),
        columns=["doc_id", "text", "tokens"],
    )
    return {c: t.column(c).to_pylist() for c in t.column_names}


def output_digest(out_dir: str, cols: dict[str, list] | None = None) -> str:
    """Order-insensitive digest of the output rows plus ``tokenizer.json``:
    sha256 over the sorted per-row sha256s, then the tokenizer bytes."""
    cols = cols or read_output(out_dir)
    rows = sorted(
        hashlib.sha256(json.dumps([i, t, k]).encode()).hexdigest()
        for i, t, k in zip(cols["doc_id"], cols["text"], cols["tokens"])
    )
    h = hashlib.sha256("\n".join(rows).encode())
    with open(os.path.join(out_dir, "tokenizer.json"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:32]


def invariant_failures(
    cols: dict[str, list],
    labels: dict[int, dict],
    *,
    en_only: bool,
    pii_scrubbed: bool,
) -> list[str]:
    """The planted invariants; an empty list means every one holds."""
    bad: list[str] = []
    texts = cols["text"]
    if len(set(texts)) != len(texts):
        bad.append(f"{len(texts) - len(set(texts))} output docs share text")
    if not cols["doc_id"]:
        bad.append("empty output")
    out_labels = [labels[i] for i in cols["doc_id"]]
    if en_only:
        foreign = [d["doc_id"] for d in out_labels if d["lang"] != "en"]
        if foreign:
            bad.append(f"non-English docs survived: {foreign[:5]}")
    if pii_scrubbed:
        leaked = [
            (d["doc_id"], s)
            for d, t in zip(out_labels, texts)
            for s in d.get("pii", ())
            if s in t
        ]
        if leaked:
            bad.append(f"PII survived: {leaked[:3]}")
    return bad


def dedup_scores(
    labels: dict[int, dict], ids_in: set[int], ids_out: set[int]
) -> dict[str, float]:
    """Dedup quality at one stage boundary, from the labels.

    ``dup_recall``: planted copies removed ÷ planted copies that reached the
    stage with their original (a copy whose original is gone has nothing
    to be a duplicate of). ``false_removal``: non-copy docs removed ÷
    non-copy docs that reached the stage."""
    copies = [
        i for i in ids_in if "of" in labels[i] and labels[i]["of"] in ids_in
    ]
    originals = [i for i in ids_in if "of" not in labels[i]]
    removed_copies = sum(1 for i in copies if i not in ids_out)
    removed_orig = sum(1 for i in originals if i not in ids_out)
    return {
        "dup_recall": removed_copies / len(copies) if copies else 1.0,
        "false_removal": removed_orig / len(originals) if originals else 0.0,
        "copies": len(copies),
    }


CODEGEN_FALLBACK = "Whole-stage codegen disabled"


def count_codegen_fallbacks(lines) -> int:
    """Lines of a Spark log announcing a whole-stage codegen fallback."""
    return sum(1 for ln in lines if CODEGEN_FALLBACK in ln)
