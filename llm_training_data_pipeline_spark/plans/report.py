"""Metrics report printer (SURVEY.md §2.6 O5-O6).

Reference: rich-formatted stage table (/root/reference/src/utils/metrics.py:
172-222). Plain-text rendering here (no rich dependency): stages with
row counts and filter rates; then totals.
"""

from __future__ import annotations

import json
from typing import Any

STAGE_ORDER = [
    "ingest", "clean", "dedup", "soft_sample", "span_dedup",
    "paragraph_dedup", "source_cap",
    "quality", "entropy", "script_mix", "ngram_repetition", "chat_marker",
    "perplexity",
    "decontaminate", "pii", "sample", "dsir", "holdout", "tokenize",
]


def render_report(summary: dict[str, Any]) -> str:
    """Render a pipeline summary (from ``run_pipeline``) as a text table."""
    stages: dict[str, dict] = summary.get("stages", {})
    lines: list[str] = []
    title = f"Pipeline report — {summary.get('pipeline', '?')}"
    lines.append(title)
    lines.append("=" * len(title))
    header = f"{'stage':<16} {'rows out':>12} {'filtered':>12} {'filter %':>9}"
    lines.append(header)
    lines.append("-" * len(header))
    prev_rows: int | None = None
    for name in STAGE_ORDER:
        m = stages.get(name)
        if not m:
            continue
        rows = int(m.get("rows", 0))
        filtered = (prev_rows - rows) if prev_rows is not None else 0
        rate = (filtered / prev_rows * 100) if prev_rows else 0.0
        lines.append(f"{name:<16} {rows:>12,} {filtered:>12,} {rate:>8.1f}%")
        prev_rows = rows
    lines.append("-" * len(header))
    lines.append(f"duration: {summary.get('duration_seconds', '?')}s")
    tok = summary.get("tokenization") or {}
    if tok:
        lines.append(f"tokenizer: {tok.get('algorithm', '?')} vocab={tok.get('vocab_size', '?')}")
    if summary.get("output_path"):
        lines.append(f"output: {summary['output_path']}")
    return "\n".join(lines)


def print_report(summary: dict[str, Any]) -> None:
    print(render_report(summary))


def save_metrics(summary: dict[str, Any], path: str) -> None:
    """O6: persist metrics as JSON (metrics.py:153-170)."""
    with open(path, "w") as f:
        json.dump(summary, f, indent=2, default=str)
