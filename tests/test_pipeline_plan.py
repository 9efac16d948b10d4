"""End-to-end pipeline plan tests (O1-O9): composition, observers, sinks."""

from __future__ import annotations

import json
import os

from llm_training_data_pipeline_spark.plans.config import PipelineConfig
from llm_training_data_pipeline_spark.plans.pipeline import run_pipeline


def test_config_dot_paths(tmp_path):
    cfg = PipelineConfig()
    assert cfg.get("deduplication.algorithm") == "minhash_lsh"
    cfg.set("deduplication.algorithm", "exact_hash")
    assert cfg.get("deduplication.algorithm") == "exact_hash"
    assert cfg.get("nope.missing", 42) == 42
    # YAML round trip
    p = tmp_path / "cfg.yaml"
    p.write_text("quality:\n  min_words: 5\ncleaning:\n  min_length_chars: 10\n")
    cfg2 = PipelineConfig.load(str(p))
    assert cfg2.get("quality.min_words") == 5
    assert cfg2.get("cleaning.min_length_chars") == 10
    assert cfg2.get("tokenization.vocab_size") == 32_000  # defaults survive
    # a key the engine no longer reads still loads (and changes nothing)
    p.write_text("cleaning:\n  remove_wiki_markup: false\n")
    cfg3 = PipelineConfig.load(str(p))
    assert cfg3.get("cleaning.remove_wiki_markup") is False
    assert cfg3.get("cleaning.min_length_chars") == 100


def test_run_pipeline_end_to_end(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {"algorithm": "exact_hash"},
            "quality": {"min_words": 10},
            "tokenization": {"vocab_size": 500, "min_frequency": 2},
        }
    )
    out_dir = str(tmp_path / "out")
    summary = run_pipeline(spark, docs, cfg, out_dir)

    assert summary["stages"]["ingest"]["rows"] == 500
    assert 0 < summary["stages"]["quality"]["rows"] <= summary["stages"]["clean"]["rows"]
    assert summary["tokenization"]["vocab_size"] <= 500

    out = spark.read.parquet(os.path.join(out_dir, "pipeline_output.parquet"))
    assert out.count() == summary["stages"]["quality"]["rows"]
    assert "tokens" in out.columns and "token_count" in out.columns

    with open(os.path.join(out_dir, "pipeline_summary.json")) as f:
        assert json.load(f)["stages"]["ingest"]["rows"] == 500


def test_run_pipeline_minhash_path(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {"algorithm": "minhash_lsh", "num_permutations": 32, "num_bands": 8},
            "quality": {"min_words": 10},
            "tokenization": {"enabled": False},
        }
    )
    summary = run_pipeline(spark, docs, cfg, None)
    assert summary["stages"]["dedup"]["rows"] <= summary["stages"]["clean"]["rows"]
    assert summary["stages"]["quality"]["rows"] > 0


def test_report_rendering():
    from llm_training_data_pipeline_spark.plans.report import render_report

    summary = {
        "pipeline": "t",
        "duration_seconds": 1.5,
        "stages": {
            "ingest": {"rows": 100},
            "clean": {"rows": 90},
            "quality": {"rows": 80},
        },
        "tokenization": {"algorithm": "bpe", "vocab_size": 99},
    }
    out = render_report(summary)
    assert "ingest" in out and "90" in out and "10.0%" in out and "vocab=99" in out


def test_report_covers_every_observed_stage():
    """Every Observation name build_pipeline can emit must appear in
    STAGE_ORDER — a stage missing from the list silently drops its row
    from the report (script_mix did exactly that in r7)."""
    import re

    from llm_training_data_pipeline_spark.plans import pipeline as pl
    from llm_training_data_pipeline_spark.plans.report import STAGE_ORDER

    src = open(pl.__file__).read()
    observed = set(re.findall(r'obs\["(\w+)"\] = Observation', src))
    missing = observed - set(STAGE_ORDER)
    assert not missing, f"stages observed but absent from STAGE_ORDER: {missing}"


def test_stats_survive_empty_input(spark):
    """ANSI mode: aggregates over empty inputs must not DIVIDE_BY_ZERO."""
    from llm_training_data_pipeline_spark.operators.cleaning import (
        CleanerConfig,
        clean_documents,
        cleaning_stats,
    )
    from llm_training_data_pipeline_spark.operators.tokenize import (
        tokenization_stats,
        tokenize_documents,
        train_bpe_from_word_counts,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    row = cleaning_stats(clean_documents(empty, "text", CleanerConfig())).collect()[0]
    assert row["n_docs"] == 0 and row["reduction_pct"] == 0.0
    tok = train_bpe_from_word_counts([("word", 5)], vocab_size=50)
    out = tokenize_documents(empty, tok)
    srow = tokenization_stats(out, tok).collect()[0]
    assert srow["total_documents"] == 0
    assert srow["avg_tokens_per_doc"] is None


def test_pipeline_extension_stages(spark, tmp_path):
    """perplexity_filter (the reference's dead knob, live), decontamination,
    and stratified sampling compose into the same lazy plan when enabled."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # benchmark = a handful of real docs → decontamination must drop them
    # (every doc trivially shares 8-grams with itself)
    bench_path = str(tmp_path / "bench")
    docs.filter("doc_id % 100 = 0").write.parquet(bench_path)
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {"enabled": False},
            "quality": {
                "min_words": 10,
                "perplexity_filter": {"enabled": True, "max_perplexity": 1e9},
            },
            "decontamination": {"enabled": True, "benchmark_path": bench_path},
            "sampling": {"enabled": True, "rates": {"en": 0.5}, "default_rate": 1.0},
            "tokenization": {"enabled": False},
        }
    )
    summary = run_pipeline(spark, docs, cfg, None)
    st = summary["stages"]
    assert st["perplexity"]["rows"] <= st["quality"]["rows"]
    assert st["decontaminate"]["rows"] < st["perplexity"]["rows"], (
        "benchmark members must be dropped as contaminated"
    )
    assert st["sample"]["rows"] < st["decontaminate"]["rows"]


def test_perplexity_filter_actually_filters(spark):
    """A tight max_perplexity must cut high-surprisal (rare-vocab) docs."""
    from pyspark.sql import functions as F  # noqa: F401

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    loose = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {"enabled": False},
            "quality": {
                "min_words": 10,
                "perplexity_filter": {"enabled": True, "max_perplexity": 1e9},
            },
            "tokenization": {"enabled": False},
        }
    )
    tight = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {"enabled": False},
            "quality": {
                "min_words": 10,
                # corpus surprisal spans ~[3.39, 3.72] → perplexity
                # [29.6, 41.1]; 30 cuts most docs but not all
                "perplexity_filter": {"enabled": True, "max_perplexity": 30.0},
            },
            "tokenization": {"enabled": False},
        }
    )
    n_loose = run_pipeline(spark, docs, loose, None)["stages"]["perplexity"]["rows"]
    n_tight = run_pipeline(spark, docs, tight, None)["stages"]["perplexity"]["rows"]
    assert n_tight < n_loose


def test_pipeline_minhash_keep_best_algorithm(spark):
    """deduplication.algorithm=minhash_keep_best keeps the best-quality
    member of a duplicate pair instead of the smallest id."""
    from llm_training_data_pipeline_spark.plans.config import PipelineConfig
    from llm_training_data_pipeline_spark.plans.pipeline import build_pipeline

    good = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest towards the shining river every morning "
    ) * 4
    rows = [
        (1, good + "1 1 1 1 1 1 1 1 1 1 1 1"),  # duplicate, digit-noisy tail
        (2, good + "with a clean informative closing sentence here."),
        (3, "a completely different document about query planning and "
            "broadcast joins in distributed execution engines " * 4),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {
                "algorithm": "minhash_keep_best",
                "num_permutations": 32,
                "num_bands": 8,
                "threshold": 0.5,
            },
            "quality": {"enabled": False},
            "tokenization": {"enabled": False},
        }
    )
    out, _obs = build_pipeline(docs, cfg)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert 3 in ids
    assert len([i for i in ids if i in (1, 2)]) == 1  # one of the pair survives
    assert 2 in ids  # and it is the higher-quality one


def test_output_shuffle_stage_keeps_metrics_exact(spark, tmp_path):
    """The output shuffle's range partitioner samples its input; without
    the pre-shuffle materialization that sampling pass re-executed the
    whole pipeline and DOUBLED every Observation stage count (and a
    localCheckpoint instead zeroed them — RDD jobs bypass SQL
    observation events). Pin: stage rows with shuffle on == rows with
    shuffle off, and the written shards are keyed and complete."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = {
        "cleaning": {"min_length_chars": 50},
        "deduplication": {"algorithm": "exact_hash"},
        "quality": {"min_words": 10},
        "tokenization": {"enabled": False},
    }
    plain = run_pipeline(spark, docs, PipelineConfig(dict(base)), None)
    out_dir = str(tmp_path / "shuffled")
    shuffled = run_pipeline(
        spark,
        docs,
        PipelineConfig({**base, "output": {"shuffle": {"enabled": True, "seed": 7}}}),
        out_dir,
    )
    for stage in ("ingest", "clean", "dedup", "quality"):
        assert shuffled["stages"][stage]["rows"] == plain["stages"][stage]["rows"]
    out = spark.read.parquet(os.path.join(out_dir, "pipeline_output.parquet"))
    assert out.count() == plain["stages"]["quality"]["rows"]
    assert "shuffle_key" in out.columns


def test_span_removal_stage_composes(spark):
    """deduplication.span_removal: action=remove rewrites text (shared
    chunks survive once), action=filter drops docs over the dup budget;
    both report a span_dedup stage row."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = {
        "cleaning": {"min_length_chars": 50},
        "quality": {"enabled": False},
        "tokenization": {"enabled": False},
    }
    cfg_remove = PipelineConfig(
        {
            **base,
            "deduplication": {
                "enabled": False,
                "span_removal": {"enabled": True, "window": 8},
            },
        }
    )
    s1 = run_pipeline(spark, docs, cfg_remove, None)
    assert "span_dedup" in s1["stages"]
    assert s1["stages"]["span_dedup"]["rows"] > 0

    cfg_filter = PipelineConfig(
        {
            **base,
            "deduplication": {
                "enabled": False,
                "span_removal": {
                    "enabled": True,
                    "window": 8,
                    "action": "filter",
                    "max_dup_fraction": 0.0,
                },
            },
        }
    )
    s2 = run_pipeline(spark, docs, cfg_filter, None)
    # fraction budget 0.0: every doc with ANY cross-doc duplicated span
    # drops, so the filter form must keep fewer-or-equal rows
    assert s2["stages"]["span_dedup"]["rows"] <= s1["stages"]["span_dedup"]["rows"]


def test_tokenization_pack_stage_writes_sequences(spark, tmp_path):
    """tokenization.pack emits a packed_sequences.parquet artifact whose
    sequences are full seq_len windows (except possibly the last)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {"enabled": False},
            "quality": {"enabled": False},
            "tokenization": {
                "enabled": True,
                "algorithm": "byte_bpe",
                "vocab_size": 500,
                "pack": {"enabled": True, "seq_len": 256},
            },
        }
    )
    out_dir = str(tmp_path / "out")
    summary = run_pipeline(spark, docs, cfg, out_dir)
    packed_path = summary["tokenization"]["packed_path"]
    packed = spark.read.parquet(packed_path)
    n = packed.count()
    assert n > 1
    full = packed.filter("n_tokens = 256").count()
    assert full >= n - 1  # only the final window may be partial


def test_stage_metrics_exact_when_downstream_stage_empties_corpus(spark):
    """Regression: with tokenization enabled, the training aggregate used
    to be the FIRST action on the observed plan — Observation.get latches
    that action's metrics, and under AQE empty-relation propagation an
    all-filtering quality stage reported dedup rows: 0 even though the
    dedup stage really passed rows. The pre-train persist+count must
    report every upstream stage's true count."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {"algorithm": "exact_hash"},
            "quality": {"min_words": 10_000},  # nothing survives
            "tokenization": {"vocab_size": 300},
        }
    )
    summary = run_pipeline(spark, docs, cfg, None)
    st = summary["stages"]
    assert st["quality"]["rows"] == 0
    assert st["ingest"]["rows"] == 500
    assert st["clean"]["rows"] > 0
    assert st["dedup"]["rows"] > 0, "upstream stage metric lost to first-action latching"
    assert st["dedup"]["rows"] <= st["clean"]["rows"]


def test_perplexity_filter_bigram_model(spark):
    """quality.perplexity_filter.model: bigram routes scoring through
    the interpolated bigram LM; a tight threshold must drop the
    word-salad docs while the permissive default keeps everything."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = {
        "cleaning": {"min_length_chars": 10},
        "deduplication": {"enabled": False},
        "quality": {
            "min_words": 5,
            "perplexity_filter": {"enabled": True, "model": "bigram"},
        },
        "tokenization": {"enabled": False},
    }
    loose = run_pipeline(spark, docs, PipelineConfig(base), None)
    assert loose["stages"]["perplexity"]["rows"] > 0

    tight = {**base, "quality": {**base["quality"], "perplexity_filter": {"enabled": True, "model": "bigram", "max_perplexity": 1.5}}}
    strict = run_pipeline(spark, docs, PipelineConfig(tight), None)
    assert strict["stages"]["perplexity"]["rows"] < loose["stages"]["perplexity"]["rows"]

    import pytest as _pytest

    bad = {**base, "quality": {**base["quality"], "perplexity_filter": {"enabled": True, "model": "trigram"}}}
    with _pytest.raises(ValueError, match="unigram, bigram"):
        run_pipeline(spark, docs, PipelineConfig(bad), None)


def test_stage_metrics_exact_without_tokenization(spark):
    """Tokenization disabled → the sink write is the single (complete)
    action; stage counts must still be exact when a later stage empties
    the corpus (the first-action-latching fix only persists on the
    tokenization path — this pins that the write path needs no guard)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {"algorithm": "exact_hash"},
            "quality": {"min_words": 10_000},
            "tokenization": {"enabled": False},
        }
    )
    summary = run_pipeline(spark, docs, cfg, None)
    st = summary["stages"]
    assert st["quality"]["rows"] == 0
    assert st["dedup"]["rows"] > 0
    assert st["clean"]["rows"] > 0


def test_dataset_card_sections_and_numbers(spark, tmp_path):
    from llm_training_data_pipeline_spark.plans.card import write_dataset_card
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    path = str(tmp_path / "CARD.md")
    md = write_dataset_card(docs, path, name="sf0.001-docs")
    assert open(path).read() == md
    for section in ("# Dataset card", "## Size", "## Source mix",
                    "## Language mix", "## Duplication", "## Quality"):
        assert section in md, section
    n = docs.count()
    assert f"documents: {n:,}" in md


def test_source_cap_and_entropy_stages_gate(spark):
    """The two fourth-wave config stages: default-off is a no-op; when
    enabled the caps bound per-source counts and the entropy gate drops
    repetitive text, with their Observation rows in the summary."""
    from llm_training_data_pipeline_spark.plans.config import PipelineConfig
    from llm_training_data_pipeline_spark.plans.pipeline import build_pipeline

    rows = []
    for i in range(40):
        body = ("real words with varied letters number %d " % i) * 8
        rows.append((i, body, "en", f"s{i % 2}"))
    rows.append((100, "aaaaaaaaaa " * 40, "en", "s0"))  # near-zero entropy
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    base_cfg = {
        "cleaning": {"min_length_chars": 10, "normalize_unicode": False,
                     "fix_encoding": False},
        "deduplication": {"enabled": False},
        "quality": {"min_words": 5, "max_words": 100000,
                    "min_avg_word_length": 1.0},
    }
    off, _ = build_pipeline(docs, PipelineConfig(dict(base_cfg)))
    n_off = off.count()
    cfg = dict(base_cfg)
    cfg["sampling"] = {"source_cap": {"enabled": True, "max_per_stratum": 5}}
    cfg["quality"] = dict(base_cfg["quality"], entropy_filter={
        "enabled": True, "min_entropy": 1.5})
    on, obs = build_pipeline(docs, PipelineConfig(cfg))
    out = on.collect()
    assert {"source_cap", "entropy"} <= set(obs)
    per = {}
    for r in out:
        per[r["source"]] = per.get(r["source"], 0) + 1
    assert all(v <= 5 for v in per.values()), per
    assert all(r["doc_id"] != 100 for r in out), "low-entropy doc must drop"
    assert n_off > len(out)


def test_script_mix_filter_stage_gates(spark):
    """r7 config stage: default-off is a no-op; enabled, a document
    whose dominant script holds < min_dominant_permille of script chars
    drops, single-script documents pass, and the Observation row lands
    in the summary."""
    from llm_training_data_pipeline_spark.plans.config import PipelineConfig
    from llm_training_data_pipeline_spark.plans.pipeline import build_pipeline

    clean = "plain latin words repeated for body length " * 4
    mixed = ("word кирилица " * 14).strip()  # ~50/50 latin+cyrillic
    docs = spark.createDataFrame(
        [(1, clean, "en", "s0"), (2, mixed, "en", "s0")],
        "doc_id long, text string, lang string, source string",
    )
    base_cfg = {
        "cleaning": {"min_length_chars": 10, "normalize_unicode": False,
                     "fix_encoding": False},
        "deduplication": {"enabled": False},
        "quality": {"min_words": 5, "max_words": 100000,
                    "min_avg_word_length": 1.0},
    }
    off, _ = build_pipeline(docs, PipelineConfig(dict(base_cfg)))
    assert off.count() == 2
    cfg = dict(base_cfg)
    cfg["quality"] = dict(base_cfg["quality"], script_mix_filter={
        "enabled": True, "min_dominant_permille": 800})
    on, obs = build_pipeline(docs, PipelineConfig(cfg))
    out = on.collect()
    assert "script_mix" in obs
    assert [r["doc_id"] for r in out] == [1], out
    assert "script_mixed" not in on.columns  # helper columns dropped


def test_dataset_card_empty_corpus_no_crash(spark):
    """The all-filtered case: zero rows must render zeros/n-a, not
    TypeError on NULL aggregates."""
    from llm_training_data_pipeline_spark.plans.card import dataset_card

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string"
    )
    md = dataset_card(docs, name="empty")
    assert "documents: 0" in md and "n/a" in md
    assert "0.0%" in md


def test_dsir_stage_gates(spark):
    """r8 config stage: default-off is a no-op; enabled, the pipeline
    keeps ceil-ish keep_fraction of survivors selected by DSIR
    importance (target-language resemblance), deterministically, and
    the Observation row lands in the summary."""
    from llm_training_data_pipeline_spark.plans.config import PipelineConfig
    from llm_training_data_pipeline_spark.plans.pipeline import build_pipeline

    rows = []
    for i in range(20):
        lang = "en" if i % 2 == 0 else "de"
        text = (
            "the quick brown fox jumps over the lazy dog " * 3
            if lang == "en"
            else "der schnelle braune fuchs springt ueber den faulen hund " * 3
        )
        rows.append((i, text + f"tail{i}", lang, "s0"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    base_cfg = {
        "cleaning": {"min_length_chars": 10, "normalize_unicode": False,
                     "fix_encoding": False},
        "deduplication": {"enabled": False},
        "quality": {"min_words": 5, "max_words": 100000,
                    "min_avg_word_length": 1.0},
    }
    off, _ = build_pipeline(docs, PipelineConfig(dict(base_cfg)))
    assert off.count() == 20
    cfg = dict(base_cfg)
    cfg["dsir"] = {"enabled": True, "target_lang": "en", "keep_fraction": 0.5}
    on, obs = build_pipeline(docs, PipelineConfig(cfg))
    kept = sorted(r["doc_id"] for r in on.collect())
    assert "dsir" in obs
    assert len(kept) == 10
    # deterministic: the same ids survive on a second build
    on2, _ = build_pipeline(docs, PipelineConfig(dict(cfg)))
    assert sorted(r["doc_id"] for r in on2.collect()) == kept
    # the selection leans target: en docs (importance > 1) dominate
    n_en = sum(1 for i in kept if i % 2 == 0)
    assert n_en > len(kept) // 2, kept


def test_pipeline_soft_dedup_modes_keep_rows_and_weight(spark):
    """soft_exact / soft_minhash keep EVERY row and attach a
    1/n-duplicates ppm weight; the dedup observation reports the
    effective (weighted) corpus mass."""
    from llm_training_data_pipeline_spark.plans.config import PipelineConfig
    from llm_training_data_pipeline_spark.plans.pipeline import build_pipeline

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest towards the shining river every morning "
    ) * 4
    rows = [
        (1, base),
        (2, base),  # exact duplicate of 1
        (3, "a completely different document about query planning and "
            "broadcast joins in distributed execution engines " * 4),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for algo in ("soft_exact", "soft_minhash"):
        cfg = PipelineConfig(
            {
                "cleaning": {"min_length_chars": 50},
                "deduplication": {
                    "algorithm": algo,
                    "num_permutations": 32,
                    "num_bands": 8,
                    "threshold": 0.5,
                },
                "quality": {"enabled": False},
                "tokenization": {"enabled": False},
            }
        )
        out, obs = build_pipeline(docs, cfg)
        got = {r["doc_id"]: r["soft_weight_ppm"] for r in out.collect()}
        assert sorted(got) == [1, 2, 3], algo  # nothing dropped
        assert got[1] == 500000 and got[2] == 500000, algo
        assert got[3] == 1000000, algo
        m = obs["dedup"].get
        assert m["rows"] == 3, algo
        assert m["effective_docs_ppm"] == 2000000, algo


def test_pipeline_soft_sample_stage(spark):
    """deduplication.soft_sample applies the weighted sampler to the
    soft weights (duplicates thinned to ~one doc's mass, singletons
    always kept: weight 1.0 clears every sample key) and refuses
    non-soft algorithms."""
    import pytest as _pytest

    from llm_training_data_pipeline_spark.plans.config import PipelineConfig
    from llm_training_data_pipeline_spark.plans.pipeline import build_pipeline

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest towards the shining river every morning "
    ) * 4
    # ids 1..40 share one digest; 100..102 unique
    rows = [(i, base) for i in range(1, 41)] + [
        (100 + i, f"distinct document number {i} about catalyst planning "
                  "and broadcast joins in distributed engines " * 4)
        for i in range(3)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {
                "algorithm": "soft_exact",
                "soft_sample": {"enabled": True},
            },
            "quality": {"enabled": False},
            "tokenization": {"enabled": False},
        }
    )
    out, obs = build_pipeline(docs, cfg)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert {100, 101, 102} <= kept  # singletons never thinned
    n_dup_kept = len(kept - {100, 101, 102})
    assert 1 <= n_dup_kept <= 6, n_dup_kept  # 40 copies at 1/40 weight
    assert obs["soft_sample"].get["rows"] == len(kept)

    bad = PipelineConfig(
        {
            "deduplication": {
                "algorithm": "minhash_lsh",
                "soft_sample": {"enabled": True},
            },
            "quality": {"enabled": False},
            "tokenization": {"enabled": False},
        }
    )
    with _pytest.raises(ValueError, match="soft_sample requires"):
        build_pipeline(docs, bad)


def test_paragraph_dedup_stage_gates(spark):
    """r8 config stage: default-off is a no-op; enabled, a paragraph
    repeated from an earlier doc is excised (the doc survives with its
    unique content) and the Observation row lands in the summary."""
    from llm_training_data_pipeline_spark.plans.config import PipelineConfig
    from llm_training_data_pipeline_spark.plans.pipeline import build_pipeline

    boiler = "subscribe banner text shared across every page of the site"
    docs = spark.createDataFrame(
        [
            (1, boiler + "\n\nunique first article body with real words here", "en", "s0"),
            (2, boiler + "\n\nsecond article body equally unique and wordy", "en", "s0"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    base_cfg = {
        "cleaning": {"min_length_chars": 10, "normalize_unicode": False,
                     "fix_encoding": False},
        "deduplication": {"enabled": False},
        # quality off: its line-count repetition heuristic reads a
        # 3-distinct-line doc as 1/3 > 0.3 — orthogonal to this stage
        "quality": {"enabled": False},
    }
    off, _ = build_pipeline(docs, PipelineConfig(dict(base_cfg)))
    assert all(boiler in r["text"] for r in off.collect())
    cfg = dict(base_cfg)
    cfg["deduplication"] = {"enabled": False, "paragraph_dedup": {"enabled": True}}
    on, obs = build_pipeline(docs, PipelineConfig(cfg))
    out = {r["doc_id"]: r["text"] for r in on.collect()}
    assert "paragraph_dedup" in obs
    assert boiler in out[1]          # first occurrence kept
    assert boiler not in out[2]      # repeat excised
    assert "unique" in out[1] and "second article" in out[2]


def test_ngram_repetition_filter_stage_gates(spark):
    """r8 config stage: default-off is a no-op; enabled, a doc violating
    the Gopher dup-5-gram ceiling drops, clean prose passes, and helper
    columns do not leak."""
    from llm_training_data_pipeline_spark.plans.config import PipelineConfig
    from llm_training_data_pipeline_spark.plans.pipeline import build_pipeline

    # long enough that no single n-gram covers a big char share (the
    # Gopher ceilings assume real-length docs; a 15-word doc fails
    # top-3 on any one long phrase)
    clean = (
        "thoughtful prose with steadily varying vocabulary keeps every "
        "phrase fresh across the entire document body while careful "
        "authors introduce new terminology in each successive sentence "
        "and readers encounter different ideas throughout the whole "
        "piece because genuine writing rarely recycles identical "
        "wording between neighbouring passages or repeats openings"
    )
    loop = ("one two three four five six seven " * 12).strip()
    docs = spark.createDataFrame(
        [(1, clean, "en", "s0"), (2, loop, "en", "s0")],
        "doc_id long, text string, lang string, source string",
    )
    base_cfg = {
        "cleaning": {"min_length_chars": 10, "normalize_unicode": False,
                     "fix_encoding": False},
        "deduplication": {"enabled": False},
        "quality": {"min_words": 5, "max_words": 100000,
                    "min_avg_word_length": 1.0},
    }
    off, _ = build_pipeline(docs, PipelineConfig(dict(base_cfg)))
    assert off.count() == 2
    cfg = dict(base_cfg)
    cfg["quality"] = dict(base_cfg["quality"],
                          ngram_repetition_filter={"enabled": True})
    on, obs = build_pipeline(docs, PipelineConfig(cfg))
    out = on.collect()
    assert "ngram_repetition" in obs
    assert [r["doc_id"] for r in out] == [1], out
    assert "ngram_repetition_pass" not in on.columns
    assert "dup_5gram_char_frac" not in on.columns


def test_chat_marker_filter_stage(spark):
    docs = spark.createDataFrame(
        [
            (0, " ".join(["clean prose word"] * 20), "en", "s"),
            (1, " ".join(["fine text here"] * 20) + " <|im_start|>leak", "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    base = {
        "cleaning": {"min_length_chars": 10},
        "deduplication": {"enabled": False},
        "quality": {"min_words": 5},
        "tokenization": {"enabled": False},
    }
    off = run_pipeline(spark, docs, PipelineConfig(base), None)
    assert "chat_marker" not in off["stages"]  # default-off no-op
    on_cfg = dict(base)
    on_cfg["quality"] = {"min_words": 5, "chat_marker_filter": {"enabled": True}}
    on = run_pipeline(spark, docs, PipelineConfig(on_cfg), None)
    assert on["stages"]["chat_marker"]["rows"] == 1  # the leak dropped


def test_prefix_hash_dedup_mode(spark):
    body = " ".join(f"w{i}" for i in range(80))
    docs = spark.createDataFrame(
        [
            (0, body + " original tail", "en", "s"),
            (1, body + " mirror footer variant", "en", "s"),
            (2, "a different document entirely " * 10, "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 10},
            "deduplication": {"algorithm": "prefix_hash", "prefix_chars": 256},
            "quality": {"min_words": 5},
            "tokenization": {"enabled": False},
        }
    )
    summary = run_pipeline(spark, docs, cfg, None)
    assert summary["stages"]["dedup"]["rows"] == 2  # the mirror collapsed


def test_code_exempt_routes_code_past_prose_gates(spark):
    """quality.code_exempt: a code document the prose gates reject
    (min_words, symbol ratio) survives when the two-of-three code vote
    flags it; prose junk still gates; keep_flag exposes is_code."""
    from llm_training_data_pipeline_spark.plans.pipeline import build_pipeline
    from pyspark.sql import functions as F

    code = (
        "def f(x):\n    return x * 2\n"
        "class A:\n    def g(self):\n        if x == 1:\n            return []\n"
    ) * 3
    prose_ok = (
        "this is a perfectly ordinary paragraph of english text with "
        "plenty of common words that the quality battery accepts "
    ) * 5
    junk = "zxqv " * 6
    docs = spark.createDataFrame(
        [(0, code, "en", "s"), (1, prose_ok, "en", "s"), (2, junk, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    base = {
        "cleaning": {"min_length_chars": 20, "normalize_unicode": False,
                     "fix_encoding": False},
        "deduplication": {"enabled": False},
        "quality": {"enabled": True, "min_words": 30},
    }
    off, _ = build_pipeline(docs, PipelineConfig(base))
    assert sorted(r["doc_id"] for r in off.select("doc_id").collect()) == [1]
    on_cfg = dict(base)
    on_cfg["quality"] = {
        "enabled": True,
        "min_words": 30,
        "code_exempt": {"enabled": True, "keep_flag": True},
    }
    on, _ = build_pipeline(docs, PipelineConfig(on_cfg))
    rows = {r["doc_id"]: r for r in on.select("doc_id", "is_code").collect()}
    assert sorted(rows) == [0, 1]  # code exempted, junk still gated
    assert rows[0]["is_code"] is True
    assert rows[1]["is_code"] is False


def test_run_pipeline_holdout_stage(spark, tmp_path):
    """holdout.enabled: eval rows land in holdout.parquet, the main
    output keeps only train rows, the split columns are stripped from
    both sinks, the stage observation reports eval/rejected counts, and
    the eval/train normalized-text digest sets are disjoint."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {"enabled": False},
            "quality": {"min_words": 10},
            "tokenization": {"enabled": False},
            "holdout": {"enabled": True, "per_source": 3},
        }
    )
    out_dir = str(tmp_path / "hout")
    summary = run_pipeline(spark, docs, cfg, out_dir)
    h = summary["stages"]["holdout"]
    assert h["rows"] > 0 and h["eval_rows"] > 0
    assert summary["holdout_path"].endswith("holdout.parquet")

    ev = spark.read.parquet(summary["holdout_path"])
    tr = spark.read.parquet(os.path.join(out_dir, "pipeline_output.parquet"))
    assert ev.count() == h["eval_rows"]
    assert tr.count() == h["rows"] - h["eval_rows"]
    for col in ("split", "reject_reason"):
        assert col not in ev.columns and col not in tr.columns
    # per-source quota respected
    from pyspark.sql import functions as F

    per_src = {r["source"]: r["count"] for r in ev.groupBy("source").count().collect()}
    assert all(v <= 3 for v in per_src.values()), per_src
    # exact-digest disjointness between the two sinks
    ev_dg = {r[0] for r in ev.select(F.md5(F.lower(F.trim("text")))).collect()}
    tr_dg = {r[0] for r in tr.select(F.md5(F.lower(F.trim("text")))).collect()}
    assert not (ev_dg & tr_dg)


def test_run_pipeline_holdout_inline_column(spark):
    """separate_output=False keeps the tagged frame in one output: the
    split column survives to the sink."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 50},
            "deduplication": {"enabled": False},
            "quality": {"min_words": 10},
            "tokenization": {"enabled": False},
            "holdout": {
                "enabled": True,
                "per_source": 3,
                "separate_output": False,
            },
        }
    )
    summary = run_pipeline(spark, docs, cfg, None)
    assert summary["stages"]["holdout"]["eval_rows"] > 0


def test_run_pipeline_holdout_excludes_eval_from_training_artifacts(
    spark, tmp_path
):
    """ADVICE r10: with holdout enabled, the TRAINING artifacts — the
    tokenizer's learned vocab and the packed training sequences — must
    be derived from the train split only. Marker words ('zebra',
    'quokka') appear ONLY in the two eval docs, frequently enough that
    a leak-trained BPE would certainly learn them as merges and the
    packed stream would certainly contain them."""
    rows = []
    for i in range(30):
        rows.append(
            (
                i,
                "the quick brown fox jumps over the lazy dog "
                f"variant number {i} with extra filler words here",
                "tr",
            )
        )
    # the tiny source sits entirely inside the quota -> both docs eval
    marker = " ".join(f"zebra quokka token{j}" for j in range(60))
    rows.append((100, marker + " first", "ev"))
    rows.append((101, marker + " second", "ev"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    cfg = PipelineConfig(
        {
            "cleaning": {"min_length_chars": 10},
            "deduplication": {"enabled": False},
            "quality": {"enabled": False},
            "tokenization": {
                "enabled": True,
                "vocab_size": 400,
                "min_frequency": 2,
                "pack": {"enabled": True, "seq_len": 16},
            },
            "holdout": {"enabled": True, "per_source": 10},
        }
    )
    out_dir = str(tmp_path / "noleak")
    summary = run_pipeline(spark, docs, cfg, out_dir)
    # 10 of the 30 'tr' docs + both 'ev' docs make the quota
    assert summary["stages"]["holdout"]["eval_rows"] == 12

    from llm_training_data_pipeline_spark.operators.tokenize import (
        BpeTokenizer,
    )

    tok = BpeTokenizer.load(summary["tokenization"]["tokenizer_path"])
    leaked_vocab = [
        t for t in tok.vocab if "zebra" in t or "quokka" in t or "zebr" in t
    ]
    assert not leaked_vocab, leaked_vocab

    packed = spark.read.parquet(summary["tokenization"]["packed_path"])
    ids = [
        i
        for r in packed.select("input_ids").collect()
        for i in r["input_ids"]
    ]
    text = tok.decode(ids)
    assert "zebra" not in text and "quokka" not in text
    assert "fox" in text  # train text did flow through pack
    # eval rows still ship ENCODED in the holdout sink (consumption,
    # not training): both marker docs are there
    ev = spark.read.parquet(summary["holdout_path"])
    assert ev.count() == 12
    ev_ids = {r["doc_id"] for r in ev.select("doc_id").collect()}
    assert {100, 101} <= ev_ids


def _leaky_docs(spark):
    """Corpus with a deliberate paraphrase leak: both 'ev' docs are
    near-dup variants of a 'tr' doc (different footnotes — exact-digest
    decontamination can NOT catch them), plus unique train filler."""
    base = (
        "the annual sustainability report details emissions reductions "
        "across manufacturing logistics and procurement with verified "
        "third party auditing of scope one and scope two categories"
    )
    rows = [(100, base + " footnote alpha", "ev"),
            (101, base + " footnote beta", "ev"),
            (7, base + " footnote gamma", "tr")]
    rows += [(i, f"wholly unrelated train document number {i} about subject "
              f"{i * 11} with enough words to pass the gates", "tr")
             for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


_GATE_CFG = {
    "cleaning": {"min_length_chars": 10},
    "deduplication": {"enabled": False},
    "quality": {"enabled": False},
    "tokenization": {"enabled": False},
    "holdout": {"enabled": True, "per_source": 2, "max_leakage_ppm": 0},
}


def test_holdout_leakage_gate_trips(spark, tmp_path):
    """VERDICT r10 #5: an injected near-dup leak FAILS the run before
    any sink write — enforcement, not just measurement."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="leakage gate"):
        run_pipeline(spark, _leaky_docs(spark), PipelineConfig(_GATE_CFG),
                     str(tmp_path / "leaky"))
    # nothing shipped
    assert not (tmp_path / "leaky" / "pipeline_output.parquet").exists()


def test_holdout_leakage_gate_warn_records_ppm(spark):
    cfg = dict(_GATE_CFG)
    cfg["holdout"] = dict(_GATE_CFG["holdout"], leakage_action="warn")
    summary = run_pipeline(spark, _leaky_docs(spark), PipelineConfig(cfg), None)
    assert summary["holdout_leakage_ppm"] > 0


def test_holdout_leakage_gate_clean_corpus_passes(spark):
    """VERDICT r11 #1: the gate must NOT false-positive on a genuinely
    clean corpus.  The r11 fixture (`term{i}word{j}unique`) was wrong for
    the engine's CHARACTER 5-shingles — docs shared "uniqu"/"word0"/... so
    the gate correctly fired.  This fixture gives every doc its own
    single-letter alphabet, so no 5-char substring can appear in two docs
    (verified below, in-test, with the same shingling the engine uses)."""
    texts = {i: " ".join(chr(ord("a") + i) * 8 for _ in range(12))
             for i in range(25)}
    # prove the fixture is clean for char-5-shingles before trusting the gate
    shingle_sets = {
        i: {t[k:k + 5] for k in range(len(t) - 4)} for i, t in texts.items()
    }
    for i in shingle_sets:
        for j in shingle_sets:
            if i < j:
                assert not (shingle_sets[i] & shingle_sets[j]), (i, j)
    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in texts.items()],
        "doc_id long, text string, source string",
    )
    summary = run_pipeline(spark, docs, PipelineConfig(_GATE_CFG), None)
    assert summary["holdout_leakage_ppm"] == 0
