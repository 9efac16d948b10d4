"""Config loader (SURVEY.md §2.6 O7).

Reference: singleton YAML tree with dot-path ``get``
(/root/reference/src/utils/config.py:12-125, configs/pipeline_config.yaml).
Same key layout here so a reference user's config file drops in unchanged;
``performance.*`` keys map onto ``spark.conf`` instead of being dead knobs
(the reference declares but never reads them, pipeline_config.yaml:94-98).
"""

from __future__ import annotations

import copy
from typing import Any

DEFAULT_CONFIG: dict[str, Any] = {
    "pipeline": {"name": "llm-data-pipeline-spark", "version": "0.1.0"},
    "paths": {
        "raw_data": "data/raw",
        "processed_data": "data/processed",
        "output_data": "data/output",
    },
    "ingestion": {"source": "simplewiki", "max_articles": None},
    "cleaning": {
        "remove_urls": True,
        "remove_emails": True,
        "remove_citations": True,
        "normalize_unicode": True,
        "fix_encoding": True,
        "normalize_whitespace": True,
        "min_length_chars": 100,
    },
    "deduplication": {
        "enabled": True,
        # minhash_lsh | minhash_keep_best | exact_hash | simhash |
        # soft_exact | soft_minhash (soft_* keep every row and add a
        # 1/n-duplicates soft_weight_ppm sampling-weight column)
        "algorithm": "minhash_lsh",
        "num_permutations": 128,
        "threshold": 0.8,
        "num_bands": 16,
        "shingle_size": 5,
        # cap each LSH band bucket at this many members (min-id keep) —
        # bounds the quadratic pair blowup of boilerplate bands at
        # scale; None = uncapped. Removal stays complete under the cap:
        # minhash_dedup unions the capped pairs with verified star
        # edges, so hot clusters beyond the cap still collapse (r12).
        # See dedup.minhash_band_buckets / dedup.minhash_dedup.
        "max_band_bucket": None,
    },
    "quality": {
        "enabled": True,
        "min_words": 50,
        "max_words": 100_000,
        "min_avg_word_length": 3.0,
        "max_avg_word_length": 15.0,
        "min_alphabetic_ratio": 0.7,
        "max_digit_ratio": 0.3,
        "max_symbol_ratio": 0.2,
        "language_filter": {"enabled": False, "allowed_languages": ["en"]},
        # declared-but-dead in the reference (pipeline_config.yaml:54-58);
        # LIVE here via corpus unigram surprisal: keep docs with
        # exp(avg_surprisal) <= max_perplexity
        "perplexity_filter": {"enabled": False, "max_perplexity": 100_000.0},
    },
    # engine-extension stages (no reference counterpart; off by default)
    "decontamination": {
        "enabled": False,
        "benchmark_path": None,
        "ngram_size": 8,
        "min_shared": 1,
    },
    "pii": {
        # engine extension: scrub detected PII before output.
        # action: "redact" replaces matches with type tokens (<EMAIL>, ...),
        # "drop" removes any document containing PII entirely.
        "enabled": False,
        "action": "redact",
    },
    "sampling": {
        "enabled": False,
        "strata_col": "lang",
        "rates": {},
        "default_rate": 1.0,
    },
    "dsir": {
        # engine extension: DSIR importance selection (Xie et al. 2023) —
        # keep the keep_fraction of surviving docs sampled ∝ resemblance
        # to the target-language slice (deterministic Gumbel-top-k)
        "enabled": False,
        "target_lang": "en",
        "keep_fraction": 0.25,
        "num_buckets": 10_000,
    },
    # engine extension: WET-ingest knobs (--input-format wet). The
    # domain blocklist is hierarchy-aware — an entry blocks the domain
    # and every subdomain (warc.domain_blocklist_filter)
    "wet": {"domain_blocklist": []},
    # engine extension: clean eval holdout (corpus.eval_holdout) —
    # per-source quota by the deterministic sample key + exact-digest
    # decontamination; separate_output writes eval rows to
    # holdout.parquet and keeps only train rows in the main output
    "holdout": {
        "enabled": False,
        "per_source": 50,
        "separate_output": True,
        # paraphrase-tier leakage GATE: when set, measure MinHash
        # near-dup pairs crossing the split and fail (or warn — see
        # leakage_action) if more than this many ppm of eval docs have
        # a twin outside eval. None = measure-on-demand only.
        "max_leakage_ppm": None,
        "leakage_action": "fail",  # fail | warn
        # the gate's own MinHash knobs (ADVICE r11 #5: discoverable, not
        # hardcoded fallbacks). threshold here is deliberately LOWER than
        # deduplication.threshold's 0.8 default: the gate measures the
        # paraphrase tier, so a corpus deduped at 0.8 can still trip a
        # max_leakage_ppm=0 gate on 0.5-0.8-similar cross-split pairs —
        # align the two if you want "deduped implies gate-clean"
        "leakage_minhash": {
            "num_permutations": 16,
            "threshold": 0.5,
            "shingle_size": 5,
            "num_bands": 4,
        },
    },
    "tokenization": {
        "enabled": True,
        "algorithm": "bpe",
        "vocab_size": 32_000,
        "min_frequency": 2,
    },
    # output.shuffle: seeded deterministic training-order randomization
    # applied just before the sink (corpus.corpus_shuffle)
    "output": {"format": "parquet", "shuffle": {"enabled": False, "seed": 42}},
    # live knobs here (dead in the reference): forwarded to spark.conf
    "performance": {"shuffle_partitions": None, "max_records_per_batch": 10_000},
}


class PipelineConfig:
    """Dot-path config view over nested dicts (config.py:42-87 semantics)."""

    def __init__(self, tree: dict[str, Any] | None = None):
        self._tree = _deep_merge(copy.deepcopy(DEFAULT_CONFIG), tree or {})

    @classmethod
    def load(cls, path: str | None = None) -> "PipelineConfig":
        if path is None:
            return cls()
        import yaml

        with open(path) as f:
            return cls(yaml.safe_load(f) or {})

    def get(self, dotted: str, default: Any = None) -> Any:
        node: Any = self._tree
        for part in dotted.split("."):
            if not isinstance(node, dict) or part not in node:
                return default
            node = node[part]
        return node

    def set(self, dotted: str, value: Any) -> None:
        parts = dotted.split(".")
        node = self._tree
        for part in parts[:-1]:
            node = node.setdefault(part, {})
        node[parts[-1]] = value

    def section(self, name: str) -> dict[str, Any]:
        return copy.deepcopy(self._tree.get(name, {}))

    def apply_spark_conf(self, spark) -> None:
        perf = self.section("performance")
        if perf.get("shuffle_partitions"):
            spark.conf.set("spark.sql.shuffle.partitions", str(perf["shuffle_partitions"]))
        if perf.get("max_records_per_batch"):
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                str(perf["max_records_per_batch"]),
            )


def _deep_merge(base: dict, override: dict) -> dict:
    for k, v in override.items():
        if isinstance(v, dict) and isinstance(base.get(k), dict):
            _deep_merge(base[k], v)
        else:
            base[k] = v
    return base
