"""End-to-end pipeline composition + metrics (SURVEY.md §2.6 O1-O9).

Reference: ``LLMDataPipeline.run`` (/root/reference/src/main.py:80-150)
materializes full Python lists between five eager stages. Here the whole
pipeline is ONE lazy DataFrame chain — Catalyst fuses the cleaning, quality
and projection stages into a couple of codegen'd stages with shuffles only
at dedup and (optionally) the tokenizer's word-count aggregate. Stage "row
counts" come from ``Observation`` metrics collected during the single
output pass, not from extra count() jobs (the reference's per-stage loops
become free accumulators).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.operators import cleaning, dedup, quality
from llm_training_data_pipeline_spark.plans.config import PipelineConfig


def _ckpt_spread(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint, re-spread across the cluster when the
    materialized partitioning collapsed below ``defaultParallelism``.

    AQE coalesces small shuffle outputs down to ONE partition — correct
    for the bytes it sees, but the stages that follow these checkpoints
    (paragraph/gram explodes ~10x rows per word position, the 24-regex
    quality battery, the DSIR tokenize+md5 pass) amplify per-row work by
    2-3 orders of magnitude, so partitioning must be sized for the
    amplified work, not the input bytes (guide §2.2/§6: partition for
    the stage's compute). Measured at sf0.1: the composed ngram gate ran
    13.5s on the 1-partition checkpoint vs 0.8s standalone on a 16-way
    scan. The re-spread is a round-robin shuffle of an already-small
    checkpointed frame; when the frame already spans the cluster
    (any realistic production input) it is a no-op — no constant tuned
    to either local mode or the cluster. Values are unchanged: every
    downstream stage is row-order independent (keyed joins, keyed
    windows, deterministic arithmetic sample keys)."""
    df = df.localCheckpoint(eager=True)
    dp = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= dp:
        return df
    return df.repartition(dp).localCheckpoint(eager=True)


def _minhash_cfg(
    sec: dict[str, Any], default: dedup.MinHashConfig = dedup.MinHashConfig()
) -> dedup.MinHashConfig:
    """``MinHashConfig`` from a yaml section's keys (num_permutations,
    threshold, shingle_size, num_bands), ``default`` filling the gaps."""
    return dedup.MinHashConfig(
        num_perm=int(sec.get("num_permutations", default.num_perm)),
        threshold=float(sec.get("threshold", default.threshold)),
        shingle_size=int(sec.get("shingle_size", default.shingle_size)),
        num_bands=int(sec.get("num_bands", default.num_bands)),
    )


def build_pipeline(
    docs: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, dict[str, Observation]]:
    """Compose clean → dedup → quality into one lazy plan with observers.

    Returns (final DataFrame, stage observations). Tokenization is applied
    separately (it needs a trained model — the one deliberate driver
    round-trip, exactly where the reference goes global, tokenizer.py:143).
    """
    obs: dict[str, Observation] = {}

    def observe(df: DataFrame, name: str, *metrics) -> DataFrame:
        """Stage ``name``'s observer: its row count, then ``metrics``."""
        obs[name] = Observation(name)
        return df.observe(obs[name], F.count(F.lit(1)).alias("rows"), *metrics)

    df = observe(docs, "ingest")

    c = cfg.section("cleaning")
    ccfg = cleaning.CleanerConfig(
        remove_urls=c.get("remove_urls", True),
        remove_emails=c.get("remove_emails", True),
        remove_citations=c.get("remove_citations", True),
        normalize_unicode=c.get("normalize_unicode", True),
        fix_encoding=c.get("fix_encoding", True),
        normalize_whitespace=c.get("normalize_whitespace", True),
        min_length_chars=c.get("min_length_chars", 100),
    )
    df = cleaning.clean_documents(df, "text", ccfg)
    df = df.drop("text").withColumnRenamed("cleaned_text", "text")
    df = observe(df, "clean", F.sum("chars_removed").alias("chars_removed"))

    d = cfg.section("deduplication")
    if d.get("enabled", True):
        algo = d.get("algorithm", "minhash_lsh")
        if algo == "exact_hash":
            df = dedup.exact_dedup(df)
        elif algo == "prefix_hash":
            # tail-variant mirrors: same leading content, different
            # footer — keyed on the normalized 256-char prefix digest
            df = dedup.prefix_dedup(
                df, prefix_chars=int(d.get("prefix_chars", 256))
            )
        elif algo == "simhash":
            df = dedup.simhash_dedup(df)
        elif algo in ("minhash_lsh", "minhash_keep_best"):
            mh = _minhash_cfg(d)
            if algo == "minhash_keep_best":
                # quality-aware winner: keep the best-scoring member of
                # each near-dup cluster instead of the smallest id
                from llm_training_data_pipeline_spark.operators.textstats import (
                    quality_score,
                )

                df = (
                    dedup.dedup_keep_best(
                        df.withColumn("_dedup_score", quality_score(F.col("text"))),
                        "_dedup_score",
                        cfg=mh,
                    ).drop("_dedup_score")
                )
            else:
                # max_band_bucket (r11/r12): bound each LSH bucket's
                # pair volume — the boilerplate-band quadratic guard.
                # Removal does NOT depend on the capped pairs alone:
                # minhash_dedup unions them with est-Jaccard-verified
                # star edges (root → member, linear per bucket), so hot
                # near-dup AND verbatim clusters beyond the cap still
                # dedup to one survivor with no preceding exact pass
                # (VERDICT r11 #2 / ADVICE r11 #1)
                df = dedup.minhash_dedup(
                    df,
                    cfg=mh,
                    max_bucket_size=d.get("max_band_bucket"),
                )
        elif algo == "soft_exact":
            # downweight, don't drop: every row survives with a
            # 1/n_copies ppm weight over its content-digest group (one
            # full-row hash shuffle, no join-back)
            w = Window.partitionBy(dedup.exact_hash(F.col("text")))
            df = df.withColumn(
                "_n_copies", F.count(F.lit(1)).over(w).cast("long")
            ).withColumn(
                "soft_weight_ppm",
                F.expr("1000000 div _n_copies").cast("long"),
            ).drop("_n_copies")
        elif algo == "soft_minhash":
            mh = _minhash_cfg(d)
            clusters = dedup.dedup_clusters(
                dedup.minhash_bucket_stars(df, cfg=mh)
            )
            weights = dedup.cluster_soft_dedup_weights(df, clusters).select(
                "doc_id", "soft_weight_ppm"
            )
            df = df.join(weights, on="doc_id", how="left")
        else:
            raise ValueError(
                f"unknown deduplication.algorithm {algo!r}; "
                "choose from minhash_lsh, minhash_keep_best, exact_hash, "
                "prefix_hash, simhash, soft_exact, soft_minhash"
            )
        dedup_metrics = []
        if algo in ("soft_exact", "soft_minhash"):
            # effective corpus mass the mixture planner should budget
            # against (raw rows are unchanged by design in soft modes)
            dedup_metrics.append(
                F.sum("soft_weight_ppm").alias("effective_docs_ppm")
            )
        df = observe(df, "dedup", *dedup_metrics)

        ss = d.get("soft_sample", {})
        if ss.get("enabled", False):
            # apply the soft weights through the deterministic sampler:
            # keep probability = weight (times an optional base_rate) —
            # ~one document's mass per duplicate group survives while
            # keeping intra-group diversity a hard dedup discards
            if algo not in ("soft_exact", "soft_minhash"):
                raise ValueError(
                    "deduplication.soft_sample requires a soft_* algorithm "
                    f"(got {algo!r}: there is no soft_weight_ppm to apply)"
                )
            from llm_training_data_pipeline_spark.operators import corpus

            df = corpus.weighted_sample(
                df,
                (F.col("soft_weight_ppm") / F.lit(1_000_000.0)),
                base_rate=float(ss.get("base_rate", 1.0)),
            )
            df = observe(df, "soft_sample")

    sr = cfg.section("deduplication").get("span_removal", {})
    if sr.get("enabled", False):
        # sub-document exact-substring pass (Lee et al. 2021): document-
        # level dedup above misses boilerplate chunks shared between
        # otherwise-unique pages. action=filter drops docs above a
        # duplicated-span-fraction budget; action=remove (default) cuts
        # the covered tokens, keeping the smallest-id copy.
        from llm_training_data_pipeline_spark.operators import corpus

        w = int(sr.get("window", 8))
        if sr.get("action", "remove") == "filter":
            budget = float(sr.get("max_dup_fraction", 0.5))
            stats = corpus.duplicated_span_stats(df, "text", window=w).select(
                "doc_id", "dup_fraction"
            )
            df = (
                df.join(stats, on="doc_id", how="left")
                .filter(
                    F.col("dup_fraction").isNull()
                    | (F.col("dup_fraction") <= budget)
                )
                .drop("dup_fraction")
            )
        else:
            cleaned_spans = corpus.remove_duplicated_spans(
                df, "text", window=w
            ).select("doc_id", "clean_text")
            df = (
                df.join(cleaned_spans, on="doc_id", how="left")
                .withColumn("text", F.coalesce("clean_text", "text"))
                .drop("clean_text")
            )
        df = observe(df, "span_dedup")

    pdd = cfg.section("deduplication").get("paragraph_dedup", {})
    if pdd.get("enabled", False):
        # corpus-wide first-occurrence-wins paragraph cut (the Dolma-
        # style syndication pass): verbatim repeats of a non-blank
        # paragraph after its globally-first (doc_id, pos) occurrence
        # are excised and the doc reassembled; docs emptied by the cut
        # fall to the min-length/quality gates downstream
        from llm_training_data_pipeline_spark.operators import corpus

        # the paragraph rebuild consumes df on three branches (explode,
        # winner join-back, per-doc reassembly); everything upstream —
        # including the cleaning pandas UDF — would re-run per branch,
        # and the fused plan trips janino's 64KB codegen method limit
        # into interpreted fallback. One eager checkpoint runs the
        # upstream once and resets the plan (values bit-identical;
        # measured 86s -> ~7s on the c4 preset at 120 docs).
        df = _ckpt_spread(df)
        df = corpus.remove_dup_paragraphs(df, "text").drop("n_paras_removed")
        df = observe(df, "paragraph_dedup")

    sc = cfg.section("sampling").get("source_cap", {})
    if sc.get("enabled", False):
        # RefinedWeb-style anti-over-representation: never more than N
        # docs per source, picked by the deterministic pseudo-uniform
        # key (rate-based sampling can't express a hard cap); the rank
        # filter compiles to a WindowGroupLimit so skewed sources prune
        # map-side
        from llm_training_data_pipeline_spark.operators import corpus

        df = corpus.cap_per_stratum(
            df,
            stratum_col=sc.get("stratum_col", "source"),
            cap=int(sc.get("max_per_stratum", 10_000)),
        )
        df = observe(df, "source_cap")

    qsec = cfg.section("quality")
    if qsec.get("enabled", True):
        lf = qsec.get("language_filter", {})
        qcfg = quality.QualityConfig(
            min_words=qsec.get("min_words", 50),
            max_words=qsec.get("max_words", 100_000),
            min_avg_word_length=qsec.get("min_avg_word_length", 3.0),
            max_avg_word_length=qsec.get("max_avg_word_length", 15.0),
            min_alpha_ratio=qsec.get("min_alphabetic_ratio", 0.7),
            max_digit_ratio=qsec.get("max_digit_ratio", 0.3),
            max_symbol_ratio=qsec.get("max_symbol_ratio", 0.2),
            allowed_languages=(
                tuple(lf.get("allowed_languages", ())) if lf.get("enabled") else None
            ),
        )
        lang_col = None
        if lf.get("enabled"):
            from llm_training_data_pipeline_spark.operators import textstats

            # Stage barrier: stacking the quality battery's projection
            # chain on top of the lang-id's staged score columns lets
            # iterative CollapseProject inline the per-language regex
            # passes MANY times over (measured: a 32 KB standalone plan
            # became 1.8 MB fused — 3,185 regexp_extract_all / 6,138
            # split nodes — and 120 docs took 30s). Checkpointing the
            # detected_lang column pins the scores to ONE evaluation;
            # at scale the one extra materialization is strictly
            # cheaper than a ~50x-duplicated regex scan.
            df = _ckpt_spread(textstats.with_lang_id(df, "text"))
            lang_col = "detected_lang"
        df = quality.with_quality(df, "text", qcfg, lang_col=lang_col, include_scores=False)
        ce = qsec.get("code_exempt", {})
        if ce.get("enabled", False):
            # route code past the prose gates: min_words/stopword/symbol
            # thresholds are calibrated for natural language and junk
            # real code wholesale. Docs the two-of-three code vote flags
            # keep flowing regardless of the prose verdict (the mixture
            # planner downstream sees them via is_code when
            # keep_flag=true); everything else gates as before.
            from llm_training_data_pipeline_spark.operators import textstats

            df = textstats.with_code_signals(df, "text").drop(
                "code_symbol_ppm", "code_keyword_hits", "code_indent_ppm"
            )
            df = df.filter(F.col("passed") | F.col("is_code"))
            if not ce.get("keep_flag", False):
                df = df.drop("is_code")
            df = df.drop("passed", "reason")
        else:
            df = df.filter(F.col("passed")).drop("passed", "reason")
        df = observe(df, "quality")

    ef = qsec.get("entropy_filter", {}) if qsec.get("enabled", True) else {}
    if ef.get("enabled", False):
        # zero-shuffle garbage screen: Shannon entropy of the
        # letter/digit/space distribution, a per-row literal fold on the
        # scan (textstats.char_entropy) — repetitive/padding documents
        # score near zero
        from llm_training_data_pipeline_spark.operators import textstats

        df = textstats.with_char_entropy(df, "text").filter(
            F.col("char_entropy") >= float(ef.get("min_entropy", 1.5))
        ).drop("alpha_chars", "char_entropy")
        df = observe(df, "entropy")

    sm = qsec.get("script_mix_filter", {}) if qsec.get("enabled", True) else {}
    if sm.get("enabled", False):
        # mixed-writing-system spam screen (Cyrillic lookalikes in Latin
        # text, injected RTL runs): drop docs whose dominant script holds
        # less than min_dominant_permille of script chars — zero-shuffle
        # codegen'd scan (textstats.with_script_mix), integer arithmetic
        from llm_training_data_pipeline_spark.operators import textstats

        df = (
            textstats.with_script_mix(df, "text")
            .filter(
                ~F.col("script_mixed")
                | (
                    F.col("dominant_permille")
                    >= int(sm.get("min_dominant_permille", 800))
                )
            )
            .drop("n_scripts", "dominant_script", "dominant_permille", "script_mixed")
        )
        df = observe(df, "script_mix")

    nr = qsec.get("ngram_repetition_filter", {}) if qsec.get("enabled", True) else {}
    if nr.get("enabled", False):
        # the full Gopher n-gram repetition battery as a gate: drop docs
        # whose top-{2,3,4}-gram coverage or duplicate-{5..10}-gram
        # coverage exceeds the Rae et al. 2021 ceilings (the per-doc
        # complement of the corpus-level paragraph/span dedup passes)
        helper = [
            f"top_{n}gram_char_frac"
            for n, _ in quality.GopherRepetitionConfig().max_top_ngram_frac
        ] + [
            f"dup_{n}gram_char_frac"
            for n, _ in quality.GopherRepetitionConfig().max_dup_ngram_frac
        ]
        # Keep this checkpoint (re-measured AGAIN in r15 after the
        # pandas-UDF rewrite of with_dup_ngram_stats, ADVICE r14):
        # without the barrier the quality battery's staged regex
        # projection stacks under the Arrow UDF's input projection and
        # the composed run regressed (sf0.1 cold/warm 15.9/8.6s ->
        # 21.8/21.2s; sf1 35.5/14.3 -> 30.9/15.2 — the one cold-run win
        # is codegen-compile luck, the warm data says the barrier pays
        # for itself at both scales). A plan barrier before the gate
        # pins the quality stage to one evaluation and keeps the UDF
        # stage's input partitioning spread.
        df = _ckpt_spread(df)
        df = (
            quality.with_dup_ngram_stats(df, "text")
            .filter(F.col("ngram_repetition_pass"))
            .drop("ngram_repetition_pass", *helper)
        )
        df = observe(df, "ngram_repetition")

    cm = qsec.get("chat_marker_filter", {}) if qsec.get("enabled", True) else {}
    if cm.get("enabled", False):
        # drop documents carrying chat-template control tokens
        # (<|im_start|>, <|endoftext|>, ...) — leaked model output that
        # teaches a model to emit its own markers; plain containment
        # (the markers hold regex metachars), one codegen'd scan
        from llm_training_data_pipeline_spark.operators.quality import (
            DEFAULT_CHAT_MARKERS,
        )

        markers = tuple(cm.get("markers", DEFAULT_CHAT_MARKERS))
        hit = None
        for m in sorted(markers):
            c = F.contains(F.col("text"), F.lit(m))
            hit = c if hit is None else (hit | c)
        df = df.filter(~hit)
        df = observe(df, "chat_marker")

    pf = qsec.get("perplexity_filter", {}) if qsec.get("enabled", True) else {}
    if pf.get("enabled", False):
        # the reference's declared-but-dead knob, live: surprisal is
        # ln-perplexity under the corpus unigram LM, so the yaml threshold
        # maps through ln() unchanged
        import math

        from llm_training_data_pipeline_spark.operators import corpus

        max_surprisal = math.log(pf.get("max_perplexity", 100_000.0))
        lm = pf.get("model", "unigram")
        if lm == "bigram":
            # CCNet-grade signal: the interpolated bigram LM sees
            # shuffled/garbled word ORDER that the unigram LM cannot
            scores = corpus.bigram_surprisal(df, "text").select(
                "doc_id", F.col("avg_bigram_surprisal").alias("avg_surprisal")
            )
        elif lm == "unigram":
            scores = corpus.unigram_surprisal(df, "text").select(
                "doc_id", "avg_surprisal"
            )
        else:
            raise ValueError(
                f"unknown quality.perplexity_filter.model {lm!r}; "
                "choose from unigram, bigram"
            )
        # LEFT join: zero-word docs have no surprisal row (they vanish in
        # the word explode) — the filter must not silently drop them, so
        # NULL surprisal passes
        df = (
            df.join(scores, on="doc_id", how="left")
            .filter(
                F.col("avg_surprisal").isNull()
                | (F.col("avg_surprisal") <= max_surprisal)
            )
            .drop("avg_surprisal")
        )
        df = observe(df, "perplexity")

    dc = cfg.section("decontamination")
    if dc.get("enabled", False) and dc.get("benchmark_path"):
        from llm_training_data_pipeline_spark.operators import corpus

        bench = docs.sparkSession.read.parquet(dc["benchmark_path"])
        hits = corpus.contamination_pairs(
            df,
            bench,
            n=dc.get("ngram_size", 8),
            min_shared=dc.get("min_shared", 1),
        ).select(F.col("corpus_id").alias("doc_id")).distinct()
        df = df.join(hits, on="doc_id", how="left_anti")
        df = observe(df, "decontaminate")

    psec = cfg.section("pii")
    if psec.get("enabled", False):
        from llm_training_data_pipeline_spark.operators import pii

        if psec.get("action", "redact") == "drop":
            flagged = pii.with_pii_counts(df, "text")
            df = flagged.filter(~F.col("has_pii")).drop(
                "has_pii", *[f"n_{n}" for n, _p, _t in pii.PII_PATTERNS]
            )
        else:
            df = pii.redact_pii(df, "text")
        df = observe(df, "pii")

    ssec = cfg.section("sampling")
    if ssec.get("enabled", False) and ssec.get("rates"):
        from llm_training_data_pipeline_spark.operators import corpus

        df = corpus.stratified_sample(
            df,
            ssec.get("strata_col", "lang"),
            {str(k): float(v) for k, v in ssec["rates"].items()},
            default_rate=float(ssec.get("default_rate", 1.0)),
        )
        df = observe(df, "sample")

    dsec = cfg.section("dsir")
    if dsec.get("enabled", False):
        # DSIR importance selection (Xie et al. 2023): keep the documents
        # most resembling the target slice, sampled ∝ importance weight
        # via the deterministic Gumbel-top-k (corpus.dsir_sample). The
        # ratio table is one conditional-count pass (≤num_buckets rows,
        # broadcast); the count for k is one cheap action. Runs AFTER the
        # quality/sampling screens so the importance model is fit on the
        # surviving distribution, not on the junk the screens remove.
        from llm_training_data_pipeline_spark.operators import corpus

        target_lang = str(dsec.get("target_lang", "en"))
        frac = float(dsec.get("keep_fraction", 0.25))
        buckets = int(dsec.get("num_buckets", 10_000))
        # three consumers (feature pass, count-for-k action, final
        # semi-join): checkpoint so the upstream pipeline runs once.
        # The ratio fit and the scoring join then share ONE tokenize+md5
        # feature pass via dsir_doc_bucket_counts (r14; previously each
        # ran its own — two full passes over the checkpointed corpus).
        df = _ckpt_spread(df)
        cond = F.col("lang") == target_lang
        counts = corpus.dsir_doc_bucket_counts(df, cond, num_buckets=buckets)
        lr = corpus.dsir_log_ratios_within(
            df, cond, num_buckets=buckets, doc_counts=counts
        )
        k = max(1, int(df.count() * frac))
        keep = corpus.dsir_sample(
            df, lr, k=k, num_buckets=buckets, doc_counts=counts
        ).select("doc_id")
        # decide-slim, attach-once (r15, guide §8): materialize the
        # k-row keep ID SET — not the full surviving frame — and attach
        # it to the checkpointed corpus with one broadcast semi-join.
        # The observation rides the slim set: dsir_sample emits one row
        # per kept document and every kept id exists in df, so
        # count(keep) == count(df ⋈ keep) — the same "rows" the
        # post-join observe reported. Firing it on the keep checkpoint
        # keeps it to exactly one execution even though downstream
        # stages (holdout) consume the joined frame on two branches.
        keep = observe(keep, "dsir")
        keep = keep.localCheckpoint(eager=True)
        df = df.join(keep, on="doc_id", how="left_semi")

    hsec = cfg.section("holdout")
    if hsec.get("enabled", False):
        # clean eval holdout (corpus.eval_holdout): per-source quota by
        # the deterministic sample key + exact-digest decontamination —
        # every row tagged split/reject_reason, eval and train digest
        # sets disjoint by construction. The op consumes its input on
        # two branches (slim digest projection + tag join), but no
        # full-width checkpoint is needed here (r15): with the DSIR
        # stage attaching a MATERIALIZED keep-id set to the already-
        # checkpointed corpus, each branch re-derives the input as one
        # cheap checkpoint scan + broadcast semi-join — strictly
        # cheaper at scale than materializing the full text-carrying
        # frame a fourth time. (Without DSIR on, the upstream may be
        # unmaterialized compute — keep the barrier for that shape.)
        from llm_training_data_pipeline_spark.operators import corpus

        if not dsec.get("enabled", False):
            df = _ckpt_spread(df)
        df = corpus.eval_holdout(
            df, per_source=int(hsec.get("per_source", 50))
        )
        df = observe(
            df,
            "holdout",
            F.sum(F.when(F.col("split") == "eval", 1).otherwise(0)).alias(
                "eval_rows"
            ),
            F.sum(
                F.when(F.col("reject_reason").isNotNull(), 1).otherwise(0)
            ).alias("rejected_rows"),
        )

    return df, obs


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    cfg: PipelineConfig | None = None,
    output_dir: str | None = None,
) -> dict[str, Any]:
    """O1: execute the composed pipeline, write sinks, return the summary.

    The single write action drives every stage; observation metrics are
    harvested afterwards (no extra jobs). Tokenization adds one aggregate
    job (word counts) + the encode pass fused into the write.
    """
    from llm_training_data_pipeline_spark.sources import sinks

    cfg = cfg or PipelineConfig()
    t0 = time.time()
    df, obs = build_pipeline(docs, cfg)

    # Holdout leakage GATE (VERDICT r10 #5 — enforcement, not just
    # measurement): eval_holdout guarantees the exact-digest tier by
    # construction; max_leakage_ppm additionally measures the PARAPHRASE
    # tier (MinHash near-dup pairs crossing the split) and refuses to
    # ship a holdout above the threshold. Runs BEFORE any sink write so
    # a leaky holdout fails the run instead of shipping quietly;
    # leakage_action: "fail" (default) raises, "warn" records and
    # continues (the measured ppm lands in the summary either way).
    leakage_ppm = None
    hsec0 = cfg.section("holdout")
    max_ppm = hsec0.get("max_leakage_ppm")
    if hsec0.get("enabled", False) and max_ppm is not None:
        mh = _minhash_cfg(
            hsec0.get("leakage_minhash", {}),
            dedup.MinHashConfig(num_perm=16, threshold=0.5, num_bands=4),
        )
        pairs = dedup.minhash_candidate_pairs(df, cfg=mh)
        row = dedup.eval_leakage_ppm(
            pairs, df.select("doc_id", "split")
        ).collect()[0]
        leakage_ppm = int(row["leakage_ppm"])
        if leakage_ppm > int(max_ppm):
            msg = (
                f"holdout leakage gate: {row['leaked_eval_docs']} of "
                f"{row['eval_docs']} eval docs ({leakage_ppm} ppm) have a "
                f"near-dup twin outside eval (max_leakage_ppm="
                f"{int(max_ppm)}). Tighten dedup, raise the threshold, "
                "or regenerate the holdout."
            )
            if hsec0.get("leakage_action", "fail") == "warn":
                import sys as _sys

                print(f"WARNING: {msg}", file=_sys.stderr)
            else:
                raise ValueError(msg)

    tok_summary: dict[str, Any] = {}
    tsec = cfg.section("tokenization")
    pre_cache = None
    if tsec.get("enabled", True):
        from llm_training_data_pipeline_spark.operators import tokenize as tk

        # Materialize the composed pipeline ONCE before tokenizer
        # training. Two reasons: (a) the training aggregate would
        # otherwise be the FIRST action on the observed plan, and
        # Observation.get latches whatever that action reports — under
        # AQE, empty-relation propagation can elide upstream
        # CollectMetrics nodes from the re-optimized plan (an all-
        # filtered corpus reported dedup rows: 0 while the stage really
        # passed 430), so stage metrics must come from one complete
        # count; (b) without it the whole upstream chain runs TWICE
        # (training action + sink write) — at scale the cache is
        # strictly cheaper than the recompute it replaces.
        pre_cache = df.persist()
        pre_cache.count()
        df = pre_cache

        # decontamination boundary (ADVICE r10): with holdout on, the
        # frame is still split-tagged at this point — every TRAINING
        # artifact (the tokenizer's vocab/merges and the packed
        # training sequences below) must be derived from the train
        # split only, or enabling holdout + pack would hand eval text
        # straight to the training loader, defeating the guarantee the
        # holdout stage advertises. Eval rows still get ENCODED (the
        # holdout sink ships token ids produced by the train-only
        # tokenizer — that is how an eval set is consumed, not a leak).
        holdout_on = (
            cfg.get("holdout.enabled", False) and "split" in df.columns
        )
        train_view = (
            df.filter(F.col("split") != "eval") if holdout_on else df
        )

        algo = tsec.get("algorithm", "bpe")
        tokenizer = tk.train_tokenizer(
            train_view,
            "text",
            algorithm=algo,
            vocab_size=tsec.get("vocab_size", 32_000),
            min_frequency=tsec.get("min_frequency", 2),
        )
        df = tk.tokenize_documents(df, tokenizer, "text")
        tok_summary = {"vocab_size": tokenizer.vocab_size, "algorithm": algo}

        pk = tsec.get("pack", {})
        if pk.get("enabled", False) and output_dir:
            # training-loader artifact: GPT-style fixed-length input_ids
            # windows over the EOS-separated global token stream, written
            # alongside the document-level output — train split only
            # (same decontamination boundary as tokenizer training)
            from llm_training_data_pipeline_spark.operators import corpus

            seq_len = int(pk.get("seq_len", 2048))
            eos = getattr(tokenizer, "vocab", {}).get("<eos>")
            pack_src = (
                df.filter(F.col("split") != "eval") if holdout_on else df
            )
            packed = corpus.pack_token_ids(pack_src, seq_len, eos_id=eos)
            packed_path = os.path.join(output_dir, "packed_sequences.parquet")
            sinks.write_parquet(packed, packed_path)
            tok_summary["packed_path"] = packed_path
            tok_summary["packed_seq_len"] = seq_len

    shuffle_cache = None
    if cfg.get("output.shuffle.enabled", False):
        from llm_training_data_pipeline_spark.operators import corpus

        # seeded global shuffle (range-partitioned, reproducible) so the
        # written shards are already in training order. The pipeline is
        # materialized ONCE first: repartitionByRange runs a key-sampling
        # pass that would otherwise re-execute the whole upstream chain —
        # measured doubling both the compute and the Observation stage
        # counts. persist + count is used (not localCheckpoint: its
        # RDD-level job bypasses SQL observation events and the stage
        # metrics come back empty); the count fires each observation
        # exactly once and both the sampler and the exchange then read
        # cached blocks (MEMORY_AND_DISK — spills, never recomputes).
        shuffle_cache = df.persist()
        shuffle_cache.count()
        df = corpus.corpus_shuffle(
            shuffle_cache, seed=int(cfg.get("output.shuffle.seed", 42))
        )

    out_format = cfg.get("output.format", "parquet")
    holdout_path = None
    hsec = cfg.section("holdout")
    if (
        hsec.get("enabled", False)
        and hsec.get("separate_output", True)
        and output_dir
    ):
        # two sinks consume the tagged frame — materialize once so the
        # composed upstream doesn't run per sink
        df = df.localCheckpoint(eager=True)
        holdout_path = os.path.join(output_dir, "holdout.parquet")
        sinks.write_parquet(
            df.filter(F.col("split") == "eval").drop("split", "reject_reason"),
            holdout_path,
        )
        df = df.filter(F.col("split") != "eval").drop(
            "split", "reject_reason"
        )
    try:
        if output_dir:
            path = os.path.join(output_dir, f"pipeline_output.{out_format}")
            if out_format == "jsonl":
                sinks.write_jsonl(df, path)
            else:
                sinks.write_parquet(df, path)
            if tok_summary:
                tok_path = os.path.join(output_dir, "tokenizer.json")
                tokenizer.save(tok_path)
                tok_summary["tokenizer_path"] = tok_path
                if hasattr(tokenizer, "save_hf"):
                    # byte-level BPE round-trips the HF `tokenizers` wire
                    # format exactly — emit it too so reference users can
                    # load the artifact with their existing tooling (S10)
                    hf_path = os.path.join(output_dir, "tokenizer_hf.json")
                    tokenizer.save_hf(hf_path)
                    tok_summary["tokenizer_hf_path"] = hf_path
        else:
            df.write.format("noop").mode("overwrite").save()
            path = None
    finally:
        # unpersist even when the sink write throws — the MEMORY_AND_DISK
        # blocks would otherwise leak for the SparkSession's lifetime
        if shuffle_cache is not None:
            shuffle_cache.unpersist()
        if pre_cache is not None:
            pre_cache.unpersist()

    duration = time.time() - t0
    stage_metrics = {}
    for name, ob in obs.items():
        try:
            m = dict(ob.get)
        except Exception:
            m = {}
        # a stage that saw zero rows emits no metrics — report rows: 0
        # rather than an empty dict that hides the empty stage
        m.setdefault("rows", 0)
        stage_metrics[name] = m

    summary: dict[str, Any] = {
        "pipeline": cfg.get("pipeline.name"),
        "duration_seconds": round(duration, 3),
        "stages": stage_metrics,
        "tokenization": tok_summary,
        "output_path": path,
    }
    if holdout_path is not None:
        summary["holdout_path"] = holdout_path
    if leakage_ppm is not None:
        summary["holdout_leakage_ppm"] = leakage_ppm
    if output_dir:
        sinks.write_summary(summary, os.path.join(output_dir, "pipeline_summary.json"))
    return summary


def main() -> None:
    """O9 CLI mirroring the reference flags (main.py:427-457)."""
    import argparse

    ap = argparse.ArgumentParser(description="PySpark LLM training data pipeline")
    ap.add_argument("--input", required=True, help="documents parquet path or wiki XML dump")
    ap.add_argument(
        "--input-format",
        choices=["parquet", "wiki-xml", "html-parquet", "wet"],
        default="parquet",
    )
    ap.add_argument("--max-articles", type=int, default=None)
    ap.add_argument("--output-dir", default="data/output")
    ap.add_argument("--config", default=None, help="YAML config path")
    ap.add_argument(
        "--dataset-card",
        action="store_true",
        help="also write DATASET_CARD.md (size/source/lang/dedup/quality "
        "summary of the pipeline OUTPUT) into --output-dir",
    )
    ap.add_argument(
        "--report",
        action="store_true",
        help="also render the stage-metrics table (O5): written to "
        "pipeline_report.txt in --output-dir and echoed to stderr "
        "(stdout stays pure JSON)",
    )
    args = ap.parse_args()

    from llm_training_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="llm-pipeline-cli")
    cfg = PipelineConfig.load(args.config)
    cfg.apply_spark_conf(spark)

    if args.input_format == "wiki-xml":
        from llm_training_data_pipeline_spark.sources.wiki import parse_wikipedia

        docs = parse_wikipedia(spark, args.input, max_articles=args.max_articles)
        docs = docs.select(
            F.col("page_id").alias("doc_id"), "title", "text"
        )
    elif args.input_format == "html-parquet":
        # web-crawl landing format: parquet rows carrying raw HTML in an
        # ``html`` (or ``raw_html``) column; the extraction chain turns
        # it into the pipeline's ``text`` column before the stages run
        from llm_training_data_pipeline_spark.sources.html import html_to_text

        raw = spark.read.parquet(args.input)
        html_col = "html" if "html" in raw.columns else "raw_html"
        if html_col not in raw.columns:
            raise SystemExit(
                "--input-format html-parquet needs an 'html' or 'raw_html' column"
            )
        docs = raw.withColumn("text", html_to_text(F.col(html_col))).drop(html_col)
        if args.max_articles:
            docs = docs.limit(args.max_articles)
    elif args.input_format == "wet":
        # CommonCrawl WET landing: JVM-framed record scan, conversion
        # projection, then the free URL-level dedup pass (earliest fetch
        # per canonical URL) BEFORE any content-hash stage downstream.
        # doc_id = xxhash64(target_uri): deterministic, shuffle-free
        # (a row_number would order-depend); the domain rides along as
        # `source`, so every per-source operator works per-domain.
        from llm_training_data_pipeline_spark.sources.warc import (
            domain_blocklist_filter,
            read_wet,
            url_dedup,
            wet_documents,
        )

        wet_docs = url_dedup(wet_documents(read_wet(spark, args.input)))
        blocked = cfg.get("wet.domain_blocklist", []) or []
        if blocked:
            # hierarchy-aware URL screen BEFORE content stages: an entry
            # blocks the domain and everything under it (suffix-chain
            # anti-join, warc.domain_blocklist_filter)
            bl = spark.createDataFrame(
                [(str(d),) for d in blocked], "blocked_domain string"
            )
            wet_docs = domain_blocklist_filter(wet_docs, F.broadcast(bl))
        docs = wet_docs.select(
            F.xxhash64("target_uri").alias("doc_id"),
            F.col("domain").alias("source"),
            "text",
        )
        if args.max_articles:
            docs = docs.limit(args.max_articles)
    else:
        docs = spark.read.parquet(args.input)
        if args.max_articles:
            docs = docs.limit(args.max_articles)

    summary = run_pipeline(spark, docs, cfg, args.output_dir)
    if args.dataset_card:
        import os

        from llm_training_data_pipeline_spark.plans.card import write_dataset_card

        out_path = summary["output_path"]
        if out_path.endswith(".parquet"):
            out = spark.read.parquet(out_path)
        else:  # jsonl sink
            try:
                out = spark.read.json(out_path)
            except Exception as exc:
                # an all-rows-filtered run leaves a jsonl file with zero
                # records; spark.read.json cannot infer a schema from it
                # ("Unable to infer schema"), even though dataset_card
                # itself handles 0 rows — give THAT case the empty frame
                # with a minimal explicit schema. Anything else (corrupt
                # or unreadable output) must stay a visible failure, not
                # a plausible-looking zero-row card.
                if "UNABLE_TO_INFER_SCHEMA" not in str(
                    exc
                ) and "Unable to infer schema" not in str(exc):
                    raise
                out = spark.createDataFrame([], "text string")
        card_path = os.path.join(args.output_dir, "DATASET_CARD.md")
        write_dataset_card(out, card_path, name=os.path.basename(args.input))
        summary["dataset_card"] = card_path
    if args.report:
        import os
        import sys as _sys

        from llm_training_data_pipeline_spark.plans.report import render_report

        rendered = render_report(summary)
        report_path = os.path.join(args.output_dir, "pipeline_report.txt")
        with open(report_path, "w") as fh:
            fh.write(rendered + "\n")
        print(rendered, file=_sys.stderr)
        summary["report"] = report_path
    print(json.dumps(summary, indent=2, default=str))


if __name__ == "__main__":
    main()
