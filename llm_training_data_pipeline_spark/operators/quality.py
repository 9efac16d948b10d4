"""Quality-filter predicate battery (SURVEY.md §2.4, Q1-Q11).

Reference semantics: /root/reference/src/processing/quality_filter.py:150-254.
The reference short-circuits, so the *reason* label is the FIRST failing rule;
a ``when``/``otherwise`` cascade preserves that precedence exactly:

    word-count → avg-word-length → alpha → digit → symbol → repetition →
    bullet → boilerplate → language → passed

Everything except language detection (Q9, see ``textstats.lang_id``) is pure
column expressions — one codegen'd projection, no Python, no shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# module-level on purpose: with postponed annotations, pandas_udf resolves
# the ``pd.Series`` hints of ``with_dup_ngram_stats``'s UDF from this
# module's globals, and a function-local ``pd`` makes it raise
# UNSUPPORTED_SIGNATURE
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.functions.text import (
    alpha_count,
    digit_count,
    nonspace_count,
    strip_ws,
    whitespace_tokens,
)

# quality_filter.py:82-92 — joined with '|' and matched case-insensitively
BOILERPLATE_PATTERNS = [
    r"copyright \d{4}",
    r"all rights reserved",
    r"terms of service",
    r"privacy policy",
    r"cookie policy",
    r"subscribe to our newsletter",
    r"click here to",
    r"share on facebook",
    r"follow us on twitter",
]
BOILERPLATE_REGEX = "(?i)" + "|".join(BOILERPLATE_PATTERNS)

BULLET_LINE_REGEX = r"^[\s]*[-•*►▪▸]\s"  # quality_filter.py:225

FILTER_REASONS = (
    "too_short",
    "too_long",
    "wrong_language",
    "low_alpha_ratio",
    "high_digit_ratio",
    "high_symbol_ratio",
    "short_avg_word_length",
    "long_avg_word_length",
    "high_repetition",
    "mostly_bullet_list",
    "boilerplate_content",
    "passed",
)


@dataclass(frozen=True)
class QualityConfig:
    """Mirrors QualityFilter.__init__ defaults (quality_filter.py:94-137)."""

    min_words: int = 50
    max_words: int = 100_000
    min_avg_word_length: float = 3.0
    max_avg_word_length: float = 15.0
    min_alpha_ratio: float = 0.7
    max_digit_ratio: float = 0.3
    max_symbol_ratio: float = 0.2
    max_repetition_ratio: float = 0.3
    allowed_languages: tuple[str, ...] | None = None
    check_boilerplate: bool = True
    max_bullet_ratio: float = 0.5


def quality_score_columns(text: Column, cfg: QualityConfig = QualityConfig()) -> dict[str, Column]:
    """All Q1-Q8 score expressions for one text Column (quality_filter.py:160-240)."""
    words = whitespace_tokens(text)
    n_words = F.size(words).cast("long")
    # sum(len(w))/n over whitespace tokens == (nonspace chars)/n only when
    # tokens are exactly the non-space runs — true for str.split() semantics.
    sum_word_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    avg_word_length = F.when(n_words > 0, sum_word_len / n_words).otherwise(F.lit(0.0))

    n_alpha = alpha_count(text)
    n_digit = digit_count(text)
    n_nonspace = nonspace_count(text)
    n_symbol = n_nonspace - n_alpha - n_digit  # non-space, non-alpha, non-digit

    safe_nonspace = F.when(n_nonspace > 0, n_nonspace.cast("double"))
    alpha_ratio = n_alpha / safe_nonspace
    digit_ratio = n_digit / safe_nonspace
    symbol_ratio = n_symbol / safe_nonspace

    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("long")
    stripped = F.filter(F.transform(lines, strip_ws), lambda x: x != "")
    # count of the most-repeated non-empty stripped line (quality_filter.py:215-218)
    most_common = F.when(
        F.size(stripped) > 0,
        F.array_max(
            F.transform(
                F.array_distinct(stripped),
                lambda d: F.size(F.filter(stripped, lambda x: x == d)),
            )
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    repetition_ratio = F.when(n_lines > 0, most_common / n_lines.cast("double")).otherwise(
        F.lit(0.0)
    )

    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(BULLET_LINE_REGEX))
    ).cast("long")
    bullet_ratio = F.when(n_lines > 0, bullet_lines / n_lines.cast("double")).otherwise(
        F.lit(0.0)
    )

    boilerplate_matches = F.regexp_count(text, F.lit(BOILERPLATE_REGEX)).cast("long")

    return {
        "word_count": n_words,
        "avg_word_length": avg_word_length.cast("double"),
        "alpha_ratio": alpha_ratio.cast("double"),
        "digit_ratio": digit_ratio.cast("double"),
        "symbol_ratio": symbol_ratio.cast("double"),
        "n_lines": n_lines,
        "repetition_ratio": repetition_ratio.cast("double"),
        "bullet_ratio": bullet_ratio.cast("double"),
        "boilerplate_matches": boilerplate_matches,
    }


def reason_expr(
    scores: dict[str, Column],
    cfg: QualityConfig = QualityConfig(),
    lang_col: Column | None = None,
) -> Column:
    """First-failing-rule label with the reference's precedence.

    ``lang_col`` (detected language) enables the Q9 check; None skips it,
    matching ``allowed_languages=None`` (quality_filter.py:243).
    """
    cascade = (
        F.when(scores["word_count"] < cfg.min_words, "too_short")
        .when(scores["word_count"] > cfg.max_words, "too_long")
        .when(scores["avg_word_length"] < cfg.min_avg_word_length, "short_avg_word_length")
        .when(scores["avg_word_length"] > cfg.max_avg_word_length, "long_avg_word_length")
        .when(scores["alpha_ratio"] < cfg.min_alpha_ratio, "low_alpha_ratio")
        .when(scores["digit_ratio"] > cfg.max_digit_ratio, "high_digit_ratio")
        .when(scores["symbol_ratio"] > cfg.max_symbol_ratio, "high_symbol_ratio")
        .when(
            (scores["n_lines"] > 1)
            & (scores["repetition_ratio"] > cfg.max_repetition_ratio),
            "high_repetition",
        )
        .when(scores["bullet_ratio"] > cfg.max_bullet_ratio, "mostly_bullet_list")
    )
    if cfg.check_boilerplate:
        cascade = cascade.when(scores["boilerplate_matches"] > 3, "boilerplate_content")
    if cfg.allowed_languages is not None and lang_col is not None:
        # detection failure ('unknown') passes, mirroring quality_filter.py:250-252
        cascade = cascade.when(
            (lang_col != "unknown") & (~lang_col.isin(*cfg.allowed_languages)),
            "wrong_language",
        )
    return cascade.otherwise("passed")


def with_quality(
    df: DataFrame,
    text_col: str = "text",
    cfg: QualityConfig = QualityConfig(),
    *,
    lang_col: str | None = None,
    include_scores: bool = True,
) -> DataFrame:
    """Q10: add score columns + ``reason`` + ``passed``.

    Scores are materialized as real columns FIRST and the reason cascade
    references them as attributes: embedding the score expressions directly
    in the ~10-branch ``when`` cascade would re-evaluate each heavy
    regex/array expression once per branch (CollapseProject only inlines
    cheap expressions, so staged projections keep single evaluation).
    """
    text = F.col(text_col)
    score_exprs = quality_score_columns(text, cfg)
    staged = df.select("*", *[col.alias(name) for name, col in score_exprs.items()])
    score_cols = {name: F.col(name) for name in score_exprs}
    reason = reason_expr(score_cols, cfg, F.col(lang_col) if lang_col else None)
    out = staged.withColumn("reason", reason).withColumn(
        "passed", F.col("reason") == "passed"
    )
    if not include_scores:
        out = out.drop(*score_exprs.keys())
    return out


def quality_stats(
    df: DataFrame,
    text_col: str = "text",
    cfg: QualityConfig = QualityConfig(),
    *,
    lang_col: str | None = None,
) -> DataFrame:
    """Q11 stats-side: filter-reason histogram (map-side combinable groupBy)."""
    return (
        with_quality(df, text_col, cfg, lang_col=lang_col, include_scores=False)
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- Gopher-style rules (engine extension) --------------------------------
# The published Gopher/MassiveText filtering heuristics (Rae et al. 2021,
# appendix A1.1) — the de-facto standard ruleset for web-scale LLM corpora,
# complementing the reference's battery. All pure column expressions.

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@dataclass(frozen=True)
class GopherConfig:
    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_len: float = 3.0
    max_mean_word_len: float = 10.0
    max_symbol_word_ratio: float = 0.1  # '#' or ellipsis per word
    max_bullet_line_frac: float = 0.9
    max_ellipsis_line_frac: float = 0.3
    min_alpha_word_frac: float = 0.8
    min_stopwords_present: int = 2


def with_gopher_quality(
    df: DataFrame, text_col: str = "text", cfg: GopherConfig = GopherConfig()
) -> DataFrame:
    """Gopher rule flags + verdict: per-rule BOOLEAN columns and
    ``gopher_pass`` (AND of all). One staged projection of the measured
    quantities, then cheap comparisons — same scan shape as
    ``with_quality``; the two batteries compose in one pass.
    """
    t = F.col(text_col)
    # stage words/lines/lowered as COLUMNS first: raw expressions are
    # inlined by Catalyst at every reference, so e.g. eight stopword
    # rlikes over F.lower(t) would lowercase the doc eight times and
    # five F.size(words) references would re-run the split regex five
    # times (the module's staging discipline — see lang_id in textstats)
    pre = df.select(
        "*",
        whitespace_tokens(t).alias("_g_words"),
        F.split(t, "\n").alias("_g_lines"),
        F.lower(t).alias("_g_low"),
    )
    words = F.col("_g_words")
    lines = F.col("_g_lines")
    lowered = F.col("_g_low")
    stop_hits = None
    for s in GOPHER_STOPWORDS:
        hit = F.when(lowered.rlike(rf"\b{s}\b"), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    staged = pre.select(
        "*",
        F.size(words).cast("long").alias("_g_nw"),
        (
            F.aggregate(
                F.transform(words, lambda w: F.length(w)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            / F.greatest(F.size(words), F.lit(1)).cast("double")
        ).alias("_g_mwl"),
        (
            (F.regexp_count(t, F.lit("#")) + F.regexp_count(t, F.lit(r"(\.\.\.|…)")))
            / F.greatest(F.size(words), F.lit(1)).cast("double")
        ).alias("_g_swr"),
        (
            F.size(F.filter(lines, lambda l: l.rlike(BULLET_LINE_REGEX)))
            / F.greatest(F.size(lines), F.lit(1)).cast("double")
        ).alias("_g_blf"),
        (
            F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
            / F.greatest(F.size(lines), F.lit(1)).cast("double")
        ).alias("_g_elf"),
        (
            F.size(F.filter(words, lambda w: w.rlike(r"\p{L}")))
            / F.greatest(F.size(words), F.lit(1)).cast("double")
        ).alias("_g_awf"),
        stop_hits.cast("int").alias("_g_stops"),
    ).drop("_g_words", "_g_lines", "_g_low")
    flags = {
        "ok_word_count": (F.col("_g_nw") >= cfg.min_words)
        & (F.col("_g_nw") <= cfg.max_words),
        "ok_mean_word_len": (F.col("_g_mwl") >= cfg.min_mean_word_len)
        & (F.col("_g_mwl") <= cfg.max_mean_word_len),
        "ok_symbol_ratio": F.col("_g_swr") <= cfg.max_symbol_word_ratio,
        "ok_bullet_lines": F.col("_g_blf") <= cfg.max_bullet_line_frac,
        "ok_ellipsis_lines": F.col("_g_elf") <= cfg.max_ellipsis_line_frac,
        "ok_alpha_words": F.col("_g_awf") >= cfg.min_alpha_word_frac,
        "ok_stopwords": F.col("_g_stops") >= cfg.min_stopwords_present,
    }
    out = staged
    for name, expr in flags.items():
        out = out.withColumn(name, expr)
    verdict = None
    for name in flags:
        verdict = F.col(name) if verdict is None else (verdict & F.col(name))
    return out.withColumn("gopher_pass", verdict).drop(
        "_g_nw", "_g_mwl", "_g_swr", "_g_blf", "_g_elf", "_g_awf", "_g_stops"
    )


def _main() -> None:
    """Module demo: quality-reason histogram on the sf0.001 documents."""
    from llm_training_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="quality-demo")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    quality_stats(docs, "text", QualityConfig(min_words=20)).show(truncate=False)


if __name__ == "__main__":
    _main()


# --- C4-style rules (engine extension) ------------------------------------
# The C4/T5 cleaning heuristics (Raffel et al. 2020 §2.2): keep lines
# ending in terminal punctuation, drop pages with code/boilerplate
# markers, require a minimum of sentences. Line-level rules are reported
# as fractions so callers can keep either the doc verdict or the
# per-line cleaning decision.

TERMINAL_PUNCT_REGEX = r'[.!?"”]\s*$'


@dataclass(frozen=True)
class C4Config:
    min_sentences: int = 3
    min_words_per_line: int = 3
    max_no_terminal_punct_frac: float = 0.5


def with_c4_quality(
    df: DataFrame, text_col: str = "text", cfg: C4Config = C4Config()
) -> DataFrame:
    """C4 rule flags: terminal-punctuation line fraction, lorem-ipsum /
    curly-brace markers, sentence count — flags + ``c4_pass`` verdict in
    one staged projection (no Python, no shuffle)."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    staged = df.select(
        "*",
        (
            F.size(
                F.filter(lines, lambda l: ~l.rlike(TERMINAL_PUNCT_REGEX))
            )
            / F.greatest(F.size(lines), F.lit(1)).cast("double")
        ).alias("_c_ntp"),
        F.lower(t).contains("lorem ipsum").alias("_c_lorem"),
        t.contains("{").alias("_c_brace"),
        F.regexp_count(t, F.lit(r"[.!?]")).cast("long").alias("_c_sents"),
    )
    flags = {
        "ok_terminal_punct": F.col("_c_ntp") <= cfg.max_no_terminal_punct_frac,
        "ok_no_lorem": ~F.col("_c_lorem"),
        "ok_no_braces": ~F.col("_c_brace"),
        "ok_sentences": F.col("_c_sents") >= cfg.min_sentences,
    }
    out = staged
    for name, expr in flags.items():
        out = out.withColumn(name, expr)
    verdict = None
    for name in flags:
        verdict = F.col(name) if verdict is None else (verdict & F.col(name))
    return out.withColumn("c4_pass", verdict).drop(
        "_c_ntp", "_c_lorem", "_c_brace", "_c_sents"
    )


def _sorted_run_best(sorted_arr: Column) -> Column:
    """``max(count(g) · length(g))`` over the distinct grams of a SORTED
    gram array, as one per-row fold: sorting groups equal grams
    contiguously, so a run of equal neighbours IS a gram's count. The
    fold tracks (prev, run, best); empty array → 0. O(G) after the
    O(G log G) sort — never the distinct × occurrences quadratic."""
    init = F.struct(
        F.lit(None).cast("string").alias("p"),
        F.lit(0).cast("long").alias("r"),
        F.lit(0).cast("long").alias("b"),
    )

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc["p"]), acc["r"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("p"),
            run.alias("r"),
            F.greatest(acc["b"], run * F.length(x).cast("long")).alias("b"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["b"])


def with_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hof_max_words: int = 5000,
) -> DataFrame:
    """Gopher repetition statistics (Rae et al. 2021 A1.1, second block):

    - ``dup_line_frac``       fraction of non-empty lines that are repeats
                              (non-first occurrences / total)
    - ``dup_line_char_frac``  characters inside those repeat occurrences /
                              total line characters
    - ``top_2gram_char_frac`` characters covered by the most frequent word
                              2-gram (count x gram length) / doc length

    Pure per-row higher-order expressions for EVERY doc (r14): the
    top-2gram cover is the sorted-run fold (``_sorted_run_best``),
    O(G log G) per row, so the old explode+groupBy fallback for huge
    docs — a corpus shuffle keyed by gram strings, plus a plan-doubling
    union — is gone. ``hof_max_words`` is retained for signature
    compatibility and no longer routes anything (both former paths were
    value-identical; the single path equals both).
    """
    del hof_max_words  # retired routing knob (single path since r14)
    t = F.col(text_col)
    # stage the arrays as attributes: a lambda referencing a non-staged
    # array expression re-evaluates it once PER ELEMENT of the outer
    # array (the nested-HOF trap; attribute references are free)
    s1 = df.select(
        "*",
        F.filter(F.transform(F.split(t, "\n"), strip_ws), lambda x: x != "").alias(
            "_r_lines"
        ),
        whitespace_tokens(F.lower(t)).alias("_r_words"),
    )
    w = F.col("_r_words")
    s2 = s1.select(
        "*",
        F.array_distinct("_r_lines").alias("_r_dlines"),
        F.when(F.size(w) < 2, F.array().cast("array<string>"))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(w) - F.lit(1), F.lit(1))),
                lambda i: F.concat_ws(
                    " ", F.element_at(w, i), F.element_at(w, i + 1)
                ),
            )
        )
        .alias("_r_grams"),
    )
    lines, dlines = F.col("_r_lines"), F.col("_r_dlines")
    grams = F.col("_r_grams")
    n_lines, n_distinct = F.size(lines), F.size(dlines)
    total_line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    distinct_line_chars = F.aggregate(
        dlines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    best_cover = _sorted_run_best(F.array_sort(grams))
    return s2.select(
        "*",
        F.when(
            n_lines > 0, (n_lines - n_distinct) / n_lines.cast("double")
        ).otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when(
            total_line_chars > 0,
            (total_line_chars - distinct_line_chars)
            / total_line_chars.cast("double"),
        ).otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
        F.when(
            F.length(t) > 0, best_cover / F.length(t).cast("double")
        ).otherwise(F.lit(0.0)).alias("top_2gram_char_frac"),
    ).drop("_r_lines", "_r_words", "_r_dlines", "_r_grams")


@dataclass(frozen=True)
class GopherRepetitionConfig:
    """Thresholds for the full Gopher n-gram repetition block (Rae et al.
    2021, table A1): top-n-gram character coverage for n=2..4, duplicate-
    n-gram character coverage for n=5..10. A doc passes when every
    fraction is at or below its ceiling."""

    max_top_ngram_frac: tuple[tuple[int, float], ...] = (
        (2, 0.20), (3, 0.18), (4, 0.16),
    )
    max_dup_ngram_frac: tuple[tuple[int, float], ...] = (
        (5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10),
    )


def with_dup_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: GopherRepetitionConfig = GopherRepetitionConfig(),
) -> DataFrame:
    """The rest of the Gopher repetition battery (Rae et al. 2021 A1.1;
    ``with_repetition_stats`` covers the line block + top-2-gram):

    - ``top_{2,3,4}gram_char_frac``  chars covered by the single most
      frequent word n-gram (count x gram chars) / doc chars
    - ``dup_{5..10}gram_char_frac``  chars inside NON-FIRST occurrences of
      any repeated n-gram / doc chars, capped at 1

    plus ``ngram_repetition_pass`` (AND of the nine ceilings).

    Deviations from the reference greedy scan (documented, deterministic
    on both engines): gram character length counts the space-joined gram
    (consistent with ``top_2gram_char_frac`` here), tokens are lowercased
    (same), and the dup fraction charges every non-first occurrence
    without the greedy skip-ahead — overlapping repeats can overcount,
    hence the cap at 1. Fractions are exact half-up 1e-6 units so the
    DuckDB oracle replays them bit-for-bit.

    Plan shape (r15): ZERO Exchange — every statistic is per-document —
    and the per-row work runs in ONE Arrow pandas UDF over the staged
    token array (guide §4.1/§4.2). The r14 form computed the nine stats
    as higher-order folds (9 gram-array builds + 3 string sorts + 6
    ``array_distinct`` per row); higher-order functions are
    CodegenFallback, so every gram cost an interpreted expression walk
    plus a gram-STRING allocation — measured 53-57s of the composed
    pipeline's sf1 run, by far its largest segment. The UDF does the
    same counting with hash-map lookups on token tuples at native dict
    speed; only ``_w`` crosses the Python boundary (tokenization stays
    in SQL — ``split``/``lower`` semantics are the engine's), and
    every output is an exact INTEGER (gram char length = Σ token
    lengths + (n−1) separators, identical to ``length(concat_ws(' ',
    gram))`` because tokens cannot contain the separator), so the
    values are bit-identical to the fold form and the DuckDB oracle.
    Identities, exact in longs:

    - ``dup_n  = Σ_all_grams len − Σ_distinct_grams len``
      (== Σ_{cnt≥2} (cnt−1)·len: cnt=1 terms vanish from both sides);
    - ``best_n = max over grams of count(g) · length(g)`` (tracked as
      counts increment: count only grows, so the running max at each
      increment reaches the final value).

    A pathological 100k-word doc costs one in-task O(G) dict pass over
    its own grams — bounded, never distinct × occurrences quadratic."""
    t = F.col(text_col)
    staged = df.select("*", whitespace_tokens(F.lower(t)).alias("_w"))
    best_ns = sorted({n for n, _ in cfg.max_top_ngram_frac})
    dup_ns = sorted({n for n, _ in cfg.max_dup_ngram_frac})
    all_ns = sorted(set(best_ns) | set(dup_ns))
    fields = [f"b{n}" for n in best_ns] + [f"d{n}" for n in dup_ns]
    schema = ", ".join(f"{f} long" for f in fields)

    @F.pandas_udf(schema)
    def _ngram_stats(toks: pd.Series) -> pd.DataFrame:
        rows = []
        for arr in toks:
            tokens = [] if arr is None else list(arr)
            lens = [len(tk) for tk in tokens]
            nw = len(tokens)
            rec = {}
            for n in all_ns:
                if nw < n:
                    if n in best_ns:
                        rec[f"b{n}"] = 0
                    if n in dup_ns:
                        rec[f"d{n}"] = 0
                    continue
                counts: dict = {}
                glen = sum(lens[:n]) + (n - 1)
                total_len = 0
                distinct_len = 0
                best = 0
                for i in range(nw - n + 1):
                    if i:
                        glen += lens[i + n - 1] - lens[i - 1]
                    g = tuple(tokens[i : i + n])
                    c = counts.get(g, 0) + 1
                    counts[g] = c
                    total_len += glen
                    if c == 1:
                        distinct_len += glen
                    cover = c * glen
                    if cover > best:
                        best = cover
                if n in best_ns:
                    rec[f"b{n}"] = best
                if n in dup_ns:
                    rec[f"d{n}"] = total_len - distinct_len
            rows.append(rec)
        return pd.DataFrame(rows, columns=fields).astype("int64")

    # build the two stat families from their OWN config lists (an n may
    # appear in both max_top_ngram_frac and max_dup_ngram_frac, and then
    # needs both _best{n} and _dup{n})
    staged = staged.select("*", _ngram_stats(F.col("_w")).alias("_ng"))
    stat_cols = []
    for n in best_ns:
        stat_cols.append(F.col(f"_ng.b{n}").alias(f"_best{n}"))
    for n in dup_ns:
        stat_cols.append(F.col(f"_ng.d{n}").alias(f"_dup{n}"))

    def _frac_units(num: Column, den: Column) -> Column:
        # exact half-up 1e-6 units, capped at 1.0 (the dup numerator can
        # exceed den under overlap; see docstring)
        u = F.when(
            den > 0, F.floor((num * 2_000_000 + den) / (den * F.lit(2.0)))
        ).otherwise(F.lit(0)).cast("long")
        return F.least(u, F.lit(1_000_000).cast("long"))

    out = staged.select("*", *stat_cols)
    den = F.length(t).cast("long")
    flag = F.lit(True)
    frac_cols = []
    for n, ceil in cfg.max_top_ngram_frac:
        u = _frac_units(F.coalesce(F.col(f"_best{n}"), F.lit(0)), den)
        frac_cols.append((u / F.lit(1_000_000.0)).alias(f"top_{n}gram_char_frac"))
        flag = flag & (u <= int(round(ceil * 1_000_000)))
    for n, ceil in cfg.max_dup_ngram_frac:
        u = _frac_units(F.coalesce(F.col(f"_dup{n}"), F.lit(0)), den)
        frac_cols.append((u / F.lit(1_000_000.0)).alias(f"dup_{n}gram_char_frac"))
        flag = flag & (u <= int(round(ceil * 1_000_000)))
    return out.select(
        *df.columns, *frac_cols, flag.alias("ngram_repetition_pass")
    )


DEFAULT_CHAT_MARKERS = (
    "<|im_start|>",
    "<|im_end|>",
    "<|endoftext|>",
    "[INST]",
    "<s>",
)


def chat_markup_contamination(
    df: DataFrame,
    markers: tuple[str, ...] = DEFAULT_CHAT_MARKERS,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source screen for chat-template / special-token leakage in
    pretraining text — documents containing markers like
    ``<|im_start|>`` or ``<|endoftext|>`` are usually model OUTPUT that
    leaked back into the crawl (or prior training data), and training
    on them teaches the model to emit its own control tokens.

    Plain substring containment (no regex — markers carry ``|``/``[``),
    one literal-array explode per row (|markers| tiny) and one hash
    aggregate on (source, marker); exact ppm shares. Zero joins.
    """
    m = F.explode(F.array(*[F.lit(x) for x in sorted(markers)])).alias("marker")
    per = df.select(F.col(source_col).alias("source"), F.col(text_col), m).select(
        "source",
        "marker",
        F.contains(F.col(text_col), F.col("marker")).cast("long").alias("_hit"),
    )
    agg = per.groupBy("source", "marker").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_hit").cast("long").alias("contaminated"),
    )
    return agg.select(
        "source",
        "marker",
        "n_docs",
        "contaminated",
        F.expr("contaminated * 1000000 div n_docs").alias("contaminated_ppm"),
    ).orderBy("source", "marker")
