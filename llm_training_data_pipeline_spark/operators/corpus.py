"""Corpus-level operators for large-scale training-data preparation.

These extend the reference's five stages with operations a 100 TB
pipeline needs and the reference only gestures at:

- **Unigram LM scoring** — the reference declares a perplexity filter in
  config but never implements it (configs/pipeline_config.yaml:54-58;
  SURVEY §2.4 Q12). Here it is real: a corpus unigram language model
  (add-one smoothed) built with one aggregation, then per-document
  average surprisal via an equi-join — the classic cheap stand-in for
  kenlm-style perplexity filtering.
- **Benchmark contamination check** — flag training documents sharing
  word n-grams with a held-out benchmark set (the standard n-gram
  overlap decontamination used for LLM training corpora).
- **Deterministic stratified sampling** — per-stratum keep rates driven
  by a pure-arithmetic hash so runs are reproducible and the DuckDB
  oracle can replay them bit-for-bit.
- **Sequence packing** — assign documents to fixed token-budget packs
  (training-sequence construction) with one window pass.
- **Corpus mix report** — per-stratum share-of-corpus statistics.

Everything is pure DataFrame algebra — no Python UDFs — so each
operator runs as codegen'd JVM expressions and is oracle-checkable.

Scale notes are on each function; the common theme: one shuffle per
logical step, small sides broadcast, no window over an unpartitioned
frame, no driver-side loops.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.functions.text import (
    whitespace_tokens,
    word_count,
    word_ngrams_from_tokens,
)

# ---------------------------------------------------------------------
# Unigram LM scoring (Q12 made real)
# ---------------------------------------------------------------------


def _lower_words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per (doc, word), case-folded. Zero-word docs vanish here —
    they carry no LM evidence and are excluded from scoring by design."""
    return df.select(
        F.col(id_col), F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("word")
    )


def _count_words(words: DataFrame) -> DataFrame:
    """(word, n) counts over an exploded word table — the single
    definition both surprisal scorers share, so the two can never
    drift."""
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """Per-document average surprisal under the corpus's own add-one
    smoothed unigram LM: ``avg over words of -ln((c_w + 1) / (N + V))``.

    High surprisal = rare/garbled vocabulary → the perplexity-style
    quality signal the reference's dead config knob describes
    (configs/pipeline_config.yaml:54-58).

    Folded to ``ln(N + V) - avg(ln(c_w + 1))`` so the constant lives in
    ONE broadcast single-row cross join instead of being recomputed per
    word. Plan: explode → agg(vocab) → equi-join words⋈vocab → agg per
    doc → broadcast totals. Two shuffles total (word, then doc id), both
    on natural keys; nothing driver-side. Stopwords make the word key
    skewed ("the" alone is percents of the corpus) — the vocab side has
    ONE row per key, so AQE's skew-join split handles the hot partitions
    without replication (enabled in ``session.get_spark``).
    """
    words = _lower_words(df, text_col, id_col)
    if materialize:
        # one corpus scan instead of three (words, vocab branch, join
        # branch) — bit-identical output, pinned in tests
        words = words.localCheckpoint(eager=True)
    vocab = _count_words(words)
    totals = vocab.agg(
        F.sum("n").alias("_total"), F.count(F.lit(1)).alias("_v")
    )
    # the per-word ln values are truncated to exact 1e-8 integer units and
    # summed exactly — a float avg() here would depend on partition/merge
    # order (the one nondeterminism an engine-side aggregate can't hide)
    per_doc = (
        words.join(vocab, on="word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(
                F.floor(F.log(F.col("n") + F.lit(1)) * F.lit(1e8)).cast("long")
            ).alias("_sln"),
        )
    )
    avg_ln = F.col("_sln").cast("double") / F.lit(1e8) / F.col("n_words")
    return per_doc.crossJoin(F.broadcast(totals)).select(
        id_col,
        "n_words",
        F.round(F.log(F.col("_total") + F.col("_v")) - avg_ln, 6).alias(
            "avg_surprisal"
        ),
    )


# ---------------------------------------------------------------------
# Benchmark contamination check
# ---------------------------------------------------------------------


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Train/test decontamination: ``(corpus_id, benchmark_id, n_shared)``
    for every corpus document sharing ≥ ``min_shared`` distinct word
    ``n``-grams with a benchmark document.

    Shape: explode both gram sets → equi-join on the gram string →
    count per pair. The benchmark side is tiny relative to the corpus
    (eval suites are ~1e5 docs vs 1e9+), so its exploded grams are
    broadcast; the 100 TB side is a single scan + map-side join, no
    corpus shuffle. Grams are distinct per document, so ``count(*)``
    per pair IS the number of distinct shared grams.
    """
    def exploded(df: DataFrame, out_id: str) -> DataFrame:
        # tokens bound in a prior projection: an inline tokenize inside
        # the explode re-evaluates per gram (word_ngrams_from_tokens)
        return df.select(
            F.col(id_col).alias(out_id),
            whitespace_tokens(F.lower(F.col(text_col))).alias("_toks"),
        ).select(
            out_id,
            F.explode(word_ngrams_from_tokens(F.col("_toks"), n)).alias("gram"),
        )

    cg = exploded(corpus, "corpus_id")
    bg = exploded(benchmark, "benchmark_id")
    return (
        cg.join(F.broadcast(bg), on="gram")
        .groupBy("corpus_id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------

# Knuth's multiplicative constant; the modulus keeps the product inside
# int64 (1000002 * 2654435761 ≈ 2.7e15 ≪ 2^63).
_HASH_MULT = 2654435761
_HASH_MOD = 1000003


def sample_key(id_col: Column, buckets: int = 1000) -> Column:
    """Deterministic pseudo-uniform bucket in [0, buckets) from an id.

    Pure arithmetic (no engine hash) so the DuckDB oracle replays it
    bit-for-bit. In production swap for ``pmod(xxhash64(id), buckets)``
    — identical plan shape, better avalanche on adversarial id spaces.

    ``pmod`` (not ``%``, which keeps the dividend's sign) so negative
    ids land in [0, buckets) instead of producing a negative key that
    passes ``key < rate * 1000`` even at rate 0.
    """
    return (F.pmod(id_col, F.lit(_HASH_MOD)) * F.lit(_HASH_MULT)) % F.lit(buckets)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep each row with a per-stratum probability, deterministically:
    row survives iff ``sample_key(id) < rate[stratum] * 1000``.

    This is the corpus-mixing primitive (upsample wiki, downsample web
    crawl). Pure filter — no shuffle, pushes past column pruning, and
    the same ids survive on every run and every engine.
    """
    key = sample_key(F.col(id_col))
    rate: Column = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(float(r))).otherwise(rate)
    return df.filter(key < rate * F.lit(1000))


# ---------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------


@dataclass(frozen=True)
class PackConfig:
    budget_tokens: int = 2048
    part_col: str = "source"
    id_col: str = "doc_id"
    text_col: str = "text"


def pack_sequences(df: DataFrame, cfg: PackConfig = PackConfig()) -> DataFrame:
    """Assign every document to a training-sequence pack: within each
    ``part_col`` partition, documents in ``id_col`` order fill packs of
    ``budget_tokens`` whitespace tokens; a document belongs to the pack
    in which it STARTS (``floor(preceding_tokens / budget)``).

    One window pass, partitioned by ``part_col`` — never a global
    unpartitioned window, so state per task stays bounded by the
    largest partition, not the corpus. At 100 TB you'd pick a
    partitioning column with enough cardinality (shard id) for the
    same reason.
    """
    n_tok = word_count(F.col(cfg.text_col))
    w = (
        Window.partitionBy(cfg.part_col)
        .orderBy(cfg.id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n_tok).over(w)
    return df.select(
        cfg.part_col,
        cfg.id_col,
        n_tok.alias("n_tokens"),
        F.floor((cum - n_tok) / F.lit(cfg.budget_tokens)).alias("pack_id"),
    )


def pack_boundaries(df: DataFrame, cfg: PackConfig = PackConfig()) -> DataFrame:
    """Per-document boundary spans inside each pack: where every doc
    STARTS and ENDS (token offsets) in its packed training sequence,
    plus its ordinal within the pack — exactly what a trainer needs to
    build the block-diagonal attention mask that stops tokens attending
    across document boundaries (the packing-correctness detail
    naive concatenation silently gets wrong; see e.g. the Llama/T5
    "example packing with attention masking" recipes).

    Same single window pass as ``pack_sequences`` (the cumulative-token
    sum is shared), plus one row_number over (part, pack) for the
    ordinal. A doc that straddles its budget keeps the overrun
    (starts-in semantics, the pack_sequences contract); end_offset is
    relative to the PACK's first token, so the straddler's end exceeds
    ``budget_tokens`` and the mask builder right-truncates it.
    """
    n_tok = word_count(F.col(cfg.text_col))
    w = (
        Window.partitionBy(cfg.part_col)
        .orderBy(cfg.id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n_tok).over(w)
    base = df.select(
        cfg.part_col,
        cfg.id_col,
        n_tok.alias("n_tokens"),
        (cum - n_tok).alias("_pre"),
        F.floor((cum - n_tok) / F.lit(cfg.budget_tokens)).alias("pack_id"),
    )
    wp = Window.partitionBy(cfg.part_col, "pack_id").orderBy(cfg.id_col)
    return base.select(
        cfg.part_col,
        "pack_id",
        cfg.id_col,
        (F.row_number().over(wp) - F.lit(1)).cast("long").alias("pack_ordinal"),
        (F.col("_pre") - F.col("pack_id") * F.lit(cfg.budget_tokens))
        .cast("long")
        .alias("start_offset"),
        "n_tokens",
        (
            F.col("_pre")
            - F.col("pack_id") * F.lit(cfg.budget_tokens)
            + F.col("n_tokens")
        )
        .cast("long")
        .alias("end_offset"),
    )


def pack_stats(df: DataFrame, cfg: PackConfig = PackConfig()) -> DataFrame:
    """Per-pack fill statistics: docs per pack and tokens per pack."""
    return (
        pack_sequences(df, cfg)
        .groupBy(cfg.part_col, "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
    )


# ---------------------------------------------------------------------
# Corpus mix report
# ---------------------------------------------------------------------


@dataclass(frozen=True)
class MixConfig:
    group_cols: tuple[str, ...] = ("lang",)
    text_col: str = "text"


def corpus_mix_report(df: DataFrame, cfg: MixConfig = MixConfig()) -> DataFrame:
    """Share-of-corpus per stratum: docs, words, and each stratum's
    fraction of both — the report that drives mixing-rate decisions.

    Grand totals come from a second aggregate broadcast as one row
    (never a window over an unpartitioned frame, which would funnel
    the corpus through a single task).
    """
    per = df.groupBy(*cfg.group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(word_count(F.col(cfg.text_col))).alias("n_words"),
    )
    totals = per.agg(
        F.sum("n_docs").alias("_td"), F.sum("n_words").alias("_tw")
    )
    return per.crossJoin(F.broadcast(totals)).select(
        *cfg.group_cols,
        "n_docs",
        "n_words",
        F.round(F.col("n_docs") / F.col("_td"), 6).alias("doc_share"),
        F.round(F.col("n_words") / F.col("_tw"), 6).alias("word_share"),
    )


# ---------------------------------------------------------------------
# Cross-document repeated-line removal (C4-style)
# ---------------------------------------------------------------------


def corpus_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global corpus shuffle — the training-order
    randomization pass before sequence packing / sharding.

    Every document gets ``shuffle_key = md5(id ":" seed)`` (uniform,
    seeded, engine-replayable), then ``repartitionByRange`` on the key +
    ``sortWithinPartitions``: reading the output partitions in order
    yields a fully shuffled but REPRODUCIBLE document order. The range
    exchange samples key quantiles, so there is no single-point global
    sort — this scales to any corpus size, unlike ``orderBy`` into one
    writer or a driver-side permutation. A different ``seed`` gives an
    independent permutation (new epoch order without touching the data).
    """
    keyed = df.withColumn(
        "shuffle_key",
        F.md5(
            F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))
        ),
    )
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return keyed.repartitionByRange(parts, "shuffle_key").sortWithinPartitions(
        "shuffle_key"
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    min_count: int = 5,
    k: int = 25,
) -> DataFrame:
    """Corpus-wide boilerplate n-gram detection: the ``k`` word n-grams
    with the highest DOCUMENT frequency (grams are distinct per doc, so
    a phrase repeated inside one document counts once) — the n-gram-
    level sibling of ``remove_common_lines``, used to surface templated
    phrasing ("all rights reserved", "click here to") before it leaks
    into training data.

    Shape: staged tokens → raw gram array built from O(1) ``element_at``
    lookups (a ``slice``+``array_join`` per gram allocates a sub-array
    in the interpreted Generate context — measured 14x slower at sf0.1)
    → explode → shuffle-distinct (doc, gram) pairs (the per-doc
    ``array_distinct`` would run interpreted per row; the distinct is
    one exchange that the doc-frequency groupBy reuses) → frequency
    gate → top-k via orderBy+limit, which Spark plans as
    TakeOrderedAndProject (per-partition heaps; no full sort at any
    scale). Ties at the cut break by gram text, so the emitted set is
    deterministic. Output: ``(gram, doc_freq)``.
    """
    staged = df.select(
        F.col(id_col), whitespace_tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    toks = F.col("_toks")
    ln = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(ln - F.lit(n - 1), F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + F.lit(j)).cast("int")) for j in range(n)]
        ),
    )
    pairs = staged.select(
        F.col(id_col),
        F.explode(
            F.when(ln < n, F.array(F.array_join(toks, " "))).otherwise(grams)
        ).alias("gram"),
    ).distinct()
    counts = (
        pairs.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_count)
    )
    return (
        counts.orderBy(F.col("doc_freq").desc(), "gram")
        .limit(k)
        .select("gram", "doc_freq")
    )


def remove_common_lines(
    df: DataFrame,
    min_freq: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every line that occurs (verbatim) in ≥ ``min_freq`` documents
    corpus-wide — the C4-style boilerplate cut (nav bars, cookie notices,
    footer text repeat across pages; prose doesn't).

    Whitespace-only lines are never counted as "common" (removing them
    would collapse paragraph structure). Documents are reassembled in
    original line order; a doc whose every line is common comes back as
    ''. Output: ``(id_col, cleaned_text, n_lines_removed)``.

    Shape: posexplode → line-frequency aggregate → anti-join on the
    common-line set → order-preserving rebuild via sort of (pos, line)
    structs inside the per-doc aggregate. Two shuffles (line key, then
    doc id). The common-line set is deliberately NOT broadcast-hinted:
    on a web-scale corpus the ≥k-frequency line set is itself huge
    (boilerplate repeats billions of times), so the join strategy is
    left to Catalyst/AQE — broadcast when it measures small, shuffle
    anti-join otherwise.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    common = (
        lines.filter(F.trim("line") != "")
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_freq)
        .select("line")
    )
    kept = lines.join(common, on="line", how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    n_lines = F.size(F.split(F.col(text_col), "\n"))
    return (
        df.select(F.col(id_col), n_lines.alias("_n_lines"))
        .join(rebuilt, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            (F.col("_n_lines") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long")
            .alias("n_lines_removed"),
        )
    )


def _main() -> None:
    """Module demo: corpus mix, surprisal quartiles, pack fill on sf0.001."""
    from llm_training_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="corpus-demo")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus_mix_report(docs).orderBy("lang").show(truncate=False)
    unigram_surprisal(docs).agg(
        F.min("avg_surprisal").alias("min"),
        F.expr("percentile(avg_surprisal, 0.5)").alias("median"),
        F.max("avg_surprisal").alias("max"),
    ).show()
    pack_stats(docs).orderBy("source", "pack_id").show(5, truncate=False)


if __name__ == "__main__":
    _main()


def temperature_mix_weights(
    df: DataFrame,
    strata_col: str = "lang",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-weighted corpus mixing (the alpha-smoothed sampling of
    multilingual LM training, e.g. XLM-R's p^alpha renormalization):

    - ``p``            stratum share n_s / N
    - ``mix_weight``   p^alpha / sum_s p^alpha — the smoothed sampling
                       distribution (alpha<1 upweights small strata)
    - ``sample_rate``  p^(alpha-1) / max_s p^(alpha-1) — per-document
                       acceptance rate realizing that mixture in one
                       pass, scaled so the most-upweighted stratum keeps
                       every document

    One grouped count + two single-row broadcast cross joins — no second
    corpus scan at any scale; feed ``sample_rate`` into
    ``stratified_sample`` to materialize the mixture deterministically.
    """
    n = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = n.agg(F.sum("n_docs").alias("_N"))
    w = n.crossJoin(F.broadcast(tot)).withColumn(
        "p", F.col("n_docs").cast("double") / F.col("_N")
    )
    if alpha == 0.5:
        # sqrt and division are IEEE-754 correctly-rounded on EVERY
        # engine; Math.pow is not (measured: 1-ulp drift vs libm on ~9%
        # of pow(p, -0.5) inputs, tests/test_determinism.py) — so the
        # default temperature uses the exact construction the oracle can
        # replay bit-for-bit, and pow stays only for exotic alphas
        w = w.withColumn("_pa", F.sqrt("p")).withColumn(
            "_pr", F.lit(1.0) / F.sqrt("p")
        )
    else:
        w = w.withColumn("_pa", F.pow("p", F.lit(alpha))).withColumn(
            "_pr", F.pow("p", F.lit(alpha - 1.0))
        )
    norms = w.agg(F.sum("_pa").alias("_sum_pa"), F.max("_pr").alias("_max_pr"))
    return (
        w.crossJoin(F.broadcast(norms))
        .select(
            "stratum",
            "n_docs",
            F.round("p", 6).alias("p"),
            F.round(F.col("_pa") / F.col("_sum_pa"), 6).alias("mix_weight"),
            F.round(F.col("_pr") / F.col("_max_pr"), 6).alias("sample_rate"),
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 2000,
    overlap_chars: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the standard context-window preparation step (long documents cannot
    feed a trainer whole; adjacent chunks share ``overlap_chars`` so no
    boundary context is lost).

    Chunk k covers [k*stride, k*stride + chunk_chars) with
    stride = chunk_chars - overlap_chars. Emitted columns:
    (id, chunk_id, n_chunks, chunk_text, chunk_len). Pure
    sequence+explode+substring — codegen'd, one pass, no shuffle; output
    order is deterministic via (id, chunk_id).

    Empty/short documents yield exactly one chunk (their whole text), so
    the operator never drops rows.
    """
    if overlap_chars >= chunk_chars:
        raise ValueError("overlap_chars must be smaller than chunk_chars")
    stride = chunk_chars - overlap_chars
    ln = F.length(F.col(text_col))
    # number of stride starts covering the text: 1 + ceil(max(len - chunk, 0) / stride)
    n_chunks = (
        F.lit(1)
        + F.ceil(F.greatest(ln - F.lit(chunk_chars), F.lit(0)).cast("double") / F.lit(stride))
    ).cast("long")
    out = df.select(
        F.col(id_col),
        n_chunks.alias("n_chunks"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda k: F.substring(
                    F.col(text_col), (k * stride + 1).cast("int"), chunk_chars
                ),
            )
        ).alias("chunk_id", "chunk_text"),
    )
    return out.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_chunks",
        "chunk_text",
        F.length("chunk_text").cast("long").alias("chunk_len"),
    )


def duplicated_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Exact-substring duplication signal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): the
    fraction of each document's ``window``-token spans that appear
    verbatim in at least one OTHER document. MinHash answers "are these
    documents near-duplicates"; this answers "how much of this document
    is copied text" — the two miss different contamination (boilerplate
    chunks inside otherwise-unique pages slip past whole-doc sketches).

    Plan: lower+tokenize once per doc, explode one md5 window hash per
    token position (O(n_tokens) rows — same volume as the unigram LM
    explode), one map-side-combinable groupBy to find hashes spanning
    >= 2 distinct docs, one join back, one per-doc aggregate. At corpus
    scale every stage keys on the span hash — uniform by construction.
    ``dup_fraction`` is half-up-rounded in exact integer arithmetic
    (n/2^k quotients tie at fixed decimals; float round() is
    engine-defined there).
    """
    w = window
    staged = df.select(
        F.col(id_col),
        whitespace_tokens(F.lower(F.col(text_col))).alias("_toks"),
    ).withColumn("_nw", F.greatest(F.size("_toks") - F.lit(w - 1), F.lit(0)))
    # sequence(1, 0) would DESCEND in Spark — guard the empty case
    spans = staged.filter(F.col("_nw") >= 1).select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.col("_nw"))).alias("_i"),
        "_toks",
    ).select(
        F.col(id_col),
        F.md5(
            F.encode(F.array_join(F.slice("_toks", F.col("_i"), w), " "), "UTF-8")
        ).alias("_wh"),
    )
    dup = (
        spans.groupBy("_wh")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_wh", F.lit(1).alias("_isdup"))
    )
    per = (
        spans.join(dup, on="_wh", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_n_windows"),
            F.sum(F.coalesce(F.col("_isdup"), F.lit(0))).alias("_n_dup"),
        )
    )
    nwin = F.coalesce(F.col("_n_windows"), F.lit(0)).cast("long")
    ndup = F.coalesce(F.col("_n_dup"), F.lit(0)).cast("long")
    frac = F.when(
        nwin > 0,
        F.floor((ndup * 2000000 + nwin) / (nwin * F.lit(2.0))).cast("long")
        / F.lit(1000000.0),
    ).otherwise(F.lit(0.0))
    return df.select(id_col).join(per, on=id_col, how="left").select(
        F.col(id_col),
        nwin.alias("n_windows"),
        ndup.alias("dup_windows"),
        frac.alias("dup_fraction"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    keep_first_doc: bool = True,
) -> DataFrame:
    """Surgical exact-substring removal (the second half of Lee et al.
    2021): delete every token covered by a ``window``-token span that
    appears verbatim in >= 2 distinct documents, keeping the copy in the
    smallest doc id when ``keep_first_doc`` (so shared text survives
    exactly once in the corpus, deterministically).

    Output is whitespace-normalized (tokens re-joined with single
    spaces) — span surgery is inherently token-level; callers needing
    original spacing should gate on ``duplicated_span_stats`` instead.

    Plan: one span-hash explode (O(n_tokens)), a min-doc-per-hash
    aggregate, covered-position explode bounded by dup windows only,
    and an order-stable rebuild via sort_array(collect_list(struct)) —
    collect_list alone is shuffle-order-dependent and would be
    nondeterministic.
    """
    w = window
    staged = df.select(
        F.col(id_col),
        whitespace_tokens(F.lower(F.col(text_col))).alias("_toks"),
    ).withColumn("_nw", F.greatest(F.size("_toks") - F.lit(w - 1), F.lit(0)))
    spans = staged.filter(F.col("_nw") >= 1).select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.col("_nw"))).alias("_i"),
        "_toks",
    ).select(
        F.col(id_col),
        F.col("_i"),
        F.md5(
            F.encode(F.array_join(F.slice("_toks", F.col("_i"), w), " "), "UTF-8")
        ).alias("_wh"),
    )
    agg = [F.count_distinct(F.col(id_col)).alias("_nd")]
    if keep_first_doc:
        agg.append(F.min(F.col(id_col)).alias("_keeper"))
    dup = spans.groupBy("_wh").agg(*agg).filter(F.col("_nd") >= 2)
    flagged = spans.join(dup, on="_wh")
    if keep_first_doc:
        flagged = flagged.filter(F.col(id_col) != F.col("_keeper"))
    covered = flagged.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("_i"), F.col("_i") + F.lit(w - 1))).alias("_pos"),
    ).distinct()
    toks = staged.select(
        F.col(id_col),
        F.posexplode(F.col("_toks")).alias("_p0", "_tok"),
    ).select(F.col(id_col), (F.col("_p0") + 1).alias("_pos"), "_tok")
    kept = toks.join(covered, on=[id_col, "_pos"], how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_kept"),
    )
    n_tokens = F.coalesce(F.col("_ntok"), F.lit(0)).cast("long")
    kept_n = F.coalesce(F.col("_kept"), F.lit(0)).cast("long")
    return (
        staged.select(F.col(id_col), F.size("_toks").alias("_ntok"))
        .join(rebuilt, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            kept_n.alias("kept_tokens"),
            (n_tokens - kept_n).alias("removed_tokens"),
        )
    )


def pack_token_ids(
    tokenized: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    ids_col: str = "tokens",
    eos_id: int | None = None,
) -> DataFrame:
    """GPT-style corpus packing into actual training sequences:
    concatenate per-document token-id arrays in ascending ``id_col``
    order (optionally appending ``eos_id`` per document), cut the global
    stream into fixed ``seq_len`` windows → (seq_id, input_ids,
    n_tokens). The last sequence may be partial; everything else is
    exactly ``seq_len``. ``pack_sequences`` assigns docs to budgeted
    packs; this emits the packed id arrays a training loader consumes.

    Scale shape: the global token offset per document is the
    DISTRIBUTED prefix sum ``_prefix_sum`` of the per-document token
    counts. The token explode then carries an exact global position, so
    sequence assignment is independent of partitioning; the
    per-sequence rebuild groups exactly ``seq_len`` rows via
    sort_array(collect_list(struct)) (order-stable, bounded group size).
    No global single-partition window anywhere.

    Precondition: ``id_col`` values are unique — the global stream order
    is "ascending id", so duplicate ids would make the relative order of
    their tokens arbitrary.
    """
    ids = F.col(ids_col)
    if eos_id is not None:
        ids = F.concat(ids, F.array(F.lit(int(eos_id)).cast("int")))
    staged, _ = _prefix_sum(
        tokenized.select(F.col(id_col).alias("_id"), ids.alias("_ids")),
        [F.col("_id")],
        F.size("_ids"),
        "_doc_off",
    )
    toks = staged.select(
        "_doc_off", F.posexplode("_ids").alias("_p", "_tok")
    ).select(
        (F.col("_doc_off") + F.col("_p")).alias("_gpos"), "_tok"
    )
    return (
        toks.withColumn("seq_id", F.floor(F.col("_gpos") / seq_len).cast("long"))
        .groupBy("seq_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_gpos", "_tok"))),
                lambda s: s["_tok"],
            ).alias("input_ids"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )


def vocab_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary diagnostics in one aggregate: total tokens,
    distinct types, hapax legomena count (frequency-1 types — the Zipf
    tail), top-type frequency, type-token ratio and hapax share (exact
    integer half-up rounding, 6dp). A sudden type-token-ratio move
    between pipeline runs is the classic early warning for tokenizer or
    cleaning regressions.

    Plan: the word explode + two map-side-combinable aggregates (per
    type, then corpus-level) — the same shuffle shape as the unigram LM.
    """
    words = _lower_words(df, text_col, "doc_id")
    per_type = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))

    def r6(num, den):
        return F.when(
            den > 0,
            F.floor((num * 2000000 + den) / (den * F.lit(2.0))).cast("long")
            / F.lit(1000000.0),
        ).otherwise(F.lit(0.0))

    agg = per_type.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("distinct_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("hapax_types"),
        F.max("n").cast("long").alias("top_type_freq"),
    )
    return agg.select(
        "total_tokens",
        "distinct_types",
        "hapax_types",
        "top_type_freq",
        r6(F.col("distinct_types"), F.col("total_tokens")).alias("type_token_ratio"),
        r6(F.col("hapax_types"), F.col("distinct_types")).alias("hapax_share"),
    )


# ---------------------------------------------------------------------
# Bigram LM surprisal (CCNet-style perplexity filtering, one order up
# from unigram_surprisal)
# ---------------------------------------------------------------------


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per (doc, w1, w2) adjacent word pair, case-folded.

    The pair build is an array transform over the token array
    (element_at is O(1)), so it stays inside whole-stage codegen — no
    positional self-join. Docs with <2 tokens vanish here: they carry no
    bigram evidence and are excluded from scoring by design (same
    convention as ``_lower_words`` for zero-word docs).
    """
    toks = df.select(
        F.col(id_col), whitespace_tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    pairs = F.expr(
        "transform(slice(_toks, 1, greatest(size(_toks) - 1, 0)),"
        " (w, i) -> struct(w AS w1, element_at(_toks, i + 2) AS w2))"
    )
    return toks.select(F.col(id_col), F.explode(pairs).alias("_bg")).select(
        id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2")
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """Per-document average surprisal under an interpolated corpus bigram
    LM: ``avg over adjacent pairs of -ln(0.75·c12/c1 + 0.25·(c2+1)/(N+V))``
    — the Jelinek-Mercer mix of the bigram MLE with the add-one unigram
    prior (weights are dyadic rationals so the float arithmetic is
    bit-identical across engines).

    This is the KenLM-perplexity quality signal of CCNet (Wenzek et al.
    2020) with the LM trained on the corpus itself: garbled, shuffled or
    boilerplate text scores high even when its vocabulary is common —
    exactly what ``unigram_surprisal`` cannot see.

    Plan: pair-explode → agg(bigram model) → two word-keyed equi-joins
    (c1, c2) + one bigram-keyed equi-join (c12) → broadcast totals → agg
    per doc. All joins are on natural high-cardinality keys; the
    stopword-pair skew ("of the") has ONE model row per key, so AQE's
    skew split handles hot partitions without replication. Per-pair ln
    values are truncated to exact 1e-8 units and summed as longs — no
    float-sum order dependence.

    The lazy plan reads the corpus once per model branch (pairs, bigram
    model, two unigram joins — up to 5 scans). ``materialize=True``
    checkpoints the exploded pair and word tables once, cutting it to 2
    corpus scans — the right call at 100 TB where the scan dominates;
    output is bit-identical (pinned in tests). Default stays lazy so
    the oracle-replayed query remains a pure expression tree.
    """
    pairs = _doc_bigrams(df, text_col, id_col)
    words = _lower_words(df, text_col, id_col)
    if materialize:
        pairs = pairs.localCheckpoint(eager=True)
        words = words.localCheckpoint(eager=True)
    bmodel = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    uni = _count_words(words)
    totals = uni.agg(F.sum("n").alias("_total"), F.count(F.lit(1)).alias("_v"))
    scored = (
        pairs.join(bmodel, on=["w1", "w2"])
        .join(uni.select(F.col("word").alias("w1"), F.col("n").alias("n1")), on="w1")
        .join(uni.select(F.col("word").alias("w2"), F.col("n").alias("n2")), on="w2")
        .crossJoin(F.broadcast(totals))
    )
    p = F.lit(0.75) * (
        F.col("n12").cast("double") / F.col("n1").cast("double")
    ) + F.lit(0.25) * (
        (F.col("n2") + F.lit(1)).cast("double")
        / (F.col("_total") + F.col("_v")).cast("double")
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(F.floor(-F.log(p) * F.lit(1e8)).cast("long")).alias("_su"),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        F.round(
            F.col("_su").cast("double") / F.lit(1e8) / F.col("n_bigrams"), 6
        ).alias("avg_bigram_surprisal"),
    )


# ---------------------------------------------------------------------
# Token-budget corpus selection (greedy best-first fill per stratum)
# ---------------------------------------------------------------------


def _budget_base(
    df: DataFrame, text_col: str, id_col: str, strata_col: str
) -> DataFrame:
    """Per-doc selection inputs: token count and an exact-integer quality
    score — the per-doc type-token ratio (distinct words / words) in
    1e-6 units via integer division. ``div`` here and ``//`` in DuckDB
    round identically for non-negatives, so the greedy order can never
    drift between engines; the ratio itself is the classic repetition-
    aware quality proxy (low = the doc repeats itself). Zero-token docs
    are excluded: they carry no budget weight and selecting them is
    meaningless."""
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    return (
        df.select(
            F.col(strata_col).alias("strata"),
            F.col(id_col).alias("doc_id"),
            toks.alias("_toks"),
        )
        .filter(F.size("_toks") > 0)
        .select(
            "strata",
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            F.expr(
                "CAST((size(array_distinct(_toks)) * 1000000L) div size(_toks) AS LONG)"
            ).alias("score_units"),
        )
    )


def select_token_budget(
    df: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str = "source",
    prune_bucket_units: int | None = 10_000,
) -> DataFrame:
    """Greedy token-budget fill: per stratum, take documents best-first
    (alpha-ratio score desc, id asc) while the running token total stays
    within ``budget_tokens`` — the standard "fill a fixed training-token
    budget with the highest-quality documents from each source" step.

    Semantics are defined by ONE per-stratum window (cum ≤ budget over
    the score-ordered prefix). A naive window funnels each stratum's
    entire corpus through one sort partition — with a handful of sources
    at 100 TB that is THE scale hazard. So by default the selection is
    computed with an exact two-phase prune:

    1. bucket scores (``score_units div prune_bucket_units``) and
       aggregate token sums per (stratum, bucket) — a tiny S×B table;
    2. per stratum find the boundary bucket b* where the descending
       running total first reaches the budget; every doc in a bucket
       above b* is provably inside the budget, every doc below is
       provably outside (token counts are positive), so only candidates
       with bucket ≥ b* — a budget-sized set, not the corpus — enter the
       exact window.

    The pruned result is bit-identical to the naive window by
    construction (pinned in tests). Pass ``prune_bucket_units=None`` for
    the definitional single-window form.

    Output: strata, doc_id, score_units, n_tokens, cum_tokens.
    """
    base = _budget_base(df, text_col, id_col, strata_col)
    if prune_bucket_units is not None:
        bucket = (F.col("score_units") / F.lit(prune_bucket_units)).cast("long")
        bucketed = base.withColumn("_bucket", bucket)
        per_bucket = bucketed.groupBy("strata", "_bucket").agg(
            F.sum("n_tokens").alias("_btok")
        )
        wb = (
            Window.partitionBy("strata")
            .orderBy(F.desc("_bucket"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cutoff = (
            per_bucket.withColumn("_running", F.sum("_btok").over(wb))
            .groupBy("strata")
            .agg(
                F.max(
                    F.when(F.col("_running") >= budget_tokens, F.col("_bucket"))
                ).alias("_b_star")
            )
        )
        base = (
            bucketed.join(F.broadcast(cutoff), on="strata", how="left")
            .filter(F.col("_b_star").isNull() | (F.col("_bucket") >= F.col("_b_star")))
            .drop("_bucket", "_b_star")
        )
    w = (
        Window.partitionBy("strata")
        .orderBy(F.desc("score_units"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select("strata", "doc_id", "score_units", "n_tokens", "cum_tokens")
    )


# ---------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF — the standard
    corpus-keyword signal (topic tagging, mixture diagnostics, building
    blocklists from what a source is actually about).

    ``idf = ln(D / df)`` is truncated to exact 1e-8 integer units ONCE
    per vocabulary term; the per-doc score is then the exact long
    product ``tf · idf_units``, so ranking (score desc, term asc) can
    never drift between engines — no per-row float comparisons at all.

    Plan: explode → (doc, word) hash aggregate → word-keyed aggregate
    for document frequency → equi-join back on word → per-doc top-k
    window (partitions are doc-sized). Two shuffles on natural keys plus
    one broadcast of the doc-count scalar.
    """
    tf = (
        _lower_words(df, text_col, id_col)
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    if materialize:
        # tf feeds three branches (docfreq, doc count, the score join) —
        # checkpoint it once and the corpus is scanned once, not thrice
        tf = tf.localCheckpoint(eager=True)
    docfreq = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("df_docs")
    )
    n_docs = tf.select(id_col).distinct().agg(
        F.count(F.lit(1)).cast("long").alias("_d")
    )
    scored = (
        tf.join(docfreq, on="word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "_idf_units",
            F.floor(
                F.log(F.col("_d").cast("double") / F.col("df_docs").cast("double"))
                * F.lit(1e8)
            ).cast("long"),
        )
        .withColumn("_score_units", F.col("tf") * F.col("_idf_units"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("_score_units"), F.asc("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "rank",
            F.col("word").alias("term"),
            "tf",
            F.round(F.col("_score_units").cast("double") / F.lit(1e8), 6).alias(
                "tfidf"
            ),
        )
    )


# ---------------------------------------------------------------------
# Budget-driven mixture / epoch planning
# ---------------------------------------------------------------------


def _weight_units_expr(
    source_col: str, weights: dict[str, float], default_weight: float
) -> Column:
    """Per-source mixture weight in exact 1e-3 integer units (CASE
    cascade over sorted source names so plan text is deterministic)."""
    w: Column = F.lit(int(round(default_weight * 1000)))
    for name, wt in sorted(weights.items()):
        w = F.when(F.col(source_col) == name, F.lit(int(round(wt * 1000)))).otherwise(w)
    return w


def mixture_epoch_plan(
    df: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    default_weight: float = 1.0,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Turn target mixture weights + a total token budget into a
    per-source plan: how many tokens each source should contribute
    (``target_tokens``) and the repeat factor over what it actually has
    (``epochs`` — >1 means the source is seen multiple times per
    training pass, the standard upsampling move for small high-quality
    sources; <1 means downsampling).

    All arithmetic is integer-exact (weights in 1e-3 units, epochs in
    1e-4 units, integer division) so the plan replays bit-for-bit in
    DuckDB. Plan shape: one token-count aggregate per source, one tiny
    total broadcast — two shuffles on the source key, nothing
    driver-side.
    """
    per = (
        df.select(
            F.col(source_col).alias("source"),
            F.size(whitespace_tokens(F.col(text_col))).cast("long").alias("_nt"),
        )
        .groupBy("source")
        .agg(F.sum("_nt").alias("available_tokens"))
        .withColumn("_w_units", _weight_units_expr("source", weights, default_weight))
    )
    totals = per.agg(F.sum("_w_units").alias("_tot_w"))
    plan = per.crossJoin(F.broadcast(totals)).withColumn(
        "target_tokens",
        F.expr(f"CAST(({budget_tokens}L * _w_units) div _tot_w AS LONG)"),
    )
    epochs_units = F.when(
        F.col("available_tokens") > 0,
        F.expr("CAST((target_tokens * 10000L) div available_tokens AS LONG)"),
    ).otherwise(F.lit(0))
    return plan.select(
        "source",
        "available_tokens",
        "target_tokens",
        epochs_units.alias("_epochs_units"),
        (epochs_units.cast("double") / F.lit(10_000.0)).alias("epochs"),
    )


def apply_mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    default_weight: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    materialize: bool = False,
) -> DataFrame:
    """Doc-level application of ``mixture_epoch_plan``: every document
    gets ``floor(epochs)`` copies plus one more for a deterministic
    ``frac(epochs)`` share of ids (the pure-arithmetic ``sample_key`` in
    1e-4 buckets) — so each source's expected token contribution matches
    its target. Returns (id, source, n_copies) with n_copies > 0;
    ``materialize=True`` explodes to one row per copy with a ``copy``
    index (the actual training-input shape).

    The plan side is tiny (one row per source) and broadcast — the doc
    side is a single scan with no shuffle.
    """
    plan = mixture_epoch_plan(
        df, weights, budget_tokens, default_weight, text_col, source_col
    ).select(F.col("source").alias(source_col), "_epochs_units")
    whole = F.expr("CAST(_epochs_units div 10000 AS LONG)")
    frac_units = F.expr("CAST(_epochs_units % 10000 AS LONG)")
    n_copies = (
        whole
        + F.when(sample_key(F.col(id_col), 10_000) < frac_units, 1).otherwise(0)
    ).cast("long")
    out = (
        df.join(F.broadcast(plan), on=source_col)
        .select(
            F.col(id_col),
            F.col(source_col),
            n_copies.alias("n_copies"),
        )
        .filter(F.col("n_copies") > 0)
    )
    if materialize:
        return out.select(
            id_col,
            source_col,
            F.explode(F.expr("sequence(1L, n_copies)")).alias("copy"),
        )
    return out


# ---------------------------------------------------------------------
# Deterministic dataset splitting (train/val/test)
# ---------------------------------------------------------------------


def dataset_split(
    df: DataFrame,
    val_permille: int = 50,
    test_permille: int = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """Tag every row train/val/test by the deterministic arithmetic
    sample key (permille fractions, integer comparisons only): the same
    ids land in the same split on every run, every engine, and every
    partitioning — the property that matters when the corpus is rebuilt
    incrementally and yesterday's validation set must not leak into
    today's training set. Pure projection: no shuffle, survives
    predicate pushdown."""
    key = sample_key(F.col(id_col), 1000)
    return df.withColumn(
        "split",
        F.when(key < val_permille, F.lit("val"))
        .when(key < val_permille + test_permille, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def eval_holdout(
    df: DataFrame,
    per_source: int = 50,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    rate_permille: int | None = None,
) -> DataFrame:
    """Build a clean eval holdout in one composition — the operational
    "give me an eval set I can trust" op:

    1. **Candidate sampling**, one of two modes:

       - **Quota** (default, ``rate_permille=None``): the ``per_source``
         lowest deterministic sample keys within each source become eval
         CANDIDATES. Exact per-source count, deterministic **per corpus
         snapshot** — but NOT stable under incremental growth: a newly
         ingested doc with a smaller key displaces the rank-
         ``per_source`` candidate, moving a previously-eval doc into
         train (ADVICE r10). Use quota when the corpus is rebuilt as a
         unit and the eval set is re-issued with it.
       - **Rate** (``rate_permille=r``): every row whose sample key
         falls below ``r``/1000 is a candidate, regardless of source.
         Membership depends only on the row's own id, so it IS
         growth-stable: ingesting new docs can never move an existing
         candidate out (``per_source`` is ignored — a rate cannot
         promise a count; that is the price of stability). The
         decontamination tier below can still demote a candidate when a
         newly ingested verbatim twin lands in train — the demotion
         direction is the leak-safe one (the doc joins train only
         because train already holds its twin), but consumers who
         pinned an older eval snapshot should re-issue it after a
         refresh.
    2. **Exact decontamination**: a candidate whose normalized-text
       digest also appears OUTSIDE the candidate set is rejected back to
       train — its verbatim twin would hand the eval answer to training.
       Twins *within* the candidate set stay (no train-side leak).
    3. Every row comes back tagged: ``split`` in {eval, train} plus
       ``reject_reason`` ('digest_twin_in_train' or NULL).

    By construction the eval and train digest sets are DISJOINT. Run the
    MinHash complement (``split_leakage_stats``) afterwards for
    paraphrase-level leaks — this op guarantees the exact tier only.
    NULL texts digest to a shared sentinel (they are verbatim twins of
    each other for leak purposes) so no row can drop out of the tagging
    through a null join key.

    Plan: one projection (key + digest); quota-mode candidate selection
    is a row_number window WITH a rank filter, so Spark inserts a
    WindowGroupLimit — each task keeps only ``per_source`` rows per
    source BEFORE the sort, and a 90%-one-source corpus never funnels
    through one task (the boolean-tag formulation would); the candidate
    id set (quota x sources rows) joins back as a flag, then one digest
    aggregate + one join. Rate mode replaces the window with a pure
    per-row predicate (no shuffle at all for candidacy). The digest
    join is the only corpus-keyed shuffle either way.
    """
    from llm_training_data_pipeline_spark.operators.dedup import exact_hash

    if rate_permille is not None and not 0 < rate_permille <= 1000:
        raise ValueError(
            f"rate_permille must be in (0, 1000]: {rate_permille}"
        )
    if rate_permille is None and per_source <= 0:
        raise ValueError(f"per_source must be positive: {per_source}")

    # r14 slim-proxy restructure (the guide-§8 "decide with small rows,
    # move big rows once" shape): digests, sample keys and the candidate
    # window run over a SLIM (id, source, key, digest) projection
    # materialized once — the former form re-ran the text scan + the
    # full-text md5 on BOTH sides of a corpus-wide digest join (the r14
    # plan audit showed the entire upstream duplicated around a
    # text-carrying SortMergeJoin). The digest-twin aggregate now ships
    # 16-byte digests; the split decision is computed for CANDIDATE rows
    # only and re-attached with one id-keyed join (AQE broadcasts it
    # when small — quota mode bounds it at per_source x |sources| rows).
    # Values are identical: non-candidates are always (train, NULL),
    # candidates carry the same _nt/_nc comparison as before.
    slim = df.select(
        F.col(id_col),
        F.col(source_col),
        sample_key(F.col(id_col), _HASH_MOD).alias("_hk"),
        F.coalesce(exact_hash(F.col(text_col)), F.lit("(null-text)")).alias(
            "_dg"
        ),
    ).localCheckpoint(eager=True)
    if rate_permille is not None:
        # growth-stable: candidacy is a function of the row's own id
        # only — thresholding the same arithmetic key quota mode ranks.
        # Threshold is (rate * MOD) // 1000, NOT rate * (MOD // 1000):
        # _HASH_MOD=1000003 is not a multiple of 1000, so the truncated
        # form under-selects (rate/1000.003) and rate_permille=1000
        # would exclude keys 1000000-1000002 instead of selecting all
        # rows (ADVICE r11 #3).
        cand_rows = slim.filter(
            F.col("_hk") < F.lit((rate_permille * _HASH_MOD) // 1000)
        )
    else:
        w = Window.partitionBy(source_col).orderBy(
            F.col("_hk").asc(), F.col(id_col).asc()
        )
        cand_rows = (
            slim.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= per_source)
            .drop("_rn")
        )
    # cand_rows stays LAZY: its two consumers (digest marginal +
    # decision join) each re-derive it from the materialized slim table
    # — a cheap slim-width window — and the quota WindowGroupLimit
    # stays visible in the executed plan (pinned by
    # tests/test_plan_shape.py::test_eval_holdout_quota_plan_is_group_limited)
    nt = slim.groupBy("_dg").agg(F.count(F.lit(1)).alias("_nt"))
    nc = cand_rows.groupBy("_dg").agg(F.count(F.lit(1)).alias("_nc"))
    decision = (
        cand_rows.join(nt, on="_dg")
        .join(nc, on="_dg")
        .select(
            F.col(id_col),
            F.when(F.col("_nt") == F.col("_nc"), F.lit("eval"))
            .otherwise(F.lit("train"))
            .alias("split"),
            F.when(
                F.col("_nt") > F.col("_nc"), F.lit("digest_twin_in_train")
            ).alias("reject_reason"),
        )
    )
    return df.join(decision, on=id_col, how="left").select(
        *df.columns,
        F.coalesce(F.col("split"), F.lit("train")).alias("split"),
        F.col("reject_reason"),
    )


# ---------------------------------------------------------------------
# Term blocklist filtering (C4-style badword / policy filtering)
# ---------------------------------------------------------------------


def blocklist_pattern(terms: list[str]) -> str:
    """One case-insensitive whole-word alternation for the term list —
    a single compiled regex pass per document regardless of list size
    (the C4 recipe; at thousands of terms switch to token-set semi-join
    via ``_lower_words`` + a broadcast term table instead)."""
    import re as _re

    if not terms:
        raise ValueError("empty blocklist")
    alt = "|".join(_re.escape(t) for t in sorted(terms))
    return rf"(?i)\b(?:{alt})\b"


def with_blocklist_hits(
    df: DataFrame, terms: list[str], text_col: str = "text"
) -> DataFrame:
    """Add ``blocklist_hits`` (match count) and ``blocked`` (any hit).
    Pure projection — no shuffle, pushes down past column pruning."""
    pat = blocklist_pattern(terms)
    hits = F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
    return df.withColumn("blocklist_hits", hits).withColumn(
        "blocked", F.col("blocklist_hits") > 0
    )


# ---------------------------------------------------------------------
# Cross-source vocabulary overlap
# ---------------------------------------------------------------------


def source_vocab_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    materialize: bool = False,
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the quick answer to
    "are these two crawls basically the same corpus?" before any
    expensive document-level dedup across them.

    Shape: (source, word) distinct → self-join on the word (vocab rows,
    not token rows — |vocab| ≪ corpus) → per-pair intersection counts →
    join per-source vocab sizes (tiny, broadcast). Jaccard in exact 1e-6
    half-up units. Only pairs a < b with a nonempty intersection are
    emitted; the word-keyed self-join is the one real shuffle and its
    per-key fan-out is (sources containing the word)², bounded by the
    source count squared — not by corpus size.
    """
    sv = (
        df.select(
            F.col(source_col).alias("src"),
            F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("word"),
        )
        .distinct()
    )
    if materialize:
        # sv feeds sizes + both join sides — checkpoint for one scan
        sv = sv.localCheckpoint(eager=True)
    sizes = sv.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    a = sv.select(F.col("src").alias("src_a"), "word")
    b = sv.select(F.col("src").alias("src_b"), "word")
    inter = (
        a.join(b, on="word")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    out = (
        inter.join(F.broadcast(sizes.withColumnRenamed("src", "src_a").withColumnRenamed("vocab", "vocab_a")), on="src_a")
        .join(F.broadcast(sizes.withColumnRenamed("src", "src_b").withColumnRenamed("vocab", "vocab_b")), on="src_b")
    )
    union = F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")
    jac = (
        F.floor((F.col("n_shared") * 2_000_000 + union) / (union * F.lit(2.0)))
        .cast("long")
        / F.lit(1_000_000.0)
    )
    return out.select(
        "src_a", "src_b", "n_shared", "vocab_a", "vocab_b", jac.alias("jaccard")
    )


def curriculum_phases(
    df: DataFrame,
    score_col: Column | str,
    id_col: str = "doc_id",
    n_phases: int = 4,
) -> DataFrame:
    """Curriculum assignment: rank the corpus by (score, id) ascending
    and cut it into ``n_phases`` contiguous phases (``phase = rank·k/N``
    in exact integer arithmetic) — easy-first ordering for curriculum
    training schedules.

    The global rank is the DISTRIBUTED prefix sum ``_prefix_sum`` of a
    constant 1 over (score, id). No single-partition global window —
    ntile() would funnel the corpus through one task.

    Returns the input rows plus ``phase`` (0-based BIGINT).
    """
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    staged, total = _prefix_sum(
        df.withColumn("_score", score),
        [F.col("_score"), F.col(id_col)],
        F.lit(1),
        "_rn",
    )
    if total == 0:
        return df.withColumn("phase", F.lit(0).cast("long"))
    return staged.withColumn(
        "phase", F.expr(f"(_rn * {int(n_phases)}) div {total}").cast("long")
    ).drop("_rn", "_score")


def _prefix_sum(
    df: DataFrame, order_by: list[Column], weight: Column, out_col: str
) -> tuple[DataFrame, int]:
    """``df`` plus ``out_col``: the EXCLUSIVE running sum of ``weight``
    over the total order ``order_by`` (BIGINT, 0 for the first row),
    and the sum over all rows. The distributed prefix sum every global
    rank and offset in this module shares.

    Plan: range-partition by the order keys, stamp the partition id and
    pin it with an eager ``localCheckpoint`` (the two passes below must
    see the same placement), collect one weight total per partition to
    the driver (control plane only: num-partitions rows), broadcast the
    running partition offsets back, and add the within-partition running
    sum from ONE window over the staged partition id. No single-
    partition global window anywhere — a bare window over ``order_by``
    moves every row through ONE task.

    No sortWithinPartitions before the checkpoint: the offsets need
    per-partition SUMS (contents, not order), and the window re-sorts
    within each partition anyway, so a pre-sort would be one wasted
    corpus-wide sort materialized into the checkpoint.

    ``order_by`` must be a TOTAL order (include a unique tiebreak
    column) or the sums of tied rows are placement-dependent.
    """
    staged = (
        df.withColumn("_ps_w", weight)
        .repartitionByRange(*order_by)
        .withColumn("_ps_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    per_part = (
        staged.groupBy("_ps_pid").agg(F.sum("_ps_w").alias("_ps_tot")).collect()
    )
    offsets = []
    total = 0
    for row in sorted(per_part, key=lambda r: r["_ps_pid"]):
        offsets.append((row["_ps_pid"], total))
        total += row["_ps_tot"] or 0
    off_df = df.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_ps_pid int, _ps_off long"
    )
    w = (
        Window.partitionBy("_ps_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = staged.join(F.broadcast(off_df), on="_ps_pid", how="left").withColumn(
        out_col,
        (
            F.coalesce(F.col("_ps_off"), F.lit(0))
            + F.coalesce(F.sum("_ps_w").over(w), F.lit(0))
        ).cast("long"),
    )
    return out.drop("_ps_w", "_ps_pid", "_ps_off"), total


def global_rank(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "rank",
) -> DataFrame:
    """Distributed global ``row_number()`` over ``order_by``: the
    ``_prefix_sum`` of a constant 1, plus 1. Use this wherever the
    ranked frame is unbounded (a vocabulary, a corpus) — a bare
    ``row_number().over(Window.orderBy(...))`` moves every row through
    ONE task and is the classic 100-TB scale-killer.

    ``order_by`` must be a TOTAL order (include a unique tiebreak
    column) or ranks of tied rows are partition-placement-dependent.
    Ranks are 1-based, BIGINT.
    """
    ranked, _ = _prefix_sum(df, order_by, F.lit(1), rank_col)
    return ranked.withColumn(rank_col, (F.col(rank_col) + 1).cast("long"))


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions: one full-outer join on
    id comparing content digests → per-doc ``status`` in {added,
    removed, changed, unchanged}. The ingest-ops primitive behind
    incremental refreshes and retention audits: ONE shuffle on the id
    key, digests computed scan-side so text never travels twice.

    Returns (id, status).
    """
    # presence flags, NOT digest nullness: md5(NULL) is NULL, so a
    # null-text doc present in both snapshots would otherwise read as
    # "added"; digest comparison is null-safe for the same reason
    o = old.select(
        F.col(id_col).alias("_id"),
        F.md5(F.col(text_col)).alias("_od"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(id_col).alias("_id"),
        F.md5(F.col(text_col)).alias("_nd"),
        F.lit(True).alias("_in_new"),
    )
    return (
        o.join(n, on="_id", how="full_outer")
        .select(
            F.col("_id").alias(id_col),
            F.when(F.col("_in_old").isNull(), F.lit("added"))
            .when(F.col("_in_new").isNull(), F.lit("removed"))
            .when(~F.col("_od").eqNullSafe(F.col("_nd")), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: Column | str,
    base_rate: float,
    id_col: str = "doc_id",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-row weighted sampling: row survives iff
    ``sample_key(id, buckets) < base_rate · weight · buckets`` — keep
    probability proportional to a per-row weight (quality score,
    recency, source priority), capped at 1. Completes the sampling
    family (uniform `sample_key`, per-stratum `stratified_sample`,
    `temperature_mix_weights`): same pure-filter shape — no shuffle, no
    RNG, same survivors on every run and engine. 1e6 buckets keep rate
    granularity at 1e-6 for small base_rate·weight products.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    thresh = F.least(
        F.lit(float(buckets)),
        w.cast("double") * F.lit(float(base_rate)) * F.lit(float(buckets)),
    )
    return df.filter(sample_key(F.col(id_col), buckets) < thresh)


def fim_transform(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rate: float = 0.5,
    pre_tok: str = "<fim_prefix>",
    suf_tok: str = "<fim_suffix>",
    mid_tok: str = "<fim_middle>",
) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022, PSM layout):
    for a deterministic ``rate`` fraction of documents, cut the text at
    two pseudo-random points and emit
    ``<fim_prefix>P<fim_suffix>S<fim_middle>M`` — the standard augmented
    example for infilling-capable code/text models. Everything is pure
    column arithmetic: document selection AND both cut points derive
    from the arithmetic sample key (decorrelated lanes via 2·id+1 /
    3·id+2), so the same documents get the same transforms on every
    run and engine — no RNG, replayable in DuckDB.

    Adds ``fim_applied``; documents shorter than 3 chars (or outside the
    rate) pass through unchanged.
    """
    text = F.col(text_col)
    length = F.length(text)
    idc = F.col(id_col)
    apply_fim = (sample_key(idc, 1000) < F.lit(rate * 1000)) & (length >= 3)
    span = F.greatest(length - 1, F.lit(1))
    p1 = F.lit(1) + F.pmod(sample_key(idc * 2 + 1, 1_000_000), span)
    p2 = F.lit(1) + F.pmod(sample_key(idc * 3 + 2, 1_000_000), span)
    lo, hi = F.least(p1, p2), F.greatest(p1, p2)
    rebuilt = F.concat(
        F.lit(pre_tok),
        F.substring(text, F.lit(1), lo),
        F.lit(suf_tok),
        F.substring(text, hi + 1, length),
        F.lit(mid_tok),
        F.substring(text, lo + 1, hi - lo),
    )
    return df.withColumn(
        text_col, F.when(apply_fim, rebuilt).otherwise(text)
    ).withColumn("fim_applied", apply_fim)


# ---------------------------------------------------------------------
# PMI collocations (vocabulary/tokenizer diagnostics)
# ---------------------------------------------------------------------


def pmi_collocations(
    df: DataFrame,
    k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
    materialize: bool = False,
) -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual information —
    the standard multi-word-expression signal (tokenizer vocab design,
    boilerplate phrase discovery, corpus fingerprinting).

    ``PMI = ln( p(ab) / (p(a) p(b)) )`` with p(ab) from the bigram
    distribution and p(a), p(b) from the unigram distribution. The lift
    ratio is computed from exact integer counts in one fixed-order
    double expression, then truncated to 1e-6 integer units BEFORE
    ranking — so (pmi desc, w1, w2) ordering can never drift between
    engines (same discipline as ``tfidf_top_terms``).

    Plan: one corpus scan feeds both the unigram and bigram hash
    aggregates (explode → map-side partial count); bigrams above
    ``min_count`` equi-join the vocab twice on the word keys (AQE splits
    the stopword-hot keys); the global top-k is a TakeOrdered, not a
    full sort. No window over an unpartitioned frame, no cross join —
    the only broadcast rows are the two count scalars.
    """
    toks = df.select(whitespace_tokens(F.lower(F.col(text_col))).alias("_ws"))
    uni = toks.select(F.explode("_ws").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    if materialize:
        # uc feeds three branches (nu, both word joins) and bc feeds two
        # (nb, the scored join) — checkpoint the two count tables once so
        # the corpus is scanned + tokenized twice total, not five times
        # (same opt-in contract as tfidf_top_terms/unigram_surprisal;
        # bit-identical output, pinned in tests)
        uc = uc.localCheckpoint(eager=True)
    nu = uc.agg(F.sum("c").cast("long").alias("_nu"))
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.col("_ws"),
                F.slice(F.col("_ws"), 2, F.greatest(F.size("_ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).filter(F.col("p.w2").isNotNull())
    bc = (
        pairs.select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    if materialize:
        bc = bc.localCheckpoint(eager=True)
    nb = bc.agg(F.sum("c_ab").cast("long").alias("_nb"))
    a = uc.select(F.col("w").alias("w1"), F.col("c").alias("_ca"))
    b = uc.select(F.col("w").alias("w2"), F.col("c").alias("_cb"))
    lift = (
        F.col("c_ab").cast("double") * F.col("_nu") * F.col("_nu")
        / (F.col("_ca").cast("double") * F.col("_cb") * F.col("_nb"))
    )
    scored = (
        bc.filter(F.col("c_ab") >= F.lit(min_count))
        .join(a, on="w1")
        .join(b, on="w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .withColumn(
            "_pmi_units",
            F.floor(F.log(lift) * F.lit(1e6)).cast("long"),
        )
    )
    ranked = (
        scored.orderBy(
            F.col("_pmi_units").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(k)
        .withColumn(
            "rank",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("_pmi_units").desc(), F.col("w1").asc(), F.col("w2").asc()
                )
            )
            .cast("long"),
        )
    )
    return ranked.select(
        "rank",
        "w1",
        "w2",
        F.col("c_ab").alias("pair_count"),
        F.round(F.col("_pmi_units").cast("double") / F.lit(1e6), 6).alias("pmi"),
    )


# ---------------------------------------------------------------------
# Per-stratum document caps (anti-over-representation)
# ---------------------------------------------------------------------


def cap_per_stratum(
    df: DataFrame,
    stratum_col: str = "source",
    cap: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` documents per stratum — the RefinedWeb-style
    per-domain cap that stops a single crawl-heavy domain from
    dominating the mixture (rate-based ``stratified_sample`` cannot
    express "never more than N", only proportions).

    Selection is the ``cap`` lowest ``(sample_key, id)`` rows per
    stratum: pseudo-uniform (no head-of-domain bias), deterministic, and
    oracle-replayable — no RNG anywhere.

    Scale: a rank-filter window on the stratum key. Spark's
    InferWindowGroupLimit rewrites ``row_number() <= cap`` into a
    WindowGroupLimit that prunes to ``cap`` rows per key map-side BEFORE
    the shuffle (pinned in tests), so a billion-page domain ships
    ``cap`` rows, not a billion. Skewed domains are exactly the point of
    this operator; the group-limit pushdown is what makes it safe.
    """
    w = Window.partitionBy(stratum_col).orderBy(
        sample_key(F.col(id_col), 1_000_000).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def word_dropout(
    df: DataFrame,
    rate: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BART-style token-deletion noising (Lewis et al. 2020): delete a
    deterministic ``rate`` fraction of words per document — the fourth
    member of the denoising-augmentation family (FIM infill, T5 span
    corruption, BART rotation). Per-word selection derives from the
    arithmetic key lane ``sample_key(id·1009 + pos)`` so the same
    document drops the same words on every run and engine (no RNG,
    DuckDB-replayable).

    Adds ``n_dropped``; ``text_col`` is rewritten in place and every
    other column passes through (the family's column-preserving
    contract). Plan: posexplode → keyed filter → order-preserving
    re-aggregate (sort_array over (pos, word) structs), one shuffle on
    the id.
    """
    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_pos", "_w"),
    )
    keep = sample_key(
        F.col(id_col) * F.lit(1009) + F.col("_pos"), 1000
    ) >= F.lit(int(rate * 1000))
    rebuilt = (
        words.withColumn("_keep", keep)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct(F.col("_pos"), F.col("_w")),
                            )
                        )
                    ),
                    lambda s: s["_w"],
                ),
                " ",
            ).alias("_new_text"),
            F.sum(F.when(F.col("_keep"), 0).otherwise(1))
            .cast("long")
            .alias("n_dropped"),
        )
    )
    return df.join(rebuilt, on=id_col).withColumn(
        text_col, F.col("_new_text")
    ).drop("_new_text")


def shard_assignment(
    df: DataFrame,
    target_chars: int = 500_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sink-side shard planning: assign every document a ``shard_id``
    such that consecutive shards each hold ≈``target_chars`` of text —
    the write-planning step that turns "dump 100 TB to parquet" into
    evenly-sized output files instead of whatever task sizes fall out
    of the last shuffle.

    Documents are laid out in ``(sample_key(id), id)`` order — a
    deterministic pseudo-random permutation, so every shard gets a
    mixed slice of the corpus (no source/time clustering) and the
    oracle replays the layout bit-for-bit. ``shard_id =
    floor(running_chars_before_doc / target_chars)``.

    Scale: the running total is the distributed prefix sum
    ``_prefix_sum`` of ``n_chars`` — no global single-partition sort
    anywhere.
    """
    key = sample_key(F.col(id_col), 1_000_000)
    docs, _ = _prefix_sum(
        df.select(
            F.col(id_col),
            F.length(F.col(text_col)).cast("long").alias("n_chars"),
            key.alias("_k"),
        ),
        [F.col("_k"), F.col(id_col)],
        F.col("n_chars"),
        "_off",
    )
    return docs.select(
        F.col(id_col),
        "n_chars",
        F.floor(F.col("_off") / F.lit(target_chars)).cast("long").alias("shard_id"),
    )


def shard_plan_stats(
    df: DataFrame,
    target_chars: int = 500_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-shard balance report over ``shard_assignment``: docs and
    chars per shard. Every interior shard must land within one document
    of ``target_chars`` — the verifiable claim behind "evenly-sized
    output files"."""
    return (
        shard_assignment(df, target_chars, text_col, id_col)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------
# CCNet-style perplexity terciles (head / middle / tail)
# ---------------------------------------------------------------------


def surprisal_terciles(
    df: DataFrame,
    by: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): bucket each
    document by which per-``by``-group tercile its LM surprisal falls
    into. CCNet trains a KenLM per language; here the engine's own
    add-one unigram surprisal is the score (the documented substitution
    the perplexity family already makes), and ``by`` defaults to the
    language column so thresholds are per-language like the paper's.

    head = cleanest third (lowest surprisal) — the CCNet convention of
    keeping head+middle for training. Boundaries are exact interpolated
    percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``);
    ``<=`` on the boundary puts ties into the cleaner bucket on both
    engines, since inputs are identical rounded doubles.

    Plan: the surprisal pass (two shuffles on natural keys) + one join
    back for the group column + one small aggregate on ``by`` whose
    per-group boundary row broadcasts back. Zero-word docs carry no LM
    evidence and are excluded, as in ``unigram_surprisal``.
    """
    s = unigram_surprisal(df, text_col, id_col, materialize=materialize)
    scored = s.join(df.select(F.col(id_col), F.col(by)), on=id_col)
    bounds = scored.groupBy(by).agg(
        F.percentile("avg_surprisal", F.lit(1.0 / 3)).alias("_t1"),
        F.percentile("avg_surprisal", F.lit(2.0 / 3)).alias("_t2"),
    )
    return (
        scored.join(F.broadcast(bounds), on=by)
        .select(
            id_col,
            by,
            "avg_surprisal",
            F.when(F.col("avg_surprisal") <= F.col("_t1"), F.lit("head"))
            .when(F.col("avg_surprisal") <= F.col("_t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
    )


def span_corrupt(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rate: float = 0.5,
    span_len: int = 10,
) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020): mask two
    deterministic character spans with sentinels and emit the
    ``(inputs, targets)`` pair —
    ``inputs  = A <extra_id_0> B <extra_id_1> C``
    ``targets = <extra_id_0> span1 <extra_id_1> span2 <extra_id_2>``.

    One span per document half, so spans can never overlap; selection
    and both span starts derive from decorrelated arithmetic key lanes
    (the ``fim_transform`` discipline — no RNG, same documents get the
    same corruption on every run and engine). Documents outside the
    rate or shorter than ``2*span_len`` chars pass through uncorrupted
    (``inputs`` = text, ``targets`` = ''). Splicing targets back into
    inputs reconstructs the original text exactly (pinned in tests).

    All input columns (including the original ``text_col``) pass
    through unchanged; ``corrupted``, ``inputs`` and ``targets`` are
    appended — the same column-preserving contract as
    ``fim_transform``/``rotate_docs``, so the augmentation family
    composes inside a pipeline without dropping metadata.
    """
    text = F.col(text_col)
    idc = F.col(id_col)
    length = F.length(text)
    sl = F.lit(span_len)
    apply_sc = (sample_key(idc, 1000) < F.lit(rate * 1000)) & (
        length >= F.lit(2 * span_len)
    )
    h = F.floor(length / 2).cast("int")
    s1 = (F.lit(1) + F.pmod(sample_key(idc * 2 + 1, 1_000_000), h - sl + 1)).cast(
        "int"
    )
    s2 = (
        h + 1 + F.pmod(sample_key(idc * 3 + 2, 1_000_000), length - h - sl + 1)
    ).cast("int")
    inputs = F.concat(
        F.substring(text, F.lit(1), s1 - 1),
        F.lit("<extra_id_0>"),
        F.substring(text, s1 + sl, s2 - s1 - sl),
        F.lit("<extra_id_1>"),
        F.substring(text, s2 + sl, length - s2 - sl + 1),
    )
    targets = F.concat(
        F.lit("<extra_id_0>"),
        F.substring(text, s1, sl),
        F.lit("<extra_id_1>"),
        F.substring(text, s2, sl),
        F.lit("<extra_id_2>"),
    )
    return (
        df.withColumn("corrupted", apply_sc)
        .withColumn("inputs", F.when(apply_sc, inputs).otherwise(text))
        .withColumn("targets", F.when(apply_sc, targets).otherwise(F.lit("")))
    )


def rotate_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rate: float = 0.5,
) -> DataFrame:
    """BART-style document rotation (Lewis et al. 2020): for a
    deterministic ``rate`` fraction of documents, rotate the text so a
    pseudo-random character position becomes the start —
    ``text[p:] + text[:p]`` — the denoising objective that trains a
    model to find the true document start. Same arithmetic-key-lane
    discipline as ``fim_transform``/``span_corrupt``: no RNG, every
    byte replayable. Documents outside the rate or shorter than 2 chars
    pass through (``rotated`` false).

    ``text_col`` is rewritten in place and ``rotated`` appended; every
    other input column passes through unchanged (the ``fim_transform``
    column-preserving contract).
    """
    text = F.col(text_col)
    idc = F.col(id_col)
    length = F.length(text)
    apply_rot = (sample_key(idc, 1000) < F.lit(rate * 1000)) & (length >= 2)
    # p in [2, length]: substring(text, p) || substring(text, 1, p-1);
    # p = 1 would be the identity rotation, so the lane lands on 2..length
    p = (F.lit(2) + F.pmod(sample_key(idc * 2 + 1, 1_000_000), length - 1)).cast(
        "int"
    )
    rotated = F.concat(
        F.substring(text, p, length - p + 1), F.substring(text, F.lit(1), p - 1)
    )
    return df.withColumn(
        text_col, F.when(apply_rot, rotated).otherwise(text)
    ).withColumn("rotated", apply_rot)


# ---------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------

_DSIR_UNITS = 100_000_000  # 1e8 — the repo-wide ln-unit quantum


def dsir_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 10_000,
) -> DataFrame:
    """Hashed n-gram features per document: ``(id, bucket)`` rows, one
    per case-folded unigram AND adjacent bigram occurrence, bucketed by
    ``md5_fold31 % num_buckets`` (the cross-engine-replayable hash lane
    the md5 dedup family uses). This is DSIR's feature space: a fixed
    ``num_buckets``-dim multinomial regardless of vocab size, so the
    importance model is a broadcastable table even at 100 TB."""
    from llm_training_data_pipeline_spark.functions.hashing import md5_fold31

    toks = df.select(
        F.col(id_col), whitespace_tokens(F.lower(F.col(text_col))).alias("_ws")
    )
    # ONE fused explode for unigrams + bigrams (r14): the former
    # uni-UNION-bi form re-scanned and re-tokenized the corpus per
    # branch. The bigram builder zip_withs the token array against its
    # 1-shifted self, padding the tail with NULL — the isNotNull filter
    # drops exactly those pads (unigrams are split() output and can
    # never be NULL), so the exploded multiset is identical.
    feats = toks.select(
        id_col,
        F.explode(
            F.concat(
                F.col("_ws"),
                F.zip_with(
                    F.col("_ws"),
                    F.slice(
                        F.col("_ws"), 2, F.greatest(F.size("_ws") - 1, F.lit(0))
                    ),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            )
        ).alias("f"),
    ).filter(F.col("f").isNotNull())
    return feats.select(
        id_col, F.pmod(md5_fold31(F.col("f")), F.lit(num_buckets)).alias("bucket")
    )


def dsir_log_ratios(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 10_000,
) -> DataFrame:
    """Per-bucket importance log-ratio table ``(bucket, lr_units)``:
    ``ln p_target(b) - ln p_raw(b)`` under add-one smoothing, in exact
    1e-8 integer units. Each ln is floored to units INDIVIDUALLY
    (``fl(ln(c_t+1)) - fl(ln(c_r+1)) - fl(ln(N_t+B)) + fl(ln(N_r+B))``)
    so every value after the four ln calls is integer arithmetic — the
    ``unigram_surprisal`` determinism discipline. At most ``num_buckets``
    rows: broadcastable by construction.

    Plan: two feature-explode passes feed two bucket hash aggregates
    (map-side partials on a 10k-ary key — no skew possible beyond the
    bucket count), full-outer-joined on bucket so features seen in only
    one corpus still get their smoothed mass."""
    fl = lambda c: F.floor(F.log(c) * F.lit(float(_DSIR_UNITS))).cast("long")
    rc = (
        dsir_features(raw, text_col, id_col, num_buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c_r"))
    )
    tc = (
        dsir_features(target, text_col, id_col, num_buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c_t"))
    )
    joined = rc.join(tc, on="bucket", how="full_outer").select(
        "bucket",
        F.coalesce(F.col("c_r"), F.lit(0)).alias("c_r"),
        F.coalesce(F.col("c_t"), F.lit(0)).alias("c_t"),
    )
    tot = joined.agg(
        F.sum("c_r").cast("long").alias("_nr"), F.sum("c_t").cast("long").alias("_nt")
    )
    b = F.lit(num_buckets)
    return joined.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            fl(F.col("c_t") + 1)
            - fl(F.col("c_r") + 1)
            - fl(F.col("_nt") + b)
            + fl(F.col("_nr") + b)
        ).alias("lr_units"),
    )


def dsir_doc_bucket_counts(
    df: DataFrame,
    target_cond: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 10_000,
    materialize: bool = True,
) -> DataFrame:
    """Shared DSIR feature table: ``(id, _t, bucket, n)`` — per-document
    hashed-feature counts with the target flag, ONE tokenize+md5 pass.

    This is the r14 shared-pass artifact: the ratio fit
    (``dsir_log_ratios_within(doc_counts=...)``) and the per-doc scoring
    (``with_dsir_score(doc_counts=...)``) both derive from it, so the
    dominant cost — tokenizing and md5-hashing every token occurrence —
    is paid once instead of once per consumer. At 100 TB the
    materialized table is 4 small ints per distinct (doc, bucket) pair:
    far cheaper to write+read once than to re-tokenize the corpus.
    ``_t`` is constant per document, so the (id, _t, bucket) grouping is
    keyed by (id, bucket)."""
    from llm_training_data_pipeline_spark.functions.hashing import md5_fold31

    toks = df.select(
        F.col(id_col),
        target_cond.alias("_t"),
        whitespace_tokens(F.lower(F.col(text_col))).alias("_ws"),
    )
    feats = toks.select(
        id_col,
        "_t",
        F.explode(
            F.concat(
                F.col("_ws"),
                F.zip_with(
                    F.col("_ws"),
                    F.slice(
                        F.col("_ws"), 2, F.greatest(F.size("_ws") - 1, F.lit(0))
                    ),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            )
        ).alias("f"),
    ).filter(F.col("f").isNotNull())
    counts = (
        feats.select(
            id_col,
            "_t",
            F.pmod(md5_fold31(F.col("f")), F.lit(num_buckets)).alias("bucket"),
        )
        .groupBy(id_col, "_t", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    if materialize:
        counts = counts.localCheckpoint(eager=True)
    return counts


def dsir_log_ratios_within(
    df: DataFrame,
    target_cond: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 10_000,
    materialize: bool = False,
    doc_counts: DataFrame | None = None,
) -> DataFrame:
    """``dsir_log_ratios`` for the common case where the target corpus
    is a PREDICATE over the raw corpus (a language slice, a quality
    tier): ONE feature-explode pass computes both bucket counts via a
    conditional aggregate — halving the dominant cost (the md5 feature
    hash) versus hashing the raw and target slices separately. Bit-
    identical to ``dsir_log_ratios(df, df.filter(target_cond))``
    (pinned in tests).

    ``doc_counts``: a precomputed ``dsir_doc_bucket_counts`` table —
    the bucket marginals then come from a slim re-aggregation and
    ``df``/``target_cond`` are not read at all (callers that also score
    documents share one feature pass; bit-identical, pinned)."""
    from llm_training_data_pipeline_spark.functions.hashing import md5_fold31

    fl = lambda c: F.floor(F.log(c) * F.lit(float(_DSIR_UNITS))).cast("long")
    if doc_counts is not None:
        # shared-pass path (r14): the per-(doc, bucket) count table
        # already carries the target flag — the bucket marginals are a
        # slim re-aggregation of it, no second tokenize+hash pass.
        # Exact-sum equality: c_r = Σ_docs n, c_t = Σ_{target docs} n.
        counts = doc_counts.groupBy("bucket").agg(
            F.sum("n").cast("long").alias("c_r"),
            F.sum(F.when(F.col("_t"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("c_t"),
        )
    else:
        toks = df.select(
            target_cond.alias("_t"),
            whitespace_tokens(F.lower(F.col(text_col))).alias("_ws"),
        )
        # fused unigram+bigram explode — see dsir_features for the
        # NULL-pad equivalence argument
        feats = toks.select(
            "_t",
            F.explode(
                F.concat(
                    F.col("_ws"),
                    F.zip_with(
                        F.col("_ws"),
                        F.slice(
                            F.col("_ws"),
                            2,
                            F.greatest(F.size("_ws") - 1, F.lit(0)),
                        ),
                        lambda a, b: F.concat(a, F.lit(" "), b),
                    ),
                )
            ).alias("f"),
        ).filter(F.col("f").isNotNull())
        counts = (
            feats.select(
                "_t",
                F.pmod(md5_fold31(F.col("f")), F.lit(num_buckets)).alias(
                    "bucket"
                ),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("c_r"),
                F.sum(F.when(F.col("_t"), 1).otherwise(0))
                .cast("long")
                .alias("c_t"),
            )
        )
    if materialize:
        # counts (≤num_buckets rows) feeds BOTH the totals scalar and the
        # ratio select, and the downstream broadcast boundary blocks
        # exchange reuse — checkpoint once so the feature-hash pass (the
        # dominant cost) runs once, not per branch (bit-identical output,
        # same opt-in contract as unigram_surprisal/pmi_collocations)
        counts = counts.localCheckpoint(eager=True)
    tot = counts.agg(
        F.sum("c_r").cast("long").alias("_nr"), F.sum("c_t").cast("long").alias("_nt")
    )
    b = F.lit(num_buckets)
    return counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            fl(F.col("c_t") + 1)
            - fl(F.col("c_r") + 1)
            - fl(F.col("_nt") + b)
            + fl(F.col("_nr") + b)
        ).alias("lr_units"),
    )


def with_dsir_score(
    df: DataFrame,
    log_ratios: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 10_000,
    doc_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR importance score: ``(id, n_feats,
    score_units)`` with ``score_units = Σ_features lr_units[bucket]``
    (exact long sum — order-independent). Zero-feature documents score
    0 with 0 features (kept: DSIR has no evidence either way).

    The join is feature-rows ⋈ broadcast(10k-row ratio table) — no
    shuffle beyond the per-doc aggregate on the natural id key.

    ``doc_counts``: a precomputed ``dsir_doc_bucket_counts`` table —
    scoring then reads it instead of re-tokenizing ``df``
    (``Σ_occurrences lr`` ≡ ``Σ_buckets n·lr`` exactly, in longs)."""
    if doc_counts is not None:
        scored = (
            doc_counts.join(F.broadcast(log_ratios), on="bucket")
            .groupBy(id_col)
            .agg(
                F.sum("n").cast("long").alias("n_feats"),
                F.sum(F.col("n") * F.col("lr_units"))
                .cast("long")
                .alias("score_units"),
            )
        )
    else:
        feats = dsir_features(df, text_col, id_col, num_buckets)
        scored = (
            feats.join(F.broadcast(log_ratios), on="bucket")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_feats"),
                F.sum("lr_units").cast("long").alias("score_units"),
            )
        )
    return (
        df.select(id_col)
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce(F.col("score_units"), F.lit(0))
            .cast("long")
            .alias("score_units"),
        )
    )


def dsir_sample(
    df: DataFrame,
    log_ratios: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 10_000,
    doc_counts: DataFrame | None = None,
) -> DataFrame:
    """DSIR's Gumbel-top-k importance resample: keep the ``k`` documents
    maximizing ``log w(x) + Gumbel(id)`` — equivalent to sampling k
    WITHOUT replacement with probability ∝ w(x) (the Gumbel-max trick),
    but fully deterministic: the noise is ``-ln(-ln(u))`` over the
    arithmetic ``sample_key`` lane, each ln floored to 1e-8 units with
    an exactly-representable input for the second call, so both engines
    replay the same sample. The global top-k is a TakeOrdered, never a
    full sort. Returns ``(id, score_units, gumbel_units, key_units)``.
    """
    u = (
        sample_key(F.col(id_col), 1_000_000).cast("double") + F.lit(0.5)
    ) / F.lit(1_000_000.0)
    inner_units = F.floor(-F.log(u) * F.lit(float(_DSIR_UNITS))).cast("long")
    gumbel_units = F.floor(
        -F.log(inner_units.cast("double") / F.lit(float(_DSIR_UNITS)))
        * F.lit(float(_DSIR_UNITS))
    ).cast("long")
    scored = with_dsir_score(
        df, log_ratios, text_col, id_col, num_buckets, doc_counts=doc_counts
    )
    keyed = scored.select(
        id_col,
        "score_units",
        gumbel_units.alias("gumbel_units"),
        (F.col("score_units") + gumbel_units).alias("key_units"),
    )
    return keyed.orderBy(F.col("key_units").desc(), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------
# Distinct-n diversity (per-source corpus diversity diagnostics)
# ---------------------------------------------------------------------


# Auto-dispatch threshold for ngram_diversity: exact count_distinct at or
# below this many documents, HLL sketch above. Measured r9 (local[32],
# warm medians of 3): after the word_ngrams_from_tokens staging fix the
# explode no longer dominates and the two paths are close on the
# SYNTHETIC testdata — sf0.1 exact 1.16s vs sketch 0.85s, sf1 exact
# 1.29s vs 1.19s — because its 30-word vocabulary caps the distinct-gram
# key space. The gate exists for REAL corpora, where the 3-gram
# vocabulary grows with the corpus and the exact path's shuffle ships
# that vocabulary to reducers while the sketch ships fixed-size
# registers per (n, group); the sketch's rsd-2% error is noise for a
# diversity *diagnostic*. 20k docs keeps interactive corpus slices exact
# and routes anything larger to the registers-only shuffle.
NGRAM_DIVERSITY_EXACT_MAX_DOCS = 20_000


def _resolve_diversity_mode(n_docs: int, exact_max_docs: int) -> str:
    """The size gate, factored out so tests pin the decision itself."""
    return "exact" if n_docs <= exact_max_docs else "approx"


# Logical-plan nodes under which a count() is one cheap scan action
# (projection/alias shuffle-free wrappers over a relation — including
# load_table's small-scan repartition guard). Anything else (a join, an
# aggregate, a filter, a generate) means counting would execute the
# full upstream plan just to pick a dispatch path.
_CHEAP_COUNT_NODES = {
    "Project",
    "SubqueryAlias",
    "LogicalRelation",
    "DataSourceV2Relation",
    "DataSourceV2ScanRelation",
    "LocalRelation",
    "LogicalRDD",  # createDataFrame over driver-local rows
    "Repartition",
    "RepartitionByExpression",
    "ResolvedHint",
}


def _is_bare_scan(df: DataFrame) -> bool:
    """True iff the frame's optimized plan is only cheap-count nodes —
    the gate that keeps ``mode='auto'`` from silently executing a whole
    derived pipeline once for its row count (ADVICE r9)."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        n = stack.pop()
        if n.getClass().getSimpleName() not in _CHEAP_COUNT_NODES:
            return False
        seq = n.children()
        stack.extend(seq.apply(i) for i in range(seq.size()))
    return True


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
    ns: tuple[int, ...] = (1, 2, 3),
    mode: str = "auto",
    exact_max_docs: int = NGRAM_DIVERSITY_EXACT_MAX_DOCS,
    rsd: float = 0.02,
) -> DataFrame:
    """Distinct-n diversity per group: corpus-distinct word n-grams over
    total n-gram occurrences, in ppm units, for each ``n``. Low
    distinct-2/distinct-3 against siblings is the classic fingerprint of
    a templated or machine-generated source — the corpus-level complement
    to the per-doc repetition battery (quality.py Q6).

    ``mode`` is the r8-verdict size gate (the SemDeDup auto-k pattern):
    ``"auto"`` (default) counts BARE SCANS only — one cheap action,
    parquet row-group metadata — and dispatches to ``"exact"``
    (``count_distinct``) at or below ``exact_max_docs`` documents and to
    ``"approx"`` (HLL++, ``approx_count_distinct(rsd)``) above. On a
    DERIVED frame (joins/filters/aggregates upstream) auto goes straight
    to ``"approx"`` — counting there would execute the whole upstream
    plan once just to dispatch, and a count hovering near the gate would
    flap the output fidelity run to run (ADVICE r9); pass ``mode=``
    explicitly to force a path. The two
    paths emit the SAME schema; only the fidelity of ``distinct_grams``
    (and thus ``diversity_ppm``) differs. The exact path's shuffle ships
    every distinct gram string to its reducer — at corpus scale the
    3-gram vocabulary IS the corpus — while the sketch path's shuffle is
    O(groups × sketch bytes), data-size-independent. (The r8
    suite-worst 8.4× ratio that motivated the gate turned out to be the
    HOF tokenize re-evaluation, fixed by word_ngrams_from_tokens — post
    fix the sf1 ratio is ~1.1 on the synthetic corpus, whose 30-word
    vocabulary can't exercise the shuffle term; the gate remains because
    real corpora can.) A caller who wants a guaranteed path passes
    ``mode=`` explicitly; ``ngram_diversity_approx`` remains the
    hash-checked accuracy-contract variant.

    Plan (both modes): totals come from token COUNTS alone, all n's side
    by side in ONE scan+aggregate (a scalar per doc per n — no explode);
    distincts run one explode branch per n over the per-doc-distinct
    gram sets from ``word_ngrams_from_tokens`` (per-doc distinctness shrinks the
    explode for repetitive docs and leaves the corpus-level distinct
    unchanged), unioned and joined to the stacked totals. A struct-tagged
    single-explode variant was measured SLOWER at both sf0.1 and sf1
    (34s vs 24s at sf1: the per-gram struct allocation exceeds the
    repeated scan cost, and the gram shuffle volume — the term that
    dominates at cluster scale — is identical either way). Short docs
    (<n words) contribute their whole text as one gram, same rule as
    the contamination check.
    """
    if mode not in ("auto", "exact", "approx"):
        raise ValueError(f"mode must be 'auto', 'exact' or 'approx': {mode!r}")
    if mode == "auto":
        # count only when the frame is a bare scan (one cheap action);
        # on a DERIVED frame a count() would execute the full upstream
        # plan just to pick the dispatch path — go straight to the
        # scale-safe sketch instead; callers who want the exact path on
        # a derived frame pass mode="exact" explicitly (ADVICE r9).
        mode = (
            _resolve_diversity_mode(df.count(), exact_max_docs)
            if _is_bare_scan(df)
            else "approx"
        )
    toks_sz = F.size(whitespace_tokens(F.lower(F.col(text_col))))
    totals = df.groupBy(by).agg(
        *[
            F.sum(
                F.when(toks_sz < n, F.lit(1))
                .otherwise(toks_sz - F.lit(n - 1))
                .cast("long")
            ).alias(f"_tot_{n}")
            for n in ns
        ]
    )
    total_stack = totals.select(
        F.col(by),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).cast("int").alias("n"),
                        F.col(f"_tot_{n}").alias("total_grams"),
                    )
                    for n in ns
                ]
            )
        ).alias("_t"),
    ).select(by, F.col("_t.n").alias("n"), F.col("_t.total_grams").alias("total_grams"))
    toked = df.select(
        F.col(by), whitespace_tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    branches = [
        toked.select(
            F.lit(n).cast("int").alias("n"),
            F.col(by),
            F.explode(word_ngrams_from_tokens(F.col("_toks"), n)).alias("gram"),
        )
        for n in ns
    ]
    grams = branches[0]
    for b in branches[1:]:
        grams = grams.unionByName(b)
    distinct_agg = (
        F.count_distinct("gram")
        if mode == "exact"
        else F.approx_count_distinct("gram", rsd)
    )
    distincts = grams.groupBy("n", by).agg(
        distinct_agg.cast("long").alias("distinct_grams")
    )
    return (
        distincts.join(total_stack, on=["n", by])
        .select(
            "n",
            by,
            "distinct_grams",
            "total_grams",
            F.expr("1000000 * distinct_grams div total_grams")
            .cast("long")
            .alias("diversity_ppm"),
        )
        .orderBy("n", by)
    )


def sentence_chunk_documents(
    df: DataFrame,
    chunk_chars: int = 2000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-aligned context-window chunks: sentences are packed into
    windows that BREAK ONLY AT SENTENCE STARTS — the chunk id is the
    sentence's cumulative start offset divided by ``chunk_chars`` — so no
    sentence is ever cut mid-way (``chunk_documents`` is the
    fixed-character alternative that cuts anywhere). A chunk may overrun
    ``chunk_chars`` by its final sentence's tail, by construction; an
    oversized sentence lands in the chunk its start offset falls in and
    pushes the FOLLOWING sentence several chunk ids ahead (ids are
    offset//chunk_chars, so they stay monotone but not contiguous).

    Plan: sentence explode → per-doc running-sum window (one hash
    shuffle, partitioned by doc — document count, not corpus bytes,
    bounds the window groups) → groupBy (doc, chunk) rebuilding text via
    sort-by-index concat. Offsets count sentences joined by single
    spaces (the splitter consumed the originals), mirroring the oracle
    exactly.

    Emitted: (id, chunk_id, chunk_text, chunk_len, n_sentences).
    """
    from llm_training_data_pipeline_spark.functions.text import sentence_split

    sents = df.select(
        F.col(id_col),
        F.posexplode(sentence_split(F.col(text_col))).alias("_idx", "_sent"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # start offset of sentence i = sum of (len+1 space) of sentences < i
    with_off = sents.withColumn(
        "_start",
        (F.sum(F.length("_sent") + F.lit(1)).over(w) - F.length("_sent") - F.lit(1)),
    ).withColumn(
        "_chunk", (F.col("_start") / F.lit(chunk_chars)).cast("long")
    )
    return (
        with_off.groupBy(id_col, F.col("_chunk").alias("chunk_id"))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_idx", "_sent"))),
                    lambda x: x["_sent"],
                ),
            ).alias("chunk_text"),
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
        )
        .select(
            id_col,
            "chunk_id",
            "chunk_text",
            F.length("chunk_text").cast("long").alias("chunk_len"),
            "n_sentences",
        )
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
    min_types: int = 10,
) -> DataFrame:
    """Per-group Zipf slope: the least-squares slope of ln(frequency)
    against ln(rank) over the group's word-frequency table. Natural text
    sits near -1; a flat slope (≫ -1) fingerprints templated or
    synthetic sources, a cliff (≪ -1) a tiny forced vocabulary — the
    distributional cousin of the distinct-n diversity ppm.

    Exactness: ln terms are floored to 1e-6 integer units INDIVIDUALLY
    (the DSIR discipline — both engines floor the same double), all five
    regression sums run in decimal(38,0) (x·y products overflow int64 at
    ~1e5 types), and the final slope is one double division of
    bit-identical decimals, rounded to 6dp. Plan: word explode →
    per-(group, type) count → per-group rank window over the vocab-sized
    table → one aggregate. Groups under ``min_types`` types are dropped
    (a 2-point fit is noise).
    """
    words = df.select(
        F.col(by), F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("word")
    )
    per_type = words.groupBy(by, "word").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(by).orderBy(F.col("n").desc(), F.col("word"))
    ranked = per_type.withColumn("rank", F.row_number().over(w))
    ux = F.floor(F.log(F.col("rank").cast("double")) * F.lit(1e6)).cast(
        "decimal(38,0)"
    )
    uy = F.floor(F.log(F.col("n").cast("double")) * F.lit(1e6)).cast(
        "decimal(38,0)"
    )
    sums = (
        ranked.select(F.col(by), ux.alias("_x"), uy.alias("_y"))
        .groupBy(by)
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
            F.sum("_x").alias("_sx"),
            F.sum("_y").alias("_sy"),
            F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
            F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        )
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return (
        sums.filter(F.col("_n") >= min_types)
        .select(
            F.col(by),
            F.col("_n").cast("long").alias("n_types"),
            F.round(num.cast("double") / den.cast("double"), 6).alias("slope"),
        )
        .orderBy(by)
    )


def length_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    max_bucket: int = 1 << 20,
) -> DataFrame:
    """Padding-waste diagnostic for length-bucketed batching: assign every
    doc to the smallest power-of-two token-length bucket and report, per
    bucket, how many pad tokens a pad-to-bucket-boundary batcher would
    burn. The counterpoint to ``pack_stats`` (sequence packing wastes ~0
    but splits docs; bucketed batching keeps docs whole at the cost of
    ``pad_waste_ppm``) — together they are the batch-strategy decision
    for a training run.

    One zero-join plan: a codegen'd scan computes the token count and
    bucket, then a single hash aggregate on the bucket id (map-side
    partials; at most ~log2(max doc len) groups exist, so the shuffle is
    a few dozen rows regardless of corpus size). ``pad_waste_ppm`` is an
    exact integer ppm, replayable bit-for-bit in DuckDB.

    Bucket arithmetic stays integer: ``2^bit_length(n-1)`` via the
    base-2 string length of ``n-1`` (``conv``/``bin``), so there is no
    float ``log2`` to disagree across engines at exact powers of two.
    Zero/one-token docs land in bucket 1; ``max_bucket`` caps runaway
    docs into a terminal bucket.
    """
    n = F.size(whitespace_tokens(F.col(text_col))).cast("long")
    bucket = F.when(n <= 1, F.lit(1).cast("long")).otherwise(
        F.least(
            F.pow(F.lit(2.0), F.length(F.conv(n - 1, 10, 2))).cast("long"),
            F.lit(max_bucket).cast("long"),
        )
    )
    per = (
        df.select(n.alias("_n"), bucket.alias("bucket_len"))
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("sum_tokens"),
        )
    )
    padded = F.col("n_docs") * F.greatest(F.col("bucket_len"), F.lit(1).cast("long"))
    return per.select(
        "bucket_len",
        "n_docs",
        "sum_tokens",
        padded.alias("padded_tokens"),
        F.expr("1000000 * (n_docs * bucket_len - sum_tokens) div (n_docs * bucket_len)")
        .cast("long")
        .alias("pad_waste_ppm"),
    ).orderBy("bucket_len")


def remove_dup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide paragraph dedup, first occurrence wins: every verbatim
    repeat of a non-blank paragraph (blank-line-delimited block) after
    its globally-first occurrence — ordered by ``(doc_id, pos)`` — is cut
    and the doc is reassembled in original paragraph order. The
    paragraph-granular complement of ``remove_common_lines`` (frequency-
    thresholded lines) and ``remove_dup_spans`` (token spans): this is
    the classic cross-page syndication cut that keeps one canonical copy
    instead of dropping whole near-dup docs.

    Blank paragraphs are never deduped (structure, not content). Output:
    input columns with ``text_col`` replaced by the cleaned text, plus
    ``n_paras_removed``.

    Shape (r15, guide §2.4): posexplode → ONE window over the paragraph
    (``row_number`` ordered by (doc_id, pos); rank 1 IS the global
    first occurrence — (doc_id, pos) is unique, so this equals the old
    ``min(struct)`` winner exactly) → order-preserving per-doc rebuild.
    The previous shape computed the winner as a paragraph-keyed
    aggregate and joined it back on the paragraph STRING — the
    paragraph text crossed the network three times (agg, join, rebuild)
    where the window form ships it twice and drops the join stage
    outright. Blank paragraphs are exempt from dedup, so they skip the
    window's hot key by salting their partition key with the doc id
    (the window key includes ``para``, so blank and non-blank rows can
    never share a partition and the salt cannot perturb non-blank
    ranks); their ``row_number`` is irrelevant — ``_keep`` short-
    circuits on blankness."""
    sep = "\n\n"
    paras = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para")
    )
    blank = F.trim("para") == ""
    w = Window.partitionBy(
        "para", F.when(blank, F.col(id_col)).otherwise(F.lit(0))
    ).orderBy(F.col(id_col), F.col("pos"))
    keep = F.when(blank | (F.row_number().over(w) == 1), 1).otherwise(0)
    tagged = paras.select(F.col(id_col), "pos", "para", keep.alias("_keep"))
    rebuilt = tagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep") == 1, F.struct("pos", "para"))
                    )
                ),
                lambda x: x["para"],
            ),
            sep,
        ).alias("_clean"),
        F.sum(1 - F.col("_keep")).cast("long").alias("n_paras_removed"),
    )
    others = [c for c in df.columns if c != text_col]
    return (
        df.select(*others)
        .join(rebuilt, on=id_col, how="left")
        .select(
            *others,
            F.coalesce(F.col("_clean"), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_paras_removed"), F.lit(0).cast("long")).alias(
                "n_paras_removed"
            ),
        )
    )


def ngram_diversity_approx(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
    ns: tuple[int, ...] = (1, 2, 3),
    rsd: float = 0.02,
) -> DataFrame:
    """The 100-TB path of ``ngram_diversity``: HLL++ distinct-gram
    estimates instead of exact ``count_distinct``. The exact operator's
    shuffle ships every distinct gram string to its reducer — at corpus
    scale the 3-gram vocabulary IS the corpus; here each mapper emits one
    fixed-size HLL register set per (n, group) partial and the shuffle is
    O(groups x sketch bytes), data-size-independent.

    Falsifiable-accuracy contract (the ``approx_distinct_users``
    pattern): the hash-checked row carries the exact distinct count and
    a boolean asserting |HLL − exact| <= 5·rsd·exact; the oracle emits
    TRUE, so a sketch escaping five standard deviations fails the value
    hash. (The exact count in the same aggregate exists FOR the
    contract; the production call drops it and keeps only the sketch.)
    """
    toked = df.select(
        F.col(by), whitespace_tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    branches = [
        toked.select(
            F.lit(n).cast("int").alias("n"),
            F.col(by),
            F.explode(word_ngrams_from_tokens(F.col("_toks"), n)).alias("gram"),
        )
        for n in ns
    ]
    grams = branches[0]
    for b in branches[1:]:
        grams = grams.unionByName(b)
    agg = grams.groupBy("n", by).agg(
        F.approx_count_distinct("gram", rsd).alias("_approx"),
        F.count_distinct("gram").cast("long").alias("distinct_grams"),
    )
    bound = F.abs(F.col("_approx") - F.col("distinct_grams")) <= (
        F.lit(5 * rsd) * F.col("distinct_grams")
    )
    return agg.select(
        "n", by, "distinct_grams", bound.alias("within_bound")
    ).orderBy("n", by)


# ---------------------------------------------------------------------
# BM25 retrieval scoring
# ---------------------------------------------------------------------


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 10,
    k1_tenths: int = 12,
    b_hundredths: int = 75,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """Top-k documents for a keyword query by Okapi BM25 — the standard
    retrieval-curation primitive (pull the docs most *about* a topic out
    of a raw corpus, seed classifier training sets, audit a source's
    topical footprint). Complements ``tfidf_top_terms`` (per-doc terms)
    with the inverse direction (per-query docs).

    Exact-rational arithmetic so the ranking replays bit-for-bit in any
    engine: with ``k1 = K/10`` and ``b = B/100`` the per-term score

        idf · tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)

    becomes, after multiplying through by ``1000·T`` (T = total corpus
    tokens, so ``avgdl = T/N`` never materializes as a float),

        idf_units · 100·(K+10)·T·tf  DIV  (1000·T·tf + K·(100−B)·T + K·B·dl·N)

    — one integer division per (doc, term). ``idf`` is the Lucene
    BM25Similarity form ``ln(1 + (N − df + 0.5)/(df + 0.5))`` =
    ``ln((2N+2)/(2df+1))`` (always positive, so DIV truncation == floor),
    floored to 1e-8 units once per query term. All products run in
    decimal(38,0): at 100-TB scale T ~ 1e13 and tf ~ 1e4 keep the
    numerator < 1e30, far inside both decimal(38) and DuckDB's HUGEINT.

    Plan: ONE corpus explode pass feeds a single per-doc aggregate that
    computes the document length AND every query term's tf together
    (the term list is tiny and literal, so the conditional sums are
    per-row codegen, not extra passes); the per-(doc, term) rows come
    back out of that slim table via ``stack`` — r14 fused what were two
    full explode passes (doc lengths; term tfs), each of which the lazy
    plan then duplicated under its two consumers (4 corpus scans
    total). The aggregate is materialized (it is one slim row per doc
    with > 0 words; every downstream table — corpus stats, docfreq,
    per-term scores — derives from it). ``docfreq`` and the (N, T)
    scalar row are broadcast, so the only shuffle is the per-doc hash
    aggregate plus the final distributed top-k (``orderBy().limit(k)``
    = TakeOrdered: each partition keeps its own top-k, the driver
    merges; the rank window then runs over k rows only — never over
    the full match set, which for a common term at 100 TB is millions
    of docs).

    Reference analogue: the reference pipeline has no retrieval stage;
    this extends its quality_filter.py word-statistics vocabulary
    (quality_filter.py:163 tokenization) to query-relevance scoring.
    """
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")
    term_list = sorted({t.lower() for t in terms})
    K, B = int(k1_tenths), int(b_hundredths)

    words = _lower_words(df, text_col, id_col)
    # dl + per-term tf in ONE aggregate over one explode pass. A doc
    # with zero tokens has no words row, hence no dl row — identical to
    # the old two-pass form.
    doc_tf = words.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("dl"),
        *[
            F.sum(F.when(F.col("word") == F.lit(t), 1).otherwise(0))
            .cast("long")
            .alias(f"_tf_{i}")
            for i, t in enumerate(term_list)
        ],
    )
    if materialize:
        doc_tf = doc_tf.localCheckpoint(eager=True)
    corpus_stats = doc_tf.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("dl").cast("long").alias("_t"),
    )
    # (id, dl, word, tf) rows for matched terms only — `stack` unpivots
    # the per-term counts; tf = 0 rows are dropped exactly as the old
    # filtered groupBy never produced them. Terms are whitespace tokens
    # (no quotes possible), but escape defensively for the literal.
    stack_args = ", ".join(
        "'{}', _tf_{}".format(t.replace("'", "\\'"), i)
        for i, t in enumerate(term_list)
    )
    tf = (
        doc_tf.select(
            id_col,
            "dl",
            F.expr(
                f"stack({len(term_list)}, {stack_args}) AS (word, tf)"
            ),
        )
        .filter(F.col("tf") > 0)
    )
    docfreq = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("df_docs")
    )

    dec = "decimal(38,0)"
    idf_units = F.floor(
        F.log(
            (F.lit(2) * F.col("_n") + F.lit(2)).cast("double")
            / (F.lit(2) * F.col("df_docs") + F.lit(1)).cast("double")
        )
        * F.lit(1e8)
    ).cast("long")
    numer = (
        idf_units.cast(dec)
        * F.lit(100 * (K + 10)).cast(dec)
        * F.col("_t").cast(dec)
        * F.col("tf").cast(dec)
    )
    denom = (
        F.lit(1000).cast(dec) * F.col("_t").cast(dec) * F.col("tf").cast(dec)
        + F.lit(K * (100 - B)).cast(dec) * F.col("_t").cast(dec)
        + F.lit(K * B).cast(dec) * F.col("dl").cast(dec) * F.col("_n").cast(dec)
    )
    per_term = (
        # tf rows already carry dl (same per-doc aggregate) — no dl join
        tf.join(F.broadcast(docfreq), on="word")
        .crossJoin(F.broadcast(corpus_stats))
        .withColumn("_numer", numer)
        .withColumn("_denom", denom)
        # `div` (IntegralDivide) is exact on decimal(38,0); a scale-6
        # decimal division + cast would round HALF_UP across integer
        # boundaries (4.9999999 -> 5) and break cross-engine replay.
        .withColumn("_units", F.expr("_numer div _denom"))
    )
    per_doc = per_term.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("matched_terms"),
        F.sum("_units").cast("long").alias("_score_units"),
    )
    # Distributed TakeOrdered first (every partition keeps only its own
    # top-k, the driver merges k·P rows), THEN a row_number over the
    # k-row result to emit ranks.  A bare row_number().over(orderBy)
    # + filter(rank<=k) would funnel EVERY term-matching document
    # through one task — at 100 TB a common term matches millions of
    # docs.  Same pattern as pmi_collocations above.
    topk = per_doc.orderBy(F.desc("_score_units"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("_score_units"), F.asc(id_col))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank",
            id_col,
            "matched_terms",
            F.round(F.col("_score_units").cast("double") / F.lit(1e8), 6).alias(
                "bm25"
            ),
        )
    )


def source_unigram_kl(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    materialize: bool = False,
) -> DataFrame:
    """Per-source KL divergence from the corpus-wide unigram
    distribution — the standard "how far does this source's vocabulary
    sit from the mixture" diagnostic for weighting/curating sources
    (high KL = niche jargon or a different language; ~0 = looks like
    the average of everything).

    KL(s‖corpus) = Σ_w (c_sw/T_s)·ln(c_sw·T / (c_w·T_s)). Each ln is
    floored to 1e-8 integer units INDIVIDUALLY (the DSIR discipline —
    one float op per vocabulary word, everything downstream exact);
    per-word contributions ``c_sw · ln_units`` accumulate in
    decimal(38,0) (at 100-TB scale T_s ~ 1e13 keeps the sum ~1e22,
    past int64 but far inside decimal(38)/HUGEINT). The final
    normalization is ONE double division per source, identical in any
    IEEE engine.

    Plan: one explode feeds the (source, word) hash aggregate; word
    totals re-aggregate FROM that table (no second corpus scan) and
    join back on the word key; the grand total is a broadcast scalar.
    Two shuffles on natural keys — no per-row Python, no collect.
    """
    words = df.select(
        F.col(source_col).alias("source"),
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("word"),
    )
    csw = words.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c_sw")
    )
    if materialize:
        # csw (slim (source, word, count) rows) feeds THREE consumers —
        # cw, the grand total via cw, and the per_word join — each of
        # which otherwise inlines the corpus explode + aggregate under
        # itself (r14 shared-table rule; bit-identical output)
        csw = csw.localCheckpoint(eager=True)
    cw = csw.groupBy("word").agg(F.sum("c_sw").cast("long").alias("c_w"))
    tot = cw.agg(F.sum("c_w").cast("long").alias("_t"))

    dec = "decimal(38,0)"
    ln_units = F.floor(
        F.log(
            (F.col("c_sw").cast("double") * F.col("_t").cast("double"))
            / (F.col("c_w").cast("double") * F.col("t_s").cast("double"))
        )
        * F.lit(1e8)
    ).cast("long")
    w_src = Window.partitionBy("source")
    per_word = (
        csw.withColumn("t_s", F.sum("c_sw").over(w_src).cast("long"))
        .join(cw, on="word")
        .crossJoin(F.broadcast(tot))
        .withColumn("_contrib", F.col("c_sw").cast(dec) * ln_units.cast(dec))
    )
    return (
        per_word.groupBy("source")
        .agg(
            F.max("t_s").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum("_contrib").alias("_units"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            F.round(
                F.col("_units").cast("double")
                / (F.col("n_tokens").cast("double") * F.lit(1e8)),
                6,
            ).alias("kl_nats"),
        )
        .orderBy("source")
    )


def oov_rate_split(
    df: DataFrame,
    split_id: int = 250,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Out-of-vocabulary rate of a held-out slice against a vocabulary
    built from the training slice — the drift check run before reusing
    a tokenizer on a new crawl (rising OOV = the vocabulary no longer
    fits the data; retrain or expand).

    Vocabulary = top ``vocab_size`` whitespace words of the train slice
    (``id < split_id``) by (count desc, word asc) — deterministic ties,
    so any engine rebuilds the same set. Per held-out source: token
    count, OOV tokens, exact-ppm OOV rate.

    Plan: one word-count aggregate on the train slice, a distributed
    TakeOrdered (``orderBy().limit()``) over the vocabulary-sized
    count table, then an equi-join from the
    held-out words to the vocab on the word key with a left anti
    semantics folded into one outer-join null check. No broadcast hint:
    a real vocabulary is corpus-scale — AQE picks the strategy.
    """
    words_train = _lower_words(
        df.filter(F.col(id_col) < split_id), text_col, id_col
    )
    counts = words_train.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    # Distributed TakeOrdered, not a global row_number window: the
    # count table is vocabulary-sized (≈ corpus-scale for raw crawls),
    # and the rank column is never emitted — orderBy().limit() lets
    # every partition keep only its own top slice.
    vocab = (
        counts.orderBy(F.desc("_c"), F.asc("word"))
        .limit(vocab_size)
        .select("word")
    )
    held = df.filter(F.col(id_col) >= split_id).select(
        F.col(source_col).alias("source"),
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("word"),
    )
    tagged = held.join(
        vocab.withColumn("_known", F.lit(1)), on="word", how="left"
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("_known").isNull(), 1).otherwise(0)
            ).cast("long").alias("oov_tokens"),
        )
        .select(
            "source",
            "n_tokens",
            "oov_tokens",
            F.expr("oov_tokens * 1000000 div n_tokens").alias("oov_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------
# DoReMi-style mixture reweighting (surprisal-guided exponentiated step)
# ---------------------------------------------------------------------


def doremi_mixture_step(
    df: DataFrame,
    lr_milli: int = 1000,
    clip_nats_milli: int = 2000,
    strata_col: str = "source",
    text_col: str = "text",
    materialize: bool = False,
) -> DataFrame:
    """One DoReMi-style exponentiated-gradient step over per-source
    excess surprisal (Xie et al. 2023, Domain Reweighting with Minimax
    Optimization — the published proxy-loss update re-expressed over
    this engine's corpus-intrinsic unigram LM): sources whose tokens are
    HARDER than the corpus average under the shared add-one unigram LM
    get upweighted by ``exp(lr * excess)``, renormalized over the
    doc-share reference weights.

    Derivation keeps everything replay-stable: the per-source mean
    surprisal shares the ``ln(N+V)`` constant, so the EXCESS is just
    ``S_c/n_c − S_i/n_i`` over the exact integer sums of per-word
    ``floor(ln(c_w+1)·1e8)`` units — both divisions are correctly
    rounded IEEE ops on exact integers, identical on any engine. Only
    the final ``exp`` is a libm call, quantized to 1e-6 units
    immediately (the temperature_mix_weights pow-drift lesson: keep the
    non-correctly-rounded call count at one). Weights come out in exact
    ppm via integer division.

    Emits one row per stratum: (stratum, n_docs, excess_milli_nats,
    ref_ppm, weight_ppm). Σ weight_ppm ≤ 1e6 (floor division).

    Plan: one explode → corpus vocab agg (the unigram_surprisal
    machinery) → per-stratum sums → two broadcast scalar joins. The only
    shuffles are the word and stratum hash aggregates.
    """
    words = df.select(
        F.col(strata_col).alias("stratum"),
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("word"),
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    lnu = F.floor(F.log(F.col("n") + F.lit(1)) * F.lit(1e8)).cast("long")
    per_src = (
        words.join(vocab, on="word")
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            # cast BEFORE the sum: per-word ln-units reach ~2.5e9, so a
            # stratum beyond ~4e9 words would silently wrap an int64
            # accumulator (Spark non-ANSI) while the DuckDB oracle sums
            # BIGINT into HUGEINT — the decimal(38,0) accumulation is
            # overflow-free at any corpus scale, matching the oracle.
            F.sum(lnu.cast("decimal(38,0)")).alias("_sln"),
        )
    )
    docs = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    per_src = per_src.join(docs, on="stratum")
    if materialize:
        # per_src is ONE slim row per stratum but has two consumers (the
        # corpus-total aggregate and the crossJoin below) — lazy, each
        # consumer re-runs the corpus explode + vocab join under itself
        # (r14 shared-small-table rule; bit-identical output)
        per_src = per_src.localCheckpoint(eager=True)
    corp = per_src.agg(
        F.sum("n_words").cast("decimal(38,0)").alias("_nc"),
        F.sum("_sln").cast("decimal(38,0)").alias("_sc"),
        F.sum("n_docs").cast("long").alias("_nd"),
    )
    j = per_src.crossJoin(F.broadcast(corp))
    # mean per-token ln-count units; excess > 0 = rarer vocabulary =
    # harder under the shared LM (the S term enters negatively)
    mean_src = F.col("_sln").cast("double") / F.col("n_words").cast("double")
    mean_corp = F.col("_sc").cast("double") / F.col("_nc").cast("double")
    excess_nats = (mean_corp - mean_src) / F.lit(1e8)
    clip = F.lit(clip_nats_milli / 1000.0)
    clipped = F.greatest(-clip, F.least(clip, excess_nats))
    factor_units = F.floor(
        F.exp(F.lit(lr_milli / 1000.0) * clipped) * F.lit(1e6)
    ).cast("long")
    staged = j.select(
        "stratum",
        "n_docs",
        F.floor(clipped * F.lit(1000.0)).cast("long").alias("excess_milli_nats"),
        F.expr("n_docs * 1000000 div _nd").alias("ref_ppm"),
        factor_units.alias("_fu"),
    ).withColumn(
        "_raw", (F.col("ref_ppm") * F.col("_fu")).cast("decimal(38,0)")
    )
    tot = staged.agg(F.sum("_raw").cast("decimal(38,0)").alias("_traw"))
    return (
        staged.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_docs",
            "excess_milli_nats",
            "ref_ppm",
            F.expr("CAST(_raw * 1000000 div _traw AS BIGINT)").alias(
                "weight_ppm"
            ),
        )
        .orderBy("stratum")
    )


def unimax_plan(
    df: DataFrame,
    budget_tokens: int,
    max_epochs_milli: int = 4000,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """UniMax sampling plan (Chung et al. 2023): allocate a total token
    budget UNIFORMLY across sources, except that no source may repeat
    more than ``max_epochs`` times — the fairer alternative to
    temperature sampling when source sizes span decades (a tiny source
    stops absorbing budget at its epoch cap instead of being upsampled
    into memorization).

    Water-filling, exactly and without iteration: sort sources by cap
    ascending; a source is CAPPED iff its cap can't absorb an equal
    share of what's left after all smaller caps are paid out —
    ``cap_i * remaining_sources <= budget - cum_prev_caps``, an integer
    comparison that marks a consistent prefix (the standard
    water-filling monotonicity). The uniform fill level is then one
    global aggregate: ``(budget - sum(capped caps)) div n_uncapped``.
    Everything is int64/decimal integer arithmetic (caps in tokens,
    epochs in 1e-3 units), so the plan replays bit-for-bit in DuckDB.

    Plan shape: one token-count aggregate per source; the windows and
    the capped-sum broadcast run over the per-SOURCE table (thousands
    of rows at worst — the single-partition window is bounded by source
    cardinality, never corpus size).

    Emits (source, available_tokens, cap_tokens, alloc_tokens,
    epochs_milli) with Σ alloc_tokens ≤ budget.
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    per = (
        df.select(
            F.col(source_col).alias("source"),
            F.size(whitespace_tokens(F.col(text_col))).cast("long").alias("_nt"),
        )
        .groupBy("source")
        .agg(F.sum("_nt").cast("long").alias("available_tokens"))
        .withColumn(
            "cap_tokens",
            F.expr(f"available_tokens * {int(max_epochs_milli)} div 1000"),
        )
    )
    w = Window.orderBy("cap_tokens", "source")
    wall = Window.partitionBy()
    staged = per.select(
        "source",
        "available_tokens",
        "cap_tokens",
        F.row_number().over(w).alias("_rn"),
        F.coalesce(
            F.sum("cap_tokens").over(
                Window.orderBy("cap_tokens", "source").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).cast("decimal(38,0)").alias("_cum_prev"),
        F.count(F.lit(1)).over(wall).alias("_n"),
    ).withColumn(
        "_capped",
        (
            F.col("cap_tokens").cast("decimal(38,0)")
            * (F.col("_n") - F.col("_rn") + 1)
        )
        <= (F.lit(budget_tokens).cast("decimal(38,0)") - F.col("_cum_prev")),
    )
    fill = staged.agg(
        F.sum(F.when(F.col("_capped"), F.col("cap_tokens")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("_capped_sum"),
        F.sum((~F.col("_capped")).cast("long")).alias("_n_unc"),
    )
    out = staged.crossJoin(F.broadcast(fill)).withColumn(
        "_lambda",
        F.when(
            F.col("_n_unc") > 0,
            F.expr(
                f"CAST((CAST({int(budget_tokens)} AS DECIMAL(38,0)) - _capped_sum)"
                " div _n_unc AS BIGINT)"
            ),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    alloc = F.when(F.col("_capped"), F.col("cap_tokens")).otherwise(
        F.least(F.col("cap_tokens"), F.col("_lambda"))
    )
    return (
        out.withColumn("alloc_tokens", alloc.cast("long"))
        .select(
            "source",
            "available_tokens",
            "cap_tokens",
            "alloc_tokens",
            F.expr(
                "CAST(CASE WHEN available_tokens > 0 THEN"
                " alloc_tokens * 1000 div available_tokens"
                " ELSE 0 END AS BIGINT)"
            ).alias("epochs_milli"),
        )
        .orderBy("source")
    )
