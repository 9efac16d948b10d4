"""Multinomial Naive Bayes text classifier — distributed train + score.

The fasttext-style linear text classifier is a load-bearing stage in
every published large-scale training-data pipeline (CCNet's LM-quality
gate, RefinedWeb's URL/content filters, DCLM's fasttext quality
classifier). No ML library ships in this container, so the classifier
is plain DataFrame algebra — which is also the 100 TB-friendly shape:

- **Training** is two hash aggregates over the exploded word table
  (word×class counts, class token totals) plus a C-row class table —
  map-side partial aggregation does the heavy lifting; nothing is
  collected to the driver.
- **Scoring** avoids the naive |test words| × |classes| fan-out via the
  delta decomposition: with add-one smoothing every word absent from a
  class scores the class-constant ``miss(c) = ln 1/(t_c+V)``, so

      score(d,c) = prior(c) + n_d·miss(c) + Σ_{w∈d∩model_c} n_{w,d}·Δ(w,c)

  where ``Δ(w,c) = ln((n_{w,c}+1)/(t_c+V)) − miss(c)``. The only join
  is test-words ⋈ model on the natural high-cardinality ``word`` key
  (hot stopword keys have ONE model row per class — AQE skew split
  applies); the C-row class table is broadcast.
- **Prediction** is a per-doc window over exactly C rows (argmax with a
  deterministic ``score DESC, label ASC`` tie-break).

Every log-probability is truncated to exact 1e-8 units and summed as
BIGINT, so the whole train+score plan replays bit-for-bit in DuckDB
(oracle-paired ``nb_classify_source`` query). Zero-token documents
carry no evidence and are excluded from scoring (the repo-wide
``_lower_words`` convention).

Reference scope note: the reference pipeline (quality_filter.py) gates
on hand heuristics only; this operator is part of the beyond-reference
LLM-pipeline surface the brief asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.functions.text import whitespace_tokens

LOG_UNIT = 1e8


def _label_words(df: DataFrame, text_col: str, label_col: str) -> DataFrame:
    """One row per (label, word) occurrence, case-folded — training
    needs no document identity, only class-conditional counts."""
    return df.select(
        F.col(label_col).alias("_label"),
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("word"),
    )


def nb_train(
    train: DataFrame,
    text_col: str = "text",
    label_col: str = "source",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Fit the model; returns ``(model, classes)``.

    ``model``: (word, _label, delta_u) — per-(word, class) log-likelihood
    advantage over the class's unseen-word floor, exact 1e-8 units.
    ``classes``: (_label, prior_u, miss_u) — log prior and unseen-word
    log-likelihood, exact 1e-8 units. C rows; broadcast it at scoring.

    The (word, class) count table, the C-row class counts and the
    classes table each feed two branches, so each is checkpointed once
    and the training corpus is scanned once per aggregate.
    """
    words = _label_words(train, text_col, label_col)
    wc = words.groupBy("word", "_label").agg(F.count(F.lit(1)).alias("_nwc"))
    wc = wc.localCheckpoint(eager=True)
    tc = wc.groupBy("_label").agg(F.sum("_nwc").alias("_tc"))
    vocab = wc.select("word").distinct().agg(F.count(F.lit(1)).alias("_v"))
    # C rows, two consumers (the classes rows and, via the sum below,
    # the doc total): checkpoint so the train-corpus class aggregate
    # runs once
    tcounts = train.groupBy(F.col(label_col).alias("_label")).agg(
        F.count(F.lit(1)).alias("_nc")
    )
    tcounts = tcounts.localCheckpoint(eager=True)
    # n_docs = Σ_c n_c exactly (every train row lands in one label
    # group, NULL included) — derived from the C-row class-count table
    # instead of a second full train scan (r14)
    n_docs = tcounts.agg(F.sum("_nc").alias("_n"))
    classes = (
        tcounts
        # LEFT join + coalesce: a class whose training docs are all
        # zero-token has no tc row, but add-one smoothing still defines
        # its scores (prior + n·ln(1/V)) — an inner join would silently
        # make the class unpredictable while its docs still inflated
        # every other prior's denominator
        .join(tc, on="_label", how="left")
        .withColumn("_tc", F.coalesce(F.col("_tc"), F.lit(0)))
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(vocab))
        .withColumn("_v", F.greatest(F.col("_v"), F.lit(1)))
        .select(
            "_label",
            "_tc",
            "_v",
            F.floor(
                F.log(F.col("_nc").cast("double") / F.col("_n").cast("double"))
                * F.lit(LOG_UNIT)
            )
            .cast("long")
            .alias("prior_u"),
            F.floor(
                F.log(F.lit(1.0) / (F.col("_tc") + F.col("_v")).cast("double"))
                * F.lit(LOG_UNIT)
            )
            .cast("long")
            .alias("miss_u"),
        )
    )
    # `classes` is C rows but has TWO consumers (the model projection
    # below and the scoring crossJoin) — lazy, each consumer would re-run
    # the train-corpus class/doc aggregates under itself
    classes = classes.localCheckpoint(eager=True)
    model = (
        wc.join(F.broadcast(classes.select("_label", "_tc", "_v", "miss_u")), on="_label")
        .select(
            "word",
            "_label",
            (
                F.floor(
                    F.log(
                        (F.col("_nwc") + F.lit(1)).cast("double")
                        / (F.col("_tc") + F.col("_v")).cast("double")
                    )
                    * F.lit(LOG_UNIT)
                ).cast("long")
                - F.col("miss_u")
            ).alias("delta_u"),
        )
    )
    return model, classes.select("_label", "prior_u", "miss_u")


def nb_scores(
    model: DataFrame,
    classes: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-(doc, class) log-score in exact 1e-8 units: (id, _label,
    score_u). One word-keyed join + two doc-keyed aggregates.

    The (id, word, n) table stays lazy although it has two consumers:
    it is token-volume-sized, and checkpointing it cost more than the
    duplicated explode it saves (measured +0.4 s at sf0.1)."""
    words = df.select(
        F.col(id_col), F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("word")
    ).groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("_n"))
    doc_totals = words.groupBy(id_col).agg(F.sum("_n").alias("_total"))
    deltas = (
        words.join(model, on="word")
        .groupBy(id_col, "_label")
        .agg(F.sum(F.col("_n") * F.col("delta_u")).alias("_dsum"))
    )
    return (
        doc_totals.crossJoin(F.broadcast(classes))
        .join(deltas, on=[id_col, "_label"], how="left")
        .select(
            id_col,
            "_label",
            (
                F.col("prior_u")
                + F.col("_total") * F.col("miss_u")
                + F.coalesce(F.col("_dsum"), F.lit(0).cast("long"))
            ).alias("score_u"),
        )
    )


def nb_classify(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    label_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train on ``train``, predict ``test``: (id, pred_label, score,
    margin). ``score`` is the winning log-likelihood and ``margin`` the
    gap to the runner-up class, both rounded 6dp from exact units.
    Ties break deterministically (score DESC, label ASC)."""
    model, classes = nb_train(train, text_col, label_col, id_col)
    scores = nb_scores(model, classes, test, text_col, id_col)
    w = Window.partitionBy(id_col).orderBy(F.desc("score_u"), F.asc("_label"))
    ranked = scores.select(
        id_col,
        "_label",
        "score_u",
        F.row_number().over(w).alias("_rk"),
        F.lead("score_u", 1).over(w).alias("_next_u"),
    ).filter(F.col("_rk") == 1)

    def u6(col):  # exact half-up 1e-8 units → 6dp (repo-wide formula)
        return F.floor((col * F.lit(2) + F.lit(100)) / F.lit(200.0)).cast(
            "long"
        ) / F.lit(1e6)

    return ranked.select(
        id_col,
        F.col("_label").alias("pred_label"),
        u6(F.col("score_u")).alias("score"),
        u6(F.col("score_u") - F.coalesce(F.col("_next_u"), F.col("score_u"))).alias(
            "margin"
        ),
    )
