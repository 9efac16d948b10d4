"""Naive Bayes classifier: learning behavior + exact-unit math pins.

The oracle sweep in test_entry_queries hash-checks the registered
``nb_classify_lang`` query against DuckDB; these tests pin the operator
semantics on fixtures where the right answer is known by construction
(the synthetic testdata's labels are ~independent of its text, so the
registered query proves bit-parity, not learnability).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.operators.classify import (
    LOG_UNIT,
    nb_classify,
    nb_scores,
    nb_train,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "label"])


def test_separable_classes_all_correct(spark):
    train = _docs(
        spark,
        [
            (1, "spark shuffle executor partition stage", "infra"),
            (2, "executor stage shuffle broadcast partition", "infra"),
            (3, "sonnet stanza meter rhyme verse", "poetry"),
            (4, "verse rhyme stanza couplet meter", "poetry"),
        ],
    )
    test = _docs(
        spark,
        [
            (10, "shuffle partition stage", "infra"),
            (11, "rhyme meter verse", "poetry"),
            (12, "stanza couplet executor rhyme verse", "poetry"),
        ],
    )
    out = nb_classify(train, test, label_col="label").orderBy("doc_id").collect()
    assert [r.pred_label for r in out] == ["infra", "poetry", "poetry"]
    assert all(r.margin > 0 for r in out)


def test_tie_breaks_on_label_asc(spark):
    # Identical class-conditional distributions and priors -> every
    # class scores equally; the deterministic winner is min(label).
    train = _docs(
        spark,
        [(1, "alpha beta", "zz"), (2, "alpha beta", "aa")],
    )
    test = _docs(spark, [(10, "alpha", "?")])
    out = nb_classify(train, test, label_col="label").collect()
    assert out[0].pred_label == "aa"
    assert out[0].margin == 0.0


def test_zero_token_docs_excluded(spark):
    train = _docs(spark, [(1, "a b", "x"), (2, "c d", "y")])
    test = _docs(spark, [(10, "   ", "?"), (11, "a", "?")])
    out = nb_classify(train, test, label_col="label").collect()
    assert [r.doc_id for r in out] == [11]


def test_score_matches_hand_math(spark):
    # train: class x = {a a b}, class y = {c}; V = 3; priors 1/2 each.
    train = _docs(spark, [(1, "a a b", "x"), (2, "c", "y")])
    test = _docs(spark, [(10, "a c", "?")])
    model, classes = nb_train(train, label_col="label")
    got = {
        (r.doc_id, r._label): r.score_u
        for r in nb_scores(model, classes, test).collect()
    }

    def u(v: float) -> int:
        return math.floor(v * LOG_UNIT)

    # class x: t=3, V=3 -> denom 6. P(a|x)=(2+1)/6, P(c|x)=1/6 (miss).
    miss_x, miss_y = u(math.log(1 / 6)), u(math.log(1 / 4))
    exp_x = u(math.log(0.5)) + 2 * miss_x + (u(math.log(3 / 6)) - miss_x)
    # class y: t=1, V=3 -> denom 4. P(c|y)=(1+1)/4, P(a|y)=1/4 (miss).
    exp_y = u(math.log(0.5)) + 2 * miss_y + (u(math.log(2 / 4)) - miss_y)
    assert got[(10, "x")] == exp_x
    assert got[(10, "y")] == exp_y


def test_unseen_class_words_use_floor_not_zero(spark):
    # A test doc made entirely of words unseen in training still gets a
    # finite score for every class (the miss floor), never NULL.
    train = _docs(spark, [(1, "a b", "x"), (2, "c d", "y")])
    test = _docs(spark, [(10, "zz qq", "?")])
    rows = nb_classify(train, test, label_col="label").collect()
    assert len(rows) == 1 and rows[0].score < 0


def test_plan_has_no_cartesian_on_corpus(spark):
    # The only crossJoins are the broadcast 1-row/C-row tables; the
    # word join must be an equi-join — in the final plan and in every
    # training checkpoint nb_train runs eagerly.
    from tools.driver_mimic import last_execution_id, plan_nodes_since

    train = _docs(spark, [(1, "a b", "x"), (2, "c d", "y")])
    test = _docs(spark, [(10, "a", "?")])
    before = last_execution_id(spark)
    nb_classify(train, test, label_col="label").collect()
    nodes = plan_nodes_since(spark, before)
    assert any(d.startswith("BroadcastNestedLoopJoin") for d in nodes)
    assert not any(d.startswith("CartesianProduct") for d in nodes)


def test_zero_token_class_still_predictable(spark):
    # class y's only training doc has no tokens: y must keep its prior
    # and the ln(1/V) unseen floor, not vanish from the model; and the
    # winning class for y-ish (all-unseen) docs is decided by prior.
    train = _docs(
        spark,
        [(1, "a b c", "x"), (2, "   ", "y"), (3, "  ", "y")],
    )
    test = _docs(spark, [(10, "zz", "?")])
    out = nb_classify(train, test, label_col="label").collect()[0]
    # scores: x -> ln(1/3) + ln(1/(3+3)); y -> ln(2/3) + ln(1/(0+3))
    # y wins (higher prior, smaller vocab denominator)
    assert out.pred_label == "y"
