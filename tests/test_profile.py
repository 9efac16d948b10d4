"""Profiling operators: hand-checked stats + clamping semantics.

The oracle sweep hash-checks orders_profile / length_histogram; these
pin the operator behavior on fixtures.
"""

from __future__ import annotations

import pytest

from llm_training_data_pipeline_spark.operators.profile import (
    numeric_histogram,
    profile_table,
)


def test_profile_counts_nulls_and_distincts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (None, "b")], ["k", "v"]
    )
    out = {r.column: r for r in profile_table(df, ["k", "v"]).collect()}
    assert out["k"].n_rows == 4
    assert out["k"].n_nonnull == 3 and out["k"].n_distinct == 3
    assert out["k"].min_value == "1" and out["k"].max_value == "3"
    assert out["v"].n_nonnull == 3 and out["v"].n_distinct == 2
    assert out["v"].min_value == "a" and out["v"].max_value == "b"


def test_histogram_buckets_and_clamping(spark):
    df = spark.createDataFrame(
        [(-5,), (0,), (10,), (25,), (99,), (100,), (250,)], ["x"]
    )
    rows = {r.bucket: r for r in numeric_histogram(df, "x", 0, 100, 4).collect()}
    # width 25: bucket 0 gets -5 (clamped), 0, 10; bucket 1 gets 25;
    # bucket 3 gets 99?? -> 99 div 25 = 3; 100 and 250 clamp to bucket 3.
    assert rows[0].n == 3 and rows[0].lo_edge == 0 and rows[0].hi_edge == 25
    assert rows[1].n == 1
    assert rows[3].n == 3
    assert 2 not in rows  # empty buckets are absent (sparse histogram)
    assert abs(sum(r.share for r in rows.values()) - 1.0) < 1e-5


def test_histogram_rejects_fractional_width(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    with pytest.raises(ValueError):
        numeric_histogram(df, "x", 0, 100, 7)


def test_equidepth_histogram_balanced_counts(spark):
    from llm_training_data_pipeline_spark.operators.profile import (
        equidepth_histogram,
    )

    df = spark.createDataFrame([(i,) for i in range(100)], ["x"])
    rows = sorted(
        equidepth_histogram(df, "x", 4).collect(), key=lambda r: r.bucket
    )
    assert [r.bucket for r in rows] == [0, 1, 2, 3]
    # exact quartile boundaries of 0..99 split the data 25/25/25/25
    # (boundary values land in the lower band; last band inclusive)
    assert sum(r.n for r in rows) == 100
    assert max(r.n for r in rows) - min(r.n for r in rows) <= 1
    assert rows[0].lo_edge == 0.0 and rows[3].hi_edge == 99.0
