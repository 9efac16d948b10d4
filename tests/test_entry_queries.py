"""Sweep the full driver contract: every registered query runs, and every
oracle-paired query value-matches DuckDB at the test scale factor."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from llm_training_data_pipeline_spark.plans.queries import registry
from tests.conftest import SF_DIR, assert_df_matches_oracle

REG = registry()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"detected_lang", "reason", "n_docs", "avg_len"}


def test_contract_shape():
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(osql) <= set(qs)


def test_tune_for_session_skips_only_locked_confs(capsys):
    """A conf the host locked (AnalysisException) is reported on stderr
    and skipped; any other error from ``conf.set`` propagates."""
    from pyspark.errors import AnalysisException

    from llm_training_data_pipeline_spark.session import tune_for_session

    locked = "spark.sql.session.timeZone"
    broken = "spark.sql.execution.arrow.pyspark.enabled"

    class StubConf:
        def __init__(self):
            self.applied = {}

        def set(self, k, v):
            if k == locked:
                raise AnalysisException(f"Cannot modify the value of {k}")
            if k == broken:
                raise RuntimeError("conf service down")
            self.applied[k] = v

    class StubSession:
        conf = StubConf()

    with pytest.raises(RuntimeError, match="conf service down"):
        tune_for_session(StubSession())
    assert locked in capsys.readouterr().err
    assert "spark.sql.adaptive.enabled" in StubSession.conf.applied
    assert locked not in StubSession.conf.applied


def test_scorecard_rotation_policy():
    """The driver scores only the first ~50 registry slots, so ordering IS
    the rotation policy: red rows first, deep-stale greens next (oldest
    effective round first), THEN never-scored first rows (oracle-paired
    before rows-only), then fresher greens. Staleness and changedness
    share ONE ordering, and first rows queue behind deep-stale refreshes
    — a productive 40+-query round must not evict 3-round-stale hash
    checks from the window. Derived from the CORRECTNESS_r*.json files,
    not hand-edited."""
    from llm_training_data_pipeline_spark.plans.queries import (
        _CHANGED_IN_ROUND,
        _scorecard_rounds,
    )

    names = list(REG)
    scored, green = _scorecard_rounds()
    assert scored, "driver correctness files must parse to at least one row"
    newest = max(green.values(), default=0)

    def tier(name: str) -> int:
        if scored.get(name, 0) > green.get(name, 0):
            return 0  # red: re-score immediately
        if scored.get(name, 0) == 0:
            # first rows queue behind the deep-stale greens (pytest
            # already pins them; a 40+-query round must not evict
            # 3-round-stale hash checks); oracle-paired before rows-only
            return 2 if REG[name][1] is not None else 3
        eff = (
            green[name] - 1
            if green[name] < _CHANGED_IN_ROUND.get(name, 0)
            else green[name]
        )
        return 1 if eff <= newest - 2 else 4

    tiers = [tier(n) for n in names]
    assert tiers == sorted(tiers), "registry order must be tier-monotonic"
    # within the green tiers: (effective round, raw green round,
    # paired-first) — a change costs one round of staleness, and the
    # raw round breaks ties so the longest-unverified entry leads
    for t in (1, 4):
        tt = []
        for n in names:
            if tier(n) != t:
                continue
            changed = green[n] < _CHANGED_IN_ROUND.get(n, 0)
            tt.append(
                (
                    green[n] - 1 if changed else green[n],
                    green[n],
                    1 if REG[n][1] is None else 0,
                )
            )
        assert tt == sorted(tt)


def test_stalest_queries_fit_driver_window():
    """The concrete guarantee the merged ordering exists for: every
    query whose newest green row is >= 2 rounds old sits inside the
    driver's 50-slot scoring window."""
    from llm_training_data_pipeline_spark.plans.queries import _scorecard_rounds

    names = list(REG)
    _scored, green = _scorecard_rounds()
    newest = max(green.values(), default=0)
    window = set(names[:50])
    stale = [n for n in names if 0 < green.get(n, 0) <= newest - 2]
    missing = [n for n in stale if n not in window]
    assert not missing, f"multi-round-stale queries outside window: {missing}"


def test_staleness_ceiling():
    """The rotation's guarantee, enforced as an invariant: no
    oracle-paired query's newest green row may fall more than 4 rounds
    behind the newest scored round. With ~166 registered queries and a
    50-slot driver window, oldest-green-first rotation bounds worst-case
    staleness at ~3-4 rounds by construction — if this fails, the
    ordering regressed (or the registry outgrew the window and the
    rotation needs rebalancing), not a flaky fixture."""
    from llm_training_data_pipeline_spark.plans.queries import _scorecard_rounds

    MAX_STALE_ROUNDS = 4
    scored, green = _scorecard_rounds()
    newest = max(green.values(), default=0)
    over = {
        n: newest - green[n]
        for n in REG
        if REG[n][1] is not None
        and green.get(n, 0) > 0
        and newest - green[n] > MAX_STALE_ROUNDS
    }
    assert not over, (
        f"oracle-paired queries stale beyond {MAX_STALE_ROUNDS} rounds "
        f"(newest green round {newest}): {over}"
    )


def test_changed_pin_expires_after_green():
    """A _CHANGED_IN_ROUND pin must stop occupying a tier-1 slot once a
    green row from that round (or later) exists — else stale pins starve
    the oldest-green rotation forever (round-5 advisory)."""
    from llm_training_data_pipeline_spark.plans.queries import (
        _CHANGED_IN_ROUND,
        _scorecard_rounds,
    )

    _scored, green = _scorecard_rounds()
    newest_round = max(green.values(), default=0)
    for name, rnd in _CHANGED_IN_ROUND.items():
        assert name in REG, f"pin for unregistered query {name}"
        if green.get(name, 0) >= rnd:
            # expired pin: must sort by its green round, not tier 1
            names = list(REG)
            # it should NOT appear before every tier-2 entry with an
            # older green round
            older = [
                n
                for n in names
                if green.get(n, 0) and green[n] < green[name] and n not in _CHANGED_IN_ROUND
            ]
            if older:
                assert names.index(name) > names.index(older[0])
        else:
            assert rnd <= newest_round + 1, f"pin round {rnd} is in the future"


@pytest.mark.parametrize("name", sorted(REG))
def test_query_against_oracle(name, spark, ddb):
    fn, sql = REG[name]
    df = fn(spark, SF_DIR)
    if sql is None:
        rows = df.limit(5).collect()  # rows-only smoke: runs, stable schema
        assert df.columns
    else:
        assert_df_matches_oracle(df, ddb, sql)


def test_operator_index_is_current():
    """docs/OPERATORS.md must be regenerated whenever the registry
    changes (tools/gen_operator_docs.py) — a stale index misstates
    coverage."""
    import io
    import re

    from llm_training_data_pipeline_spark.plans.queries import _REGISTRY

    text = open("docs/OPERATORS.md").read()
    m = re.search(r"(\d+) queries registered \((\d+) oracle-paired", text)
    assert m, "missing summary line"
    n_oracle = sum(1 for _, s in _REGISTRY.values() if s)
    assert int(m.group(1)) == len(_REGISTRY), "row count stale — regenerate"
    assert int(m.group(2)) == n_oracle, "oracle count stale — regenerate"
    listed = set(re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M))
    assert listed == set(_REGISTRY), (
        f"missing: {sorted(set(_REGISTRY) - listed)[:5]} "
        f"extra: {sorted(listed - set(_REGISTRY))[:5]}"
    )
