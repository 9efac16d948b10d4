"""Mimic the driver's CORRECTNESS check locally: run every registered query
at sf0.01 against its DuckDB oracle, canonicalizing with pandas sort_values
(the exact step that failed on raw ARRAY columns in round 1).

Also a global plan audit: every SQL execution a query starts — the eager
localCheckpoints run while its frame is built as well as the final
collect — is checked for CartesianProduct (status CARTESIAN — a scale
bug, even if values match), and the shuffle Exchanges of all of them are
counted, so a lost broadcast or a new accidental shuffle is visible in
the sweep diff round-over-round even behind a checkpoint. The final
plan is also checked for WindowExec nodes with an EMPTY partitionSpec
whose input is not limit-bounded (status GLOBAL_WINDOW — every row
crosses one task; this check pins that class out).
The session runs with ``spark.sql.codegen.fallback=false``, so a query
whose whole-stage code fails to compile errors (a red row) instead of
silently falling back to interpreted execution.

Usage: python tools/driver_mimic.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from llm_training_data_pipeline_spark.plans.queries import registry  # noqa: E402
from llm_training_data_pipeline_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df: pd.DataFrame, float_dp: int | None = None) -> pd.DataFrame:
    """Driver-style canonicalization: sort columns by name, sort rows by all
    columns (this is the step that raises on unhashable list cells).

    float_dp=None keeps floats bit-exact — the driver hashes raw values, so
    any float drift between Spark and the oracle is a real driver failure.
    """
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif out[c].dtype.kind == "f" and float_dp is not None:
            out[c] = out[c].round(float_dp)
    out = out.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return out


# Empty-partitionSpec WindowExec audit -------------------------------
#
# A Window with no PARTITION BY moves its whole input through ONE task
# ("No Partition Defined for Window operation"). That is fine only when
# the input is provably small: below a limit (orderBy().limit(k) =
# TakeOrdered) or a broadcast. Anything else is the single-partition
# scale-killer class the r9 judge flagged (bm25_topk / oov_rate_split /
# packed_sequences vocab) — this walk pins it out of the whole sweep.

_LIMIT_NODES = {
    "GlobalLimitExec",
    "LocalLimitExec",
    "TakeOrderedAndProjectExec",
    "CollectLimitExec",
    "WindowGroupLimitExec",
}
_BROADCAST_NODES = {"BroadcastExchangeExec", "BroadcastQueryStageExec"}

# Windows over aggregates whose key cardinality is bounded by design
# (not by a limit node). Each entry must say WHY it is bounded.
_GLOBAL_WINDOW_ALLOWLIST = {
    "unimax_plan": "water-filling window over the per-source aggregate; "
    "cardinality = #sources (a ~20-row mixture control frame), not corpus rows",
}


def _plan_children(node):
    name = node.getClass().getSimpleName()
    try:
        if name == "AdaptiveSparkPlanExec":
            return [node.executedPlan()]
        if name.endswith("QueryStageExec"):
            return [node.plan()]
        if name == "ReusedExchangeExec":
            return [node.child()]
    except Exception:  # noqa: BLE001 - fall through to generic children
        pass
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _limit_bounded(node) -> bool:
    """True iff EVERY path from node to a leaf crosses a limit node (or a
    broadcast, which is small by definition)."""
    name = node.getClass().getSimpleName()
    if name in _LIMIT_NODES or name in _BROADCAST_NODES:
        return True
    kids = _plan_children(node)
    if not kids:
        return False
    return all(_limit_bounded(k) for k in kids)


def _has_global_window_line(plan_str: str) -> bool:
    """Cheap string prescan: a WindowExec with an EMPTY partitionSpec
    prints as ``Window [exprs], [orderSpec]`` — two top-level bracket
    groups instead of three. Only when one exists is the (py4j-costly)
    tree walk worth running; most plans skip it entirely."""
    for line in plan_str.splitlines():
        if "WindowGroupLimit" in line:
            continue
        idx = -1
        for tok in ("Window [", "WindowInPandas ["):
            idx = line.find(tok)
            if idx >= 0:
                idx += len(tok) - 1  # position of the first '['
                break
        if idx < 0:
            continue
        groups = 0
        depth = 0
        for ch in line[idx:]:
            if ch == "[":
                if depth == 0:
                    groups += 1
                depth += 1
            elif ch == "]":
                depth -= 1
        if groups <= 2:
            return True
    return False


def unbounded_global_windows(jplan, plan_str: str | None = None) -> int:
    """Count WindowExec/WindowInPandasExec nodes with an empty
    partitionSpec whose input subtree is not limit-bounded. The py4j
    tree walk costs ~1ms per node, so it only runs when the string
    prescan sees a candidate line."""
    if plan_str is None:
        plan_str = jplan.toString()
    if not _has_global_window_line(plan_str):
        return 0
    hits = 0
    stack = [jplan]
    while stack:
        n = stack.pop()
        name = n.getClass().getSimpleName()
        if name in ("WindowExec", "WindowInPandasExec"):
            try:
                empty = n.partitionSpec().isEmpty()
            except Exception:  # noqa: BLE001
                empty = False
            if empty and not all(
                _limit_bounded(k) for k in _plan_children(n)
            ):
                hits += 1
        stack.extend(_plan_children(n))
    return hits


# All-executions plan audit ----------------------------------------
#
# Work an eager localCheckpoint ran is gone from the final plan (it
# reads the checkpointed RDD), so the audit reads the plan graph of
# every SQL execution from the session's status store instead. The
# graph holds AQE's final plan once per node (a reused exchange is an
# edge, not a node); ``physicalPlanDescription`` would list the initial
# and the final plan and count every node twice.

_SHUFFLE_EXCHANGE = re.compile(r"Exchange (hash|range|Single)")


def _drained_status_store(spark):
    # the store is fed by the async listener bus; drain it first
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def last_execution_id(spark) -> int:
    """Id of the newest SQL execution of the session (-1 if none) — take
    it before building a query, then pass it to ``plan_nodes_since``."""
    store = _drained_status_store(spark)
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def plan_nodes_since(spark, after_id: int) -> list[str]:
    """``desc()`` of every plan node of every SQL execution newer than
    ``after_id``, e.g. ``Exchange hashpartitioning(k#1L, 8), …`` or
    ``CartesianProduct``."""
    store = _drained_status_store(spark)
    n = store.executionsCount()
    # executionsList is ordered by id and the store drops its oldest
    # entries, so read a growing window off the tail until it reaches
    # back past after_id
    m = 16
    while True:
        tail = store.executionsList(max(0, n - m), m)
        ids = [tail.apply(i).executionId() for i in range(tail.size())]
        if not ids or ids[0] <= after_id or m >= n:
            break
        m *= 4
    descs: list[str] = []
    for eid in ids:
        if eid > after_id:
            nodes = store.planGraph(eid).allNodes()
            descs += [nodes.apply(j).desc() for j in range(nodes.size())]
    return descs


def plan_node_counts(nodes: list[str]) -> tuple[int, int]:
    """(CartesianProduct nodes, shuffle Exchange nodes) in ``nodes``.
    Broadcast exchanges are not shuffles and are not counted."""
    cartesians = sum(d.startswith("CartesianProduct") for d in nodes)
    exchanges = sum(bool(_SHUFFLE_EXCHANGE.match(d)) for d in nodes)
    return cartesians, exchanges


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = set(sys.argv[2:])
    spark = get_spark(extra_conf={"spark.sql.codegen.fallback": "false"})
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    reg = registry()
    # materialize the 62-language LID once per sf_dir (doc- and
    # segment-level) and rewrite the language-family oracles against the
    # temp tables — the CASE is still the single source of truth (it
    # builds the tables), but it runs 2× per sweep instead of 7+ ×
    # (remove_wrong_lang alone was 56s at sf0.01; VERDICT r7 #5)
    from llm_training_data_pipeline_spark.plans import oracle as _oracle

    t0 = time.time()
    con.execute(f"CREATE TABLE _doc_lang AS {_oracle.doc_lang_table_sql()}")
    con.execute(f"CREATE TABLE _seg_lang40 AS {_oracle.seg_lang_table_sql()}")
    overrides = _oracle.lang_materialized_overrides()
    print(f"# lang LID tables materialized in {time.time() - t0:.1f}s",
          file=sys.stderr)

    results: dict[str, dict] = {}
    for name in sorted(reg):
        if name_filter and name not in name_filter:
            continue
        fn, sql = reg[name]
        if sql is not None and name in overrides:
            sql = overrides[name]
        t0 = time.time()
        try:
            before = last_execution_id(spark)
            df = fn(spark, sf_dir)
            sp = df.toPandas()
            # global plan audit over every execution the query started,
            # read AFTER execution so AQE's FINAL adaptive plans are what
            # gets audited (a runtime broadcast demotion is invisible in
            # the static estimate). A CartesianProduct anywhere in the
            # suite is a scale bug (broadcast-scalar cross joins compile
            # to BroadcastNestedLoopJoin, which is fine); exchanges counts
            # SHUFFLE exchanges only, so the number is the round-over-round
            # shuffle signal.
            cartesians, exchanges = plan_node_counts(
                plan_nodes_since(spark, before)
            )
            jplan = df._jdf.queryExecution().executedPlan()
            plan = jplan.toString()
            if cartesians:
                results[name] = {"status": "CARTESIAN", "cartesians": cartesians,
                                 "sec": round(time.time() - t0, 1)}
                continue
            gwin = unbounded_global_windows(jplan, plan)
            if gwin and name not in _GLOBAL_WINDOW_ALLOWLIST:
                results[name] = {"status": "GLOBAL_WINDOW",
                                 "global_windows": gwin,
                                 "sec": round(time.time() - t0, 1)}
                continue
            if sql is None:
                results[name] = {"status": "rows_only", "rows": len(sp),
                                 "exchanges": exchanges,
                                 "sec": round(time.time() - t0, 1)}
                continue
            du = con.execute(sql).df()
            # the driver sorts by raw (un-stringified) values first; replicate
            # that exact failure mode before our tolerant compare
            sp[sorted(sp.columns)].sort_values(by=sorted(sp.columns))
            schema_ok = sorted(sp.columns) == sorted(du.columns)
            rows_ok = len(sp) == len(du)
            val_ok = False
            if schema_ok and rows_ok:
                # strict first: the driver hashes exact values, so only a
                # bit-exact match predicts a green driver row
                try:
                    pd.testing.assert_frame_equal(
                        _canon(sp), _canon(du), check_dtype=False, check_exact=True
                    )
                    val_ok = True
                except AssertionError as strict_err:
                    try:
                        pd.testing.assert_frame_equal(
                            _canon(sp, 6), _canon(du, 6), check_dtype=False,
                            check_exact=False, rtol=1e-6, atol=1e-6,
                        )
                        # would pass a tolerant check but NOT the driver hash
                        results[name] = {"status": "FLOAT_DRIFT",
                                         "detail": str(strict_err).splitlines()[-1][:200],
                                         "sec": round(time.time() - t0, 1)}
                    except AssertionError as e:
                        results[name] = {"status": "VALUE_MISMATCH",
                                         "detail": str(e).splitlines()[-1][:200],
                                         "sec": round(time.time() - t0, 1)}
                    continue
            results[name] = {
                "status": "pass" if (schema_ok and rows_ok and val_ok) else "MISMATCH",
                "rows": len(sp), "oracle_rows": len(du), "schema_ok": schema_ok,
                "exchanges": exchanges,
                "sec": round(time.time() - t0, 1),
            }
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "ERROR", "detail": f"{type(e).__name__}: {e}"[:300],
                             "sec": round(time.time() - t0, 1)}
    bad = {k: v for k, v in results.items() if v["status"] not in ("pass", "rows_only")}
    # stdout carries ONLY the JSON document so `python tools/driver_mimic.py
    # > artifacts/sweep.json` is valid JSON (the r7 artifact had the human
    # summary appended inside the file); the summary goes to stderr
    print(json.dumps(results, indent=1))
    print(f"\n{len(results)} queries: {len(results) - len(bad)} ok, {len(bad)} bad",
          file=sys.stderr)
    if bad:
        print("BAD:", sorted(bad), file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
