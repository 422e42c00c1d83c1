"""Sessionization and as-of join (operators/sessions.py).

Correctness: handcrafted gap/tie cases plus an independent cross-check of
asof_join against pandas ``merge_asof`` on seeded random data (the same
backward-with-exact-match contract).  Plan health: each operator must cost
exactly ONE Exchange — the gaps-and-islands window feeds the session rollup
without a second shuffle (HashPartitioning(user) satisfies the
(user, session_no) clustering), and the union-marker as-of join shuffles the
slim union once, never broadcasting or exploding a range.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pyspark.sql.functions as F
import pytest

from a5pg_spark.operators.sessions import (
    asof_join,
    session_stats,
    session_window_stats,
    sessionize,
)


def _ts(minute: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)


def _events(spark, rows):
    return spark.createDataFrame(
        [(int(i), u, _ts(m), float(v)) for i, (u, m, v) in enumerate(rows)],
        "event_id long, user_id string, ts timestamp_ntz, value double",
    )


def test_sessionize_gap_law(spark):
    # user a: events at 0, 10, 50 min (gap 30 min) -> sessions 1,1,2
    # user b: single event -> session 1
    df = _events(spark, [("a", 0, 1), ("a", 10, 2), ("a", 50, 4), ("b", 5, 8)])
    out = {
        (r.user_id, r.event_id): r.session_no
        for r in sessionize(df, "user_id", "ts", 1800, "event_id").collect()
    }
    assert out == {("a", 0): 1, ("a", 1): 1, ("a", 2): 2, ("b", 3): 1}


def test_sessionize_boundary_is_strict(spark):
    # a gap of EXACTLY gap_seconds keeps the session (strict > opens a new one)
    df = _events(spark, [("a", 0, 1), ("a", 30, 1), ("a", 60.0001, 1)])
    got = [r.session_no for r in
           sessionize(df, "user_id", "ts", 1800).orderBy("event_id").collect()]
    assert got == [1, 1, 2]


def test_session_stats_rollup(spark):
    df = _events(spark, [("a", 0, 1.5), ("a", 10, 2.25), ("a", 50, 4)])
    rows = session_stats(df, "user_id", "ts", 1800, "value", "event_id") \
        .orderBy("session_no").collect()
    assert [(r.session_no, r.n_events, r.span_s, r.sum_value) for r in rows] \
        == [(1, 2, 600.0, 3.75), (2, 1, 0.0, 4.0)]


def test_asof_join_matches_pandas_merge_asof(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    left = pd.DataFrame({
        "lid": np.arange(300),
        "k": rng.integers(0, 5, 300).astype(str),
        "ts": pd.to_datetime("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 10**6, 300), unit="s"),
    })
    right = pd.DataFrame({
        "rid": np.arange(80),
        "k": rng.integers(0, 5, 80).astype(str),
        "ts": pd.to_datetime("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 10**6, 80), unit="s"),
    }).drop_duplicates(["k", "ts"])

    ldf = spark.createDataFrame(left.assign(ts=left.ts.astype("datetime64[us]")),
                                "lid long, k string, ts timestamp_ntz")
    rdf = spark.createDataFrame(right.assign(ts=right.ts.astype("datetime64[us]")),
                                "rid long, k string, ts timestamp_ntz")
    got = (
        asof_join(ldf, rdf, ["k"], "ts", "ts", ["rid"], how="left")
        .orderBy("lid").toPandas()
    )
    exp = pd.merge_asof(
        left.sort_values("ts", kind="stable"),
        right.sort_values("ts", kind="stable").rename(columns={"ts": "rts"}),
        left_on="ts", right_on="rts", by="k", direction="backward",
    ).sort_values("lid")
    assert got.asof_rid.fillna(-1).tolist() == exp.rid.fillna(-1).tolist()


def test_asof_exact_timestamp_matches_and_inner(spark):
    l = _events(spark, [("a", 10, 0), ("a", 5, 0), ("b", 1, 0)])
    r = _events(spark, [("a", 10, 7), ("a", 0, 3)]).selectExpr(
        "user_id", "ts", "value AS payload"
    )
    out = asof_join(l, r, ["user_id"], "ts", "ts", ["payload"], how="left")
    by_id = {row.event_id: row.asof_payload for row in out.collect()}
    # event 0 at t=10 matches the right row AT t=10 (exact match allowed)
    assert by_id == {0: 7.0, 1: 3.0, 2: None}
    inner = asof_join(l, r, ["user_id"], "ts", "ts", ["payload"], how="inner")
    assert inner.count() == 2


def test_sessionize_and_asof_cost_one_exchange(spark, sf_dir):
    import __spark_entry__ as E

    qs = E.queries()
    # sessionize (r06): ONE Exchange TOTAL — the up-front range partitioning
    # on user_id serves the windows' clustering, the rollup, AND the terminal
    # output order (the old shape paid a hash exchange for the windows plus a
    # range exchange + sampling job for the final sort).  asof: ONE hash
    # exchange for the union-marker window plus one for the right-side
    # (errors-only, small) pre-dedup groupBy — the operator itself still
    # costs a single shuffle of the union.
    for name, want in (("events_sessionize", 1), ("events_asof_join", 3)):
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "MapInPandas" not in plan, (name, plan)
        assert plan.count("Exchange") == want, (name, plan)
        assert df.limit(3).count() > 0
    # the sessionize exchange is the range one; no hash exchange remains
    plan = qs["events_sessionize"](spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange rangepartitioning") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_session_window_stats_costs_one_range_exchange(spark, sf_dir):
    """events_session_window's layout, pinned like events_sessionize's: the
    up-front range exchange on user_id is the only Exchange (no hash exchange
    for the session-window aggregate, no second one for the output order),
    and the native session_window agrees with the gaps-and-islands rollup."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = session_window_stats(ev, "user_id", "ts", 1800, "value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan
    assert plan.count("Exchange rangepartitioning") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan

    got = sorted((r.user_id, r.n_events, r.sum_value) for r in df.collect())
    want = sorted((r.user_id, r.n_events, r.sum_value)
                  for r in session_stats(ev, "user_id", "ts", 1800, "value").collect())
    assert got and [g[:2] for g in got] == [w[:2] for w in want]
    assert [g[2] for g in got] == pytest.approx([w[2] for w in want], abs=2e-6)
