"""Behavioral analytics tests: funnel / cohort retention / anomaly days.

Hand-computable micro-fixtures pin the semantics (strict ordering, period
arithmetic, integer-sums z-score); a partitioning-invariance test pins the
repo's determinism rule. The sf0.01 gate (check_oracles --extended) pins
the exact DuckDB hash on real data.
"""
from __future__ import annotations

import datetime as dt
import math

import pytest

from ocr_spark.operators.behavior import (
    cohort_retention,
    daily_anomalies,
    funnel,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(eid, user, minutes, etype):
    return (eid, T0 + dt.timedelta(minutes=minutes), user, etype)


@pytest.fixture(scope="module")
def events(spark):
    # u1 completes view->click->purchase in order.
    # u2 clicks BEFORE viewing: click must not count; a later click does
    #    not exist, so u2 stops at step 1.
    # u3 views and clicks but never purchases.
    # u4 purchases first (must not count), then view only.
    rows = [
        _ev(1, 1, 0, "view"),
        _ev(2, 1, 5, "click"),
        _ev(3, 1, 9, "purchase"),
        _ev(4, 2, 0, "click"),
        _ev(5, 2, 3, "view"),
        _ev(6, 3, 1, "view"),
        _ev(7, 3, 2, "click"),
        _ev(8, 4, 0, "purchase"),
        _ev(9, 4, 7, "view"),
    ]
    return spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    )


def test_funnel_strict_ordering(events):
    out = funnel(events, ["view", "click", "purchase"]).collect()
    assert [r["step"] for r in out] == ["view", "click", "purchase"]
    by = {r["step"]: r for r in out}
    assert by["view"]["n_users"] == 4
    assert by["click"]["n_users"] == 2  # u1, u3 — u2's click precedes view
    assert by["purchase"]["n_users"] == 1  # u1 — u4's purchase precedes view
    assert by["view"]["conv_overall"] == 1.0
    assert by["click"]["conv_overall"] == 0.5
    assert by["purchase"]["conv_overall"] == 0.25
    assert by["purchase"]["conv_from_prev"] == 0.5


def test_funnel_same_timestamp_does_not_advance(spark):
    # click shares the view's exact timestamp: strict t0 < ts fails.
    rows = [
        (1, T0, 10, "view"),
        (2, T0, 10, "click"),
        (3, T0 + dt.timedelta(seconds=1), 10, "click"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = {r["step"]: r["n_users"] for r in funnel(df, ["view", "click"]).collect()}
    assert out == {"view": 1, "click": 1}  # the +1s click counts, not the tied one


def test_funnel_validation(events):
    with pytest.raises(ValueError):
        funnel(events, ["view"])
    with pytest.raises(ValueError):
        funnel(events, ["view", "view"])


def test_funnel_partitioning_invariant(events):
    a = sorted(map(tuple, funnel(events, ["view", "click"]).collect()))
    b = sorted(
        map(tuple, funnel(events.repartition(7), ["view", "click"]).collect())
    )
    assert a == b


def test_cohort_retention_triangle(spark):
    # Two cohorts, 7-day periods anchored to the epoch grid.
    # u1 first seen day 0 (period p0), active again day 8 (p0+1).
    # u2 first seen day 1 (period p0), never again.
    # u3 first seen day 8 (p0+1), active day 22 (p0+3 = offset 2).
    def at(day, eid, user):
        return (eid, T0 + dt.timedelta(days=day), user, "view")

    df = spark.createDataFrame(
        [at(0, 1, 1), at(8, 2, 1), at(1, 3, 2), at(8, 4, 3), at(22, 5, 3)],
        ["event_id", "ts", "user_id", "event_type"],
    )
    rows = cohort_retention(df, period_days=7).collect()
    # 2024-01-01 is day 19723 = 7*2817 + 4 → its period starts 2023-12-28.
    c0 = dt.date(2023, 12, 28)
    c1 = dt.date(2024, 1, 4)
    got = {
        (r["cohort_start"], r["period_offset"]): (
            r["n_active"],
            r["cohort_size"],
            r["retention"],
        )
        for r in rows
    }
    assert got == {
        (c0, 0): (2, 2, 1.0),
        (c0, 1): (1, 2, 0.5),
        (c1, 0): (1, 1, 1.0),
        (c1, 2): (1, 1, 1.0),
    }


def test_cohort_validation(spark):
    df = spark.createDataFrame(
        [(1, T0, 1, "view")], ["event_id", "ts", "user_id", "event_type"]
    )
    with pytest.raises(ValueError):
        cohort_retention(df, period_days=0)


def test_daily_anomalies_integer_exact_z(spark):
    # u1: counts [1, 1, 1, 5] over 4 days → day-4 z = (4*5-8)/sqrt(4*28-64)
    rows = []
    eid = 0
    for day, n in enumerate([1, 1, 1, 5]):
        for _ in range(n):
            eid += 1
            rows.append((eid, T0 + dt.timedelta(days=day, minutes=eid), 1, "view"))
    # u2: constant volume → zero variance, never flagged
    for day in range(4):
        eid += 1
        rows.append((eid, T0 + dt.timedelta(days=day), 2, "view"))
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = daily_anomalies(df, z_threshold=1.5, min_days=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["user_id"], r["date"], r["n_events"]) == (
        1,
        dt.date(2024, 1, 4),
        5,
    )
    assert r["z"] == round((4 * 5 - 8) / math.sqrt(4 * 28 - 8 * 8), 4)


def test_daily_anomalies_min_days_guard(spark):
    # only 2 observed days — below min_days, never flagged however extreme
    rows = [(i, T0 + dt.timedelta(minutes=i), 1, "view") for i in range(10)]
    rows.append((99, T0 + dt.timedelta(days=1), 1, "view"))
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    assert daily_anomalies(df, z_threshold=0.1, min_days=3).count() == 0
    with pytest.raises(ValueError):
        daily_anomalies(df, min_days=1)


def test_anomalies_single_shuffle_plan(spark):
    """The repartition(user) → groupBy(user, day) → Window(user) chain
    must reuse one exchange: exactly 1 shuffle in the physical plan."""
    rows = [(i, T0 + dt.timedelta(hours=i), i % 3, "view") for i in range(60)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    plan = daily_anomalies(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_cohort_pre_epoch_uses_floor_not_truncation(spark):
    # day -2 (1969-12-30) must land in period -1 (1969-12-25..31), NOT be
    # truncated into period 0 alongside day 2 (1970-01-03)
    rows = [
        (1, dt.datetime(1969, 12, 30), 1, "view"),
        (2, dt.datetime(1970, 1, 3), 1, "view"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    got = {
        (r["cohort_start"], r["period_offset"]): r["n_active"]
        for r in cohort_retention(df, period_days=7).collect()
    }
    assert got == {
        (dt.date(1969, 12, 25), 0): 1,
        (dt.date(1969, 12, 25), 1): 1,
    }
