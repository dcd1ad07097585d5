"""As-of join: semantics vs a naive per-row reference, direction/tolerance
variants, tie determinism, and the no-join plan shape."""
from __future__ import annotations

import datetime as dt

import pytest

from ocr_spark.operators.joins import asof_join


def _ts(m, s=0, us=0):
    return dt.datetime(2024, 1, 1, 0, m, s, us)


@pytest.fixture(scope="module")
def quotes_trades(spark):
    quotes = spark.createDataFrame(
        [
            ("A", _ts(0), 100, 10.0),
            ("A", _ts(5), 101, 10.5),
            ("A", _ts(5), 102, 10.6),  # same-ts tie: max payload must win
            ("A", _ts(9), 103, 11.0),
            ("B", _ts(2), 200, 20.0),
        ],
        "sym string, ts timestamp_ntz, quote_id long, px double",
    )
    trades = spark.createDataFrame(
        [
            ("A", _ts(1), 1),   # -> quote 100
            ("A", _ts(5), 2),   # inclusive: -> quote 102 (tie, max payload)
            ("A", _ts(7), 3),   # -> quote 102
            ("A", _ts(30), 4),  # -> quote 103 (far; tolerance test nulls it)
            ("B", _ts(0), 5),   # before any quote -> NULL
            ("C", _ts(4), 6),   # keyless -> NULL
        ],
        "sym string, ts timestamp_ntz, trade_id long",
    )
    return quotes, trades


def _naive_backward(quotes, trades):
    """Driver-side reference: per trade, scan all quotes."""
    out = {}
    for t in trades:
        best = None
        for q in quotes:
            if q[0] == t[0] and q[1] <= t[1]:
                k = (q[1], q[2], q[3])
                if best is None or k > (best[1], best[2], best[3]):
                    best = q
        out[t[2]] = None if best is None else best[2]
    return out


def test_backward_matches_naive(spark, quotes_trades):
    quotes, trades = quotes_trades
    got = {
        r["trade_id"]: r["q_quote_id"]
        for r in asof_join(
            trades, quotes, on="sym", prefix="q_"
        ).collect()
    }
    want = _naive_backward(quotes.collect(), trades.collect())
    assert got == want
    assert got[2] == 102  # inclusive bound AND max-payload tie rule
    assert got[5] is None and got[6] is None  # left-join semantics


def test_forward_direction(spark, quotes_trades):
    quotes, trades = quotes_trades
    got = {
        r["trade_id"]: r["q_quote_id"]
        for r in asof_join(
            trades, quotes, on="sym", prefix="q_", direction="forward"
        ).collect()
    }
    # trade 1 @00:01 -> next quote @00:05; ties at the matched ts -> max
    assert got == {1: 102, 2: 102, 3: 103, 4: None, 5: 200, 6: None}


def test_tolerance_nulls_far_matches(spark, quotes_trades):
    quotes, trades = quotes_trades
    got = {
        r["trade_id"]: r["q_quote_id"]
        for r in asof_join(
            trades, quotes, on="sym", prefix="q_", tolerance_seconds=300
        ).collect()
    }
    # trade 4 @00:30 is 21 min past quote 103 @00:09 -> beyond 5 min band
    assert got[4] is None and got[1] == 100
    # rows are kept (left join), only the payload is nulled
    assert len(got) == 6


def test_right_cols_subset_and_row_preservation(spark, quotes_trades):
    quotes, trades = quotes_trades
    out = asof_join(trades, quotes, on="sym", right_cols=["px"], prefix="q_")
    assert out.columns == ["sym", "ts", "trade_id", "q_ts", "q_px"]
    assert out.count() == trades.count()


def test_plan_has_no_join(spark, quotes_trades):
    """The whole operator is union + ONE window: no Join node, and exactly
    one Exchange (the key hash partitioning) feeding the sort."""
    quotes, trades = quotes_trades
    plan = asof_join(trades, quotes, on="sym")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_invalid_direction_raises(spark, quotes_trades):
    quotes, trades = quotes_trades
    with pytest.raises(ValueError):
        asof_join(trades, quotes, on="sym", direction="nearest")


# --------------------------------------------------------------------------
# Range join (interval containment)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def points_intervals(spark):
    points = spark.createDataFrame(
        [
            (1, "A", _ts(0, 30)),
            (2, "A", _ts(5)),      # boundary: == start of [5,9]
            (3, "A", _ts(9)),      # boundary: == end of [5,9]
            (4, "B", _ts(3)),
            (5, "B", _ts(59)),     # no interval
            (6, "A", _ts(7)),      # inside two overlapping intervals
        ],
        "point_id long, k string, ts timestamp_ntz",
    )
    intervals = spark.createDataFrame(
        [
            (10, "A", _ts(0), _ts(2)),
            (11, "A", _ts(5), _ts(9)),
            (12, "A", _ts(6), _ts(40)),  # overlaps 11; spans many buckets
            (13, "B", _ts(0), _ts(4)),
        ],
        "iv_id long, k string, s timestamp_ntz, e timestamp_ntz",
    )
    return points, intervals


def _naive_pairs(points, intervals, keyed):
    out = set()
    for p in points:
        for iv in intervals:
            if keyed and p[1] != iv[1]:
                continue
            if iv[2] <= p[2] <= iv[3]:
                out.add((p[0], iv[0]))
    return out


def test_range_join_keyed_matches_naive(spark, points_intervals):
    from ocr_spark.operators.joins import range_join

    points, intervals = points_intervals
    got = {
        (r["point_id"], r["iv_iv_id"])
        for r in range_join(
            points, intervals,
            start_col="s", end_col="e", on="k", prefix="iv_",
        ).collect()
    }
    assert got == _naive_pairs(points.collect(), intervals.collect(), keyed=True)


@pytest.mark.parametrize("bucket_seconds", [60, 300, 3600])
def test_range_join_keyless_matches_naive_any_bucket(
    spark, points_intervals, bucket_seconds
):
    """Bucket width changes cost, never results — including intervals that
    span many buckets (matched exactly once: the meeting bucket is the
    point's own) and boundary-inclusive endpoints."""
    from ocr_spark.operators.joins import range_join

    points, intervals = points_intervals
    out = range_join(
        points, intervals.drop("k"),
        start_col="s", end_col="e",
        bucket_seconds=bucket_seconds, prefix="iv_",
    )
    got = [(r["point_id"], r["iv_iv_id"]) for r in out.collect()]
    assert len(got) == len(set(got))  # exactly-once per pair, no dedup pass
    assert set(got) == _naive_pairs(
        points.collect(), intervals.collect(), keyed=False
    )


def test_range_join_keyless_plan_is_equi(spark, points_intervals):
    """The whole point: the keyless range join compiles to an EQUI join on
    the bucket index — never BroadcastNestedLoopJoin / CartesianProduct."""
    from ocr_spark.operators.joins import range_join

    points, intervals = points_intervals
    plan = range_join(
        points, intervals.drop("k"), start_col="s", end_col="e",
        bucket_seconds=600, prefix="iv_",
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_rj_bucket" in plan  # the equi key the join runs on


def test_range_join_keyless_requires_bucket(spark, points_intervals):
    from ocr_spark.operators.joins import range_join

    points, intervals = points_intervals
    with pytest.raises(ValueError):
        range_join(points, intervals.drop("k"), start_col="s", end_col="e")


def test_asof_null_hygiene(spark):
    """NULL timestamps and NULL keys never match (equi-join semantics,
    matching DuckDB ASOF): right NULLs are dropped from the match side,
    left NULLs keep their row with a NULL match — in BOTH directions."""
    from ocr_spark.operators.joins import asof_join

    quotes = spark.createDataFrame(
        [
            ("A", None, 100, 1.0),        # NULL right ts: never a match
            (None, _ts(1), 101, 2.0),     # NULL right key: never a match
            ("A", _ts(5), 102, 3.0),
        ],
        "sym string, ts timestamp_ntz, quote_id long, px double",
    )
    trades = spark.createDataFrame(
        [
            ("A", _ts(6), 1),    # -> 102 only (not the NULL-ts phantom)
            ("A", None, 2),      # NULL left ts -> no match, row kept
            (None, _ts(6), 3),   # NULL left key -> no match, row kept
            ("A", _ts(2), 4),    # backward: only NULL-ts/NULL-key rights precede -> None
        ],
        "sym string, ts timestamp_ntz, trade_id long",
    )
    for direction, want in (
        ("backward", {1: 102, 2: None, 3: None, 4: None}),
        ("forward", {1: None, 2: None, 3: None, 4: 102}),
    ):
        got = {
            r["trade_id"]: r["q_quote_id"]
            for r in asof_join(
                trades, quotes, on="sym", prefix="q_", direction=direction
            ).collect()
        }
        assert got == want, direction


def test_asof_subsecond_tolerance(spark):
    """tolerance_seconds below 1e-4 (scientific-notation repr) must work:
    the band is a numeric microsecond comparison, not an interval literal."""
    from ocr_spark.operators.joins import asof_join

    quotes = spark.createDataFrame(
        [("A", _ts(0, 0, 0), 100, 1.0), ("A", _ts(0, 0, 900), 101, 2.0)],
        "sym string, ts timestamp_ntz, quote_id long, px double",
    )
    trades = spark.createDataFrame(
        [("A", _ts(0, 0, 940), 1)],
        "sym string, ts timestamp_ntz, trade_id long",
    )
    got = {
        r["trade_id"]: r["q_quote_id"]
        for r in asof_join(
            trades, quotes, on="sym", prefix="q_", tolerance_seconds=5e-05
        ).collect()
    }
    assert got == {1: 101}  # 40us gap inside the 50us band; 940us quote out


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("width", [30.0, 120.0, 3600.0])
def test_salted_asof_equals_unsalted(spark, quotes_trades, direction, width):
    """The two-pass skew shape returns EXACTLY the single-window result —
    across directions and bucket widths that put ties/matches in the same
    bucket, adjacent buckets, and one bucket (degenerate case)."""
    quotes, trades = quotes_trades
    base = asof_join(
        trades, quotes, on="sym", prefix="q_", direction=direction
    ).collect()
    salted = asof_join(
        trades, quotes, on="sym", prefix="q_", direction=direction,
        salt_bucket_seconds=width,
    ).collect()
    key = lambda r: r["trade_id"]  # noqa: E731
    assert sorted(map(tuple, base)) == sorted(map(tuple, salted)), (
        sorted(base, key=key), sorted(salted, key=key))


def test_salted_asof_with_tolerance_and_randomized(spark):
    """Randomized cross-check: 400 left rows / 150 right rows over 3 keys
    with planted ts collisions; salted == unsalted with tolerance applied,
    for a width that forces many cross-bucket carries."""
    import random

    rnd = random.Random(17)
    quotes = [
        ("K%d" % rnd.randrange(3), float(rnd.randrange(0, 2000)),
         i, float(i % 7))
        for i in range(150)
    ]
    trades = [
        ("K%d" % rnd.randrange(4), float(rnd.randrange(0, 2200)), i)
        for i in range(400)
    ]
    qdf = spark.createDataFrame(
        quotes, "sym string, ts double, quote_id long, px double"
    )
    tdf = spark.createDataFrame(trades, "sym string, ts double, trade_id long")
    for tol in (None, 50.0):
        base = asof_join(
            tdf, qdf, on="sym", prefix="q_", tolerance_seconds=tol
        ).collect()
        salted = asof_join(
            tdf, qdf, on="sym", prefix="q_", tolerance_seconds=tol,
            salt_bucket_seconds=100.0,
        ).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, salted)), tol


def test_asof_tolerance_on_numeric_ts(spark):
    """tolerance on a NUMERIC ts column (epoch seconds / offsets) compares
    in the column's own units via plain subtraction — previously this path
    failed at analysis time because timestamp_diff requires timestamps."""
    from ocr_spark.operators.joins import asof_join

    quotes = spark.createDataFrame(
        [("A", 100.0, 10), ("A", 500.0, 11)],
        "sym string, ts double, quote_id long",
    )
    trades = spark.createDataFrame(
        [("A", 130.0, 1), ("A", 520.0, 2), ("A", 900.0, 3)],
        "sym string, ts double, trade_id long",
    )
    got = {
        r["trade_id"]: r["q_quote_id"]
        for r in asof_join(
            trades, quotes, on="sym", prefix="q_", tolerance_seconds=50
        ).collect()
    }
    # 130-100=30 in band; 520-500=20 in band; 900-500=400 out of band
    assert got == {1: 10, 2: 11, 3: None}


def test_range_join_fractional_bucket_seconds(spark, points_intervals):
    from ocr_spark.operators.joins import range_join

    points, intervals = points_intervals
    out = range_join(
        points, intervals.drop("k"),
        start_col="s", end_col="e", bucket_seconds=90.7, prefix="iv_",
    )
    got = [(r["point_id"], r["iv_iv_id"]) for r in out.collect()]
    assert len(got) == len(set(got))
    assert set(got) == _naive_pairs(
        points.collect(), intervals.collect(), keyed=False
    )
    with pytest.raises(ValueError):
        range_join(
            points, intervals.drop("k"),
            start_col="s", end_col="e", bucket_seconds=0.0,
        )
