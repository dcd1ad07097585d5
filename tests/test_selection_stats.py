"""Robust MAD outliers (X60) and percentile curriculum bins (X61).

Micro-fixtures pin the statistics against inline Python/numpy references;
edge tests pin the MAD=0 no-evidence NULL contract and the tied-value
bin collapse; invariance tests pin determinism under repartitioning;
plan tests pin the broadcast-only join shape (X60) and the zero-shuffle
narrow assignment (X61). The sf0.01/sf0.1 extended gate pins the exact
DuckDB hashes on real data.
"""
from __future__ import annotations

import contextlib
import io

import pytest

from ocr_spark.operators.curation import curriculum_bins
from ocr_spark.operators.textstats import mad_outliers


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    rows = (
        # src_a: lengths 10..16 plus one huge outlier
        [(i, f"t{i}", "en", "src_a", 10 + i) for i in range(7)]
        + [(99, "huge", "en", "src_a", 10_000)]
        # src_b: over half identical values -> MAD = 0
        + [(100 + i, "x", "en", "src_b", 50) for i in range(5)]
        + [(200, "y", "en", "src_b", 80)]
    )
    return spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def test_mad_outlier_flag_and_stats(docs):
    out = {r["doc_id"]: r for r in mad_outliers(docs).collect()}
    # src_a values: 10..16 and 10000 -> median of (10,11,12,13,14,15,16,
    # 10000) = (13+14)/2 = 13.5; abs devs (3.5,2.5,1.5,.5,.5,1.5,2.5,
    # 9986.5) -> MAD = (1.5+2.5)/2 = 2.0
    a = out[0]
    assert a["med"] == 13.5 and a["mad"] == 2.0
    # doc 0: z = 0.6745*(10-13.5)/2 = -1.1803... -> not an outlier
    assert a["is_outlier"] is False
    assert abs(a["robust_z"] - (0.6745 * (10 - 13.5) / 2.0)) < 1e-6
    big = out[99]
    assert big["is_outlier"] is True
    assert big["robust_z"] > 3.5
    # inliers of src_a all unflagged
    assert all(not out[i]["is_outlier"] for i in range(7))


def test_mad_zero_spread_is_null(docs):
    out = {r["doc_id"]: r for r in mad_outliers(docs).collect()}
    # src_b: median 50, MAD 0 -> no spread evidence, NULL z and flag,
    # even for the 80 that a mean/std score would flag
    for d in [100, 101, 102, 103, 104, 200]:
        assert out[d]["mad"] == 0.0
        assert out[d]["robust_z"] is None
        assert out[d]["is_outlier"] is None


def test_mad_partitioning_invariance(docs):
    a = {tuple(r) for r in mad_outliers(docs).collect()}
    b = {
        tuple(r)
        for r in mad_outliers(docs.repartition(7, "doc_id")).collect()
    }
    assert a == b


def test_mad_broadcast_only_joins(docs):
    plan = _plan(mad_outliers(docs))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bins_match_numpy_reference(spark):
    import numpy as np

    vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 97, 93, 23, 84]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["doc_id", "n_chars"]
    )
    n_bins = 4
    th = np.percentile(
        np.array(vals, dtype=float),
        [100 * i / n_bins for i in range(1, n_bins)],
        method="linear",
    )
    expect = {i: int(sum(v > t for t in th)) for i, v in enumerate(vals)}
    got = {
        r["id"]: r["bin"]
        for r in curriculum_bins(df, n_bins=n_bins).collect()
    }
    assert got == expect
    # bins are monotone in the value
    by_val = sorted(zip(vals, (got[i] for i in range(len(vals)))))
    bins_in_order = [b for _, b in by_val]
    assert bins_in_order == sorted(bins_in_order)


def test_bins_tied_values_collapse(spark):
    df = spark.createDataFrame(
        [(i, 42) for i in range(10)], ["doc_id", "n_chars"]
    )
    out = curriculum_bins(df, n_bins=8).collect()
    # every threshold equals 42; nothing is strictly above any -> bin 0
    assert {r["bin"] for r in out} == {0}


def test_bins_validation_and_empty(spark):
    df = spark.createDataFrame([(1, 5)], ["doc_id", "n_chars"])
    with pytest.raises(ValueError, match="n_bins must be >= 2"):
        curriculum_bins(df, n_bins=1)
    empty = df.filter("doc_id < 0")
    assert curriculum_bins(empty, n_bins=4).count() == 0


def test_bins_null_value_gets_null_bin(spark):
    df = spark.createDataFrame(
        [(0, 10), (1, None), (2, 30), (3, 20), (4, None)], "doc_id int, n_chars int"
    )
    got = {r["id"]: r["bin"] for r in curriculum_bins(df, n_bins=2).collect()}
    # the median of the non-NULL values is 20; a NULL value is not bin 0
    assert got == {0: 0, 1: None, 2: 1, 3: 0, 4: None}
    only_null = df.filter("n_chars IS NULL")
    assert [r["bin"] for r in curriculum_bins(only_null, n_bins=2).collect()] == [None, None]


def test_bins_assignment_is_narrow(spark):
    df = spark.createDataFrame(
        [(i, i * 3 % 17) for i in range(40)], ["doc_id", "n_chars"]
    )
    plan = _plan(curriculum_bins(df, n_bins=4))
    # the returned frame is threshold literals folded per row: no
    # Exchange, no Window, no join (the percentile agg ran eagerly at
    # build time and shipped as literals)
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan
