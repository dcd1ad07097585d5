"""Similarity-search tests: exact cosine top-k, hyperplane LSH, near-dup."""
from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from ocr_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    hyperplanes,
    lsh_cosine_topk,
)

DIM = 16


def _vec(rng):
    return [rng.gauss(0, 1) for _ in range(DIM)]


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(11)
    rows = [(i, [float(x) for x in _vec(rng)]) for i in range(200)]
    # plant a near-duplicate of vector 0
    v0 = rows[0][1]
    rows.append((200, [x + 0.01 for x in v0]))
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    return df, {i: v for i, v in rows}


def test_cosine_topk_matches_bruteforce(vectors):
    df, byid = vectors
    q = byid[0]
    got = [(r["id"], r["score"]) for r in cosine_topk(df, q, k=5).collect()]
    # python brute force over the FLOAT-truncated vectors (parquet/DF floats)
    import struct

    def f32(xs):
        return [struct.unpack("f", struct.pack("f", x))[0] for x in xs]

    want = sorted(
        ((i, round(_cos(f32(v), q), 6)) for i, v in byid.items()),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [i for i, _ in got] == [i for i, _ in want]
    for (gi, gs), (wi, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-5, (gi, gs, ws)
    assert got[0][0] == 0 and got[1][0] == 200  # self, then planted near-dup


def test_lsh_topk_is_subset_with_query_recall(vectors):
    df, byid = vectors
    q = byid[0]
    exact = [r["id"] for r in cosine_topk(df, q, k=3).collect()]
    approx = [r["id"] for r in lsh_cosine_topk(df, q, k=3, n_planes=4).collect()]
    # the query itself and its planted near-dup share every sign bucket with
    # overwhelming probability at 4 planes
    assert 0 in approx
    assert set(approx) <= set(
        r["id"] for r in cosine_topk(df, q, k=200 + 1).collect()
    )
    assert exact[0] == 0


def test_knn_join_matches_per_query_topk(spark, vectors):
    from ocr_spark.operators.similarity import knn_join

    df, byid = vectors
    queries = df.filter(F.col("vec_id") < 3)
    corpus = df.filter(F.col("vec_id") >= 3)
    got = {
        (r["query_id"], r["rank"]): (r["id"], r["score"])
        for r in knn_join(corpus, queries, k=4).collect()
    }
    for qid in (0, 1, 2):
        expected = cosine_topk(corpus, byid[qid], k=4).collect()
        for rank, e in enumerate(expected, start=1):
            gid, gscore = got[(qid, rank)]
            assert gid == e["id"], (qid, rank)
            assert abs(gscore - e["score"]) <= 1e-6


def test_knn_join_skips_null_vectors_both_sides(spark):
    from ocr_spark.operators.similarity import knn_join

    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, None)], schema
    )
    queries = spark.createDataFrame([(0, [1.0, 0.0]), (1, None)], schema)
    rows = knn_join(corpus, queries, k=2).collect()
    assert {r["query_id"] for r in rows} == {0}  # null query emits nothing
    assert {r["id"] for r in rows} == {10, 11}  # null corpus row excluded


def test_multi_probe_recall_dominates_single_bucket(vectors):
    """Probing Hamming-1 neighbor buckets can only ADD candidates, so
    multi-probe recall vs the exact top-k is >= single-bucket recall, and
    its result is still drawn from true-cosine scoring."""
    df, byid = vectors
    q = byid[0]
    exact = {r["id"] for r in cosine_topk(df, q, k=10).collect()}
    single = {r["id"] for r in lsh_cosine_topk(df, q, k=10, n_planes=6).collect()}
    multi = {
        r["id"]
        for r in lsh_cosine_topk(df, q, k=10, n_planes=6, multi_probe=1).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert 0 in multi  # the query itself always survives


def test_embedding_near_dup_finds_planted_pair(vectors):
    df, _ = vectors
    pairs = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_duplicates(df, threshold=0.95, n_planes=4).collect()
    }
    assert (0, 200) in pairs
    assert pairs[(0, 200)] > 0.99


def test_numpy_topk_matches_hof_topk(vectors):
    from ocr_spark.operators.similarity import cosine_topk_np

    df, byid = vectors
    q = byid[0]
    hof = [(r["id"], r["score"]) for r in cosine_topk(df, q, k=7).collect()]
    np_ = [(r["id"], r["score"]) for r in cosine_topk_np(df, q, k=7).collect()]
    assert [i for i, _ in hof] == [i for i, _ in np_]
    for (_, a), (_, b) in zip(hof, np_):
        assert abs(a - b) <= 1e-6


def test_embedding_near_dup_empty_and_null_inputs(spark, vectors):
    df, _ = vectors
    empty = df.limit(0)
    assert embedding_near_duplicates(empty).count() == 0  # no TypeError probe
    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    assert embedding_near_duplicates(nulls).count() == 0


def test_embedding_near_dup_explicit_dim_matches_probed(vectors):
    df, byid = vectors
    dim = len(byid[0])
    probed = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(df, threshold=0.95, n_planes=4).collect()
    }
    explicit = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(
            df, threshold=0.95, n_planes=4, dim=dim
        ).collect()
    }
    assert probed == explicit


def _self_join_pairs(bucketed, key, threshold, cap=None):
    """Reference near-dup pairs: a bucket SELF-JOIN on ``key`` over
    (key, id, vd) rows, raw cosine ``cos_raw`` from the package's JVM folds
    (``dot``/``norm``, norms hoisted per row) and ``cos`` rounded HALF_UP
    to 6 dp, then the threshold on ``cos`` and a distinct across buckets.
    Buckets with more than ``cap`` members are dropped before the join."""
    from pyspark.sql import Window

    from ocr_spark.operators.similarity import dot, norm

    withn = bucketed.withColumn("n", norm(F.col("vd")))
    if cap is not None:
        withn = (
            withn.withColumn(
                "_bs", F.count(F.lit(1)).over(Window.partitionBy(key))
            )
            .filter(F.col("_bs") <= cap)
            .drop("_bs")
        )
    a, b = withn.alias("a"), withn.alias("b")
    raw = dot(F.col("a.vd"), F.col("b.vd")) / (F.col("a.n") * F.col("b.n"))
    return (
        a.join(b, key)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            raw.alias("cos_raw"),
            F.round(raw, 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def _raw_pairs(pairs) -> list:
    return sorted((r["id_a"], r["id_b"], r["cos_raw"]) for r in pairs.collect())


def _cos_pairs(pairs) -> list:
    return sorted((r["id_a"], r["id_b"], r["cos"]) for r in pairs.collect())


def _grouped_raw_pairs(bucketed, key, threshold, cap=None):
    """The grouped engine's raw cosines for the pairs ``_self_join_pairs``
    keeps: its pair blocks before the 6-dp round, then that round's
    threshold and a distinct."""
    from ocr_spark.operators.similarity import _bucket_pair_blocks

    blocks = _bucket_pair_blocks(
        bucketed.withColumnRenamed(key, "bucket"),
        bucketed.schema["id"].dataType,
        threshold - 1e-6,
        cap,
    )
    return _raw_pairs(
        blocks.filter(F.round(F.col("cos_raw"), 6) >= threshold).distinct()
    )


def test_embedding_near_dup_grouped_matches_streamed_bitwise(vectors):
    """The pandas-per-bucket pair block must reproduce the bucket
    self-join (:func:`_self_join_pairs`) BIT-for-bit — same pairs AND same
    cos doubles — including when the hot-bucket cap partially fires and
    across multiple tables (the sequential-over-dims numpy fold is the
    same IEEE op sequence as the JVM zip_with/aggregate fold). The raw
    cosines are compared before the 6-dp round, which would hide an
    ulp-level difference."""
    from ocr_spark.operators.similarity import sign_bucket

    df, byid = vectors
    dim = len(byid[0])
    for kw in (
        dict(threshold=0.9, n_planes=4),
        dict(threshold=0.3, n_planes=5, n_tables=2, max_bucket_size=20),
    ):
        buckets = F.array(
            *[
                F.concat(
                    F.lit(f"{t}:"),
                    sign_bucket(
                        F.col("embedding"),
                        hyperplanes(dim, kw["n_planes"], 7 + t),
                    ),
                )
                for t in range(kw.get("n_tables", 1))
            ]
        )
        bucketed = df.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("vd"),
            F.explode(buckets).alias("bucket"),
        )
        cap = kw.get("max_bucket_size")
        joined = _self_join_pairs(bucketed, "bucket", kw["threshold"], cap)
        streamed = _raw_pairs(joined)
        assert _grouped_raw_pairs(bucketed, "bucket", kw["threshold"], cap) == streamed
        assert _cos_pairs(embedding_near_duplicates(df, **kw)) == _cos_pairs(joined)
        assert streamed  # the case must actually produce pairs


def test_hyperplanes_deterministic():
    a = hyperplanes(8, 4, seed=7)
    b = hyperplanes(8, 4, seed=7)
    c = hyperplanes(8, 4, seed=8)
    assert a == b and a != c
    for p in a:
        assert abs(sum(x * x for x in p) - 1.0) < 1e-9


def test_multi_table_lsh_recall_dominates_single_table(vectors):
    """Table t=0 reuses the base seed, so every L=1 pair survives into the
    L=2 candidate set: pairs(n_tables=2) ⊇ pairs(n_tables=1), with the
    extra tables only ever ADDING near-boundary pairs."""
    df, _ = vectors
    one = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(df, threshold=0.9, n_planes=6).collect()
    }
    two = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(
            df, threshold=0.9, n_planes=6, n_tables=2
        ).collect()
    }
    assert one <= two
    # the planted near-dup pair must be found either way
    assert (0, 200) in one


def test_embedding_near_dup_hot_bucket_cap(spark):
    """A degenerate bucket (mass-duplicated embedding) is dropped by the
    cap before pair generation; small buckets are untouched."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]  # one hot bucket
    rows += [(100, [0.0, 1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.001, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = embedding_near_duplicates(df, threshold=0.99, n_planes=4, dim=4)
    capped = embedding_near_duplicates(
        df, threshold=0.99, n_planes=4, dim=4, max_bucket_size=10
    )
    assert uncapped.count() == 50 * 49 // 2 + 1
    assert {(r["id_a"], r["id_b"]) for r in capped.collect()} == {(100, 101)}


def test_derive_n_planes_tracks_corpus_size():
    from ocr_spark.operators.similarity import derive_n_planes

    assert derive_n_planes(10) == 1
    assert derive_n_planes(64_000, target_bucket=64) == 10
    assert derive_n_planes(10**9, target_bucket=64) == 24
    assert derive_n_planes(10**30) == 30  # bounded


def test_knn_join_empty_query_side(spark, vectors):
    from ocr_spark.operators.similarity import knn_join

    df, _ = vectors
    out = knn_join(df, df.limit(0), k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "id", "score", "rank"]


# --------------------------------------------------------------------------
# IVF (coarse-quantizer) search
# --------------------------------------------------------------------------


def test_derive_ivf_params_scales_with_corpus():
    """n_cells ≈ √N with an 8-cell floor; sample_n = 64·n_cells with a
    512 floor — and the SHIPPED quantizer was trained with exactly the
    derivation for its recorded training-tier row count (no fixture-sized
    constants hiding in the artifact)."""
    import json
    from importlib.resources import files

    import pytest

    from ocr_spark.operators.similarity import (
        derive_ivf_params,
        load_ivf_centroids,
    )

    assert derive_ivf_params(10) == {"n_cells": 8, "sample_n": 512}
    assert derive_ivf_params(500) == {"n_cells": 22, "sample_n": 1408}
    p = derive_ivf_params(10**9)
    assert p["n_cells"] == 31623 and p["sample_n"] == 64 * 31623
    with pytest.raises(ValueError):
        derive_ivf_params(0)

    payload = json.loads(
        (files("ocr_spark") / "data" / "ivf_centroids.json").read_text()
    )
    derived = derive_ivf_params(payload["n_rows"])
    assert payload["n_cells"] == derived["n_cells"]
    assert payload["sample_n"] == derived["sample_n"]
    assert len(load_ivf_centroids()) == payload["n_cells"]


def test_train_ivf_deterministic_and_unit_norm(vectors):
    from ocr_spark.operators.similarity import train_ivf_centroids

    df, _ = vectors
    c1 = train_ivf_centroids(df, 4, sample_n=128, iters=4)
    c2 = train_ivf_centroids(df, 4, sample_n=128, iters=4)
    assert c1 == c2  # bit-identical retrain
    for cent in c1:
        assert abs(math.sqrt(sum(x * x for x in cent)) - 1.0) < 1e-9


def test_ivf_assign_matches_numpy_argmax(vectors):
    import numpy as np

    from ocr_spark.operators.similarity import ivf_assign, train_ivf_centroids

    df, byid = vectors
    cents = train_ivf_centroids(df, 4, sample_n=128, iters=4)
    got = {
        r["vec_id"]: r["cell"] for r in ivf_assign(df, cents).collect()
    }
    c = np.array(cents)
    for i, v in byid.items():
        want = int(np.argmax(c @ np.asarray(v, dtype=np.float64)))
        assert got[i] == want, i


def test_ivf_full_probe_equals_exact_topk(vectors):
    """nprobe == n_cells degrades to the exact brute-force result."""
    from ocr_spark.operators.similarity import ivf_topk, train_ivf_centroids

    df, byid = vectors
    q = byid[0]
    cents = train_ivf_centroids(df, 4, sample_n=128, iters=4)
    exact = [(r["id"], r["score"]) for r in cosine_topk(df, q, k=10).collect()]
    full = [
        (r["id"], r["score"])
        for r in ivf_topk(df, q, cents, k=10, nprobe=4).collect()
    ]
    assert full == exact


def test_ivf_partial_probe_recall_and_subset(vectors):
    """nprobe=1 still finds the query's own cell-mates (the planted
    near-dup lands in the query's cell) and never invents ids."""
    from ocr_spark.operators.similarity import ivf_topk, train_ivf_centroids

    df, byid = vectors
    q = byid[0]
    cents = train_ivf_centroids(df, 4, sample_n=128, iters=4)
    got = [r["id"] for r in ivf_topk(df, q, cents, k=5, nprobe=1).collect()]
    assert 0 in got and 200 in got  # self + planted near-dup share the cell
    assert set(got) <= set(byid)


def test_ivf_probe_cells_order_and_count():
    from ocr_spark.operators.similarity import ivf_probe_cells

    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.7, 0.7]]
    assert ivf_probe_cells([1.0, 0.1], cents, 2) == [0, 3]
    assert ivf_probe_cells([1.0, 0.1], cents, 4) == [0, 3, 1, 2]


def test_ivf_topk_plan_is_narrow(vectors):
    """Assignment + probe filter + rerank: no Exchange before the
    TakeOrderedAndProject merge — scan-bound at any scale."""
    from ocr_spark.operators.similarity import ivf_topk, train_ivf_centroids

    df, byid = vectors
    cents = train_ivf_centroids(df, 4, sample_n=128, iters=4)
    plan = (
        ivf_topk(df, byid[0], cents, k=5, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_shipped_centroids_contract():
    """The vendored quantizer file matches its own metadata and the
    embeddings-table contract (dim 64, unit-norm rows)."""
    import json
    from importlib.resources import files

    from ocr_spark.operators.similarity import load_ivf_centroids

    meta = json.loads(
        files("ocr_spark.data").joinpath("ivf_centroids.json").read_text()
    )
    cents = load_ivf_centroids()
    assert len(cents) == meta["n_cells"]  # derived: √(training rows)
    assert all(len(c) == meta["dim"] == 64 for c in cents)
    for c in cents:
        assert abs(math.sqrt(sum(x * x for x in c)) - 1.0) < 1e-9


def test_train_ivf_rejects_tiny_sample(spark):
    from ocr_spark.operators.similarity import train_ivf_centroids

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    df = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 0.0])], schema)
    with pytest.raises(ValueError):
        train_ivf_centroids(df, 4)


def test_ivf_index_at_rest_prunes_partitions(spark, vectors, tmp_path):
    """write_ivf_index + ivf_topk_indexed: the probe filter becomes
    partition pruning (PartitionFilters on the scan), results identical
    to the on-the-fly assignment path."""
    from ocr_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    df, byid = vectors
    q = byid[0]
    cents = train_ivf_centroids(df, 4, sample_n=128, iters=4)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(df, path, cents)

    indexed = ivf_topk_indexed(spark, path, q, cents, k=5, nprobe=2)
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:200]

    got = [(r["id"], r["score"]) for r in indexed.collect()]
    want = [
        (r["id"], r["score"])
        for r in ivf_topk(df, q, cents, k=5, nprobe=2).collect()
    ]
    assert got == want


def test_hashed_tf_embed_composes_with_ann(spark):
    """The documents→embeddings bridge: near-identical texts get cosine
    ≈ 1 and surface as each other's top neighbor; unrelated text does
    not. Zero-token docs get a zero vector (no NaN)."""
    from ocr_spark.operators.similarity import cosine_topk, hashed_tf_embed

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumped over the lazy dog"),
            (2, "completely different subject matter entirely unrelated"),
            (3, "!!! 123 ??"),  # no [a-z]{3,} tokens -> zero vector
        ],
        "doc_id long, text string",
    )
    emb = hashed_tf_embed(docs, dim=32)
    rows = {r["doc_id"]: r["embedding"] for r in emb.collect()}
    assert all(v == 0.0 for v in rows[3])
    n0 = sum(x * x for x in rows[0])
    assert abs(n0 - 1.0) < 1e-9  # unit norm

    top = cosine_topk(
        emb.filter(F.col("doc_id") != 0),
        rows[0],
        k=3,
        id_col="doc_id",
        vec_col="embedding",
    ).collect()
    assert top[0]["id"] == 1 and top[0]["score"] > 0.9
    assert {r["id"] for r in top} >= {1, 2}


def test_hashed_tf_embed_counts_mode_and_plan(spark):
    """normalize=False returns raw integer-valued counts; the whole
    operator is narrow (no Exchange)."""
    from ocr_spark.operators.similarity import hashed_tf_embed

    docs = spark.createDataFrame(
        [(0, "aaa bbb aaa"), (1, "ccc")], "doc_id long, text string"
    )
    out = hashed_tf_embed(docs, dim=8, normalize=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = {r["doc_id"]: r["embedding"] for r in out.collect()}
    assert sum(rows[0]) == 3.0 and sum(rows[1]) == 1.0
    assert all(float(v).is_integer() for v in rows[0])


def test_hashed_tf_embed_null_text_is_zero_vector(spark):
    """NULL text embeds to the zero vector — the same no-match result the
    DuckDB oracle's grid re-derivation produces — never a NULL embedding
    that poisons downstream cosine scores (review finding)."""
    from ocr_spark.operators.similarity import hashed_tf_embed

    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "some words here")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r["embedding"] for r in hashed_tf_embed(docs, dim=8).collect()}
    assert rows[0] == [0.0] * 8
    assert rows[1] == [0.0] * 8
    assert any(x != 0.0 for x in rows[2])


def test_hashed_tf_embed_rejects_bad_dim(spark):
    from ocr_spark.operators.similarity import hashed_tf_embed

    docs = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        hashed_tf_embed(docs, dim=0)


# ---------------------------------------------------------------------------
# SemDeDup (semantic dedup over k-means cells)
# ---------------------------------------------------------------------------


def _unit(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


@pytest.fixture(scope="module")
def sem_centroids():
    rng = random.Random(99)
    return [_unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(4)]


def _assign_py(vecs, cents):
    """Reference assignment: first-max dot, matching array_position."""
    out = {}
    for i, v in vecs.items():
        scores = [sum(a * b for a, b in zip(v, c)) for c in cents]
        out[i] = scores.index(max(scores))
    return out


def test_semantic_dedup_pairs_match_bruteforce_within_cells(
    vectors, sem_centroids
):
    from ocr_spark.operators.similarity import (
        assign_with_centroid_cos,
        semantic_dedup_pairs,
    )

    import numpy as np

    df, vecs = vectors
    # brute force over the vectors as Spark stores them: float32 columns
    # widened to double by the operator's cast
    f32 = {i: [float(np.float32(x)) for x in v] for i, v in vecs.items()}
    cells = _assign_py(f32, sem_centroids)
    expected = set()
    ids = sorted(vecs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if cells[a] != cells[b]:
                continue
            c = round(_cos(f32[a], f32[b]), 6)
            if c >= 0.8:
                expected.add((a, b))
    got = semantic_dedup_pairs(
        assign_with_centroid_cos(df, sem_centroids), threshold=0.8
    )
    got_pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert got_pairs == expected
    assert (200 in {p for pr in got_pairs for p in pr}) or not expected


def test_semantic_dedup_grouped_matches_streamed(vectors, sem_centroids):
    from ocr_spark.operators.similarity import (
        assign_with_centroid_cos,
        semantic_dedup_pairs,
    )

    df, _ = vectors
    assigned = assign_with_centroid_cos(df, sem_centroids)
    g = sorted(
        (r.id_a, r.id_b, r.cos)
        for r in semantic_dedup_pairs(assigned, 0.5).collect()
    )
    cells = assigned.filter(F.col("cell").isNotNull()).select("cell", "id", "vd")
    joined = _self_join_pairs(cells, "cell", 0.5)
    assert g == _cos_pairs(joined) and len(g) > 0
    # bit-identical before the 6-dp round too
    assert _grouped_raw_pairs(cells, "cell", 0.5) == _raw_pairs(joined)


def test_semantic_dedup_keep_far_rule(vectors, sem_centroids):
    from ocr_spark.operators.similarity import semantic_dedup

    df, vecs = vectors
    out = semantic_dedup(df, sem_centroids, threshold=0.8).collect()
    assert len(out) == len(vecs)  # every input row present
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    multi = [m for m in by_cluster.values() if len(m) > 1]
    assert multi, "planted near-dup should form at least one cluster"
    for members in by_cluster.values():
        keepers = [r for r in members if r.keep]
        assert len(keepers) == 1
        # the paper's rule: farthest from centroid (lowest cos), id tiebreak
        want = min(members, key=lambda r: (r.centroid_cos, r.id))
        assert keepers[0].id == want.id


def test_semantic_dedup_min_id_rule(vectors, sem_centroids):
    from ocr_spark.operators.similarity import semantic_dedup

    df, _ = vectors
    out = semantic_dedup(df, sem_centroids, threshold=0.8, keep="min_id").collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    for members in by_cluster.values():
        keepers = [r for r in members if r.keep]
        assert len(keepers) == 1
        assert keepers[0].id == min(r.id for r in members)


def test_semantic_dedup_null_vector_is_singleton(spark, sem_centroids):
    from ocr_spark.operators.similarity import semantic_dedup

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    rng = random.Random(3)
    df = spark.createDataFrame(
        [(0, _vec(rng)), (1, None), (2, _vec(rng))], schema
    )
    rows = {r.id: r for r in semantic_dedup(df, sem_centroids).collect()}
    assert rows[1].cell is None and rows[1].keep and rows[1].cluster == 1
    assert rows[0].cell is not None


def test_semantic_dedup_cell_cap_drops_pathological_cell(spark, sem_centroids):
    from ocr_spark.operators.similarity import (
        assign_with_centroid_cos,
        semantic_dedup_pairs,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    base = [1.0] * DIM  # identical vectors all land in one cell
    df = spark.createDataFrame([(i, base) for i in range(20)], schema)
    assigned = assign_with_centroid_cos(df, sem_centroids)
    full = semantic_dedup_pairs(assigned, 0.99)
    assert full.count() == 20 * 19 // 2
    capped = semantic_dedup_pairs(assigned, 0.99, max_cell_size=10)
    assert capped.count() == 0


def test_semantic_dedup_rejects_bad_args(vectors, sem_centroids):
    from ocr_spark.operators.similarity import semantic_dedup

    df, _ = vectors
    with pytest.raises(ValueError):
        semantic_dedup(df, sem_centroids, keep="median")


# ---------------------------------------------------------------------------
# ivf_recall (ANN eval harness)
# ---------------------------------------------------------------------------


def _unit(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


@pytest.fixture(scope="module")
def recall_setup(spark):
    rng = random.Random(23)
    rows = [(i, [float(x) for x in _vec(rng)]) for i in range(300)]
    corpus = spark.createDataFrame(
        rows[20:], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        rows[:8], "vec_id long, embedding array<double>"
    )
    cents = [_unit(_vec(random.Random(100 + i))) for i in range(6)]
    return corpus, queries, cents


def test_ivf_recall_full_probe_is_exact(recall_setup):
    from ocr_spark.operators.similarity import ivf_recall

    corpus, queries, cents = recall_setup
    rows = ivf_recall(corpus, queries, cents, k=5, nprobe=len(cents)).collect()
    assert len(rows) == 8
    assert all(r["n_hit"] == 5 and r["recall_at_k"] == 1.0 for r in rows)


def test_ivf_recall_monotone_in_nprobe(recall_setup):
    from ocr_spark.operators.similarity import ivf_recall

    corpus, queries, cents = recall_setup
    per_probe = []
    for np_ in (1, 3, 6):
        got = {
            r["query_id"]: r["n_hit"]
            for r in ivf_recall(corpus, queries, cents, k=5, nprobe=np_).collect()
        }
        per_probe.append(got)
    # probe sets are nested (top-1 ⊂ top-3 ⊂ top-6) so per-query hits
    # can only grow with nprobe
    for qid in per_probe[0]:
        assert per_probe[0][qid] <= per_probe[1][qid] <= per_probe[2][qid]
    assert all(h <= 5 for g in per_probe for h in g.values())


def test_ivf_recall_validation(recall_setup):
    from ocr_spark.operators.similarity import ivf_recall

    corpus, queries, cents = recall_setup
    with pytest.raises(ValueError):
        ivf_recall(corpus, queries, cents, k=0)
    with pytest.raises(ValueError):
        ivf_recall(corpus, queries, cents, nprobe=0)
    with pytest.raises(ValueError):
        ivf_recall(corpus, queries, cents, nprobe=len(cents) + 1)
    with pytest.raises(ValueError):
        ivf_recall(corpus, queries.filter("vec_id < 0"), cents)


class TestSourceCentroidSimilarity:
    """X53: per-source fixed-point centroid cosine matrix."""

    SCALE = 1 << 20

    def _make(self, spark, rows):
        schema = StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", LongType()),
        ])
        return spark.createDataFrame(
            [(i, v, lab) for i, (v, lab) in enumerate(rows)], schema
        )

    def _reference(self, rows):
        """Python reference: the same floor fixed-point sums + index-order
        float fold the operator and oracle share."""
        import collections

        sums: dict = collections.defaultdict(lambda: None)
        counts: dict = collections.Counter()
        for v, lab in rows:
            if v is None or lab is None:
                continue
            counts[lab] += 1
            q = [math.floor(float(x) * self.SCALE) if x is not None else None
                 for x in v]
            if sums[lab] is None:
                sums[lab] = [0] * len(q)
            for i, x in enumerate(q):
                if x is not None:
                    sums[lab][i] += x
        out = {}
        for a in counts:
            for b in counts:
                if a > b:
                    continue
                sa = [float(x) for x in sums[a]]
                sb = [float(x) for x in sums[b]]
                dotf = 0.0
                for x, y in zip(sa, sb):
                    dotf = dotf + x * y
                na = 0.0
                for x in sa:
                    na = na + x * x
                nb = 0.0
                for x in sb:
                    nb = nb + x * x
                den = math.sqrt(na) * math.sqrt(nb)
                cos = None if den == 0.0 else round(dotf / den, 6)
                out[(a, b)] = (counts[a], counts[b], cos)
        return out

    def test_matches_python_reference(self, spark):
        rng = random.Random(53)
        rows = [([rng.gauss(0, 1) for _ in range(8)], rng.randrange(3))
                for _ in range(120)]
        rows = [([float(x) for x in v], lab) for v, lab in rows]
        from ocr_spark.operators.similarity import source_centroid_similarity

        # quantize through float32 storage exactly as Spark will read it
        import numpy as np
        stored = [([float(np.float32(x)) for x in v], lab) for v, lab in rows]
        got = {
            (r["label_a"], r["label_b"]):
                (r["n_a"], r["n_b"], r["centroid_cos"])
            for r in source_centroid_similarity(
                self._make(spark, stored)
            ).collect()
        }
        assert got == self._reference(stored)

    def test_diagonal_is_one_and_upper_triangular(self, spark):
        rng = random.Random(7)
        rows = [([float(rng.gauss(0, 1)) for _ in range(6)], rng.randrange(4))
                for _ in range(80)]
        from ocr_spark.operators.similarity import source_centroid_similarity

        out = source_centroid_similarity(self._make(spark, rows)).collect()
        labels = {lab for _, lab in rows}
        assert len(out) == len(labels) * (len(labels) + 1) // 2
        for r in out:
            assert r["label_a"] <= r["label_b"]
            if r["label_a"] == r["label_b"]:
                assert r["centroid_cos"] == 1.0

    def test_zero_norm_centroid_is_null(self, spark):
        # all-zero vectors quantize to the zero sum vector -> NULL cosine
        rows = [([0.0, 0.0, 0.0], 0), ([0.0, 0.0, 0.0], 0),
                ([1.0, 2.0, 3.0], 1)]
        from ocr_spark.operators.similarity import source_centroid_similarity

        out = {(r["label_a"], r["label_b"]): r["centroid_cos"]
               for r in source_centroid_similarity(
                   self._make(spark, rows)).collect()}
        assert out[(0, 0)] is None
        assert out[(0, 1)] is None
        assert out[(1, 1)] == 1.0

    def test_partitioning_invariance(self, spark):
        rng = random.Random(99)
        rows = [([float(rng.gauss(0, 1)) for _ in range(8)], rng.randrange(3))
                for _ in range(150)]
        from ocr_spark.operators.similarity import source_centroid_similarity

        df = self._make(spark, rows)
        base = sorted(
            source_centroid_similarity(df).collect(),
            key=lambda r: (r["label_a"], r["label_b"]),
        )
        for n in (1, 7):
            rep = sorted(
                source_centroid_similarity(df.repartition(n)).collect(),
                key=lambda r: (r["label_a"], r["label_b"]),
            )
            assert [tuple(r) for r in rep] == [tuple(r) for r in base]

    def test_null_rows_excluded(self, spark):
        rows = [([1.0, 0.0], 0), (None, 0), ([0.5, 0.5], None),
                ([0.0, 1.0], 1)]
        from ocr_spark.operators.similarity import source_centroid_similarity

        out = {(r["label_a"], r["label_b"]): (r["n_a"], r["n_b"])
               for r in source_centroid_similarity(
                   self._make(spark, rows)).collect()}
        assert out[(0, 0)] == (1, 1)
        assert out[(0, 1)] == (1, 1)

    def test_scale_validation(self, spark):
        from ocr_spark.operators.similarity import source_centroid_similarity

        with pytest.raises(ValueError, match="scale"):
            source_centroid_similarity(
                self._make(spark, [([1.0], 0)]), scale=0
            )
