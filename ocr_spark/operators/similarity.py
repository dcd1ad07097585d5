"""Similarity search over an embedding column (``array<float>``).

Brute-force cosine top-k as the exactness baseline, a random-hyperplane-LSH
bucketed variant as the scale path, and embedding-cosine near-dup pairs.

Spark-first design: dot products and norms are built-in higher-order array
functions (``zip_with`` + ``aggregate``) evaluated JVM-side — no Python in
the hot path. The LSH variant turns all-pairs O(n²) into a bucketed join
whose key is a compact sign-bit string; planes are generated once on the
driver from a seed (deterministic) and enter the plan as literals — the
Catalyst equivalent of a broadcast of a tiny model.

At 100 TB / billions of vectors: brute-force top-k against one query is a
single narrow pass + TakeOrderedAndProject (no full sort, no shuffle of the
vectors themselves); the near-dup join shuffles only (bucket, id, vector)
for same-bucket candidates, and multi-probe = more hyperplane tables, each
a cheap narrow column.
"""
from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.session import read_parquet


def _as_double(col: Column | str) -> Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast(
        "array<double>"
    )


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ via zip_with + aggregate — strict left-to-right fold, so the
    floating-point sum order is deterministic and reproducible in the SQL
    oracle (DuckDB's list_inner_product folds in the same index order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    The query enters as a literal array; score is a narrow expression; the
    global top-k is TakeOrderedAndProject (each partition keeps k rows, the
    driver merges) — no shuffle, no full sort, scan-bound at any scale.
    Deterministic tie-break on id. Returns (id, score) rounded to 6 dp.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    v = _as_double(vec_col)
    n = norm(v)
    # zero-norm embeddings (padding rows) score 0, not NaN — Spark orders
    # NaN above every double, so an unguarded 0/0 would rank junk first
    score = F.round(F.when(n == 0, F.lit(0.0)).otherwise(cosine(v, q)), 6)
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), score.alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def cosine_topk_np(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BLAS path for exact top-k: per Arrow batch, one numpy matmul scores
    the whole batch against the query (vs the per-row interpreted
    higher-order fold of ``cosine_topk``). Identical results (same float64
    arithmetic, same rounding/tie-break); use this at 10⁸+ vectors where
    scoring dominates — still a narrow pass + TakeOrderedAndProject.

    Per-partition top-k happens INSIDE the UDF (heap-free: argpartition),
    so each partition emits k rows, not its whole input — the driver-side
    merge then sees partitions × k rows regardless of table size.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / np.sqrt((q * q).sum())
    out_schema = StructType(
        [StructField("id", LongType()), StructField("score", DoubleType())]
    )

    def topk_idx(scores, ids):
        # deterministic (score desc, id asc) selection — argpartition alone
        # keeps an arbitrary subset on kth-score ties
        order = np.lexsort((ids, -scores))[:k]
        return order

    def score_partition(batches):
        best_ids: list = []
        best_scores: list = []
        for pdf in batches:
            vecs = [v for v in pdf[vec_col] if v is not None]
            ids_all = pdf[id_col].to_numpy()[
                [i for i, v in enumerate(pdf[vec_col]) if v is not None]
            ]
            if not vecs:
                continue
            m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            norms = np.sqrt((m * m).sum(axis=1))
            norms[norms == 0] = 1.0
            scores = np.round((m @ qn) / norms, 6)
            sel = topk_idx(scores, ids_all) if len(scores) > k else np.arange(len(scores))
            best_ids.extend(ids_all[sel].tolist())
            best_scores.extend(scores[sel].tolist())
        if len(best_ids) > k:
            bs, bi = np.asarray(best_scores), np.asarray(best_ids)
            sel = topk_idx(bs, bi)
            best_ids, best_scores = bi[sel].tolist(), bs[sel].tolist()
        yield pd.DataFrame({"id": best_ids, "score": best_scores})

    per_part = df.select(id_col, vec_col).mapInPandas(
        score_partition, out_schema
    )
    return per_part.orderBy(F.desc("score"), F.asc("id")).limit(k)


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic unit-ish random hyperplanes (Box-Muller from a seeded
    PRNG — no numpy needed on executors; this runs once on the driver)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def sign_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket: one sign bit per plane, concatenated to
    a string key. Vectors with high cosine land in the same bucket with
    probability (1 - θ/π)^n_planes."""
    v = vec_col.cast("array<double>")
    bits = [
        F.when(dot(v, F.array(*[F.lit(float(x)) for x in p]).cast("array<double>")) >= 0, "1").otherwise("0")
        for p in planes
    ]
    return F.concat(*bits)


def lsh_cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 7,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: prefilter to the query's LSH bucket, exact-rerank
    inside it. One narrow pass + a pushed-down bucket filter — the IVF-style
    scale path (bucket column can be a partition/cluster key at rest so the
    scan prunes to ~1/2^n_planes of the data).

    ``multi_probe`` widens the prefilter to buckets within that Hamming
    distance of the query's bucket (standard multi-probe LSH): probing the
    m-neighborhood recovers most of the recall lost to near-boundary sign
    flips at ~(n_planes choose ≤m)× the candidate cost — still a tiny
    fraction of the corpus, and still one narrow pass."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qbits = "".join(
        "1" if sum(px * qx for px, qx in zip(p, query_vec)) >= 0 else "0"
        for p in planes
    )
    bucketed = df.withColumn("_bucket", sign_bucket(F.col(vec_col), planes))
    if multi_probe <= 0:
        pruned = bucketed.filter(F.col("_bucket") == qbits)
    else:
        bit_diffs = sum(
            F.when(
                F.substring("_bucket", i + 1, 1) != qbits[i], 1
            ).otherwise(0)
            for i in range(n_planes)
        )
        pruned = bucketed.filter(bit_diffs <= multi_probe)
    return cosine_topk(pruned, query_vec, k, id_col, vec_col)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """k-NN JOIN: the top-k corpus neighbors for EVERY query row (the
    retrieval / near-dup-audit workload shape, vs the single-query
    :func:`cosine_topk`). Returns (query_id, id, score, rank).

    Shape: the query side is the small side by design (probes, eval sets,
    centroids) — it is materialized ONCE into a normalized numpy matrix and
    ships to executors inside the UDF closure (the Python rendition of a
    broadcast). Scoring + per-query PARTIAL top-k happen per corpus
    partition inside one ``mapInPandas`` pass: each Arrow batch is scored
    against all queries with a single matmul, and each partition emits at
    most queries × k rows. The final exact rank is then a window over
    partitions × queries × k rows — NOT over the |corpus| × |queries|
    scored cross-product (which would land each query's entire corpus on a
    single task: the shuffle-per-task is O(|corpus|) there and a guaranteed
    straggler/OOM at 10⁹ corpus rows). At 10⁹ × 10³ this plan is a
    scan-bound narrow stage plus a tiny shuffle. For huge query sets,
    partition the query side and union the per-chunk results (same plan
    per chunk).

    Determinism: scores round to 6 dp BEFORE selection and the partial
    top-k uses the same (score desc, id asc) order as the final rank, so
    the map-side cut keeps exactly the rows the exact window would — the
    result equals the brute-force cross-join + window (the SQL oracle's
    shape) up to 6-dp rounding of ~1-ulp float association differences:
    queries are pre-normalized here (dot(v, q/|q|)/|v| with pairwise-
    summed matmuls) while a sequential dot(v,q)/(|v|·|q|) can differ in
    the last ulp, which on an exact .5·10⁻⁶ boundary could flip the
    rounded score and hence top-k membership near the cut (never observed
    in the differential tests; noted for honesty).

    NOTE this operator is EAGER at call time: the query side is collected
    to the driver when you call it (unlike every other plan-only
    operator), because the closure needs the materialized matrix."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import DoubleType, StructField, StructType

    qrows = (
        queries.filter(F.col(query_vec_col).isNotNull())
        .select(
            F.col(query_id_col).alias("query_id"),
            _as_double(query_vec_col).alias("qv"),
        )
        .collect()
    )
    out_schema = StructType(
        [
            StructField("query_id", queries.schema[query_id_col].dataType),
            StructField("id", corpus.schema[id_col].dataType),
            StructField("score", DoubleType()),
        ]
    )
    if not qrows:
        return corpus.sparkSession.createDataFrame([], out_schema).select(
            "query_id", "id", "score", F.lit(1).alias("rank")
        ).limit(0)
    qids = [r["query_id"] for r in qrows]
    qm = np.array([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    qn = np.sqrt((qm * qm).sum(axis=1))
    qn[qn == 0] = np.inf  # zero-norm query scores 0 against everything
    qmat = (qm / qn[:, None]).T  # dim × n_queries, queries pre-normalized

    def topk_per_query(batches):
        nq = len(qids)
        buf_ids: list[list] = [[] for _ in range(nq)]
        buf_scores: list[list] = [[] for _ in range(nq)]
        for pdf in batches:
            mask = pdf[vec_col].notna()
            if not mask.any():
                continue
            ids_all = pdf.loc[mask, id_col].to_numpy()
            m = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf.loc[mask, vec_col]]
            )
            norms = np.sqrt((m * m).sum(axis=1))
            norms[norms == 0] = np.inf  # zero-norm corpus row scores 0
            scores = np.round((m @ qmat) / norms[:, None], 6)  # batch × nq
            for j in range(nq):
                s = scores[:, j]
                sel = (
                    np.lexsort((ids_all, -s))[:k] if len(s) > k
                    else np.arange(len(s))
                )
                buf_ids[j].extend(ids_all[sel].tolist())
                buf_scores[j].extend(s[sel].tolist())
                if len(buf_ids[j]) > 4 * k:
                    # re-truncate to k between batches: without this the
                    # buffers grow as n_batches × k per query instead of
                    # the claimed O(k). Same (score desc, id asc) order as
                    # the final cut, so no candidate the window would keep
                    # is dropped.
                    bi = np.asarray(buf_ids[j])
                    bs = np.asarray(buf_scores[j])
                    keep = np.lexsort((bi, -bs))[:k]
                    buf_ids[j] = bi[keep].tolist()
                    buf_scores[j] = bs[keep].tolist()
        out_q, out_i, out_s = [], [], []
        for j in range(nq):
            if not buf_ids[j]:
                continue
            bi = np.asarray(buf_ids[j])
            bs = np.asarray(buf_scores[j])
            sel = np.lexsort((bi, -bs))[:k]
            out_q.extend([qids[j]] * len(sel))
            out_i.extend(bi[sel].tolist())
            out_s.extend(bs[sel].tolist())
        yield pd.DataFrame({"query_id": out_q, "id": out_i, "score": out_s})

    per_part = corpus.select(id_col, vec_col).mapInPandas(
        topk_per_query, out_schema
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        per_part.select(
            "query_id", "id", "score", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= k)
    )


def derive_ivf_params(n_rows: int) -> dict:
    """IVF hyperparameters FROM the corpus, not fixture-sized constants:
    ``n_cells ≈ √N`` — the standard coarse-quantizer sizing (Jégou et al.
    TPAMI 2011; FAISS guidance is k ∈ [√N, 4√N]) so posting lists average
    ~√N entries and a query probes O(nprobe·√N) vectors — and
    ``sample_n = 64·n_cells`` training points (k-means needs tens of
    samples per cell; far fewer undertrains the quantizer). At 10⁹ rows
    this derives ~31.6k cells from a ~2M-vector sample — driver-trainable
    — where the old fixed (8, 512) would put 10⁸ vectors in every cell.
    Floors keep tiny test fixtures workable; ``sample_n`` above the corpus
    size simply trains on everything (the sample is a LIMIT)."""
    import math

    if n_rows <= 0:
        raise ValueError(f"n_rows must be positive, got {n_rows}")
    n_cells = max(8, int(round(math.sqrt(n_rows))))
    return {"n_cells": n_cells, "sample_n": max(512, 64 * n_cells)}


def train_ivf_centroids(
    df: DataFrame,
    n_cells: int = 8,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 512,
    iters: int = 8,
) -> list[list[float]]:
    """Train an IVF coarse quantizer: spherical k-means (Lloyd) on a
    deterministic sample — the standard IVF recipe (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011: the coarse
    quantizer is trained on a sample, then applied to the full corpus).

    Scale shape: the ONLY distributed work is the sample collection — the
    ``sample_n`` lowest-id vectors via TakeOrderedAndProject (per-partition
    top-n, no global sort). Training runs on the driver over that tiny
    matrix; the result is a centroid table small enough to enter every
    downstream plan as literals (like the LSH hyperplanes). Deterministic
    end-to-end: id-ordered sample, first-k init, argmax/first-wins ties,
    fixed iteration count — retraining on the same table is bit-identical.

    Empty cells keep their previous centroid (never NaN); duplicate sample
    vectors are skipped at init so the k seeds are distinct.
    """
    import numpy as np

    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .orderBy(F.asc(id_col))
        .limit(sample_n)
        .collect()
    )
    vecs = [np.asarray(r[1], dtype=np.float64) for r in rows]
    vecs = [v for v in vecs if float((v * v).sum()) > 0.0]
    if len(vecs) < n_cells:
        raise ValueError(
            f"need >= {n_cells} non-zero sample vectors, got {len(vecs)}"
        )
    x = np.stack(vecs)
    x = x / np.sqrt((x * x).sum(axis=1, keepdims=True))

    seeds: list[int] = []
    seen: set[bytes] = set()
    for i in range(len(x)):
        key = x[i].tobytes()
        if key not in seen:
            seen.add(key)
            seeds.append(i)
        if len(seeds) == n_cells:
            break
    if len(seeds) < n_cells:
        raise ValueError(f"only {len(seeds)} distinct sample vectors for {n_cells} cells")
    c = x[seeds].copy()

    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)  # first max wins ties
        for cell in range(n_cells):
            members = x[assign == cell]
            if len(members) == 0:
                continue
            m = members.mean(axis=0)
            n = float(np.sqrt((m * m).sum()))
            if n > 0:
                c[cell] = m / n
    return [[float(v) for v in row] for row in c]


#: score-matrix cells (rows × centroids) per numpy chunk inside the arrow
#: assignment engine — bounds task memory at O(chunk) however large k is
#: (the embedding_near_duplicates pair-block precedent)
_ARROW_ASSIGN_CELLS = 5_000_000


#: k·dim at and above which centroid assignment stops building
#: literal-centroid expressions. BENCH/assign_engines.json (20k rows,
#: dim 64) measures the literal path's Catalyst analyze/optimize/codegen
#: cost growing superlinearly in plan-literal count — 12.8× slower than
#: arrow at k·dim=4,096, 28× at 16,384, 46× at 65,536 — so from the
#: k=256·dim=64 point (inclusive) assignment runs arrow. Below the
#: boundary it keeps the literal plan even though arrow's measured
#: wall is lower at bench scale there too (1.8× at k·dim=1,024): the
#: sub-boundary deltas are sub-second one-time compile costs, while the
#: literal plan stays whole-stage-codegen-fusable with surrounding JVM
#: ops and needs no Python workers — the plan shape the repo's gate
#: pins prefer. Every shipped-quantizer call site (k=22, dim=64 →
#: k·dim=1,408) resolves to 'literal'; arrow takes over at the
#: k ≈ √N sizes :func:`derive_ivf_params` prescribes for N ≥ ~10⁶.
_AUTO_ARROW_LITERALS = 16_384


def _resolve_engine(centroids: list[list[float]]) -> str:
    """The assignment engine for these centroids by plan-literal count
    (k·dim): 'literal' below :data:`_AUTO_ARROW_LITERALS`, 'arrow' at and
    above it. Both engines are bit-identical (pytest-pinned), so the
    choice is a pure cost decision."""
    k = len(centroids)
    dim = len(centroids[0]) if k else 0
    return "arrow" if k * dim >= _AUTO_ARROW_LITERALS else "literal"


def _arrow_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    cell_col: str,
    cos_col: str | None = None,
) -> DataFrame:
    """Arrow assignment engine shared by :func:`ivf_assign` /
    :func:`assign_with_centroid_cos` / :func:`kmeans_fit_distributed`:
    nearest-centroid argmax (and optionally raw cosine-to-assigned) as ONE
    ``mapInPandas`` pass, appending ``cell_col`` (+ ``cos_col``) to the
    input columns.

    Why it exists (round-4 verdict, design-margin item): the literal
    engine builds O(k·dim) plan literals per expression — at the
    k ≈ √N sizes :func:`derive_ivf_params` prescribes for N ≥ ~10⁶ that
    is a Catalyst plan-compile/codegen hazard (every analyzer/optimizer
    pass walks millions of Literal nodes). The arrow engine carries the
    centroid matrix as task data instead of plan structure: plan size is
    O(1) in k, and the per-row cost is a numpy matmul-shaped fold.

    Bit-equality contract with the literal engine (pytest-pinned): scores
    fold sequentially over DIMENSIONS — ``S += V[:, j] · C[:, j]`` is the
    same IEEE mul-then-add, in the same index order, as the JVM
    ``zip_with``/``aggregate`` fold — argmax is numpy's first-max (the
    ``array_position(array_max)`` rule), norms fold ``acc + x·x`` in index
    order, and the cosine division is one IEEE op either engine. Rounding
    (where a caller wants it) stays OUTSIDE, applied JVM-side on the raw
    value, so HALF_UP semantics never depend on numpy. NULL vectors yield
    NULL cell/cos; zero vectors yield cell 0 (argmax of all-zero scores)
    and cosine 0.0, matching the literal path's ``when(_nv == 0, 0.0)``.

    NULL-ELEMENT parity: a NULL *element* inside an otherwise non-NULL
    vector null-propagates through the literal engine's ``zip_with``/
    ``aggregate`` fold (every score NULL → NULL cell/cos), but the
    Arrow→pandas transfer erases the null-vs-NaN distinction (both
    arrive as ``nan`` in a float64 block), so the flag is computed
    JVM-side (``exists(vec, isnull)``) BEFORE the exchange and flagged
    rows get NULL cell/cos. Genuine NaN *values* (never produced by the
    repo's embedding paths) behave identically either engine: all-NaN
    scores → first-index argmax → cell 0, NaN cosine.

    Memory: the k×dim float64 centroid matrix ships in the UDF closure
    (~16 MB at k=31.6k, dim=64); the score block is evaluated in row
    chunks of ≤ ``_ARROW_ASSIGN_CELLS`` cells so task memory is
    O(chunk·k), never O(batch·k)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, IntegerType, StructField

    C = np.asarray(centroids, dtype=np.float64)
    if C.ndim != 2 or C.shape[0] == 0:
        raise ValueError("centroids must be a non-empty k x dim matrix")
    k, dim = C.shape
    nc = np.zeros(k)
    for j in range(dim):  # strict index-order fold, mirrors norm()
        nc = nc + C[:, j] * C[:, j]
    nc = np.sqrt(nc)
    chunk = max(1, _ARROW_ASSIGN_CELLS // k)
    want_cos = cos_col is not None

    fields = list(df.schema.fields) + [StructField(cell_col, IntegerType())]
    nan_flag = f"_nan_{cos_col}" if want_cos else None
    if want_cos:
        fields.append(StructField(cos_col, DoubleType()))
        # pyarrow's from_pandas maps every NaN to null on the way back to
        # the JVM, so a genuine NaN cosine (NaN-valued input vector, which
        # the literal engine keeps distinct from NULL) cannot cross the
        # exchange as a value — it crosses as this flag and is restored
        # JVM-side below
        from pyspark.sql.types import BooleanType

        fields.append(StructField(nan_flag, BooleanType()))
    out_schema = type(df.schema)(fields)
    in_cols = [f.name for f in df.schema.fields]
    null_flag = f"_ne_{vec_col}"
    staged = df.withColumn(
        null_flag, F.exists(F.col(vec_col), lambda x: x.isNull())
    )

    def assign(batches):
        for pdf in batches:
            n = len(pdf)
            cells = np.full(n, -1, dtype=np.int64)
            raw = np.zeros(n) if want_cos else None
            vals = pdf[vec_col].to_numpy()
            flagged = pdf[null_flag].to_numpy()
            ok = np.fromiter(
                (v is not None and not f for v, f in zip(vals, flagged)),
                dtype=bool,
                count=n,
            )
            idx = np.flatnonzero(ok)
            for s in range(0, len(idx), chunk):
                sel = idx[s : s + chunk]
                try:
                    V = np.stack(
                        [np.asarray(vals[i], dtype=np.float64) for i in sel]
                    )
                except ValueError as e:
                    raise ValueError(
                        f"ragged vectors in {vec_col!r}: all embeddings "
                        f"must have dim {dim}"
                    ) from e
                if V.shape[1] != dim:
                    raise ValueError(
                        f"vector dim {V.shape[1]} != centroid dim {dim}"
                    )
                S = np.zeros((len(sel), k))
                for j in range(dim):  # index-order IEEE fold == dot()
                    S += V[:, j : j + 1] * C[None, :, j]
                a = np.argmax(S, axis=1)  # first max wins, == array_position
                cells[sel] = a
                if want_cos:
                    mx = S[np.arange(len(sel)), a]
                    nv = np.zeros(len(sel))
                    for j in range(dim):
                        nv = nv + V[:, j] * V[:, j]
                    nv = np.sqrt(nv)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        c_ = mx / (nv * nc[a])
                    raw[sel] = np.where(nv == 0.0, 0.0, c_)
            out = pdf[in_cols].copy()
            out[cell_col] = pd.array(
                [int(c) if c >= 0 else None for c in cells], dtype="Int32"
            )
            if want_cos:
                out[cos_col] = pd.array(
                    [float(raw[i]) if cells[i] >= 0 else None
                     for i in range(n)],
                    dtype="Float64",
                )
                out[nan_flag] = pd.array(
                    [bool(cells[i] >= 0 and np.isnan(raw[i]))
                     for i in range(n)],
                    dtype="boolean",
                )
            yield out

    # out_schema (and assign's output frame) already exclude the JVM-side
    # null-element staging column; restore NaN cosines from their flag
    out = staged.mapInPandas(assign, out_schema)
    if want_cos:
        out = out.withColumn(
            cos_col,
            F.when(F.col(nan_flag), F.lit(float("nan"))).otherwise(
                F.col(cos_col)
            ),
        ).drop(nan_flag)
    return out


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max dot product — the
    centroids are unit-norm, so this is cosine assignment).

    Pure narrow expression: one literal-centroid dot per cell plus an
    argmax via ``array_position(scores, array_max(scores))`` (first max
    wins ties — same rule as numpy/DuckDB). No shuffle, codegen-friendly,
    and the natural ``partitionBy(cell)`` key when the corpus is written
    to rest — after which :func:`ivf_topk`'s probe filter becomes partition
    pruning and each query touches nprobe/n_cells of the bytes.
    NULL vectors get a NULL cell.

    The engine is chosen from k·dim (:func:`_resolve_engine`). Below
    :data:`_AUTO_ARROW_LITERALS` it is the pure-expression form above —
    zero Python, whole-stage-codegen-able. At and above it the arrow
    engine (:func:`_arrow_assign`) carries the centroids as task data
    instead of O(k·dim) plan literals — REQUIRED at the k ≈ √N sizes
    :func:`derive_ivf_params` prescribes for N ≥ ~10⁶, where the literal
    plan hits Catalyst's compile cliff. Bit-identical results
    (engine-equality pytest)."""
    if _resolve_engine(centroids) == "arrow":
        tmp = f"_vd_{vec_col}"
        # the double cast happens JVM-side either engine, so int/float32
        # inputs widen with identical semantics
        staged = df.withColumn(tmp, _as_double(vec_col))
        out = _arrow_assign(staged, centroids, tmp, cell_col)
        return out.drop(tmp)
    v = _as_double(vec_col)
    scores = F.array(
        *[
            dot(v, F.array(*[F.lit(float(x)) for x in cent]).cast("array<double>"))
            for cent in centroids
        ]
    )
    cell = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    return df.withColumn(cell_col, cell)


def hashed_tf_embed(
    df: DataFrame,
    text_col: str = "text",
    dim: int = 64,
    out_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Feature-hashed term-frequency embedding (the hashing trick —
    Weinberger et al., "Feature Hashing for Large Scale Multitask
    Learning", ICML 2009): token → md5-bucket in [0, dim), per-bucket
    counts, optional L2 normalization. Closes the documents → embeddings
    loop: any text table becomes input for the whole ANN/near-dup family
    (cosine of normalized hashed-TF approximates token-multiset cosine).

    Pure narrow built-ins — tokens staged once, then ONE aggregate fold
    updating a dim-length array (O(tokens·dim) cheap JVM ops per row, no
    shuffle, no Python). Determinism: counts are integer-valued doubles
    (exact at any corpus size), so the normalization (count / sqrt(Σc²))
    is bit-identical however the oracle re-derives the counts.

    NULL text embeds to the zero vector (same as empty text) — the
    no-match behavior the oracle's grid re-derivation produces — rather
    than poisoning downstream ANN scores with a NULL embedding.
    """
    from ocr_spark.functions.hashing import md5_mod
    from ocr_spark.operators.textstats import tokens

    bucket = lambda t: md5_mod(t, dim)  # noqa: E731
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    staged = df.withColumn("_tfe_h", F.transform(toks, bucket))
    # counts staged in their OWN projection: Spark has no cross-expression
    # CSE for non-codegen projections, so referencing the fold from the
    # norm AND both when-branches would evaluate it three times per row
    staged = staged.withColumn(
        "_tfe_c",
        F.aggregate(
            F.col("_tfe_h"),
            F.array_repeat(F.lit(0.0), dim),
            lambda acc, h: F.transform(
                acc,
                lambda x, i: x + F.when(i.cast("long") == h, 1.0).otherwise(0.0),
            ),
        ),
    ).drop("_tfe_h")
    if not normalize:
        return staged.withColumn(out_col, F.col("_tfe_c")).drop("_tfe_c")
    c = F.col("_tfe_c")
    # norm staged too: the division references it once per element
    staged = staged.withColumn(
        "_tfe_n", F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))
    )
    emb = F.when(F.col("_tfe_n") == 0, c).otherwise(
        F.transform(c, lambda x: x / F.col("_tfe_n"))
    )
    return staged.withColumn(out_col, emb).drop("_tfe_c", "_tfe_n")


def load_ivf_centroids() -> list[list[float]]:
    """The shipped coarse quantizer (``ocr_spark/data/ivf_centroids.json``,
    trained by ``tools/train_ivf.py`` on the synthetic sf0.001 embeddings
    tier). JSON round-trips float64 exactly, so every loader — Spark plan,
    oracle builder, tests — sees bit-identical centroids."""
    import json
    from importlib.resources import files

    data = json.loads(
        files("ocr_spark.data").joinpath("ivf_centroids.json").read_text()
    )
    return data["centroids"]


def ivf_probe_cells(
    query_vec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The ``nprobe`` cells nearest the query (dot desc, cell asc) —
    driver-side arithmetic on the tiny centroid table, mirrored literally
    in the SQL oracle builder."""
    scored = sorted(
        (
            (-sum(cx * qx for cx, qx in zip(cent, query_vec)), i)
            for i, cent in enumerate(centroids)
        ),
    )
    return [i for _, i in scored[:nprobe]]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: assign the corpus to coarse cells, scan only
    the ``nprobe`` cells nearest the query, exact-rerank inside them.

    The k-means twin of :func:`lsh_cosine_topk`: data-adaptive cells
    instead of data-oblivious hyperplanes — better recall per probed
    fraction on clustered corpora. ``nprobe == len(centroids)`` degrades
    gracefully to the exact :func:`cosine_topk` result (asserted in
    tests). Still one narrow pass + TakeOrderedAndProject; with the corpus
    at rest partitioned by cell the non-probed cells are never read."""
    probes = ivf_probe_cells(query_vec, centroids, nprobe)
    assigned = ivf_assign(
        df.filter(F.col(vec_col).isNotNull()), centroids, vec_col
    )
    pruned = assigned.filter(F.col("cell").isin(probes))
    return cosine_topk(pruned, query_vec, k, id_col, vec_col)


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Materialize the IVF index at rest: the corpus written
    ``partitionBy(cell)`` so each coarse cell is its own partition
    directory. This is what turns :func:`ivf_topk`'s probe filter from a
    post-scan filter into PARTITION PRUNING — a query then reads only the
    nprobe/n_cells fraction of the bytes (plan-pinned in
    tests/test_similarity.py). One narrow assignment pass + the write;
    no shuffle beyond the sink's own file layout."""
    ivf_assign(df, centroids, vec_col).write.partitionBy("cell").mode(
        mode
    ).parquet(path)


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ivf_topk` over a :func:`write_ivf_index` corpus: the probe
    cells prune whole partition directories at planning time (the scan's
    PartitionFilters), so non-probed cells are never opened. Identical
    results to the on-the-fly variant with the same centroids."""
    probes = ivf_probe_cells(query_vec, centroids, nprobe)
    pruned = read_parquet(spark, path).filter(F.col("cell").isin(probes))
    return cosine_topk(pruned, query_vec, k, id_col, vec_col)


def derive_n_planes(n_rows: int, target_bucket: int = 64) -> int:
    """Plane count for :func:`embedding_near_duplicates` from the corpus
    size: ~n/2^planes rows per bucket on uniform data, so planes =
    ceil(log2(n / target_bucket)) keeps expected bucket size near
    ``target_bucket`` (candidate volume ≈ n·target/2 pairs, linear in n).
    More planes → smaller buckets → fewer candidates but lower recall per
    table; recover recall with ``n_tables`` > 1 (independent plane sets —
    a pair is a candidate if it collides in ANY table). Bounded to [1, 30]."""
    if n_rows <= target_bucket:
        return 1
    return min(30, max(1, math.ceil(math.log2(n_rows / target_bucket))))


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 7,
    dim: int | None = None,
    n_tables: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH bucketing + exact
    verification. Only same-bucket pairs are scored; ``n_planes`` trades
    candidate volume for recall (derive it from the corpus size with
    :func:`derive_n_planes`); ``n_tables`` independent plane sets (seeds
    seed, seed+1, …) re-probe near-boundary pairs, so recall ≈
    1-(1-p^planes)^tables at tables× the bucketing cost. Returns
    (id_a, id_b, cos) with cos ≥ threshold.

    Physical shape: one shuffle groups each bucket into an Arrow batch and
    a pandas UDF scores the bucket's pair block with numpy
    (:func:`_grouped_bucket_pairs`) — vectorized over PAIRS but folding
    sequentially over DIMENSIONS (``acc += V[:,j] * row_j`` is the same
    IEEE mul-then-add, in the same index order, as the JVM
    ``zip_with``/``aggregate`` fold of :func:`dot` and DuckDB's
    ``list_inner_product``), so raw cosines are BIT-IDENTICAL to a bucket
    self-join scored with :func:`dot`/:func:`norm` (pytest keeps that
    join as the reference); the exact ``round(·, 6)``/threshold/distinct
    stays JVM-side on the UDF's conservative survivor superset (raw ≥
    threshold − 1e-6, wider than any HALF_UP rounding step). Pair blocks
    are evaluated in row chunks of ~5M cells so task memory is
    O(chunk × members), never O(members²); the whole bucket's vectors do
    materialize in the worker (the ``applyInPandas`` contract), which is
    what ``max_bucket_size`` bounds — REQUIRED at corpus scale. Replaces
    ~O(candidate pairs) interpreted higher-order-function evaluations
    (CodegenFallback, ~µs each) with dim× vectorized array ops:
    measured 231.5 → 5.4 s warm / 12.0 s cold on the sf1 tier (20k×64,
    8 buckets, ~25M candidates) against the self-join, oracle-hash-
    identical. (A posting list — the skinny jaccard/minhash pattern — is
    catastrophic here: a 2,500-member bucket of 64-dim vectors is
    ~1.3 MB duplicated into every exploded row; measured shuffle-server
    OOM on the sf1 hot bucket.)

    ``max_bucket_size`` is the family's hot-bucket cap: a degenerate
    bucket (mass-duplicated embedding) would emit n² pairs; over-cap
    buckets are dropped whole before pair enumeration (documented recall
    trade-off, inert at oracle scale).

    Pass ``dim`` explicitly where known (the embedding width is part of the
    table contract) — it keeps the call plan-only. When omitted, ONE probe
    job samples a non-null vector; an empty/all-null input yields an empty
    result instead of a TypeError."""
    if dim is None:
        probe = (
            df.filter(F.col(vec_col).isNotNull()).select(vec_col).head(1)
        )
        if not probe:
            from pyspark.sql.types import DoubleType, StructField, StructType

            id_type = df.schema[id_col].dataType
            empty = StructType(
                [
                    StructField("id_a", id_type),
                    StructField("id_b", id_type),
                    StructField("cos", DoubleType()),
                ]
            )
            return df.sparkSession.createDataFrame([], empty)
        dim = len(probe[0][0])
    buckets = F.array(
        *[
            F.concat(
                F.lit(f"{t}:"),
                sign_bucket(F.col(vec_col), hyperplanes(dim, n_planes, seed + t)),
            )
            for t in range(n_tables)
        ]
    )
    from ocr_spark.functions.explode import explode_nonnull

    bucketed = explode_nonnull(
        df,
        buckets,
        "bucket",
        F.col(id_col).alias("id"),
        _as_double(vec_col).alias("vd"),
    )
    return _grouped_bucket_pairs(
        bucketed, df.schema[id_col].dataType, threshold, max_bucket_size
    )


def _grouped_bucket_pairs(
    bucketed: DataFrame,
    id_type,
    threshold: float,
    max_bucket_size: int | None,
) -> DataFrame:
    """Score one LSH bucket's pair block per Arrow group (see
    :func:`embedding_near_duplicates`), then round, filter and deduplicate
    JVM-side: (id_a, id_b, cos)."""
    return (
        _bucket_pair_blocks(bucketed, id_type, threshold - 1e-6, max_bucket_size)
        .select("id_a", "id_b", F.round(F.col("cos_raw"), 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def _bucket_pair_blocks(
    bucketed: DataFrame,
    id_type,
    guard: float,
    cap: int | None,
) -> DataFrame:
    """(id_a, id_b, cos_raw) of each within-bucket pair whose raw cosine is
    at least ``guard``, scored one bucket's pair block per Arrow group;
    buckets of more than ``cap`` members score nothing.

    Bit-identity contract: every float op replicates the scalar sequence
    of a bucket self-join scored with :func:`dot`/:func:`norm` — norms
    fold ``acc + x·x`` in index order, dots fold
    ``acc + aᵢ·bᵢ`` in index order (one vectorized mul-then-add per
    dimension IS that fold, elementwise), cosine is one mul (nₐ·n_b) then
    one div. numpy float64 elementwise ops are IEEE-754 correctly rounded,
    so raw cosines equal the JVM higher-order-fold bit-for-bit; the exact
    HALF_UP ``round(·, 6)`` + threshold + distinct run JVM-side on the
    survivor superset (``guard`` = threshold − 1e-6, see
    :func:`_grouped_bucket_pairs`). Pair ordering: rows are
    sorted by id inside the group (UTF-8/codepoint order agree, and
    numeric order is numeric), so upper-triangle ⇔ ``id_a < id_b``, the
    self-join's predicate."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cos_raw", DoubleType()),
        ]
    )

    def score(pdf):
        import numpy as np
        import pandas as pd

        m = len(pdf)
        if m < 2 or (cap is not None and m > cap):
            return pd.DataFrame(
                {
                    "id_a": pdf["id"][:0],
                    "id_b": pdf["id"][:0],
                    "cos_raw": pd.Series([], dtype="float64"),
                }
            )
        pdf = pdf.sort_values("id", kind="mergesort", ignore_index=True)
        ids = pdf["id"].to_numpy()
        V = np.vstack(pdf["vd"].to_numpy())
        d = V.shape[1]
        acc = np.zeros(m)
        for j in range(d):
            acc += V[:, j] * V[:, j]
        ra, rb, rc = [], [], []
        with np.errstate(divide="ignore", invalid="ignore"):
            norms = np.sqrt(acc)
            # chunk the pair block's rows: task memory O(chunk × m), not O(m²)
            chunk = max(1, 5_000_000 // m)
            for i0 in range(0, m, chunk):
                i1 = min(i0 + chunk, m)
                block = np.zeros((i1 - i0, m))
                for j in range(d):
                    block += V[i0:i1, j : j + 1] * V[None, :, j]
                cos = block / (norms[i0:i1, None] * norms[None, :])
                rows, cols = np.nonzero(cos >= guard)
                keep = cols > rows + i0
                rows, cols = rows[keep], cols[keep]
                if rows.size:
                    ra.append(ids[rows + i0])
                    rb.append(ids[cols])
                    rc.append(cos[rows, cols])
        if not ra:
            return pd.DataFrame(
                {
                    "id_a": pdf["id"][:0],
                    "id_b": pdf["id"][:0],
                    "cos_raw": pd.Series([], dtype="float64"),
                }
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(ra),
                "id_b": np.concatenate(rb),
                "cos_raw": np.concatenate(rc),
            }
        )

    return bucketed.groupBy("bucket").applyInPandas(score, out_schema)


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication over k-means cells (Abbas et al. 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication", arXiv:2303.09540).
# ---------------------------------------------------------------------------


def assign_with_centroid_cos(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell assignment plus cosine-to-assigned-centroid in one narrow pass:
    (id, vd, cell, centroid_cos). Assignment is :func:`ivf_assign`'s
    first-max-dot argmax; ``centroid_cos`` divides that max dot by
    ‖v‖·‖c_cell‖ where BOTH norms are index-order aggregate folds, so the
    value is bit-identical however the oracle re-derives it (the centroid
    norms are constant-folded literals in the plan). Rounded to 6 dp HERE
    because downstream ranking must tie-break on the value both engines
    agree on. Zero vectors score 0.0; NULL vectors get NULL cell/cos.

    Each derived column lives in its own projection — Spark has no
    cross-expression CSE for non-codegen HOF trees, so referencing ``_sc``
    from a fused projection would re-evaluate all n_cells dot products per
    reference.

    At and above the :data:`_AUTO_ARROW_LITERALS` k·dim boundary the
    assignment + raw cosine run through :func:`_arrow_assign` (O(1) plan
    size in k — the large-k path; see :func:`ivf_assign`); the 6-dp
    HALF_UP round stays JVM-side on the raw value so both engines share
    the exact rounding op. Bit-identical results (engine-equality
    pytest)."""
    v = _as_double(vec_col)
    if _resolve_engine(centroids) == "arrow":
        base = df.select(F.col(id_col).alias("id"), v.alias("vd"))
        out = _arrow_assign(base, centroids, "vd", "cell", "_raw")
        return out.select(
            "id", "vd", "cell", F.round(F.col("_raw"), 6).alias("centroid_cos")
        )
    scores = F.array(
        *[
            dot(
                F.col("vd"),
                F.array(*[F.lit(float(x)) for x in cent]).cast("array<double>"),
            )
            for cent in centroids
        ]
    )
    c_norms = F.array(
        *[
            norm(F.array(*[F.lit(float(x)) for x in cent]).cast("array<double>"))
            for cent in centroids
        ]
    )
    base = df.select(F.col(id_col).alias("id"), v.alias("vd"))
    staged = (
        base.withColumn("_sc", scores)
        .withColumn("_mx", F.array_max("_sc"))
        .withColumn(
            "cell", (F.array_position(F.col("_sc"), F.col("_mx")) - 1).cast("int")
        )
        .withColumn("_nv", norm(F.col("vd")))
    )
    cos = F.when(F.col("_nv") == 0.0, F.lit(0.0)).otherwise(
        F.col("_mx") / (F.col("_nv") * F.element_at(c_norms, F.col("cell") + 1))
    )
    return staged.withColumn("centroid_cos", F.round(cos, 6)).drop(
        "_sc", "_mx", "_nv"
    )


def semantic_dedup_pairs(
    assigned: DataFrame,
    threshold: float = 0.95,
    max_cell_size: int | None = None,
) -> DataFrame:
    """Within-cell near-duplicate pairs (id_a, id_b, cos ≥ threshold) over
    the output of :func:`assign_with_centroid_cos`. The k-means cell plays
    the LSH bucket's role: only same-cell pairs are scored, so the all-pairs
    O(n²) collapses to Σ|cell|² — the SemDeDup candidate-generation shape.
    The physical shape is :func:`embedding_near_duplicates`'s: one
    shuffle + a vectorized per-cell pair block (:func:`_grouped_bucket_pairs`,
    scores bit-identical to a cell self-join). At corpus scale cells are
    ~N/√N ≈ √N wide — cap pathological cells with ``max_cell_size``
    exactly like hot LSH buckets."""
    bucketed = assigned.filter(F.col("cell").isNotNull()).select(
        F.col("cell").alias("bucket"), F.col("id"), F.col("vd")
    )
    return _grouped_bucket_pairs(
        bucketed, assigned.schema["id"].dataType, threshold, max_cell_size
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]] | None = None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "far",
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup: embedding-space deduplication via k-means cells. Assign
    every vector to its nearest shipped-quantizer centroid, score only
    within-cell pairs, resolve duplicate groups by connected components,
    and keep ONE representative per group — by default the member FARTHEST
    from its centroid (lowest ``centroid_cos``, the paper's diversity-
    preserving rule; Abbas et al. 2023 §2), ``keep='min_id'`` for the
    D7-consistent canonical-minimum rule. Returns every input row as
    (id, cell, centroid_cos, cluster, keep).

    Scale shape: assignment is narrow (literal centroids, or the arrow
    engine for large k — see :func:`ivf_assign`); pair generation
    shuffles once on cell; components iterate over PAIR VERTICES only
    (tiny vs corpus); the keep ranking windows only those vertices and
    broadcast-joins the flags back — the corpus itself is never windowed
    or re-shuffled. Deterministic end-to-end: ranking ties on the 6-dp
    rounded cosine break by ascending id in both engines."""
    if keep not in ("far", "min_id"):
        raise ValueError(f"unknown keep rule {keep!r}")
    if centroids is None:
        centroids = load_ivf_centroids()
    assigned = assign_with_centroid_cos(df, centroids, id_col, vec_col)
    pairs = semantic_dedup_pairs(assigned, threshold, max_cell_size)
    from ocr_spark.operators.dedup import connected_components

    comp = connected_components(pairs)
    if keep == "min_id":
        flags = comp.select(
            "id", "cluster", (F.col("cluster") == F.col("id")).alias("keep")
        )
    else:
        from pyspark.sql import Window

        w = Window.partitionBy("cluster").orderBy(
            F.col("centroid_cos").asc(), F.col("id").asc()
        )
        flags = (
            comp.join(assigned.select("id", "centroid_cos"), "id")
            .withColumn("keep", F.row_number().over(w) == 1)
            .select("id", "cluster", "keep")
        )
    return (
        assigned.join(flags, "id", "left")
        .select(
            "id",
            "cell",
            "centroid_cos",
            F.coalesce("cluster", F.col("id")).alias("cluster"),
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed spherical k-means (Lloyd 1982) — trains the V5/V7 coarse
# quantizer ON the cluster instead of on a driver-side sample, with
# fixed-point accumulation so the result is independent of partitioning.
# ---------------------------------------------------------------------------


def kmeans_fit_distributed(
    df: DataFrame,
    n_cells: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 8,
    scale_bits: int = 20,
    sample_n: int | None = None,
) -> list[list[float]]:
    """Train a spherical k-means quantizer over the FULL corpus as a Spark
    job — the scale path behind :func:`train_ivf_centroids` (which trains
    on a driver-collected sample; at 10⁹ vectors the sample stops being
    representative and the trainer itself must distribute).

    Per Lloyd iteration: assignment is the same narrow literal-centroid
    argmax every downstream operator uses (first-max ties), and the mean
    update is ONE groupBy(cell) with dim map-side-combined ``sum`` columns
    — one Exchange per iteration carrying k·dim longs per partition, never
    the vectors. The driver holds only the k×dim centroid table.

    **Determinism contract**: double summation is order-dependent, so a
    naive distributed mean changes with partitioning. Unit vectors are
    therefore quantized ONCE to fixed-point longs — ``floor(u·2^scale_bits
    + 0.5)`` — and the per-cell mean is an exact integer sum (commutative,
    any partitioning/AQE plan) divided once on the driver. Retraining on a
    repartitioned table is bit-identical; a pytest pins equality against a
    sequential pure-Python reference. At 2²⁰ scaling the quantization error
    per coordinate is ≤ 2⁻²¹ — far below k-means' own convergence noise —
    and 10¹² unit coordinates sum to < 2⁴¹ · 2²⁰ « 2⁶³ (no overflow).

    Init mirrors :func:`train_ivf_centroids`: the first ``n_cells``
    distinct unit vectors among the ``sample_n`` lowest-id rows
    (TakeOrderedAndProject — per-partition top-n, no global sort). Empty
    cells keep their previous centroid. Normalization folds are strict
    index-order (:func:`norm`), identical in the reference.

    At and above the :data:`_AUTO_ARROW_LITERALS` k·dim boundary the
    per-iteration assignment runs through :func:`_arrow_assign` (O(1)
    plan size in k) instead of rebuilding an O(k·dim)-literal expression
    EVERY iteration — at the k ≈ √N sizes :func:`derive_ivf_params`
    prescribes, the literal plan re-pays the Catalyst compile cliff
    ``iters`` times. The fixed-point integer sum
    makes the update engine-independent by construction; the assignment
    argmax is the same index-order IEEE fold + first-max rule either way,
    so trained centroids are bit-identical (engine-equality pytest).
    """
    import math

    from ocr_spark.operators.dedup import _free_checkpoint

    if n_cells <= 0:
        raise ValueError(f"n_cells must be positive, got {n_cells}")
    if iters <= 0:
        raise ValueError(f"iters must be positive, got {iters}")
    if sample_n is None:
        sample_n = max(4 * n_cells, 64)
    scale = float(1 << scale_bits)
    v = _as_double(vec_col)
    base = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), v.alias("vd"))
        .withColumn("_n", norm(F.col("vd")))
        .filter(F.col("_n") > 0.0)
        .withColumn("u", F.transform(F.col("vd"), lambda x: x / F.col("_n")))
        .withColumn(
            "q",
            F.transform(
                F.col("u"),
                lambda x: F.floor(x * F.lit(scale) + F.lit(0.5)).cast("long"),
            ),
        )
        .select("id", "u", "q")
    )
    first = base.select(F.size("u").alias("d")).first()
    if first is None:
        raise ValueError("no non-zero vectors to train on")
    dim = int(first["d"])
    # iterations re-scan this frame; truncate the lineage once so each pass
    # reads materialized rows instead of replaying scan + normalization
    base = base.localCheckpoint(eager=True)
    try:
        seed_rows = (
            base.select("id", "u").orderBy(F.asc("id")).limit(sample_n).collect()
        )
        c: list[list[float]] = []
        seen: set[tuple] = set()
        for r in seed_rows:
            key = tuple(r["u"])
            if key not in seen:
                seen.add(key)
                c.append([float(x) for x in r["u"]])
            if len(c) == n_cells:
                break
        if len(c) < n_cells:
            raise ValueError(
                f"only {len(c)} distinct unit vectors in the first "
                f"{sample_n} ids for {n_cells} cells"
            )

        # resolved once — k·dim is constant across iterations
        engine = _resolve_engine(c)
        for _ in range(iters):
            if engine == "arrow":
                assigned = _arrow_assign(
                    base.select("u", "q"), c, "u", "cell"
                ).select("cell", "q")
            else:
                scores = F.array(
                    *[
                        dot(
                            F.col("u"),
                            F.array(*[F.lit(float(x)) for x in cent]).cast(
                                "array<double>"
                            ),
                        )
                        for cent in c
                    ]
                )
                # each derived column in its own projection: no
                # cross-expression CSE for HOF trees (the
                # assign_with_centroid_cos staging rule)
                assigned = (
                    base.withColumn("_sc", scores)
                    .withColumn("_mx", F.array_max("_sc"))
                    .withColumn(
                        "cell",
                        (
                            F.array_position(F.col("_sc"), F.col("_mx")) - 1
                        ).cast("int"),
                    )
                    .select("cell", "q")
                )
            agg = assigned.groupBy("cell").agg(
                F.count(F.lit(1)).alias("cnt"),
                *[
                    F.sum(F.element_at("q", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            nxt = [list(row) for row in c]
            for row in agg.collect():
                cnt = int(row["cnt"])
                mean = [row[f"s{i}"] / (scale * cnt) for i in range(dim)]
                acc = 0.0
                for x in mean:  # strict index-order, mirrors norm()
                    acc = acc + x * x
                nn = math.sqrt(acc)
                if nn > 0.0:
                    nxt[int(row["cell"])] = [x / nn for x in mean]
            c = nxt
        return [[float(x) for x in row] for row in c]
    finally:
        _free_checkpoint(base)


def ivf_recall(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """ANN quality evaluation: per-query recall@k of IVF probing against
    the exact answer — the harness that tells you whether an
    (n_cells, nprobe) configuration is GOOD ENOUGH before you commit the
    corpus to an index layout. Returns (query_id, n_hit, recall_at_k)
    with recall = |exact_topk ∩ ivf_topk| / k, 4 dp.

    Both sides rank over ONE shared scored frame: the corpus is
    cell-assigned once (:func:`ivf_assign`), scored against the broadcast
    query set with a single 6-dp-rounded cosine expression, and the exact
    side is the unrestricted per-query top-k window while the approx side
    first restricts to each query's nprobe probe cells (driver-side
    :func:`ivf_probe_cells`, same arithmetic the SQL oracle inlines) —
    only probe coverage distinguishes them, BY CONSTRUCTION: identical
    scoring expression, identical rounding mode, identical
    (score desc, id asc) tie-break, so a recall delta can never be
    rounding/ordering noise. (This is why the exact side is NOT
    :func:`knn_join`: its numpy partial-top-k rounds half-to-even over a
    pre-normalized matmul, which on an exact .5·10⁻⁶ boundary could
    disagree with the JVM fold by one rank — fine for retrieval, fatal
    for a recall denominator.)

    Like :func:`knn_join` this is an EAGER, eval-time operator: the query
    side (an eval set — tens to thousands of rows by design) is collected
    ONCE for probe computation and broadcast back. The exact side pushes
    |corpus| × |Q| scored rows through the rank window — an offline
    eval-sweep shape, not a serving path (serve with :func:`knn_join` /
    :func:`ivf_topk`, which never materialize the cross product).
    """
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(
            f"nprobe must be in [1, {len(centroids)}]: {nprobe}"
        )
    from pyspark.sql import Window

    qrows = (
        queries.filter(F.col(query_vec_col).isNotNull())
        .select(
            F.col(query_id_col).alias("query_id"),
            _as_double(query_vec_col).alias("qv"),
        )
        .collect()
    )
    if not qrows:
        raise ValueError("queries side is empty (or all-NULL vectors)")
    spark = corpus.sparkSession
    probe_df = spark.createDataFrame(
        [
            (r["query_id"], int(c))
            for r in qrows
            for c in ivf_probe_cells(list(r["qv"]), centroids, nprobe)
        ],
        ["query_id", "cell"],
    )
    qdf = spark.createDataFrame(
        [(r["query_id"], [float(x) for x in r["qv"]]) for r in qrows],
        ["query_id", "qv"],
    )
    assigned = ivf_assign(
        corpus.filter(F.col(vec_col).isNotNull()), centroids, vec_col
    )
    v = _as_double(vec_col)
    den = norm(v) * norm(F.col("qv"))
    score = F.round(
        F.when(den == 0, F.lit(0.0)).otherwise(dot(v, F.col("qv")) / den), 6
    )
    scored = assigned.crossJoin(F.broadcast(qdf)).select(
        "query_id",
        F.col(id_col).alias("id"),
        "cell",
        score.alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id")
    )
    approx = (
        scored.join(F.broadcast(probe_df), ["query_id", "cell"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id")
    )
    hits = (
        exact.join(approx, ["query_id", "id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    return (
        qdf.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.lit(float(k)), 4
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def source_centroid_similarity(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1 << 20,
) -> DataFrame:
    """Per-source embedding centroid + cross-source centroid-cosine matrix —
    the vector-side provenance diagnostic beside the token-side per-source
    KL (X31) and the pair-level cross-source dup matrix (X39): which
    sources occupy the same embedding region (mixture redundancy, crawl
    overlap, template families) BEFORE committing to per-source mixture
    weights or caps.

    Exactness design (the V8/X43 fixed-point trick): each component is
    quantized to ``floor(x·scale)`` BIGINT — floor of an exact
    power-of-two product of the widened float is deterministic — so the
    per-(label, dim) SUM is exact integer math, independent of shuffle
    order, partitioning, and engine. Cosine is scale-invariant, so the
    centroid (sum/n) is replaced by the raw sum vector and the division
    by n cancels; the only IEEE arithmetic is the final fixed-order
    ``zip_with``/``aggregate`` dot folds over exactly-representable
    integers (|Σ| < 2⁵³ for any realistic corpus: unit-ish components
    quantized at 2²⁰ leave 2³² rows of headroom per source), which DuckDB
    replays index-for-index via ``list_inner_product``; 6-dp round per
    the cosine-family convention. Zero-norm centroid → NULL cosine.
    NULL rows (label or vector) are excluded; NULL elements contribute
    nothing to their dimension's sum in either engine (SUM skips NULL).
    Vectors must share one dimensionality (the embeddings-table contract).

    Output: one row per unordered label pair (label_a ≤ label_b,
    diagonal included — its 6-dp cosine is exactly 1.0, a built-in
    sanity row), with per-source counts.

    100 TB shuffle profile: ONE map-combined (label, dim) aggregation —
    the corpus never shuffles as rows, only ≤ |labels|·dim partial sums
    per task; per-label reassembly, counts, and the |labels|² pair join
    all operate on frames bounded by the (tiny) label cardinality, the
    pair join riding an explicit broadcast.
    """
    if scale <= 0:
        raise ValueError(f"scale must be positive, got {scale}")
    q = df.filter(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(label_col).alias("_lbl"),
        F.transform(
            _as_double(vec_col),
            lambda x: F.floor(x * F.lit(float(scale))).cast("long"),
        ).alias("_qv"),
    )
    sums = q.select("_lbl", F.posexplode("_qv").alias("_dim", "_val")).groupBy(
        "_lbl", "_dim"
    ).agg(F.coalesce(F.sum("_val"), F.lit(0)).alias("_s"))
    vecs = (
        sums.groupBy("_lbl")
        .agg(F.sort_array(F.collect_list(F.struct("_dim", "_s"))).alias("_ps"))
        .select(
            "_lbl",
            F.transform("_ps", lambda p: p["_s"].cast("double")).alias("_sv"),
        )
    )
    cnt = q.groupBy("_lbl").agg(F.count(F.lit(1)).alias("_n"))
    lv = vecs.join(cnt, "_lbl")
    a, b = lv.alias("a"), lv.alias("b")
    denom = norm(F.col("a._sv")) * norm(F.col("b._sv"))
    return a.join(
        F.broadcast(b), F.col("a._lbl") <= F.col("b._lbl")
    ).select(
        F.col("a._lbl").alias("label_a"),
        F.col("b._lbl").alias("label_b"),
        F.col("a._n").alias("n_a"),
        F.col("b._n").alias("n_b"),
        F.round(
            F.when(
                denom != F.lit(0.0),
                dot(F.col("a._sv"), F.col("b._sv")) / denom,
            ),
            6,
        ).alias("centroid_cos"),
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization (SURVEY §2.8 X64): the
    standard 4× storage/bandwidth compression applied to an embedding
    corpus before it is shipped to an ANN serving tier (FAISS
    ScalarQuantizer QT_8bit / the int8 path every public vector store
    exposes).

    Per vector: ``scale = max|x| / 127``; ``q_i = floor(x_i·127/max|x| +
    0.5)`` ∈ [−127, 127]. Returns ``(id, dim, max_abs, qvec)``; the
    consumer dequantizes as ``q_i · max_abs / 127``.

    Determinism: the quantizer is ``floor(x + 0.5)`` (round-half-up
    toward +∞), NOT ``round()`` — synthetic/integer-derived embeddings
    land exactly on .5 boundaries where Spark's shortest-decimal HALF_UP
    and DuckDB's binary ``round()`` disagree by one ulp (the X60
    lesson); ``floor`` of the identical IEEE double is engine-exact.
    ``max|x|`` is order-independent (a max fold), and each element's
    ``x·127/max`` is one fixed multiply-divide — no accumulation, so no
    fold-order hazard anywhere. The all-zero vector quantizes to zeros
    with ``max_abs = 0`` (no division is evaluated for it); NULL vectors
    pass through as NULL with ``dim`` NULL.

    Scale shape at 100 TB: completely NARROW — one ``transform`` over
    the vector column, zero Exchange/Window/Join (plan-pinned); fuses
    into whatever scan reads the embeddings, and the int8 output is the
    thing that makes the downstream shuffle/broadcast 4× cheaper.
    """
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v)))
    q = F.when(F.col(vec_col).isNull(), F.lit(None)).otherwise(
        F.when(
            max_abs == 0.0,
            F.transform(x, lambda v: F.lit(0)),
        ).otherwise(
            F.transform(
                x,
                lambda v: F.floor(v * F.lit(127.0) / max_abs + F.lit(0.5))
                .cast("int"),
            )
        )
    )
    return df.select(
        F.col(id_col).alias("id"),
        # explicit NULL guard rather than relying on size(NULL) = NULL
        # (ANSI) vs -1 (legacy sizeOfNull) semantics
        F.when(F.col(vec_col).isNotNull(), F.size(F.col(vec_col)))
        .alias("dim"),
        F.when(F.col(vec_col).isNotNull(), max_abs).alias("max_abs"),
        q.alias("qvec"),
    )
