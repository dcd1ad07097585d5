"""Edit-distance (Levenshtein) near-duplicate detection.

The one classic dedup metric the shingle/hash families (operators/dedup.py)
don't cover: character-level edit distance catches near-identical documents
that differ by scattered single-character noise — OCR artifacts, encoding
mojibake, typo-level divergence — where token-shingle Jaccard stays high
but exact/fingerprint dedup misses. The reference corrects such noise one
document at a time (alfalaq12/OCR ``dictionary_corrector.py`` fuzzy match);
this operator finds the cross-document pairs at corpus scale.

Candidate generation is the PassJoin pigeonhole scheme (Li, Deng, Feng,
Wang — "PassJoin: a partition-based method for similarity joins", VLDB
2012, public literature): partition the smaller string of a pair into
``max_dist + 1`` contiguous segments; if the pair is within ``max_dist``
edits, at least one segment survives the alignment untouched and therefore
occurs VERBATIM in the larger string, start position shifted by at most
``max_dist``. Both sides of that claim enumerate as narrow per-row
projections (segments for the "smaller" role, position-windowed substrings
for the "larger" role), meet in ONE equi-join on (smaller-length, segment
index, chunk text), and every surviving unordered pair is verified with an
exact banded Levenshtein DP — completeness is exact, so the DuckDB oracle
is plain brute force under the |Δlen| <= max_dist necessary condition.

Scale shape at 100 TB: candidate generation is one hash shuffle on the
(l, i, chunk) key — the same posting-list cost class as the MinHash/LSH
families, with emission bounded by (d+1)²·(2d+1) rows per document
(d = max_dist; ~45 rows/doc at d=2). Verification is an Arrow-batched
banded DP: O(d · len) per candidate, never the O(len²) full matrix. The
known hazard is a HOT CHUNK (a boilerplate segment shared corpus-wide)
making one join bucket quadratic — same failure mode as a hot LSH bucket;
compose with :func:`ocr_spark.operators.curation.line_strip` upstream or
cap chunk document-frequency (a cap breaks the exact-oracle contract, so
it is not applied by default). Plain length blocking (|Δlen| <= d is
necessary for ED <= d) is exact too, but a length bucket concentrates the
whole corpus at web scale, so it only serves the tiny-length slice the
pigeonhole cannot cover.
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.explode import explode_nonnull


def banded_levenshtein(a: str, b: str, max_dist: int):
    """Exact unit-cost Levenshtein distance if <= max_dist, else None —
    Ukkonen's band: only cells within ``max_dist`` of the diagonal can
    stay <= max_dist, so each row costs O(2·max_dist+1) with early exit
    when the whole band exceeds the threshold."""
    la, lb = len(a), len(b)
    if la > lb:
        a, b, la, lb = b, a, lb, la
    if lb - la > max_dist:
        return None
    if la == 0:
        return lb if lb <= max_dist else None
    inf = max_dist + 1
    prev = [j if j <= max_dist else inf for j in range(lb + 1)]
    for i in range(1, la + 1):
        lo = max(1, i - max_dist)
        hi = min(lb, i + max_dist)
        cur = [inf] * (lb + 1)
        if i <= max_dist:
            cur[0] = i
        ca = a[i - 1]
        best = inf
        for j in range(lo, hi + 1):
            v = prev[j - 1] + (0 if ca == b[j - 1] else 1)
            up = prev[j] + 1
            if up < v:
                v = up
            left = cur[j - 1] + 1
            if left < v:
                v = left
            if v < inf:
                cur[j] = v
                if v < best:
                    best = v
        if best > max_dist:
            return None
        prev = cur
    return prev[lb] if prev[lb] <= max_dist else None


def _with_seg_params(df: DataFrame, p: int) -> DataFrame:
    """Segment length/start columns for segment index ``i`` of a string of
    length ``l`` split into ``p`` even parts (PassJoin layout: the last
    ``l mod p`` segments are one char longer). Pure integer projections."""
    return (
        df.withColumn("_base", F.expr(f"l div {p}"))
        .withColumn("_rem", F.expr(f"l % {p}"))
        .withColumn(
            "seglen", F.expr(f"_base + IF(i >= {p} - _rem, 1, 0)")
        )
        .withColumn(
            "segstart", F.expr(f"i * _base + greatest(0, i - ({p} - _rem))")
        )
    )


def _segment_candidates(base: DataFrame, d: int) -> DataFrame:
    """Unordered candidate pairs (id_a < id_b) via the PassJoin pigeonhole:
    complete for every pair within d edits whose smaller member has
    length >= d+1; shorter strings route through the tiny-length channel
    in :func:`edit_distance_near_dup`."""
    p = d + 1
    idx = F.explode(F.sequence(F.lit(0), F.lit(d)))
    # "smaller" role: the d+1 segments of each document
    segs = (
        base.filter(F.col("len") >= p)
        .select("id", F.col("len").alias("l"), "text", idx.alias("i"))
        .transform(lambda df: _with_seg_params(df, p))
        .select(
            F.col("id").alias("_id_s"),
            "l",
            "i",
            F.expr("substring(text, segstart + 1, seglen)").alias("chunk"),
        )
        .dropDuplicates(["_id_s", "l", "i", "chunk"])
    )
    # "larger" role: for each candidate smaller-length l = len-o, every
    # substring of segment-i length within ±d of the segment's position
    subs = (
        base.select("id", "len", "text", idx.alias("o"))
        .withColumn("l", F.col("len") - F.col("o"))
        .filter(F.col("l") >= p)
        .select("id", "len", "text", "l", idx.alias("i"))
        .transform(lambda df: _with_seg_params(df, p))
        .withColumn(
            "pos",
            F.explode(
                F.sequence(
                    F.expr(f"greatest(0, segstart - {d})"),
                    F.expr(f"least(len - seglen, segstart + {d})"),
                )
            ),
        )
        .select(
            F.col("id").alias("_id_l"),
            "l",
            "i",
            F.expr("substring(text, pos + 1, seglen)").alias("chunk"),
        )
        .dropDuplicates(["_id_l", "l", "i", "chunk"])
    )
    return (
        segs.join(subs, ["l", "i", "chunk"])
        .filter(F.col("_id_s") != F.col("_id_l"))
        .select(
            F.least("_id_s", "_id_l").alias("id_a"),
            F.greatest("_id_s", "_id_l").alias("id_b"),
        )
        .distinct()
    )


def _length_candidates(base: DataFrame, d: int) -> DataFrame:
    """Unordered candidate pairs under the |Δlen| <= d necessary condition
    via a bucketed interval equi-join (the operators/joins.py keyless
    range-join rewrite): width 2d+1 buckets, the point side sits in one
    bucket, the interval side emits its <= 2 covered buckets, a pair meets
    exactly once per direction and the lexicographic (len, id) filter
    keeps one — no BroadcastNestedLoopJoin, no distinct needed."""
    w = 2 * d + 1
    pts = base.select(
        F.col("id").alias("_id_p"),
        F.col("len").alias("_len_p"),
        F.expr(f"len div {w}").alias("bucket"),
    )
    ivl = explode_nonnull(
        base.select(
            F.col("id").alias("_id_i"),
            F.col("len").alias("_len_i"),
            F.expr(f"sequence(greatest(0, len - {d}) div {w}, (len + {d}) div {w})").alias(
                "_bks"
            ),
        ),
        "_bks",
        "bucket",
        "_id_i",
        "_len_i",
    )
    return (
        pts.join(ivl, "bucket")
        .filter(
            F.struct(F.col("_len_p"), F.col("_id_p"))
            < F.struct(F.col("_len_i"), F.col("_id_i"))
        )
        .filter(F.abs(F.col("_len_p") - F.col("_len_i")) <= d)
        .select(
            F.least("_id_p", "_id_i").alias("id_a"),
            F.greatest("_id_p", "_id_i").alias("id_b"),
        )
    )


def edit_distance_near_dup(
    df: DataFrame,
    max_dist: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All unordered document pairs within ``max_dist`` unit-cost edits
    (insert/delete/substitute), exactly: ``(id_a, id_b, dist)`` with
    id_a < id_b and dist the true Levenshtein distance. NULL texts are
    excluded (no edit distance is defined against NULL); empty strings
    participate (ED('', t) = len(t)).

    Candidates are PassJoin pigeonhole segments — the 100 TB shape (see
    module docstring) — and every candidate is verified with the exact
    banded DP, so the result matches the DuckDB brute-force oracle
    bit-for-bit (dist is an exact integer; no floats anywhere)."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    d = max_dist
    base = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .filter(F.col("text").isNotNull())
        .withColumn("len", F.length("text"))
    )
    # tiny-length channel: the pigeonhole needs the smaller string to
    # have >= d+1 chars (else segments go empty); pairs whose smaller
    # member is shorter route through the exact length generator over
    # the (corpus-tiny) len <= 2d slice, where both members must live
    tiny = base.filter(F.col("len") <= 2 * d)
    cand = _segment_candidates(base, d).union(
        _length_candidates(tiny, d)
    ).distinct()

    texts_a = base.select(
        F.col("id").alias("id_a"), F.col("text").alias("_ta")
    )
    texts_b = base.select(
        F.col("id").alias("id_b"), F.col("text").alias("_tb")
    )
    pairs = cand.join(texts_a, "id_a").join(texts_b, "id_b").select(
        "id_a", "id_b", "_ta", "_tb"
    )
    id_type = dict(df.dtypes)[id_col]
    schema = f"id_a {id_type}, id_b {id_type}, dist int"

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_a, ids_b, dists = [], [], []
            for ida, idb, ta, tb in zip(
                pdf["id_a"], pdf["id_b"], pdf["_ta"], pdf["_tb"]
            ):
                dist = banded_levenshtein(ta, tb, d)
                if dist is not None:
                    ids_a.append(ida)
                    ids_b.append(idb)
                    dists.append(dist)
            yield pd.DataFrame(
                {"id_a": ids_a, "id_b": ids_b, "dist": dists}
            ).astype({"dist": "int32"})

    return pairs.mapInPandas(verify, schema)
