"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline dedup re-expressed Spark-first. Design rules:

* **Signatures are computed narrowly** — shingling, MinHash, and SimHash are
  per-row array expressions (or one Arrow-batched pandas UDF for SimHash's
  bit arithmetic); no shuffle until the bucket/group stage, so the expensive
  part scales at scan speed.
* **The only shuffles are on small keys** (hash / band bucket / token), all
  AQE-coalesced; candidate verification joins are self-joins on bucket keys
  whose groups are tiny by construction (band width tunes the bucket size).
* **Deterministic hashing via md5** — portable across Spark, DuckDB (the
  correctness oracle), and Python. A fixed-width lowercase-hex prefix of an
  md5 compares lexicographically identically to its numeric value, so
  ``min(hex)`` IS MinHash without any integer conversion.

At 100 TB: exact dedup is one hash-aggregate (map-side partial combine);
MinHash-LSH is the standard near-dup pipeline (shingle → signature →
band → bucket-join) whose shuffle volume is #docs × #bands small fixed-width
keys — independent of document length; pairwise verification touches only
same-bucket candidates.
"""
from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ocr_spark.functions.explode import explode_nonnull, posexplode_nonnull
from ocr_spark.functions.hashing import md5_mod
from ocr_spark.operators.textstats import tokens

# ---------------------------------------------------------------------------
# Exact dedup.
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate grouping: one row per distinct text with the keeper id
    (min id — deterministic) and the duplicate count.

    One hash-aggregate on ``md5(text)`` — partial map-side combine means the
    shuffle carries one row per distinct text per input partition, not one
    per document. Grouping on the 32-char digest, not the full text, keeps
    shuffle rows fixed-width even for multi-MB documents.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash.
# ---------------------------------------------------------------------------


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined k-grams of a token-array
    column), distinct — built entirely from array expressions: transform
    over a 0..n-k index sequence slicing the token array; narrow,
    codegen'd, no explode. Fewer than k tokens → the full token join (a
    single shingle) so short docs still dedup.

    ``toks`` should be a STAGED column (its own projection), not an inline
    ``tokens(...)`` call: this expression references it 4× and higher-
    order-function trees get no codegen subexpression elimination, so an
    inline tokenize runs 4× per row (measured 40% of minhash_near_dup's
    sf0.1 wall time). The multi-reference also stops Catalyst's
    CollapseProject from inlining the staged alias, which is what makes
    the one-projection barrier stick."""
    n = F.size(toks)
    full = F.array(F.array_join(toks, " "))
    grams = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.array_distinct(F.when(n >= k, grams).otherwise(full))


def shingles(text_col: str = "text", k: int = 3) -> Column:
    """Inline-tokenize form of :func:`shingles_from_tokens` — fine for
    tests and one-off expressions; operators on the hot path must stage
    the token array instead (see shingles_from_tokens)."""
    return shingles_from_tokens(tokens(text_col), k)


def shingle_ids_from_tokens(toks: Column, k: int = 3) -> Column:
    """Array of 60-bit shingle keys from a STAGED token-array column: the
    md5-prefix hash shared by the Jaccard / decontamination / curation
    family (ONE definition — the DuckDB oracles reproduce this exact
    arithmetic, so a width change here must land everywhere at once,
    which is the point of the helper)."""
    return F.transform(
        shingles_from_tokens(toks, k),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )


#: postings up to this size emit their pair set as one flattened array
#: (fastest); larger ones stream one left-member per row so a single
#: unsafe row never buffers O(bucket²) structs
FLAT_PAIRS_MAX = 1024


def posting_pairs(
    posting: DataFrame,
    docs_col: str,
    builder,
    max_posting: int | None = None,
) -> DataFrame:
    """i<j member pairs from each posting's array — ONE shared definition
    for the whole LSH/Jaccard family. ``builder(a, b)`` maps the two
    member columns to output columns.

    Buffering shape is chosen STATICALLY from the caller's posting-size
    bound: when a cap ≤ FLAT_PAIRS_MAX is in force, every pair set fits
    comfortably in one flattened array expression (measured fastest).
    Without that bound — the exact/uncapped configurations — a hot
    posting's O(bucket²) pair structs would overflow a single unsafe row
    (the 2 GB limit lands near 10⁴ members), so pairs stream one left
    member per row via posexplode + per-row tail slice: ~1.5× slower on
    small postings, but memory is O(bucket) per row at any skew. The pair
    VOLUME is inherent and identical either way."""
    if max_posting is not None and max_posting <= FLAT_PAIRS_MAX:
        pair_expr = F.flatten(
            F.transform(
                F.col(docs_col),
                lambda a, i: F.transform(
                    F.slice(F.col(docs_col), i + 2, F.size(F.col(docs_col))),
                    lambda b: F.struct(*builder(a, b)),
                ),
            )
        )
        # explode_nonnull (never inner explode — the array here is the
        # full n² pair set; see functions/explode.py for the measured
        # per-output-row re-evaluation hazard)
        return explode_nonnull(
            posting.filter(F.size(docs_col) >= 2), pair_expr, "_p"
        ).select("_p.*")
    exploded = posting.filter(F.size(docs_col) >= 2).select(
        F.col(docs_col).alias("_docs"),
        F.posexplode(docs_col).alias("_i", "_a"),
    )
    tails = explode_nonnull(
        exploded,
        F.slice(F.col("_docs"), F.col("_i") + 2, F.size("_docs")),
        "_b",
        "_a",
    )
    return tails.select(*builder(F.col("_a"), F.col("_b")))


def band_buckets(signature_col: str, n_bands: int) -> Column:
    """Banded bucket digests for a MinHash signature: md5 over the
    '|'-joined stringified band slice, one digest per band. ONE definition
    shared by candidate generation and the fused near-dup pipeline — the
    SQL oracles reproduce this arithmetic bit-for-bit, so any change must
    land everywhere at once."""
    sig = F.col(signature_col)
    width = (F.size(sig) / n_bands).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.md5(
            F.array_join(
                F.transform(
                    F.slice(sig, b * width + 1, width),
                    lambda x: x.cast("string"),
                ),
                "|",
            )
        ),
    )


#: sentinel larger than any reachable hash value (gᵢ < MINHASH_P < 2^61)
_MINHASH_INIT = 1 << 62

#: Mersenne prime 2^61 − 1: the modulus of the 2-universal MinHash family
MINHASH_P = (1 << 61) - 1


def minhash_coefficients(n_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (aᵢ, bᵢ) pairs for the Carter-Wegman family
    gᵢ(h) = (aᵢ·h + bᵢ) mod (2^61 − 1), derived from md5 of (seed, i) so
    Spark, the DuckDB oracles, and any other engine reproduce the exact
    same permutations without sharing state.

    Range note: a and b come from 15 hex chars (60 bits), so they cover
    [1, 2^60] / [0, 2^60) rather than the full [1, p−1] — the family is
    uniform over a 60-bit coefficient subrange, not strictly 2-universal
    over GF(p). Harmless for the minwise estimator (the per-position
    rankings are still ~independent permutations), and the 60-bit draw is
    FROZEN: widening to 16 hex chars would change every shipped oracle
    hash for no estimator benefit."""
    coeffs = []
    for i in range(n_hashes):
        d = hashlib.md5(f"minhash-{seed}-{i}".encode()).hexdigest()
        a = int(d[:15], 16) % (MINHASH_P - 1) + 1  # a ∈ [1, 2^60] (see note)
        b = int(d[15:30], 16) % MINHASH_P  # b ∈ [0, 2^60)
        coeffs.append((a, b))
    return coeffs


def _mod61(x):
    """Fully-reduced ``x mod 2^61-1`` for a uint64 array (any value):
    fold twice on 2^61 ≡ 1, then one conditional subtract."""
    import numpy as np

    P = np.uint64(MINHASH_P)
    s = np.uint64(61)
    x = (x & P) + (x >> s)
    x = (x & P) + (x >> s)
    return np.where(x >= P, x - P, x)


def _cw_mulmod(a: int, b: int, h):
    """Exact ``(a·h + b) mod 2^61-1`` over a uint64 array of 60-bit base
    hashes, schoolbook-split so no intermediate exceeds 2^64: with
    a = a₁·2³¹+a₀ and h = h₁·2³¹+h₀,
    a·h = a₁h₁·2⁶² + (a₁h₀+a₀h₁)·2³¹ + a₀h₀, and the Mersenne prime
    gives 2⁶² ≡ 2, 2⁶¹ ≡ 1 for constant-shift reductions. Bit-identical
    to the decimal(38,0) JVM arithmetic and the oracle's HUGEINT
    (pytest-pinned against plain Python ints)."""
    import numpy as np

    mask31 = np.uint64((1 << 31) - 1)
    mask30 = np.uint64((1 << 30) - 1)
    a1 = np.uint64(a >> 31)
    a0 = np.uint64(a & ((1 << 31) - 1))
    h1 = h >> np.uint64(31)
    h0 = h & mask31
    t2 = (a1 * h1) << np.uint64(1)
    mid = a1 * h0 + a0 * h1
    midterm = (mid >> np.uint64(30)) + ((mid & mask30) << np.uint64(31))
    return _mod61(t2 + midterm + a0 * h0 + np.uint64(b))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """(id, signature array<long>) — ``n_hashes`` MinHash values per doc.

    Single-pass construction: ONE md5 per shingle yields a 60-bit base
    hash h (:func:`shingle_ids_from_tokens`, JVM-side); the per-position
    functions are a true 2-universal family
    gᵢ(h) = (aᵢ·h + bᵢ) mod (2^61 − 1) (Carter-Wegman; Broder's minwise
    estimator needs the per-position RANKINGS to be ~independent
    permutations). The n_hashes mins run in ONE Arrow batch UDF
    (:func:`_arrow_signatures`) as vectorized uint64 Mersenne mulmods
    (:func:`_cw_mulmod`) — exact integer math, no floats, so the SQL
    oracle reproduces every signature in HUGEINT. n_hashes vectorized
    passes per batch instead of ~shingles×n_hashes interpreted
    decimal(38,0) ops per doc: measured 59.1 → 11.8 s for 16 hashes over
    50k docs (sf1) against the all-JVM aggregate+zip_with fold, which
    pytest keeps as the bit-for-bit reference. A narrow map — no
    shuffle, partitioning untouched.

    A NOTE ON THE FAMILY: the cheaper-looking gᵢ = h1 + i·h2 (Kirsch-
    Mitzenmacher double hashing, with h2 a 40-bit word of the same md5)
    is fine for Bloom-filter BUCKETS but degenerate for MinHash — with
    i·h2 < 2^44 against h1's 2^60 spread, the same argmin shingle wins
    every position, collapsing all n positions into ONE effective hash:
    two documents sharing just their min-h1 shingle score sig_sim = 1.0
    (measured: ~9×10⁵ false near-dup pairs on a 50k-doc corpus that has
    ~3×10⁴ true ones — the sf1 tier caught it).
    Jaccard(a,b) ≈ fraction of equal positions.
    """
    coeffs = minhash_coefficients(n_hashes)
    id_type = df.schema[id_col].dataType
    # stage the token array behind an eval barrier: the shingle expression
    # references it 4× and interpreted HOF trees re-run each reference, so
    # an inline tokenize costs 4 regexes per row (measured ~40% of the
    # sf0.1 near-dup wall time before this staging)
    hashed = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_mh_toks")
    ).select(
        "id",
        shingle_ids_from_tokens(F.col("_mh_toks"), k).alias("_mh_base"),
    )
    return _arrow_signatures(hashed, id_type, coeffs)


def _arrow_signatures(hashed: DataFrame, id_type, coeffs) -> DataFrame:
    """MinHash mins over pre-hashed shingle arrays (see
    :func:`minhash_signatures`). Per Arrow batch: concatenate
    every row's base-hash array into one uint64 vector, run each
    Carter-Wegman function over it once (:func:`_cw_mulmod`), and
    ``minimum.reduceat`` at the row offsets — n_hashes vectorized passes
    regardless of document count. NULL elements are dropped and
    NULL/empty arrays yield the INIT sentinel signature — the NULL
    semantics of a ``least`` fold from INIT, bit-identical to the
    decimal(38,0) reference fold in pytest."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id", id_type),
            StructField("signature", ArrayType(LongType())),
        ]
    )
    init_sig = [_MINHASH_INIT] * len(coeffs)

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            arrs = []
            lens = np.zeros(len(pdf), dtype=np.int64)
            for i, v in enumerate(pdf["_mh_base"]):
                if v is None:
                    continue
                a = np.asarray(v)
                if a.dtype != np.int64:  # NULL elements came through Arrow
                    a = a[pd.notna(a)].astype(np.int64)
                if a.size:
                    arrs.append(a)
                    lens[i] = a.size
            sigs = [init_sig] * len(pdf)
            if arrs:
                cat = np.concatenate(arrs).astype(np.uint64)
                nonempty = np.nonzero(lens)[0]
                starts = np.zeros(len(nonempty), dtype=np.int64)
                np.cumsum(lens[nonempty][:-1], out=starts[1:])
                mins = np.empty((len(nonempty), len(coeffs)), dtype=np.int64)
                for j, (a, b) in enumerate(coeffs):
                    g = _cw_mulmod(a, b, cat)
                    mins[:, j] = np.minimum.reduceat(g, starts).astype(
                        np.int64
                    )
                for row_i, sig_row in zip(nonempty, mins):
                    sigs[row_i] = sig_row.tolist()
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "signature": sigs})

    return hashed.mapInPandas(gen, out_schema)


def lsh_candidate_pairs(
    signatures: DataFrame, n_bands: int = 4, max_bucket_size: int | None = None
) -> DataFrame:
    """Banded LSH: split each signature into ``n_bands`` contiguous bands,
    bucket on (band index, band content), self-join buckets → candidate
    pairs (id_a < id_b), deduplicated across bands.

    The shuffle key is a fixed-width digest; bucket groups are small unless
    documents truly collide, which is the point. Physical shape: POSTING
    LISTS — one groupBy on (band, bucket) collects member ids, then each
    posting's i<j pairs come from an array expression. One shuffle of the
    banded rows instead of a two-sided self-join (measured faster, same
    pairs bit-for-bit).

    ``max_bucket_size`` is the hot-bucket cap: buckets holding more members
    than the cap (boilerplate-identical bands — n² pair rows each) are
    dropped before pair generation — a free posting-size filter, the
    standard LSH stop-bucket guard. Pairs relying only on an over-cap
    bucket are lost (documented recall trade-off); a bucket that big means
    the docs are near-identical and will still collide in other bands."""
    bands = posexplode_nonnull(
        signatures, band_buckets("signature", n_bands), "band", "bucket", "id"
    )
    posting = bands.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("id")).alias("docs")
    )
    if max_bucket_size is not None:
        posting = posting.filter(F.size("docs") <= max_bucket_size)
    return posting_pairs(
        posting,
        "docs",
        lambda a, b: [a.alias("id_a"), b.alias("id_b")],
        max_posting=max_bucket_size,
    ).distinct()


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    signature-similarity verification (fraction of equal positions ≥
    threshold). ``max_bucket_size`` is the hot-bucket cap (see
    :func:`lsh_candidate_pairs`). Returns (id_a, id_b, sig_sim).

    Single-pass physical shape: the banded rows CARRY the signature into
    the (band, bucket) posting lists, so verification happens inline in
    the pair expression — one shuffle total, no signature re-join, no
    ``.cache()`` (the signature subtree is consumed exactly once). A pair
    colliding in several bands is verified once per collision and deduped
    by the final distinct — cheaper than two shuffle joins as long as
    signatures are short (they are: n_hashes longs)."""
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, k)
    bands = posexplode_nonnull(
        sigs,
        band_buckets("signature", n_bands),
        "band",
        "bucket",
        "id",
        "signature",
    )
    posting = bands.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list(F.struct("id", "signature"))).alias("docs")
    )
    if max_bucket_size is not None:
        posting = posting.filter(F.size("docs") <= max_bucket_size)

    def pair(a, b):
        sim = F.round(
            F.size(
                F.filter(
                    F.zip_with(
                        a["signature"], b["signature"], lambda x, y: x == y
                    ),
                    lambda eq: eq,
                )
            )
            / F.size(a["signature"]),
            6,
        )
        return [
            a["id"].alias("id_a"),
            b["id"].alias("id_b"),
            sim.alias("sig_sim"),
        ]

    return (
        posting_pairs(posting, "docs", pair, max_posting=max_bucket_size)
        .distinct()
        .filter(F.col("sig_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# n-gram (token-set) Jaccard — exact pairwise similarity via token join.
# ---------------------------------------------------------------------------


def jaccard_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard over pairs sharing ≥1 shingle.

    explode(shingles) → self-join on shingle → groupBy pair → |∩| /
    (|a|+|b|-|∩|). The join key is the shingle's 60-bit md5 prefix (same
    value the MinHash family uses), not the string — fixed-width longs
    shuffle and compare ~2× faster than shingle text, at a ~2⁻⁴⁰ collision
    rate that the SQL oracle reproduces bit-for-bit.

    ``max_doc_freq`` is the hot-shingle cap: a shingle present in n
    documents yields n² join rows, so one boilerplate shingle shared by 10⁶
    docs is a job-killer at scale. With the cap, shingles whose document
    frequency exceeds it are removed from the shingle UNIVERSE (both the
    intersection and the per-doc set sizes — the standard stop-shingle
    semantics, so Jaccard stays a true set similarity over the filtered
    sets); the drop is a groupBy-count + broadcast anti-join, no driver
    materialization. With ``max_doc_freq=None`` (the oracle configuration)
    results are the exact unfiltered Jaccard.

    Exact but O(pairs-sharing-a-shingle) — the LSH variant above is the
    scale path; this one is the precision oracle/verifier. Returns
    (id_a, id_b, jaccard).

    Physical shape: POSTING LISTS, not a self-join — group the exploded
    (shingle, doc) rows once, then emit each posting's i<j pairs with an
    array expression. One shuffle of the exploded data instead of two join
    sides (measured 1.85× faster at sf0.1, byte-identical results). The
    cap becomes a free posting-size filter; the dropped shingles'
    contribution to per-doc set sizes is subtracted back via the (small)
    hot-membership counts, so capped Jaccard is still an exact set
    similarity over the filtered universe."""
    sized = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_ja_toks")
    ).select(
        "id", shingle_ids_from_tokens(F.col("_ja_toks"), k).alias("sh")
    )
    sized = explode_nonnull(
        sized, "sh", "shingle", "id", F.size("sh").alias("n_sh")
    )
    return jaccard_pairs_from_exploded(sized, threshold, max_doc_freq)


def jaccard_pairs_from_exploded(
    sized: DataFrame,
    threshold: float,
    max_doc_freq: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """The posting-list set-similarity core over a pre-built exploded
    frame (id, n_sh, shingle) — callers that already materialized the
    shingle explosion (the curation pipeline shares it with
    decontamination) skip recomputing the tokenize+hash pass.

    ``metric='jaccard'`` scores |∩|/|∪| (symmetric resemblance);
    ``metric='containment'`` scores |∩|/min(|a|,|b|) — the asymmetric
    measure that catches a small document wholly embedded in a larger one,
    which Jaccard dilutes by the size gap (Broder's containment, the
    partial-dup test web-corpus pipelines run beside resemblance). Same
    pair generation, same hot-key cap semantics, only the final expression
    differs. Returns (id_a, id_b, <metric>).

    Pair generation runs over SURROGATE LONG ids, not the caller's id
    strings: the candidate-pair stream is the only O(Σ bucket²) dataset in
    the job, and emitting it as bare 8-byte longs instead of string
    structs measured ~100× faster generation on the sf1 winnowing
    postings (255M candidates: 148 s → 1.5 s) with ~3× fewer shuffled
    bytes into the pair-count aggregate. The dictionary (one row per doc)
    is assigned by ``monotonically_increasing_id`` and pinned with an
    eager ``localCheckpoint`` — surrogate stability across the plan's
    multiple dictionary references must not depend on shuffle-order
    determinism — which makes the call trigger one small job at build
    time (the same documented trade as cluster resolution's
    checkpoints). Dictionary joins are left to AQE: broadcast when the
    doc count is small, shuffle join at the 10⁹-doc scale where a
    broadcast dictionary would not fit. Output pairs re-canonicalize to
    id_a < id_b in STRING order, so results are byte-identical to the
    direct string-keyed implementation this replaced."""
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"unknown metric {metric!r}")
    dic = (
        sized.select("id", "n_sh")
        .distinct()
        .withColumn("_iid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    keyed = sized.join(dic.select("id", "_iid"), "id").select(
        "_iid", "shingle"
    )
    posting = keyed.groupBy("shingle").agg(
        F.array_sort(F.collect_list("_iid")).alias("docs")
    )
    hot_counts = None
    if max_doc_freq is not None:
        hot = posting.filter(F.size("docs") > max_doc_freq)
        posting = posting.filter(F.size("docs") <= max_doc_freq)
        # per-doc count of dropped (hot) shingles: each hot shingle is one
        # posting, so exploding the hot postings counts exact membership
        hot_counts = (
            explode_nonnull(hot, "docs", "_iid")
            .groupBy("_iid")
            .agg(F.count(F.lit(1)).alias("n_hot"))
        )
    # streamed i<j pair emission — one left member per row + tail slice
    # over the plain long array, no structs: memory stays O(bucket) per
    # row at any skew, and the long-array shape beat the flat struct
    # array posting_pairs uses for payload-carrying callers (1.5 s vs
    # 6.2 s generating the sf1 winnow candidates)
    ex = posting.filter(F.size("docs") >= 2).select(
        F.col("docs").alias("_docs"), F.posexplode("docs").alias("_i", "ia")
    )
    pairs = explode_nonnull(
        ex, F.slice("_docs", F.col("_i") + 2, F.size("_docs")), "ib", "ia"
    ).select("ia", "ib")
    inter = pairs.groupBy("ia", "ib").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    sizes = dic
    if hot_counts is not None:
        # correct set sizes to the capped universe: |S \ hot| = |S| - |S∩hot|
        sizes = dic.join(hot_counts, "_iid", "left").select(
            "id",
            "_iid",
            (F.col("n_sh") - F.coalesce("n_hot", F.lit(0))).alias("n_sh"),
        )
    side_a = sizes.select(
        F.col("_iid").alias("ia"),
        F.col("id").alias("_id_a"),
        F.col("n_sh").alias("na"),
    )
    side_b = sizes.select(
        F.col("_iid").alias("ib"),
        F.col("id").alias("_id_b"),
        F.col("n_sh").alias("nb"),
    )
    inter = inter.join(side_a, "ia").join(side_b, "ib")
    if metric == "containment":
        score = F.round(F.col("n_common") / F.least("na", "nb"), 6)
    else:
        score = F.round(
            F.col("n_common")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
            6,
        )
    return inter.select(
        F.least("_id_a", "_id_b").alias("id_a"),
        F.greatest("_id_a", "_id_b").alias("id_b"),
        score.alias(metric),
    ).filter(F.col(metric) >= threshold)


def winnow_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int | None = None,
    w: int | None = None,
    max_doc_freq: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over winnowing fingerprint sets
    (textstats.with_winnow_fingerprints — the MOSS scheme): documents
    sharing any ≥ k+w-1-char normalized substring share fingerprints, so
    this catches partial/char-level copies the word-shingle family dilutes.

    Scale shape: identical posting-list core and hot-key cap as
    :func:`jaccard_near_duplicates`, but the winnowing window subsamples
    the gram stream ~w× (only window minima survive), so the posting
    explosion shuffles ~1/w the rows of char-gram shingling for the same
    substring detection guarantee. Returns (id_a, id_b, jaccard) over the
    fingerprint sets."""
    from ocr_spark.operators.textstats import (
        WINNOW_K,
        WINNOW_W,
        with_winnow_fingerprints,
    )

    fps = with_winnow_fingerprints(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        text_col,
        k if k is not None else WINNOW_K,
        w if w is not None else WINNOW_W,
    )
    # explode_nonnull, NOT plain explode — this is the site where the
    # per-output-row re-evaluation hazard was measured at 200x (100.7 s
    # vs 0.5 s for 50 docs); see functions/explode.py
    sized = explode_nonnull(
        fps, "winnow", "shingle", "id", F.size("winnow").alias("n_sh")
    )
    return jaccard_pairs_from_exploded(sized, threshold, max_doc_freq, metric)


#: ExactSubstr default: a substring must be ≥ 50 chars and occur ≥ 2 times
#: corpus-wide to be stripped (Lee et al. 2022 use 50 BPE tokens; chars keep
#: the operator tokenizer-free and the spans exact on the raw text)
EXACT_SUBSTR_MIN_LEN = 50


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = EXACT_SUBSTR_MIN_LEN,
) -> DataFrame:
    """Span-level exact-substring duplicate detection — the ExactSubstr
    method of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", ACL'22) re-expressed relationally: a char position is
    duplicated iff the ``min_len``-gram starting there occurs ≥ 2 times in
    the CORPUS (any substring of length ≥ min_len occurring twice makes all
    its min_len-grams occur twice, so the union of duplicated-gram spans is
    exactly the union of all duplicated substrings of length ≥ min_len —
    the paper's removal set, without its monolithic suffix array).

    Returns one row per document that contains at least one duplicated
    span: (id, dup_spans array<struct<s,e>> half-open 1-based char
    intervals sorted ascending, n_dup_spans, dup_chars). Self-repeats
    count: a substring occurring twice WITHIN one document is duplicated,
    matching the paper.

    Scale shape: the gram stream is O(total corpus chars) rows — the same
    cost class as the paper's suffix array, but embarrassingly parallel
    instead of a single sorted structure. Three shuffles total: (1) the
    duplicated-gram dictionary via groupBy(hash).count ≥ 2 — map-side
    partial combine absorbs hot boilerplate grams before the exchange;
    (2) one join of the (id, pos, hash) stream against that dictionary
    (AQE broadcasts it when small, skew-splits hot grams otherwise);
    (3) groupBy(id) over COVERED positions only (bounded per doc by doc
    length — the same memory class as the document itself). Interval
    merging and span arithmetic are narrow JVM array expressions. Gram
    hashes use the family's 60-bit md5-prefix key (one md5 per char
    position — the same per-char hashing budget as winnowing): at 10¹⁴
    grams the birthday bound yields ~4×10⁶ false-positive positions
    corpus-wide (≪ one per million docs, each costing ≤ min_len spuriously
    stripped chars — one-sided, never false negatives); deployments that
    cannot accept that widen the key to the full md5 hex."""
    if min_len <= 0:
        raise ValueError(f"min_len must be positive, got {min_len}")
    text, L = F.col(text_col), min_len
    # stage 1 (narrow): per-row gram-hash array, one projection so the
    # text is substring-hashed exactly once per position
    grams = F.when(
        F.length(text) >= L,
        F.transform(
            F.sequence(F.lit(1), F.length(text) - L + 1),
            lambda i: F.conv(
                F.substring(F.md5(text.substr(i, F.lit(L))), 1, 15), 16, 10
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    staged = df.select(F.col(id_col).alias("id"), grams.alias("_gh"))
    stream = posexplode_nonnull(staged, "_gh", "_p0", "_h", "id").select(
        "id", (F.col("_p0") + 1).alias("pos"), "_h"
    )
    dup_keys = (
        stream.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("_h")
    )
    covered = stream.join(dup_keys, "_h").select("id", "pos")
    per_doc = covered.groupBy("id").agg(
        F.array_sort(F.collect_list("pos")).alias("_ps")
    )
    # narrow span derivation over the sorted covered positions: two
    # covered grams merge iff their [p, p+L) intervals overlap or touch
    # (next - prev <= L); starts/ends picked by index, when() keeps the
    # 1-based element_at lookups off the out-of-range branches
    ps = F.col("_ps")
    idx = F.transform(ps, lambda p, i: F.struct(p.alias("p"), i.alias("i")))
    starts = F.transform(
        F.filter(
            idx,
            lambda x: F.when(x["i"] == 0, F.lit(True)).otherwise(
                x["p"] - F.element_at(ps, x["i"]) > L
            ),
        ),
        lambda x: x["p"],
    )
    ends = F.transform(
        F.filter(
            idx,
            lambda x: F.when(x["i"] == F.size(ps) - 1, F.lit(True)).otherwise(
                F.element_at(ps, x["i"] + 2) - x["p"] > L
            ),
        ),
        lambda x: x["p"] + L,
    )
    spans = F.zip_with(
        starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
    )
    return per_doc.select(
        "id",
        spans.alias("dup_spans"),
        F.size(spans).alias("n_dup_spans"),
        F.aggregate(
            spans, F.lit(0), lambda acc, sp: acc + sp["e"] - sp["s"]
        ).alias("dup_chars"),
    )


def strip_duplicate_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = EXACT_SUBSTR_MIN_LEN,
) -> DataFrame:
    """ExactSubstr span removal: every duplicated span found by
    :func:`exact_substring_spans` is cut from the text and the remainder
    re-concatenated. ALL occurrences are removed — the released
    deduplicate-text-datasets tool's behavior; keeping one canonical copy
    would need a global choice of survivor per substring, which breaks the
    embarrassing parallelism (and the paper reports the all-copies variant
    trains fine because each removed span occurred elsewhere pre-dedup).

    Returns the input columns plus (n_dup_spans, dup_chars,
    dup_char_frac rounded 4dp, kept_text). Documents without duplicated
    spans pass through byte-identical (kept_text = text); NULL text stays
    NULL. The strip itself is one narrow JVM fold over the span array —
    the only shuffles are the three inside the span detection."""
    spans_df = exact_substring_spans(df, text_col, id_col, min_len)
    joined = df.join(
        spans_df.withColumnRenamed("id", id_col), id_col, "left"
    )
    text = F.col(text_col)
    sp = F.coalesce(
        F.col("dup_spans"),
        F.array().cast("array<struct<s:int,e:int>>"),
    )
    kept = F.aggregate(
        sp,
        F.struct(F.lit(1).alias("nxt"), F.lit("").alias("acc")),
        lambda a, x: F.struct(
            x["e"].alias("nxt"),
            F.concat(a["acc"], text.substr(a["nxt"], x["s"] - a["nxt"])).alias(
                "acc"
            ),
        ),
        lambda a: F.concat(
            a["acc"],
            text.substr(
                a["nxt"], F.greatest(F.length(text) - a["nxt"] + 1, F.lit(0))
            ),
        ),
    )
    return joined.select(
        *df.columns,
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
        F.round(
            F.coalesce("dup_chars", F.lit(0)) / F.length(text), 4
        ).alias("dup_char_frac"),
        kept.alias("kept_text"),
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_overlap: int = 0,
) -> DataFrame:
    """Benchmark decontamination: flag/drop training documents sharing
    k-gram shingles with a benchmark corpus (the standard guard against
    eval-set leakage). Returns (id, n_overlap) for documents with overlap
    ≤ ``max_overlap`` — i.e. the KEEP set; invert the filter for an audit.

    Shape: benchmark shingles form a small distinct set → broadcast
    left-semi count via explode + broadcast join + groupBy. At 100 TB the
    benchmark side is tiny (evals are small) so the join is map-side; the
    training side stays one narrow explode. The join key is the shingle's
    60-bit md5 prefix (the same key the MinHash/Jaccard family uses):
    fixed-width longs broadcast and probe faster than shingle text, at the
    ~2⁻⁴⁰ collision rate the SQL oracle reproduces bit-for-bit.
    """
    sh_ids = shingle_ids_from_tokens(F.col("_de_toks"), k)
    bench_sh = explode_nonnull(
        benchmark.select(tokens(text_col).alias("_de_toks")), sh_ids, "shingle"
    ).distinct()
    doc_sh = explode_nonnull(
        df.select(
            F.col(id_col).alias("id"), tokens(text_col).alias("_de_toks")
        ),
        sh_ids,
        "shingle",
        "id",
    )
    overlaps = (
        doc_sh.join(F.broadcast(bench_sh), "shingle", "inner")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(overlaps, "id", "left")
        .select("id", F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"))
        .filter(F.col("n_overlap") <= max_overlap)
    )


#: Bloom decontamination defaults: 2¹⁶ bits / 5 hashes ≈ 0.05% FPR at
#: 4k benchmark shingles (m/n = 16 bits per element, k = 5 near-optimal).
BLOOM_M_BITS = 1 << 16
BLOOM_N_HASH = 5


def _bloom_pos_py(shingle_id: int, j: int, m_bits: int) -> int:
    """Python mirror of the position recipe (hashing.py's md5_mod contract):
    position j of shingle s = md5_mod(f"{s}:{j}", m_bits)."""
    h = hashlib.md5(f"{shingle_id}:{j}".encode()).hexdigest()[:8]
    return int(h, 16) % m_bits


def build_bloom_bitset(
    benchmark: DataFrame,
    text_col: str = "text",
    k: int = 3,
    n_hash: int = BLOOM_N_HASH,
    m_bits: int = BLOOM_M_BITS,
) -> list[int]:
    """Bloom bitset over the benchmark's distinct shingle ids, packed into
    ``m_bits/64`` signed-long words (word ``p div 64``, bit ``p mod 64``).
    EAGER: collects the benchmark shingle ids to the driver — the build
    side of decontamination is an eval set, small by nature (same
    documented eagerness as knn_join's query side); the training corpus
    is never collected."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64: {m_bits}")
    sh_ids = shingle_ids_from_tokens(F.col("_bl_toks"), k)
    bench_sh = explode_nonnull(
        benchmark.select(tokens(text_col).alias("_bl_toks")), sh_ids, "shingle"
    ).distinct()
    words = [0] * (m_bits // 64)
    for row in bench_sh.collect():
        for j in range(n_hash):
            p = _bloom_pos_py(row[0], j, m_bits)
            words[p >> 6] |= 1 << (p & 63)
    # pack as SIGNED longs (Spark array<long> literals): bit 63 set → negative
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_overlap: int = 0,
    n_hash: int = BLOOM_N_HASH,
    m_bits: int = BLOOM_M_BITS,
) -> DataFrame:
    """:func:`decontaminate` with the benchmark side compiled into a Bloom
    bitset instead of a broadcast join — the 100 TB shape when even the
    broadcast probe matters: the filter is a NARROW projection (no join
    node at all; the bitset rides into each task as an 8 KiB array<long>
    literal), so decontamination fuses into whatever scan already reads
    the text.

    One-sided error only: a shingle genuinely in the benchmark always
    tests positive (no false negatives — every contaminated document is
    flagged), while false positives (prob. ≈ (1−e^{−kn/m})^k) can only
    INFLATE ``n_overlap``, so the returned keep set is a subset of the
    exact operator's. Deterministic given (k, n_hash, m_bits): position j
    of shingle s is ``md5_mod(concat(s, ':', j), m_bits)`` — the repo's
    cross-engine hash recipe — so the SQL oracle reproduces the bitset
    test bit-for-bit (Bloom's 1970 scheme; double-hashing variants are a
    micro-opt this deliberately skips for oracle clarity).

    Returns (id, n_overlap) for documents with ``n_overlap ≤ max_overlap``
    where n_overlap counts the doc's shingle OCCURRENCES that hit the
    filter (same occurrence semantics as :func:`decontaminate`)."""
    # explicit long element type: a small-valued literal list would infer
    # array<int> and bit_get would then reject positions ≥ 32
    words = F.lit(
        build_bloom_bitset(benchmark, text_col, k, n_hash, m_bits)
    ).cast("array<long>")

    def bloom_hit(s: Column) -> Column:
        hit = F.lit(True)
        for j in range(n_hash):
            p = md5_mod(F.concat(s.cast("string"), F.lit(f":{j}")), m_bits)
            word = F.element_at(words, F.shiftrightunsigned(p, 6).cast("int") + 1)
            hit = hit & (F.getbit(word, F.pmod(p, F.lit(64)).cast("int")) == 1)
        return hit

    staged = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_bl_toks")
    ).select("id", shingle_ids_from_tokens(F.col("_bl_toks"), k).alias("sh"))
    return staged.select(
        "id",
        F.size(F.filter(F.coalesce("sh", F.array()), bloom_hit))
        .cast("long")
        .alias("n_overlap"),
    ).filter(F.col("n_overlap") <= max_overlap)


def lsh_recall(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.3, 0.5, 0.7),
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 3,
    truth_threshold: float | None = None,
    max_doc_freq: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate-recall eval harness (SURVEY §2.8 X52) — the dedup
    twin of :func:`~ocr_spark.operators.similarity.ivf_recall`: before
    trusting a (n_hashes, n_bands) MinHash-LSH configuration to find the
    corpus's near-duplicates, measure what fraction of the TRUE near-dup
    pairs (exact shingle Jaccard ≥ t) the banded candidate generation
    actually surfaces. One row per truth threshold::

        (threshold, n_true_pairs, n_candidates, n_hits, recall,
         cand_precision)

    ``n_candidates`` is threshold-independent (the index emits one
    candidate set); ``cand_precision`` = hits/candidates — how much of the
    candidate stream is real at that threshold, i.e. the verification cost
    multiplier. Candidates are the RAW band collisions (no signature-
    similarity filter): this measures the index, not the verifier.

    Exact-duplicate pairs are candidates by construction (equal signatures
    collide in every band — pytest-pinned); probabilistic recall for
    partial overlaps is exactly what this harness quantifies.

    Scale shape: the truth side is the exact Jaccard posting-pair stream
    (the expensive-but-affordable offline eval, same stance as ivf_recall's
    exact kNN side); candidates ride one banded-posting shuffle; the
    compare is one (id_a, id_b) equi-join of two pair streams plus a
    single-row aggregate crossed with the 1-row candidate count (the lazy
    global-stats idiom). Truth pairs carry ``truth_threshold`` (default
    ``min(thresholds)``) so nothing below the lowest graded threshold is
    ever materialized.
    """
    ths = [float(t) for t in thresholds]
    if not ths or any(t <= 0 or t > 1 for t in ths):
        raise ValueError("thresholds must be in (0, 1]")
    floor = min(ths) if truth_threshold is None else float(truth_threshold)
    if floor > min(ths):
        raise ValueError("truth_threshold must not exceed min(thresholds)")
    truth = jaccard_near_duplicates(
        df, text_col, id_col, threshold=floor, k=k, max_doc_freq=max_doc_freq
    )
    cands = lsh_candidate_pairs(
        minhash_signatures(df, text_col, id_col, n_hashes, k),
        n_bands,
        max_bucket_size,
    )
    joined = truth.join(
        cands.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left"
    )
    sums = joined.agg(
        *[
            F.coalesce(
                F.sum((F.col("jaccard") >= F.lit(t)).cast("long")), F.lit(0)
            ).alias(f"_nt{i}")
            for i, t in enumerate(ths)
        ],
        *[
            F.coalesce(
                F.sum(
                    (
                        (F.col("jaccard") >= F.lit(t))
                        & F.col("_hit").isNotNull()
                    ).cast("long")
                ),
                F.lit(0),
            ).alias(f"_nh{i}")
            for i, t in enumerate(ths)
        ],
    )
    n_cand = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    stack = ", ".join(
        f"CAST({t} AS DOUBLE), _nt{i}, _nh{i}" for i, t in enumerate(ths)
    )
    wide = sums.crossJoin(F.broadcast(n_cand))
    long = wide.selectExpr(
        "n_candidates",
        f"stack({len(ths)}, {stack}) AS (threshold, n_true_pairs, n_hits)",
    )
    return long.select(
        "threshold",
        "n_true_pairs",
        "n_candidates",
        "n_hits",
        F.round(
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_hits") / F.col("n_true_pairs").cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("recall"),
        F.round(
            F.when(
                F.col("n_candidates") > 0,
                F.col("n_hits") / F.col("n_candidates").cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("cand_precision"),
    ).orderBy("threshold")


def ngram_coverage(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Graded contamination overlap (SURVEY §2.8 X50): for every EVAL
    document, the fraction of its distinct word k-grams that occur
    anywhere in the training corpus — the per-example overlap statistic
    published with GPT-3 (Brown et al. 2020, appendix C) and PaLM
    (Chowdhery et al. 2022 §8), one step past :func:`decontaminate`'s
    binary any-overlap drop: it grades HOW contaminated each eval example
    is so a threshold (or a "dirty vs clean" eval split) can be chosen
    after the fact.

    Returns one row per eval document::

        (id, n_grams, n_matched, coverage)   # coverage = matched/total, 4dp

    Eval docs with no text/tokens report (0, 0, 0.0).

    Shape — sized for a 100 TB training side and a tiny eval side:

    - The eval side's distinct (id, gram) pairs are small (evals are
      thousands of docs) and its distinct gram SET smaller still; that set
      is BROADCAST.
    - The training side is one narrow explode of the shared 60-bit shingle
      keys (:func:`shingle_ids_from_tokens` — same arithmetic as the
      Jaccard/decontaminate family) followed by a broadcast LEFT-SEMI join
      (map-side, no shuffle of corpus grams) and a distinct() that only
      ever sees grams ∈ the eval set — cardinality bounded by the eval
      gram count, so the one real shuffle moves O(|eval grams|) rows no
      matter how big the corpus is.
    - Matched grams then join back to the eval pairs (both tiny) and
      aggregate per eval doc.
    """
    sh = shingle_ids_from_tokens(F.col("_nc_toks"), k)
    eval_pairs = explode_nonnull(
        eval_df.select(
            F.col(id_col).alias("id"), tokens(text_col).alias("_nc_toks")
        ),
        sh,
        "gram",
        "id",
    ).distinct()
    eval_grams = eval_pairs.select("gram").distinct()
    corpus_hits = (
        explode_nonnull(df.select(tokens(text_col).alias("_nc_toks")), sh, "gram")
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .distinct()
    )
    per_doc = (
        eval_pairs.join(
            F.broadcast(corpus_hits.withColumn("_hit", F.lit(1))),
            "gram",
            "left",
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_matched"),
        )
    )
    return (
        eval_df.select(F.col(id_col).alias("id"))
        .join(F.broadcast(per_doc), "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
            F.round(
                F.when(
                    F.coalesce("n_grams", F.lit(0)) > 0,
                    F.coalesce("n_matched", F.lit(0))
                    / F.col("n_grams").cast("double"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("coverage"),
        )
    )


def stratified_sample(
    df: DataFrame,
    quotas: dict[str, int],
    strata_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling for domain mixing: keep a row iff
    ``md5(id) mod 100 < quota[stratum]`` (quota in percent). Unlike
    ``DataFrame.sample`` this is seed-and-partitioning-independent — the
    same row set on every run, any cluster, and re-expressible in SQL for
    the oracle. One narrow filter; no shuffle, no sampling state."""
    from ocr_spark.functions.hashing import md5_mod

    bucket = md5_mod(F.col(id_col).cast("string"), 100)
    quota_map = F.create_map(
        *[F.lit(x) for kv in quotas.items() for x in kv]
    )
    return df.filter(bucket < F.coalesce(quota_map[F.col(strata_col)], F.lit(0)))


# ---------------------------------------------------------------------------
# SimHash.
# ---------------------------------------------------------------------------


def _simhash64(token_lists: pd.Series, _cache: dict | None = None) -> pd.Series:
    """64-bit SimHash per token list: per token take the top-64-bit md5,
    vote +1/-1 per bit position, bit = 1 where the vote sum is positive.
    Returns signed int64 (Spark LongType has no unsigned variant).

    Vectorized: each token's 8 digest bytes unpack to a 64-wide bit row
    (``np.unpackbits`` is MSB-first, matching ``(h >> (63-b)) & 1``); the
    per-doc vote is one column sum, and ``votes > 0`` is the exact integer
    comparison ``2·ones > n_tokens`` — bit-identical to the scalar loop
    (pinned by test_dedup). Token→bit-row results are memoized in
    ``_cache`` (natural-language token frequency is Zipfian, so across a
    partition most md5 calls are repeats)."""
    import numpy as np

    cache: dict = {} if _cache is None else _cache
    out = np.zeros(len(token_lists), dtype=np.int64)
    for i, toks in enumerate(token_lists):
        if toks is None or len(toks) == 0:
            continue
        rows = []
        for t in toks:
            bits = cache.get(t)
            if bits is None:
                bits = np.unpackbits(
                    np.frombuffer(
                        hashlib.md5(t.encode()).digest()[:8], dtype=np.uint8
                    )
                )
                cache[t] = bits
            rows.append(bits)
        ones = np.stack(rows).sum(axis=0, dtype=np.int64)
        vbits = (2 * ones > len(rows)).astype(np.uint8)
        v = int.from_bytes(np.packbits(vbits).tobytes(), "big")
        # two's-complement into signed int64
        out[i] = v - (1 << 64) if v >= (1 << 63) else v
    return pd.Series(out, dtype="int64")


@pandas_udf(LongType())
def simhash64_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    cache: dict = {}  # shared across this partition's Arrow batches
    for token_lists in batches:
        yield _simhash64(token_lists, cache)


def with_simhash(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Adds ``simhash`` (int64). Tokenization stays JVM-side (same regex as
    the rest of the suite); only the bit-vote arithmetic crosses to Python,
    Arrow-batched, on the distinct token array — narrow, no shuffle."""
    return df.withColumn(
        "simhash", simhash64_udf(F.array_distinct(tokens(text_col)))
    )


def simhash_blocks(n_blocks: int) -> list[tuple[int, int]]:
    """(shift, width) per block: 64 bits split into ``n_blocks`` contiguous
    blocks, widths as even as possible (the first 64 % n_blocks blocks get
    the extra bit) so every bit is covered — uneven coverage would waste
    bucket selectivity, uncovered bits would loosen it."""
    w, r = divmod(64, n_blocks)
    widths = [w + 1] * r + [w] * (n_blocks - r)
    shifts, off = [], 0
    for width in widths:
        shifts.append((off, width))
        off += width
    return shifts


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming, found by the
    block-permutation trick: split the 64-bit hash into ``n_blocks`` blocks;
    any pair within distance < n_blocks agrees on ≥1 whole block (pigeonhole)
    → join on (block index, block value) as the LSH bucket, verify with
    bit_count. The guarantee is EXACT only when ``max_hamming < n_blocks``,
    so ``n_blocks`` defaults to ``max_hamming + 1`` and a larger
    ``max_hamming`` is rejected rather than silently under-recalling.

    ``bit_count(a ^ b)`` is a built-in (JVM codegen); the bucket key is a
    ≤16-bit block value + index, and pairs come from per-bucket posting
    lists (one groupBy shuffle, no self-join — same shape as
    :func:`lsh_candidate_pairs`). Returns (id_a, id_b, hamming)."""
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if not max_hamming < n_blocks <= 64:
        raise ValueError(
            f"block-LSH is exhaustive only for max_hamming < n_blocks <= 64; "
            f"got max_hamming={max_hamming}, n_blocks={n_blocks}"
        )
    hashed = df.select(F.col(id_col).alias("id"), "simhash").withColumn(
        "simhash", F.col("simhash").cast("long")
    )
    with_blocks = hashed.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), shift).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for shift, width in simhash_blocks(n_blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    posting = with_blocks.groupBy("block_idx", "block_val").agg(
        F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("docs")
    )
    return (
        posting_pairs(
            posting,
            "docs",
            lambda a, b: [
                a["id"].alias("id_a"),
                b["id"].alias("id_b"),
                F.bit_count(a["simhash"].bitwiseXOR(b["simhash"])).alias(
                    "hamming"
                ),
            ],
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: pairs → connected components → keeper set.
# ---------------------------------------------------------------------------


def _free_checkpoint(df: DataFrame) -> None:
    """Release the executor blocks behind an eager checkpoint the
    computation has FINISHED with, and delete a reliable checkpoint's
    files. Both truncate lineage, so this is only safe on intermediates
    that are never read again — here, the superseded label generations
    and the pair materialization of the connected-components loop.
    Spark's ContextCleaner would free the blocks eventually (weak refs +
    driver GC), but "eventually" is what let every iterative query leak
    one pinned generation per pass: in a long-lived session the leaked
    blocks shrink execution memory and degrade every later query
    (measured on the bench suite: curate_corpus 8.1 → 19.2 → 29.1 s over
    three consecutive reps, with persistent-RDD count climbing 0 → 10).
    The cleaner deletes no checkpoint files unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is set, so each
    superseded generation would stay under the checkpoint directory until
    the directory itself goes. Best-effort: non-LogicalRDD plans are a
    no-op."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return
        rdd = plan.rdd()
        rdd.unpersist(False)
        ckfile = rdd.getCheckpointFile()  # defined for a reliable checkpoint
        if ckfile.isDefined():
            sc = df.sparkSession.sparkContext
            path = sc._jvm.org.apache.hadoop.fs.Path(ckfile.get())
            path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
    except Exception:
        pass  # cleanup must never fail the query


def _checkpoint(df: DataFrame) -> DataFrame:
    """Eager lineage truncation for iterative loops. RELIABLE
    ``checkpoint`` when the session has a checkpoint directory
    (``spark.checkpoint.dir`` at session start, or
    ``SparkContext.setCheckpointDir``: an HDFS/object-store path on a
    real cluster, where executor loss must not restart the whole loop);
    otherwise ``localCheckpoint`` (executor-local blocks, fast)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a pair list by iterated hash-min label
    propagation — pure DataFrame joins, no driver-side union-find, no
    ``collect()``. Returns (id, cluster) for every id appearing in a pair;
    cluster = the component's minimum id (deterministic canonical label).

    Each iteration: every vertex takes the min of its own label and its
    neighbours' labels (edges made symmetric, one shuffle join + one
    hash-aggregate), then POINTER-JUMPS — label(v) ← label(label(v)) — so
    a discovered minimum hops across the component exponentially instead
    of one edge per pass. Convergence in O(log diameter) iterations: a
    1000-link chain resolves in ~15 passes, not 999 (tested), and
    bucket-join cliques in 2. Convergence is detected by an any-label-
    changed probe (a join on the small vertex set — type-agnostic, so
    string/UUID ids work; a numeric sum witness would NULL out on them).
    Lineage truncation per pass: ``localCheckpoint``, or reliable
    ``checkpoint`` when the session sets ``spark.checkpoint.dir`` (see
    :func:`_checkpoint`)."""
    # materialize the pair list ONCE: edges and labels consume it in four
    # subtrees and the propagation loop re-reads edges every iteration —
    # without this the (possibly expensive) pair-generation pipeline would
    # re-execute per iteration
    pairs = _checkpoint(pairs.select(id_a, id_b))
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster"))
    )
    labels = _checkpoint(labels)
    for _ in range(max_iter):
        prop = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "cluster")
        merged = (
            labels.union(prop)
            .groupBy("id")
            .agg(F.min("cluster").alias("cluster"))
        )
        # pointer jumping: follow the label one hop (labels are always
        # vertex ids, so the lookup join hits; min keeps determinism when
        # a vertex's label was itself relabelled this round)
        parents = merged.select(
            F.col("id").alias("cluster"), F.col("cluster").alias("_parent")
        )
        new_labels = (
            merged.join(parents, "cluster", "left")  # parents key is unique
            .select(
                "id",
                F.least(
                    F.col("cluster"), F.coalesce("_parent", F.col("cluster"))
                ).alias("cluster"),
            )
        )
        new_labels = _checkpoint(new_labels)
        # convergence witness: any label changed? A join on the (small)
        # vertex set — type-agnostic, unlike a numeric sum over ids (which
        # would be NULL for string/UUID ids and stop the loop on pass 1)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.cluster") != F.col("o.cluster"))
            .limit(1)
            .count()
        )
        # the previous generation was read for the last time by the probe
        # above — free its blocks NOW instead of leaking one pinned
        # generation per pass until driver GC (see _free_checkpoint)
        _free_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            # the returned labels are a self-contained checkpoint; the
            # pair materialization only fed the loop
            _free_checkpoint(pairs)
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def resolve_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Full-corpus cluster assignment: (id, cluster, keep) for EVERY
    document — docs in no pair are their own singleton cluster; inside a
    dup component the minimum id is the canonical keeper (keep=true),
    every other member keep=false. This is the decision layer every
    near-dup pair generator above feeds (the reference's analog is the
    implicit dedup of its ``word UNIQUE`` upserts, db_service.py:66-76).

    Shape at 100 TB: the component computation touches only pair vertices
    (tiny vs the corpus); the corpus-wide assignment is one broadcast-able
    left join."""
    comp = connected_components(pairs, id_a, id_b)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce("cluster", F.col("id")).alias("cluster"),
            (F.coalesce("cluster", F.col("id")) == F.col("id")).alias("keep"),
        )
    )


def dedup_corpus(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The materialized deduplicated corpus: keep one document (min id) per
    duplicate cluster, all columns preserved — docs anti-joined against the
    dropped member set."""
    dropped = (
        connected_components(pairs)
        .filter(F.col("cluster") != F.col("id"))
        .select(F.col("id").alias(id_col))
    )
    return docs.join(dropped, id_col, "left_anti")


def cross_source_dup_matrix(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Source-pair duplication matrix over a near-duplicate pair stream
    (any of this module's pair producers): label each pair's endpoints
    with their document source and count pairs per unordered source
    pair — the provenance view of corpus duplication that tells a
    curation run WHICH feeds copy from which (mirror detection, syndicated
    boilerplate, cross-source scrape overlap) before it decides per-source
    caps or drops. Returns ``(src_a, src_b, n_pairs)`` with
    ``src_a <= src_b`` (least/greatest canonical order, so the matrix is
    upper-triangular and engine-deterministic); the diagonal counts
    within-source duplication.

    Scale shape (100 TB): the pair stream is orders of magnitude smaller
    than the corpus (bounded by the banding/cap machinery upstream); the
    labeling is two equi-joins of that stream against the narrow
    (id, source) projection, followed by ONE map-combined aggregate to
    ≤ |sources|² rows. No new corpus pass — provenance rides whatever
    pair stream the dedup run already produced.
    """
    la = docs.select(
        F.col(id_col).alias("_ida"), F.col(source_col).alias("_sa")
    )
    lb = docs.select(
        F.col(id_col).alias("_idb"), F.col(source_col).alias("_sb")
    )
    labeled = pairs.join(la, pairs["id_a"] == la["_ida"], "inner").join(
        lb, pairs["id_b"] == lb["_idb"], "inner"
    )
    return (
        labeled.select(
            F.least("_sa", "_sb").alias("src_a"),
            F.greatest("_sa", "_sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def incremental_near_duplicates(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Incremental ingestion dedup: exact shingle-Jaccard pairs ONLY
    between a NEW batch and an EXISTING corpus — the daily-crawl shape,
    where re-deduplicating the whole lake per batch
    (O((corpus+batch)²-ish work) is the scale-killer and the right job is
    batch × corpus. Returns (id_new, id_corpus, jaccard ≥ threshold);
    within-batch pairs are NOT emitted (run
    :func:`jaccard_near_duplicates` on the batch for those), and a
    document present in both inputs pairs with itself at jaccard 1.0 —
    caller semantics, not filtered here.

    Construction: both sides explode to (id, shingle-id) over the shared
    60-bit md5 shingle key; ONE equi-join new⋈corpus on the fixed-width
    long key (never a self-join) → pair-count aggregate → set sizes →
    Jaccard. At 100 TB corpus / small daily batch, Catalyst+AQE
    broadcasts the batch's exploded shingles and the "join" runs at
    corpus scan speed with NO corpus shuffle; when the batch is too big
    to broadcast it degrades to one shuffle on the shingle key.

    ``max_doc_freq`` caps hot shingles by their CORPUS document frequency
    (the batch never defines hotness — batch-local boilerplate must not
    mask true matches): hot shingles leave the universe on BOTH sides and
    per-doc set sizes are recomputed over the filtered universe, so the
    score stays a true set Jaccard (same stop-shingle semantics as
    :func:`jaccard_near_duplicates`).
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")

    def _exploded(df: DataFrame, out: str) -> DataFrame:
        sized = df.select(
            F.col(id_col).alias(out), tokens(text_col).alias("_t")
        ).select(out, shingle_ids_from_tokens(F.col("_t"), k).alias("_sh"))
        return explode_nonnull(sized, "_sh", "shingle", out)

    ex_new = _exploded(new_docs, "id_new")
    ex_cor = _exploded(corpus, "id_corpus")
    if max_doc_freq is not None:
        hot = (
            ex_cor.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("shingle")
        )
        ex_new = ex_new.join(hot, "shingle", "left_anti")
        ex_cor = ex_cor.join(hot, "shingle", "left_anti")
    sizes_new = ex_new.groupBy("id_new").agg(
        F.count(F.lit(1)).cast("long").alias("_na")
    )
    sizes_cor = ex_cor.groupBy("id_corpus").agg(
        F.count(F.lit(1)).cast("long").alias("_nb")
    )
    inter = (
        ex_new.join(ex_cor, "shingle")
        .groupBy("id_new", "id_corpus")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.round(
        F.col("n_common")
        / (F.col("_na") + F.col("_nb") - F.col("n_common")),
        6,
    )
    return (
        inter.join(sizes_new, "id_new")
        .join(sizes_cor, "id_corpus")
        .select("id_new", "id_corpus", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty — the marginal-contribution metric for
    dedup-aware sampling and data valuation: for each document, the
    fraction of its distinct word k-grams whose FIRST corpus occurrence
    (smallest document id, the X29/X38 first-winner rule) is this
    document. A verbatim duplicate of an earlier document scores 0.0; a
    document of entirely unseen text scores 1.0; boilerplate-heavy pages
    land in between — the graded complement of exact/near dedup's binary
    keep/drop, and the ordering signal for "keep the most novel N docs"
    curation passes.

    Shares the Jaccard/decontamination family's shingle construction and
    60-bit md5-prefix key verbatim (``shingle_ids_from_tokens``), so
    sub-k-token documents contribute their single full-join shingle and
    the collision rate is the family's documented one; NULL-hash elements
    (NULL text) are excluded on both engines, so a NULL-text document
    reports (0, 0, NULL) via the left join. Zero-gram docs → novelty
    NULL (no evidence), never 0 (which would mean "all duplicated").

    100 TB shuffle profile: the gram stream is exploded ONCE and feeds
    two map-combined aggregations — per-doc distinct-gram counts (key =
    doc id) and per-gram min-id firsts (key = gram; partial combine
    absorbs billion-occurrence boilerplate grams, the same argument as
    X29/X38) — the novel-count rollup then groups the VOCABULARY-sized
    firsts frame, and the final assembly joins two one-row-per-doc
    frames back to the id spine. No corpus self-join, no window over the
    gram stream.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from ocr_spark.operators.textstats import tokens

    spine = df.select(F.col(id_col).alias("doc_id"))
    grams = (
        df.select(
            F.col(id_col).alias("doc_id"),
            tokens(text_col).alias("_t"),
        )
        .select(
            "doc_id",
            F.explode(shingle_ids_from_tokens(F.col("_t"), k)).alias("_s"),
        )
        .filter(F.col("_s").isNotNull())
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    firsts = grams.groupBy("_s").agg(F.min("doc_id").alias("_fid"))
    novel = firsts.groupBy(F.col("_fid").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    return (
        spine.join(per_doc, "doc_id", "left")
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.when(
                    F.coalesce("n_grams", F.lit(0)) > 0,
                    F.coalesce("n_novel", F.lit(0))
                    / F.col("n_grams").cast("double"),
                ),
                4,
            ).alias("novelty"),
        )
    )


def normalized_text(text_col: str = "text") -> Column:
    """Aggressive canonical form for normalized exact dedup (the
    Dolma/CCNet middle tier): lowercase, every non-alphanumeric run
    collapsed to one space, ends trimmed — so case, punctuation,
    whitespace layout, and markup debris never hide a duplicate. A pure
    codegen'd expression (lower + one regexp_replace + trim), identical
    regex semantics in the DuckDB oracle."""
    return F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )


def normalized_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalized exact duplicate grouping — the standard cheap tier
    between byte-exact dedup and shingle near-dup (CCNet dedups on
    normalized paragraph hashes, Wenzek et al. 2020 §3.1; Dolma's exact
    dedup canonicalizes before hashing): group on
    ``md5(normalized_text)``, keep the min id, count copies, and also
    report ``n_exact`` (distinct RAW texts inside the group) so
    "normalization found k more duplicate classes than byte equality"
    is read directly off the output.

    Same scale shape as :func:`exact_dedup` — ONE hash-aggregate on a
    fixed-width digest with map-side partial combine; the distinct-raw
    count rides the same shuffle as an approx-free two-level agg
    (group by (norm, raw) first, both map-combined), so no second
    corpus pass and no text bytes in flight.
    """
    both = df.groupBy(
        F.md5(normalized_text(text_col)).alias("norm_hash"),
        F.md5(F.col(text_col)).alias("_raw_hash"),
    ).agg(
        F.min(id_col).alias("_min_id"),
        F.count(F.lit(1)).alias("_n"),
    )
    return both.groupBy("norm_hash").agg(
        F.min("_min_id").alias("keep_id"),
        F.sum("_n").cast("long").alias("n_copies"),
        F.count(F.lit(1)).cast("long").alias("n_exact"),
    )
