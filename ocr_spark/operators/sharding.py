"""Deterministic training-shard assignment and sharded corpus writes.

The last stage of a training-data pipeline: place every document into one of
``n_shards`` stable shards (so reruns, resumes and downstream loaders agree
on placement without coordination) and write the corpus partitioned by
shard, sorted within each shard, with bounded file sizes. Mirrors the
reference's write-back sink role (alfalaq12/OCR persists per-document
results keyed by content hash) at corpus scale.

Shard id = ``conv(substr(md5(id), 1, 8), 16, 10) % n_shards``: md5 is
portable across Spark / DuckDB / Python (the repo-wide oracle-determinism
trick), the first 8 hex chars give an unbiased 32-bit value, and the result
depends only on the id — never on partitioning, row order, or cluster size.

Scale: assignment is a narrow projection (scan speed at 100 TB);
the write repartitions on ``shard`` so each output directory is produced by
one task streaming sorted rows — one shuffle, linear in rows, no driver
involvement. ``maxRecordsPerFile`` bounds file sizes for the loader.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shard_id(id_col: Column, n_shards: int) -> Column:
    """Stable shard in [0, n_shards) from an id column (any type castable
    to string; same string-ification as the DuckDB oracle's VARCHAR cast)."""
    from ocr_spark.functions.hashing import md5_mod

    return md5_mod(id_col.cast("string"), n_shards).cast("int")


def assign_shards(
    df: DataFrame, n_shards: int, id_col: str = "doc_id"
) -> DataFrame:
    """Adds a ``shard`` column; pure narrow transform."""
    return df.withColumn("shard", shard_id(F.col(id_col), n_shards))


def shard_histogram(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Per-shard balance stats (docs, bytes, id range) — the observability
    query for shard skew: one hash aggregate with map-side partial combine.
    Range column names follow ``id_col`` (``min_doc_id``/``max_doc_id``
    for the default)."""
    return (
        assign_shards(df, n_shards, id_col)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(size_col).cast("long").alias("total_chars"),
            F.min(id_col).alias(f"min_{id_col}"),
            F.max(id_col).alias(f"max_{id_col}"),
        )
        .orderBy("shard")
    )


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences ("packs")
    — GPT-style sample packing, where the loader concatenates a shard's
    documents in order and cuts sequences every ``max_tokens`` tokens.
    A document's pack is the sequence its FIRST token lands in:

        shard      = md5(id) mod n_shards          (stable placement)
        offset(d)  = Σ n_tokens of earlier docs in the shard (order: id)
        pack       = offset(d) div max_tokens

    Exact integer arithmetic end-to-end, so the layout is a pure function
    of (ids, token counts) — reruns, engines and cluster sizes agree.
    Documents may straddle a pack boundary (the concat-and-cut
    convention); a pack's token count therefore varies around the budget
    instead of under-filling it — padding waste is zero by construction,
    which is why training pipelines pack this way rather than bin-packing
    whole documents.

    Shape at 100 TB: one narrow token count, then ONE window per shard
    (the running sum) — n_shards-way parallel, each shard's sort bounded
    by corpus/n_shards; no driver state, no UDF. Returns
    (id, shard, pack, n_tokens, offset)."""
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive: {max_tokens}")
    from pyspark.sql import Window

    from ocr_spark.operators.textstats import tokens

    staged = df.select(
        F.col(id_col).alias("id"),
        shard_id(F.col(id_col), n_shards).alias("shard"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return staged.select(
        "id",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")).alias(
            "offset"
        ),
    ).withColumn("pack", F.expr(f"offset div {int(max_tokens)}").cast("int"))


def pack_summary(
    df: DataFrame,
    max_tokens: int,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(shard, pack) layout stats — the observability query for a
    packing run: documents per pack and the tokens STARTING in each pack
    (boundary-straddling tokens count toward the pack they start in).
    One aggregate over :func:`pack_sequences`."""
    return (
        pack_sequences(df, max_tokens, n_shards, id_col, text_col)
        .groupBy("shard", "pack")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
            F.min("id").alias("first_id"),
        )
        .orderBy("shard", "pack")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    max_records_per_file: int | None = None,
) -> None:
    """Write ``df`` parquet-partitioned by shard, each shard's rows sorted
    by id. ``repartition(n_shards, shard)`` co-locates every shard into one
    task (hash collisions may pair shards in a task; ``partitionBy`` still
    splits them into their own directories), so each directory is written
    as one sorted stream — the shape that holds when n_shards is thousands
    and the input is 100 TB."""
    sharded = assign_shards(df, n_shards, id_col)
    writer = (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", id_col)
        .write.mode("overwrite")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy("shard").parquet(path)


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 128,
    stride: int = 96,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size token-window chunking with overlap — the example-prep
    primitive upstream of :func:`pack_sequences`: long documents become
    overlapping ``chunk_size``-token windows starting every ``stride``
    tokens (RAG index chunking; the sliding-window long-document split
    of BERT/HF ``return_overflowing_tokens``). Chunk k covers tokens
    [k·stride, k·stride + chunk_size) and is emitted while k·stride <
    n_tokens, so the final window may be short and a document shorter
    than ``chunk_size`` yields exactly one chunk; zero-token documents
    yield no rows (both engines agree). Requires 0 < stride ≤
    chunk_size (stride > chunk_size would silently DROP tokens between
    windows). Returns (id_col, chunk_idx, chunk_text, n_chunk_tokens) —
    chunk_text rejoins the window with single spaces, the tokenizer's
    inverse up to whitespace, so the output is loader-ready text.

    Scale shape (100 TB): ONE narrow projection — tokens are staged
    once, window starts come from ``sequence(0, n-1, stride)``, each
    window is a ``slice`` of the staged array, and the only plan nodes
    are Project + posexplode Generate (zero shuffles, zero UDFs; row
    fan-out is bounded by ceil(n/stride) per document). Compose with
    assign_shards/write_training_shards for the sharded sink.
    """
    if chunk_size < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")
    if stride < 1 or stride > chunk_size:
        raise ValueError(
            f"stride must be in [1, chunk_size={chunk_size}], got {stride}"
        )
    from ocr_spark.operators.textstats import tokens

    staged = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_ck_toks")
    )
    n = F.size("_ck_toks")
    windows = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1, F.lit(stride)),
            lambda s: F.slice(F.col("_ck_toks"), s + 1, chunk_size),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    chunked = staged.select("id", windows.alias("_ck_wins"))
    return (
        chunked.select(
            "id", F.posexplode("_ck_wins").alias("chunk_idx", "_ck_win")
        )
        .select(
            F.col("id").alias(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.array_join("_ck_win", " ").alias("chunk_text"),
            F.size("_ck_win").cast("int").alias("n_chunk_tokens"),
        )
    )


#: default split fractions in basis points of a 10k hash domain:
#: [0, 9000) train, [9000, 9500) val, [9500, 10000) test.
SPLIT_DOMAIN = 10_000
DEFAULT_SPLITS: tuple[tuple[str, int], ...] = (
    ("train", 9_000),
    ("val", 9_500),
    ("test", 10_000),
)


def assign_splits(
    df: DataFrame,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test split assignment — the hash-bucket
    rule every large-scale pipeline uses so that reruns, resumes, and
    every downstream consumer agree on membership with NO coordination
    and no stored split table: bucket = md5_mod(str(id), 10000), split =
    the first entry whose exclusive upper bound (in basis points)
    exceeds the bucket. Adds a ``split`` column; assignment depends only
    on the id — never on partitioning, row order, or cluster size (the
    same portability contract as :func:`shard_id`).

    ``splits`` is an ordered (name, upper_bound_bp) tuple; bounds must be
    strictly increasing and end at exactly ``SPLIT_DOMAIN`` so the
    assignment is total.
    """
    bucket_src = F.col(id_col).cast("string")
    return df.select("*", _split_expr(bucket_src, splits).alias("split"))


def _split_expr(str_col: Column, splits: tuple[tuple[str, int], ...]) -> Column:
    """The shared bucket→split when-chain (validates bounds at plan-build
    time); ``str_col`` is the already-stringified hash input."""
    from ocr_spark.functions.hashing import md5_mod

    bounds = [b for _, b in splits]
    if bounds != sorted(set(bounds)) or bounds[-1] != SPLIT_DOMAIN:
        raise ValueError(
            f"split bounds must be strictly increasing and end at "
            f"{SPLIT_DOMAIN}, got {bounds}"
        )
    bucket = md5_mod(str_col, SPLIT_DOMAIN)
    expr = None
    for name, ub in splits:
        cond = bucket < ub
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return expr


def leakage_safe_split(
    pairs: DataFrame,
    docs: DataFrame,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup-aware train/val/test assignment: hash the CLUSTER id, not
    the document id, so every member of a near-duplicate cluster lands in
    the SAME split — the group-split rule that prevents test-set leakage
    through paraphrases/boilerplate twins that plain per-document hashing
    (:func:`assign_splits`) happily straddles across train and test.

    ``pairs`` is any near-dup pair stream (exact-Jaccard, MinHash-LSH,
    SimHash, …); documents in no pair are their own singleton cluster and
    degrade to exactly :func:`assign_splits` placement. Returns
    (id, cluster, split); same basis-point bounds contract.

    Scale shape: cluster resolution touches only pair vertices
    (operators/dedup.py resolve_clusters — pointer-jumping CC, tiny vs
    the corpus); the corpus-wide pass is one broadcast-able left join plus
    a narrow hash projection.
    """
    from ocr_spark.operators.dedup import resolve_clusters

    resolved = resolve_clusters(pairs, docs, id_col=id_col)
    return resolved.select(
        F.col("id").alias(id_col),
        "cluster",
        _split_expr(F.col("cluster").cast("string"), splits).alias("split"),
    )


def split_summary(
    df: DataFrame,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-split corpus accounting for :func:`assign_splits`:
    (split, n_docs, n_tokens, frac_docs) — the audit every split rule
    ships with, so the realized fractions are observable against the
    declared basis points (hash placement is binomial, not exact).
    ``frac_docs`` divides two exact integer counts (one fixed-order
    division, 4-dp contract); totals ride a one-row broadcast frame, the
    repo's lazy-global-stats idiom — no window over the splits table.

    Scale shape (100 TB): one narrow projection (hash + token count) +
    ONE map-combined aggregate to ≤ len(splits) rows.
    """
    from ocr_spark.operators.textstats import tokens

    assigned = assign_splits(df, splits, id_col).select(
        "split", F.size(tokens(text_col)).alias("_nt")
    )
    per = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce(F.col("_nt"), F.lit(0))).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_docs").alias("_total"))
    return (
        per.join(F.broadcast(tot))
        .select(
            "split",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.col("n_docs").cast("double")
                / F.col("_total").cast("double"),
                4,
            ).alias("frac_docs"),
        )
    )


#: fixed-point scale for temperature weights: sqrt(n)·2^20 floored to
#: BIGINT keeps the cross-source weight SUM exact integer arithmetic
#: (float summation order would otherwise differ between engines)
_TEMP_WEIGHT_SCALE = 1 << 20

#: 2^32 — the md5 32-bit uniform's domain (functions/hashing.py)
_U32_DOMAIN = float(1 << 32)


def temperature_resample(
    df: DataFrame,
    alpha: float = 0.5,
    target_frac: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based source rebalancing — the multilingual/multi-source
    sampling rule (q_s ∝ n_s^alpha, alpha < 1 flattens the source
    distribution) used to keep head domains from dominating a training
    mix, applied as a DETERMINISTIC per-document Bernoulli thinning:

        keep_prob(s) = min(1, target_frac · N · q_s / n_s)
        keep(doc)    = md5_u32(id) < floor(keep_prob(s) · 2³²)

    so membership depends only on the document id and the corpus's
    per-source counts — reruns, engines and cluster sizes agree, and the
    expected kept count is target_frac · N with within-source expectation
    ∝ q_s (up to the min(1,·) cap: a source whose quota exceeds its
    population keeps everything; the surplus is NOT redistributed — the
    standard single-pass thinning convention, audit with the returned
    keep_prob column).

    Determinism of keep_prob itself: weights w_s = floor(n_s^alpha · 2²⁰)
    are BIGINT, so the cross-source weight sum is exact integer math; the
    final ratio is one fixed-shape double expression over integers.
    alpha = 0.5 (the common temperature T=2) evaluates via IEEE sqrt —
    correctly rounded everywhere; other alphas go through pow(), where
    engines may legally differ by 1 ulp BEFORE the floor (a boundary
    flip is astronomically unlikely but the 0.5 default is exact).

    Returns kept documents as (id, source, keep_prob) with keep_prob
    rounded to 6 dp. NULL-source documents are excluded from totals,
    rates and output alike — an unlabeled stratum cannot carry a quota.

    Scale shape (100 TB): one map-combined agg to ≤ |sources| rows, a
    1-row totals frame, one BROADCAST join back, then a narrow hash
    filter — scan-speed, no wide shuffle of the corpus.
    """
    if not 0 < target_frac <= 1:
        raise ValueError(f"target_frac must be in (0, 1]: {target_frac}")
    if alpha <= 0:
        raise ValueError(f"alpha must be positive: {alpha}")
    from ocr_spark.functions.hashing import md5_mod

    # NULL-source docs are excluded EVERYWHERE (totals, rates, output):
    # groupBy would keep a NULL stratum in n_total/w_total while the
    # equi-join back silently drops its docs, deflating every real
    # source's realized fraction against an unsampleable population
    df = df.filter(F.col(source_col).isNotNull())
    n = F.col("n_s").cast("double")
    w_raw = F.sqrt(n) if alpha == 0.5 else F.pow(n, F.lit(alpha))
    per_source = (
        df.groupBy(F.col(source_col).alias("_src"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_s"))
        .select(
            "_src",
            "n_s",
            F.floor(w_raw * _TEMP_WEIGHT_SCALE).cast("long").alias("w_s"),
        )
    )
    totals = per_source.agg(
        F.sum("n_s").cast("long").alias("n_total"),
        F.sum("w_s").cast("long").alias("w_total"),
    )
    rates = per_source.join(F.broadcast(totals)).select(
        "_src",
        F.least(
            F.lit(1.0),
            (F.lit(target_frac) * F.col("n_total") * F.col("w_s"))
            / (F.col("w_total") * F.col("n_s").cast("double")),
        ).alias("_keep_prob"),
    )
    u = md5_mod(F.col(id_col).cast("string"), 1 << 32)
    return (
        df.select(id_col, F.col(source_col).alias("_src"))
        .join(F.broadcast(rates), "_src")
        .filter(u < F.floor(F.col("_keep_prob") * _U32_DOMAIN).cast("long"))
        .select(
            id_col,
            F.col("_src").alias(source_col),
            F.round("_keep_prob", 6).alias("keep_prob"),
        )
    )
