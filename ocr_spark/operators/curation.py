"""The end-to-end training-data curation pipeline as ONE operator.

Chains the gates a corpus pass actually runs — quality score, language ID,
benchmark decontamination, near-dup cluster dedup, deterministic stratified
sampling — sharing work the naive operator chain recomputes:

* the gate SURVIVORS (quality + lang-ID features + shingle-id arrays,
  one narrow scoring pass) are ``localCheckpoint``-ed once; every later
  consumer — the shingle explosion feeding both the decontamination join
  and the Jaccard posting lists, the anti-joins, the final projection —
  derives from that materialization, so the regex-heavy scoring and
  tokenize+md5 work (extraction-style, ~1000× compute per byte) never
  re-executes (reliable ``checkpoint`` instead when the session sets
  ``spark.checkpoint.dir``, the same rule connected_components follows);
* pair→cluster resolution and the final anti-join reuse the dedup
  operators unchanged.

Semantics are EXACTLY the composition of the individual operators (the
entry-level oracle pins this: same output as the chained SQL), just with
the redundant physical work removed.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import (
    _checkpoint,
    connected_components,
    jaccard_pairs_from_exploded,
    shingle_ids_from_tokens,
    stratified_sample,
)
from ocr_spark.operators.textstats import tokens, with_lang_id, with_quality


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    quotas: dict[str, int],
    min_quality: int = 50,
    drop_lang: str = "und",
    jaccard_threshold: float = 0.1,
    k: int = 3,
    max_doc_freq: int | None = 1000,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Returns the curated corpus rows (id, stratum, lang_pred,
    quality_score): quality ≥ ``min_quality``, language ≠ ``drop_lang``,
    zero benchmark shingle overlap, one doc (min id) per near-dup cluster,
    sampled per-stratum."""
    scored = with_lang_id(with_quality(docs, text_col), text_col)
    # ONE materialization of the gate survivors (quality/lang scoring is
    # regex-heavy): every later consumer — the shingle explosion, the
    # anti-joins, the final projection — derives from this checkpoint, so
    # the scoring pass never re-executes. The token array is staged in its
    # own projection first — the shingle expression references it 4× and
    # interpreted HOF trees re-run every reference (dedup.shingles_from_tokens)
    kept = (
        scored.filter(
            (F.col("quality_score") >= min_quality)
            & (F.col("lang_pred") != drop_lang)
        )
        .select(
            F.col(id_col).alias("id"),
            F.col(strata_col).alias("stratum"),
            "lang_pred",
            "quality_score",
            tokens(text_col).alias("_toks"),
        )
        .select(
            "id",
            "stratum",
            "lang_pred",
            "quality_score",
            shingle_ids_from_tokens(F.col("_toks"), k).alias("sh"),
        )
    )
    kept = _checkpoint(kept)
    # the shared shingle explosion: decontamination join + jaccard postings
    ex = kept.select(
        "id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
    )

    from ocr_spark.functions.explode import explode_nonnull

    bench_sh = explode_nonnull(
        benchmark.select(tokens(text_col).alias("_btoks")),
        shingle_ids_from_tokens(F.col("_btoks"), k),
        "shingle",
    ).distinct()
    contaminated = (
        ex.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("id")
        .distinct()
    )
    clean_ex = ex.join(contaminated, "id", "left_anti")

    pairs = jaccard_pairs_from_exploded(clean_ex, jaccard_threshold, max_doc_freq)
    dropped = (
        connected_components(pairs)
        .filter(F.col("cluster") != F.col("id"))
        .select("id")
    )
    clean = (
        kept.drop("sh")
        .join(contaminated, "id", "left_anti")
        .join(dropped, "id", "left_anti")
    )
    return stratified_sample(clean, quotas, strata_col="stratum", id_col="id")


#: sampling granularity for mixture thresholds: md5 buckets in [0, 10000)
#: give 0.01% quota resolution with exact integer cross-engine arithmetic.
MIX_GRANULARITY = 10_000


def mixture_thresholds(
    df: DataFrame,
    weights_bps: dict[str, int],
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source keep thresholds for token-weighted corpus mixing: given
    target mixture WEIGHTS (basis points of the total token budget — the
    "data mixture" every LM training run specifies per domain) and the
    budget, derive the deterministic sampling threshold that hits each
    source's target token count in expectation:

        target(src)  = budget · w_bps(src) / 10000
        thr_bps(src) = min(10000, ⌊10000 · target / tokens(src)⌋)
                     = min(10000, ⌊budget · w_bps(src) / tokens(src)⌋)

    A source with fewer tokens than its target keeps everything
    (thr = 10000) — upsampling/epoch-repeat is the loader's job, not the
    sampler's. Unlisted sources get weight 0 (dropped).

    All arithmetic is exact: one long multiply (``budget × w_bps`` must
    stay under 2⁶³ — raises otherwise) and one integer ``div``, both
    reproduced verbatim by the SQL oracle. Returns
    (source, total_docs, total_tokens, thr_bps).

    Shape at 100 TB: one map-side-combined hash aggregate over
    (source, token-count) — the only pass over the corpus — yielding a
    rows-per-source frame that broadcasts everywhere downstream."""
    for src, w in weights_bps.items():
        if w < 0 or budget_tokens * w >= 2**63:
            raise ValueError(f"weight out of range for {src!r}: {w}")
    totals = (
        df.select(
            F.col(source_col).alias("source"),
            F.size(tokens(text_col)).alias("_n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.sum("_n_tok").cast("long").alias("total_tokens"),
        )
    )
    w_map = F.create_map(
        *[F.lit(x) for kv in weights_bps.items() for x in kv]
    )
    num = (
        F.lit(int(budget_tokens)).cast("long")
        * F.coalesce(w_map[F.col("source")], F.lit(0)).cast("long")
    )
    return (
        totals.withColumn("_mix_num", num)
        .withColumn(
            "thr_bps",
            F.when(F.col("total_tokens") <= 0, F.lit(0)).otherwise(
                F.least(
                    F.lit(MIX_GRANULARITY).cast("long"),
                    F.expr("_mix_num div total_tokens"),
                )
            ).cast("int"),
        )
        .drop("_mix_num")
    )


def mix_corpus(
    df: DataFrame,
    weights_bps: dict[str, int],
    budget_tokens: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic token-weighted mixture sampling: keep a document iff
    ``md5(id) mod 10000 < thr_bps(source)`` with thresholds from
    :func:`mixture_thresholds`. Like :func:`~ocr_spark.operators.dedup.
    stratified_sample` (same md5 bucket primitive) but quotas are derived
    from a TOKEN budget instead of given as row percentages — the actual
    contract of a training-mix spec.

    Seed-, partitioning- and cluster-size-independent: the kept set is a
    pure function of (id, source totals, weights). Shape: the thresholds
    frame (rows = #sources) broadcasts; the filter is a narrow probe —
    no shuffle on the corpus side."""
    from ocr_spark.functions.hashing import md5_mod

    thr = mixture_thresholds(
        df, weights_bps, budget_tokens, source_col, text_col
    ).select(F.col("source").alias(source_col), "thr_bps")
    bucket = md5_mod(F.col(id_col).cast("string"), MIX_GRANULARITY)
    return (
        df.join(F.broadcast(thr), source_col, "inner")
        .filter(bucket < F.col("thr_bps"))
        .drop("thr_bps")
    )


def mixture_summary(
    df: DataFrame,
    weights_bps: dict[str, int],
    budget_tokens: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Observability for a mixture run: per source, the totals, the
    derived threshold, and the ACHIEVED kept docs/tokens — the table a
    pipeline operator reads before committing a mix. Two aggregates over
    one staged token projection."""
    from ocr_spark.functions.hashing import md5_mod

    thr = mixture_thresholds(
        df, weights_bps, budget_tokens, source_col, text_col
    )
    staged = df.select(
        F.col(source_col).alias("source"),
        F.size(tokens(text_col)).alias("_n_tok"),
        md5_mod(F.col(id_col).cast("string"), MIX_GRANULARITY).alias("_b"),
    )
    kept = (
        staged.join(
            F.broadcast(thr.select("source", "thr_bps")), "source", "inner"
        )
        .filter(F.col("_b") < F.col("thr_bps"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("_n_tok").cast("long").alias("kept_tokens"),
        )
    )
    return (
        thr.join(kept, "source", "left")
        .select(
            "source",
            "total_docs",
            "total_tokens",
            "thr_bps",
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            F.coalesce("kept_tokens", F.lit(0).cast("long")).alias(
                "kept_tokens"
            ),
        )
        .orderBy("source")
    )

def load_quality_weights() -> dict:
    """The shipped quality-classifier model (``ocr_spark/data/
    quality_weights.json``, trained by ``tools/train_quality.py`` — a
    logistic regression distilling the with_quality heuristic into
    hashed-TF features, the CCNet linear-classifier construction). JSON
    round-trips float64 exactly, so Spark plan, oracle builder and tests
    see bit-identical weights (the IVF/BPE shipped-artifact precedent)."""
    import json
    from importlib.resources import files

    return json.loads(
        files("ocr_spark.data").joinpath("quality_weights.json").read_text()
    )


def classify_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    model: dict | None = None,
) -> DataFrame:
    """Model-based quality filter: (id, logit, keep) from a linear
    classifier over L2-normalized hashed-TF features — the scale-path
    replacement for per-rule heuristics once a corpus outgrows hand
    thresholds (one trained model, one narrow pass).

    Spark-first shape: features come from
    :func:`~ocr_spark.operators.similarity.hashed_tf_embed` (pure JVM
    staged folds, no Python), the score is ONE more narrow expression —
    a zip_with/aggregate dot against the weight literals plus the bias,
    rounded 6 dp. No shuffle, no UDF; at 100 TB this fuses into whatever
    scan already reads the text. The decision boundary is logit ≥ 0
    (sigmoid(0) = 0.5) so no transcendental ever enters the plan or the
    oracle — the logit IS the score, monotone in the probability.

    Determinism: TF counts are integer-exact, normalization and the
    weight fold are fixed-order IEEE ops, weights are float64 literals —
    the SQL oracle reproduces the logit bit-for-bit before the shared
    6 dp rounding."""
    from ocr_spark.operators.similarity import dot, hashed_tf_embed

    if model is None:
        model = load_quality_weights()
    dim = int(model["dim"])
    w = F.array(*[F.lit(float(x)) for x in model["weights"]]).cast(
        "array<double>"
    )
    emb = hashed_tf_embed(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        text_col,
        dim=dim,
        out_col="_qc_emb",
    )
    logit = F.round(
        dot(F.col("_qc_emb"), w) + F.lit(float(model["bias"])), 6
    )
    # logit staged in its own projection: `keep` references it again, and
    # non-codegen HOF projections get no cross-expression CSE (the repo's
    # standing gotcha) — inlining would run the weight fold twice per row
    scored = emb.select("id", logit.alias("logit"))
    return scored.select(
        "id", "logit", (F.col("logit") >= 0).alias("keep")
    )


def with_dsir_weight(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    n_buckets: int = 1 << 16,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023) reduced to its hashed-unigram core: score each raw document by
    the log importance ratio of a TARGET distribution (the corpus you
    want more of) to the RAW distribution (the corpus you are selecting
    from),

        log w(doc) = Σ_tokens ln( p̂_target(b(t)) / p̂_raw(b(t)) ),

    over md5-hashed token buckets ``b(t) = md5_mod(token, n_buckets)``
    (DSIR's hashed n-gram features — the fixed bucket domain makes the
    add-α vocabulary size a CONSTANT, so both estimators smooth over the
    same support and the ratio needs no shared-vocab bookkeeping).
    Returns (id, n_tokens, log_weight); a pipeline keeps the top mass by
    log_weight. The paper's Gumbel-noise resampling step is deliberately
    left to the caller — it is the one non-deterministic piece, and a
    deterministic build selects by rank or threshold instead
    (``cap_per_source`` composes for the per-source balanced variant).

    Shape at 100 TB: two hash aggregates build the bucket count tables
    (≤ n_buckets rows each — tiny, they broadcast), then scoring is one
    narrow explode + two broadcast joins + one per-doc aggregate. No
    UDF, no driver state; the target side is an eval/domain sample and
    N_target ≪ N_raw. log_weight rounds to 4 dp — same cross-engine
    contract as ``with_unigram_nll`` (ln is the only transcendental;
    counts and totals are integer-exact)."""
    from ocr_spark.functions.explode import explode_nonnull
    from ocr_spark.functions.hashing import md5_mod

    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")

    def bucket_counts(frame: DataFrame, cnt_alias: str) -> DataFrame:
        toked = frame.select(tokens(text_col).alias("_ds_toks"))
        return (
            explode_nonnull(toked, "_ds_toks", "token")
            .select(md5_mod(F.col("token"), n_buckets).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(cnt_alias))
        )

    tgt = bucket_counts(target, "_ds_ct")
    raw = bucket_counts(df, "_ds_cr")
    totals = tgt.agg(F.sum("_ds_ct").alias("_ds_nt")).crossJoin(
        raw.agg(F.sum("_ds_cr").alias("_ds_nr"))
    )
    toked = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_ds_toks")
    )
    exploded = explode_nonnull(toked, "_ds_toks", "token", "id").select(
        "id", md5_mod(F.col("token"), n_buckets).alias("bucket")
    )
    av = F.lit(float(alpha) * n_buckets)
    # per-occurrence log ratio; the totals term is constant per token so
    # it folds into the same sum (Σ [ln(ct+α) − ln(cr+α)] + n·ln((Nr+αB)/(Nt+αB)))
    lr = (
        F.log(F.coalesce(F.col("_ds_ct"), F.lit(0)) + F.lit(float(alpha)))
        - F.log(F.coalesce(F.col("_ds_cr"), F.lit(0)) + F.lit(float(alpha)))
        + F.log((F.col("_ds_nr") + av) / (F.col("_ds_nt") + av))
    )
    return (
        exploded.join(F.broadcast(tgt), "bucket", "left")
        .join(F.broadcast(raw), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum(lr), 4).alias("log_weight"),
        )
    )


def cap_per_source(
    df: DataFrame,
    n_per_source: int,
    source_col: str = "source",
    rank_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source document cap — the source-balancing step every web-scale
    corpus runs so one crawl domain cannot dominate the mix: keep at most
    ``n_per_source`` documents per source, ranked by ``rank_col``
    descending (quality-first survival) with ``id_col`` ascending as the
    deterministic tie-break; ``rank_col=None`` keeps the n smallest ids.
    Returns the input rows minus the overflow, unchanged schema.

    ONE window per source partition — the per-key state is a running row
    number, so memory is O(1) per task regardless of how hot a source
    is; skewed sources cost sort time, not memory (contrast collect_list
    caps). At 100 TB this is the same shape as the T8 assembly window:
    one hash shuffle on the source key, then a streaming rank."""
    from pyspark.sql import Window

    if n_per_source <= 0:
        raise ValueError(
            f"n_per_source must be positive, got {n_per_source}"
        )
    order = (
        [F.desc(rank_col), F.col(id_col).asc()]
        if rank_col is not None
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy(source_col).orderBy(*order)
    return (
        df.withColumn("_cap_rn", F.row_number().over(w))
        .filter(F.col("_cap_rn") <= n_per_source)
        .drop("_cap_rn")
    )


def _parse_byte_conf(v: str) -> int:
    """Parse Spark's byte-valued confs ('10485760', '10MB', '1g', '-1')."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
                   ("g", 1 << 30), ("t", 1 << 40), ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(s) * mult


def _should_broadcast_boiler(n_bytes: int, spark) -> bool:
    """line_strip's join rule: broadcast the boilerplate set only
    when its UTF-8 payload fits the session's broadcast threshold with
    2x headroom (the UnsafeRow broadcast form roughly doubles string
    payloads). A non-positive threshold (broadcast disabled) always
    routes to the shuffle anti-join."""
    thr = _parse_byte_conf(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    )
    return thr > 0 and 2 * n_bytes <= thr


def line_strip(
    docs: DataFrame,
    max_doc_freq: int = 2,
    delimiter: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level line-frequency boilerplate strip (the CCNet/C4 gate:
    a line appearing verbatim in many documents is navigation chrome /
    cookie banners / license headers, not content — reference parity:
    the reference strips per-page boilerplate inside its extractor loop,
    this is the corpus-wide relational form). Splits every document on
    ``delimiter``, counts for each non-empty line the number of DISTINCT
    documents containing it, removes every occurrence of lines whose
    document frequency exceeds ``max_doc_freq``, and reassembles the
    survivors in original order. Returns
    ``(id_col, clean_text, n_lines, n_removed)`` — one row per input
    document (documents whose every line is boilerplate survive with
    ``clean_text = ''``; NULL text yields ``('', 0, 0)``).

    Exactness contract: pure string ops — split keeps trailing empty
    segments (limit −1, mirroring DuckDB ``string_split``), empty
    segments are always kept and never counted, reassembly joins with
    the same delimiter. No floats anywhere.

    Scale shape (100 TB): df(line) is a two-stage distinct aggregate —
    ``(line, id).distinct()`` then a map-side-combined count — so a line
    occurring in billions of documents never concentrates in one task;
    the strip itself is a broadcast LEFT ANTI join against the df>cap
    set, which is small by construction (≤ total_lines / max_doc_freq
    distinct values, and in practice the boilerplate tail). The plan
    measures the set's actual bytes (one eager localCheckpoint the join
    then reuses — no extra corpus pass) and falls back to an AQE shuffle
    anti-join when it exceeds the session's
    ``spark.sql.autoBroadcastJoinThreshold``, so an aggressive
    ``max_doc_freq`` can never OOM the driver. The measurement makes the
    call eager: it runs the df-count jobs when the plan is built.
    Reassembly is ONE ``sort_array(collect_list(struct(pos, line)))`` per
    document — bounded by lines-per-document, the same per-group contract
    as the T8 assembly (see extraction.assemble_docs' segmenting guard
    for the pathological-document escape hatch). The delimiter is a
    literal, not a regex (escaped before ``F.split``).
    """
    import re as _re

    if max_doc_freq < 1:
        raise ValueError(f"max_doc_freq must be >= 1, got {max_doc_freq}")
    if delimiter == "":
        raise ValueError("delimiter must be non-empty")
    staged = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), _re.escape(delimiter), -1).alias("_ls"),
    )
    lines = staged.select(
        "id", F.posexplode("_ls").alias("pos", "line")
    )
    boiler = (
        lines.filter(F.col("line") != "")
        .select("line", "id")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("line")
    )
    # an aggressive max_doc_freq can make the df>cap set arbitrarily
    # large, and force-broadcasting it would OOM the driver where a
    # shuffle anti-join is the right plan. Materialize the set once
    # (localCheckpoint — the anti-join reuses the same blocks, so the
    # decision costs no extra corpus pass) and broadcast only when its
    # measured bytes fit the session's broadcast threshold. The
    # checkpoint blocks must outlive this function (the returned plan
    # reads them), so there is no unpersist here; Spark's ContextCleaner
    # reclaims them once the caller drops the frame.
    boiler = boiler.localCheckpoint(eager=True)
    n_bytes = boiler.agg(
        F.coalesce(F.sum(F.octet_length("line")), F.lit(0))
    ).collect()[0][0]
    if _should_broadcast_boiler(int(n_bytes), docs.sparkSession):
        boiler = F.broadcast(boiler)
    kept = lines.join(boiler, "line", "left_anti")
    packed = F.struct(F.col("pos").alias("p"), F.col("line").alias("t"))
    reassembled = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(packed)), lambda s: s["t"]
            ),
            delimiter,
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    # NULL text → 0 lines, stated explicitly: relying on size(NULL)
    # returning NULL (Spark 4 / ANSI) + coalesce would silently become
    # -1 under legacy sizeOfNull semantics
    totals = staged.select(
        "id",
        F.when(F.col("_ls").isNull(), F.lit(0))
        .otherwise(F.size("_ls"))
        .alias("_n_lines"),
    )
    return (
        totals.join(reassembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("_clean"), F.lit("")).alias("clean_text"),
            F.col("_n_lines").cast("int").alias("n_lines"),
            (F.col("_n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    delimiter: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-GLOBAL keep-first-occurrence paragraph dedup (the
    RefinedWeb / Dolma exact-paragraph rule: Penedo et al. 2023 §3.3,
    Soldaini et al. 2024 — and the paragraph-granularity half of C4's
    three-sentence-span rule, Raffel et al. 2020). The corpus-frequency
    STRIP gate is :func:`line_strip`; this is the complementary
    first-winner rule: every distinct non-empty segment survives exactly
    once — at its first occurrence, first = smallest (doc id, position)
    — and every later occurrence is removed. Splits each document on the
    literal ``delimiter``, reassembles survivors in original order, and
    returns ``(id_col, clean_text, n_paras, n_removed)`` — one row per
    input document (a document whose every segment occurred earlier
    survives with ``clean_text = ''``; NULL text yields ``('', 0, 0)``).

    Exactness contract (shared with line_strip): split keeps trailing
    empty segments (limit −1, mirroring DuckDB ``string_split``); empty
    segments are always kept and never counted; reassembly joins with
    the same delimiter. Segments are keyed by their 60-bit md5 prefix —
    the shingle family's fixed-width join-key contract (dedup.py), at a
    collision rate the SQL oracle reproduces bit-for-bit.

    Scale shape (100 TB): the first-occurrence winner per segment is ONE
    ``min(struct(id, pos))`` hash aggregate — map-side partial combine
    absorbs a boilerplate paragraph occurring in billions of documents
    (the one-task hot-key collapse a ``row_number`` window over the
    segment key would suffer — that window is exactly what the oracle
    uses, because the oracle only needs the semantics); the keep test is
    one shuffle join of the segment stream against the winner table on
    the fixed-width hash key. Reassembly is the line_strip contract: one
    ``sort_array(collect_list(struct(pos, text)))`` per document,
    bounded by segments-per-document.
    """
    import re as _re

    if delimiter == "":
        raise ValueError("delimiter must be non-empty")
    staged = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), _re.escape(delimiter), -1).alias("_pd"),
    )
    paras = staged.select("id", F.posexplode("_pd").alias("pos", "para"))
    nonempty = paras.filter(F.col("para") != "").select(
        "id",
        "pos",
        "para",
        F.conv(F.substring(F.md5("para"), 1, 15), 16, 10)
        .cast("long")
        .alias("_h"),
    )
    winners = nonempty.groupBy("_h").agg(
        F.min(
            F.struct(F.col("id").alias("i"), F.col("pos").alias("p"))
        ).alias("_w")
    )
    kept_nonempty = (
        nonempty.join(winners, "_h")
        .filter(
            (F.col("_w.i") == F.col("id")) & (F.col("_w.p") == F.col("pos"))
        )
        .select("id", "pos", "para")
    )
    kept = kept_nonempty.unionByName(
        paras.filter(F.col("para") == "").select("id", "pos", "para")
    )
    packed = F.struct(F.col("pos").alias("p"), F.col("para").alias("t"))
    reassembled = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(packed)), lambda s: s["t"]
            ),
            delimiter,
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = staged.select(
        "id",
        F.when(F.col("_pd").isNull(), F.lit(0))
        .otherwise(F.size("_pd"))
        .alias("_n_paras"),
    )
    return (
        totals.join(reassembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("_clean"), F.lit("")).alias("clean_text"),
            F.col("_n_paras").cast("int").alias("n_paras"),
            (F.col("_n_paras") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


#: C4's page-level drop markers (Raffel et al. 2020 §2.2): curly braces
#: signal code, "lorem ipsum" signals placeholder boilerplate.
C4_DOC_BLOCKLIST = ("{", "lorem ipsum")
#: C4's line-level drop marker.
C4_LINE_BLOCKLIST = ("javascript",)


def c4_rule_filters(
    docs: DataFrame,
    *,
    delimiter: str = "\n",
    min_words: int = 5,
    require_terminal_punct: bool = True,
    min_sentences: int = 3,
    line_blocklist: tuple[str, ...] = C4_LINE_BLOCKLIST,
    doc_blocklist: tuple[str, ...] = C4_DOC_BLOCKLIST,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The C4 heuristic rule gate (Raffel et al. 2020 §2.2) — the
    RULE-BASED complement to the corpus-frequency :func:`line_strip` and
    first-winner :func:`paragraph_dedup`: a line survives iff it ends in
    a terminal punctuation mark (``. ! ? "``, after right-trim; rule
    toggled by ``require_terminal_punct``), carries at least
    ``min_words`` whitespace-delimited words, and contains no
    ``line_blocklist`` term (case-insensitive — C4 drops any line with
    the word "javascript"); a document is flagged keep iff its SURVIVING
    text still counts at least ``min_sentences`` sentence terminals
    (runs of ``[.!?]``) and the ORIGINAL text contains no
    ``doc_blocklist`` marker (C4: pages with "{" or "lorem ipsum" are
    dropped whole). Reference parity: the reference applies per-page
    cleanup heuristics inside its extraction loop (main.py's page loop);
    this is the corpus-wide relational form of that gate.

    Returns one row per input document:
    ``(id_col, clean_text, n_lines, n_kept, drop_short, drop_nopunct,
    drop_term, n_sentences, keep_doc)``. The three drop counters count
    rule VIOLATIONS independently (a line failing two rules increments
    both), so each rule's bite is observable per document; ``n_kept``
    counts lines passing all three. NULL text yields
    ``('', 0, 0, 0, 0, 0, 0, false)``.

    Exactness contract (shared with line_strip): the delimiter is a
    literal (escaped before ``F.split``), split keeps trailing empty
    segments (limit −1), words are ``\\S+`` runs, reassembly joins with
    the same delimiter — pure string/integer ops, no floats anywhere.

    Scale shape (100 TB): ONE narrow projection — every rule is a
    higher-order-function filter over the split array, zero shuffles,
    zero UDFs, fan-in bounded by lines-per-document. The rule stages are
    separate Projects whose multi-referenced expensive expressions
    Catalyst's CollapseProject declines to inline, so each regex pass
    runs a bounded number of times per line.
    """
    import re as _re

    if min_words < 0 or min_sentences < 0:
        raise ValueError("min_words and min_sentences must be >= 0")
    if delimiter == "":
        raise ValueError("delimiter must be non-empty")

    def punct_ok(line):
        if not require_terminal_punct:
            return F.lit(True)
        return F.rtrim(line).rlike('[.!?"]$')

    def words_ok(line):
        return (
            F.size(F.regexp_extract_all(line, F.lit(r"\S+"), F.lit(0)))
            >= min_words
        )

    def block_hit(line):
        hit = F.lit(False)
        for term in line_blocklist:
            hit = hit | F.contains(F.lower(line), F.lit(term.lower()))
        return hit

    staged = docs.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_txt"),
        F.when(
            F.col(text_col).isNotNull(),
            F.split(F.col(text_col), _re.escape(delimiter), -1),
        ).alias("_ls"),
    )
    counted = staged.select(
        "id",
        "_txt",
        F.when(F.col("_ls").isNull(), F.lit(0))
        .otherwise(F.size("_ls"))
        .alias("_n_lines"),
        F.size(F.filter("_ls", lambda l: ~punct_ok(l))).alias("_d_punct"),
        F.size(F.filter("_ls", lambda l: ~words_ok(l))).alias("_d_short"),
        F.size(F.filter("_ls", lambda l: block_hit(l))).alias("_d_term"),
        F.filter(
            "_ls", lambda l: punct_ok(l) & words_ok(l) & ~block_hit(l)
        ).alias("_kept"),
    )
    assembled = counted.select(
        "id",
        "_txt",
        "_n_lines",
        "_d_punct",
        "_d_short",
        "_d_term",
        F.when(F.col("_kept").isNull(), F.lit(0))
        .otherwise(F.size("_kept"))
        .alias("_n_kept"),
        F.coalesce(F.array_join("_kept", delimiter), F.lit("")).alias(
            "_clean"
        ),
    )
    doc_block = F.lit(False)
    for term in doc_blocklist:
        doc_block = doc_block | F.contains(
            F.lower(F.col("_txt")), F.lit(term.lower())
        )
    n_sent = F.size(
        F.regexp_extract_all(F.col("_clean"), F.lit(r"[.!?]+"), F.lit(0))
    )
    return assembled.select(
        F.col("id").alias(id_col),
        F.col("_clean").alias("clean_text"),
        F.col("_n_lines").cast("int").alias("n_lines"),
        F.col("_n_kept").cast("int").alias("n_kept"),
        F.coalesce(F.col("_d_short"), F.lit(0)).cast("int").alias(
            "drop_short"
        ),
        F.coalesce(F.col("_d_punct"), F.lit(0)).cast("int").alias(
            "drop_nopunct"
        ),
        F.coalesce(F.col("_d_term"), F.lit(0)).cast("int").alias(
            "drop_term"
        ),
        n_sent.cast("int").alias("n_sentences"),
        F.when(
            F.col("_txt").isNotNull(),
            (n_sent >= min_sentences) & ~doc_block,
        )
        .otherwise(F.lit(False))
        .alias("keep_doc"),
    )


def _cp1252_mojibake(ch: str) -> str | None:
    """The UTF-8-bytes-read-as-cp1252 corruption of ``ch`` — the single
    most common encoding artifact in web-crawled text (what ftfy's
    sloppy-cp1252 heuristic undoes). Characters whose UTF-8 bytes hit a
    cp1252 hole (0x81/8D/8F/90/9D) are skipped (strict decode only), so
    every table entry is printable in both engines' SQL literals."""
    try:
        return ch.encode("utf-8").decode("cp1252")
    except UnicodeDecodeError:
        return None


#: characters whose mojibake form we repair; the table is DERIVED (not
#: hand-typed) so the Spark fold and the SQL oracle share one source of
#: truth. Order: longest corrupted form first (3-byte UTF-8 before
#: 2-byte), then by codepoint — a fixed total order both engines replay.
_MOJI_CHARS = "’‘“—–… " + (
    "éèêëáàâäçñíìîóòôöúùûü£©®°·«»"
)
MOJIBAKE_REPAIRS: list[tuple[str, str]] = sorted(
    (
        (bad, ch)
        for ch in _MOJI_CHARS
        if (bad := _cp1252_mojibake(ch)) is not None
    ),
    key=lambda p: (-len(p[0]), p[1]),
)

#: HTML entity decode table, ONE unescape level (html.unescape parity on
#: singly-escaped text). Application order is list order; ``&amp;`` runs
#: LAST so double-escaped entities decode exactly one level
#: (``&amp;lt;`` → ``&lt;``, never ``<``).
ENTITY_REPAIRS: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&rsquo;", "’"),
    ("&lsquo;", "‘"),
    ("&rdquo;", "”"),
    ("&ldquo;", "“"),
    ("&mdash;", "—"),
    ("&ndash;", "–"),
    ("&hellip;", "…"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
]


def mojibake_repair(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Encoding-artifact repair for crawled text — the ftfy-style fix
    pass an extraction pipeline runs before any tokenization: undo
    UTF-8-read-as-cp1252 mojibake (``MOJIBAKE_REPAIRS``, a table DERIVED
    from the encode/decode round-trip) and decode one level of HTML
    entities (``ENTITY_REPAIRS``; ``&amp;`` last). Returns
    ``(id_col, clean_text, n_encoding, n_entities)``; NULL text yields
    ``('', 0, 0)``.

    Exactness contract: replacements are literal (no regex), applied as
    ONE fold in the fixed table order — both engines' ``replace`` scans
    left-to-right non-overlapping, so the chained result is
    deterministic and identical. The two counters are occurrence counts
    of each corrupted form in the INPUT text (measured before the fold,
    via the length-delta identity ``(len(t) − len(replace(t, bad, '')))
    / len(bad)`` — exact integer arithmetic), not fold-state counts:
    input-measured counts are order-independent and SQL-mirrorable
    without materializing every intermediate string.

    Scale shape (100 TB): ONE narrow projection, zero shuffles, zero
    UDFs — the fold is a chain of JVM ``replace`` calls inside
    whole-stage codegen; per-pattern counting re-reads the input column
    (O(patterns · bytes) per row, all columnar).
    """
    t = F.col(text_col)
    clean = t
    for bad, good in MOJIBAKE_REPAIRS + ENTITY_REPAIRS:
        clean = F.replace(clean, F.lit(bad), F.lit(good))

    def occurrences(pairs) -> Column:
        total = F.lit(0).cast("long")
        for bad, _ in pairs:
            total = total + F.floor(
                (F.length(t) - F.length(F.replace(t, F.lit(bad), F.lit(""))))
                / F.lit(len(bad))
            ).cast("long")
        return total

    return docs.select(
        F.col(id_col).alias("id"),
        F.coalesce(clean, F.lit("")).alias("clean_text"),
        F.coalesce(occurrences(MOJIBAKE_REPAIRS), F.lit(0))
        .cast("long")
        .alias("n_encoding"),
        F.coalesce(occurrences(ENTITY_REPAIRS), F.lit(0))
        .cast("long")
        .alias("n_entities"),
    )


def collapse_repeats(
    docs: DataFrame,
    delimiter: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WITHIN-document consecutive-repeat collapse: split each document on
    ``delimiter`` and keep only the FIRST segment of every run of equal
    consecutive segments — the crawl-artifact cleanup for progressive-
    render duplicates, stuttered paginated boilerplate and blank-line
    runs (with the default newline delimiter) or token stutter (with a
    space delimiter). The within-doc, order-preserving complement to the
    corpus-level :func:`line_strip` / :func:`paragraph_dedup`: only
    ADJACENT equality collapses — two equal lines separated by other
    content both survive (that case is cross-position repetition, which
    gopher_repetition measures and ExactSubstr stripping removes).

    Returns ``(id_col, clean_text, n_parts, n_collapsed)``; NULL text
    yields ``('', 0, 0)`` (same contract as line_strip). Pure string
    ops — split keeps trailing empty segments (limit −1, mirroring
    DuckDB ``string_split``), reassembly joins with the same delimiter,
    the delimiter is a literal (escaped before ``F.split``).

    Scale shape (100 TB): ONE narrow projection — the keep-decision is a
    higher-order filter comparing each segment to its predecessor by
    index, zero shuffles, zero UDFs, whole-stage codegen; cost is
    O(segments) per row.
    """
    import re as _re

    if delimiter == "":
        raise ValueError("delimiter must be non-empty")
    parts = F.split(F.col(text_col), _re.escape(delimiter), -1)
    staged = docs.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.array().cast("array<string>"))
        .otherwise(parts)
        .alias("_parts"),
    )
    ps = F.col("_parts")
    # keep segment i (0-based) iff first, or different from segment i-1;
    # the when() keeps the 1-based element_at off the i==0 branch (same
    # lazy-branch pattern as exact_substring_spans' span derivation)
    kept = F.filter(
        ps,
        lambda x, i: F.when(i == 0, F.lit(True)).otherwise(
            x != F.element_at(ps, i)
        ),
    )
    return staged.select(
        id_col,
        F.array_join(kept, delimiter).alias("clean_text"),
        F.size(ps).cast("int").alias("n_parts"),
        (F.size(ps) - F.size(kept)).cast("int").alias("n_collapsed"),
    )


def curriculum_bins(
    df: DataFrame,
    n_bins: int = 8,
    value_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Percentile-threshold curriculum assignment (SURVEY §2.8 X61):
    bucket every document into one of ``n_bins`` difficulty tiers by
    exact corpus quantiles of ``value_col`` — the length-ordered
    (short → long) curriculum of Bengio et al. 2009's curriculum-learning
    recipe, precomputed as a column so a downstream epoch scheduler reads
    tiers off a plain filter instead of sorting the corpus per epoch.

    Returns ``(id, value, bin)`` with ``bin ∈ [0, n_bins)``, NULL for a
    NULL value (no value is no evidence of difficulty); bin b holds
    values in ``(t_b-1, t_b]`` where ``t_i`` is the exact interpolated
    ``i/n_bins`` quantile. On heavily tied value distributions adjacent
    thresholds coincide and the bins between them are empty — quantile
    thresholds, not forced equal-size ntiles, because a global ``ntile``
    is a single-task total-order window (the one shape this engine
    refuses; see the 100-TB note).

    Determinism: thresholds are the exact linear-interpolated quantile
    family (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` at rank
    ``q·(n−1)``) at fractions ``i/n_bins``, which are exactly
    representable only when ``n_bins`` is a power of two (the default 8);
    assignment is integer-vs-double strict comparison against those
    literals — no arithmetic whose rounding could differ.

    Scale shape at 100 TB: ONE exact-percentile aggregate over a
    column-pruned 2-column scan produces ``n_bins − 1`` doubles — bounded
    metadata, collected like the IVF centroid literals — and assignment
    is a NARROW per-row fold over the threshold array literal: zero
    shuffles, no global sort, no window. (A global ``ntile(B)`` would
    funnel 10^12 rows through one ordered window partition; quantile
    thresholds buy the same curriculum at scan cost.)
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    v = F.col(value_col).cast("double")
    fracs = [i / n_bins for i in range(1, n_bins)]
    row = df.select(
        F.percentile(v, F.array(*[F.lit(q) for q in fracs])).alias("t")
    ).collect()[0]
    thresholds = list(row["t"] or [])
    if not thresholds:  # no non-NULL value, so every bin is NULL
        bin_expr = F.lit(0)
    else:
        ts = F.array(*[F.lit(float(t)) for t in thresholds])
        bin_expr = F.aggregate(
            ts,
            F.lit(0),
            lambda acc, t: acc + F.when(v > t, F.lit(1)).otherwise(F.lit(0)),
        )
    return df.select(
        F.col(id_col).alias("id"),
        F.col(value_col).alias("value"),
        F.when(v.isNotNull(), bin_expr).cast("int").alias("bin"),
    )
