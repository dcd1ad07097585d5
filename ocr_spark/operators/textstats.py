"""Text-analysis operators for large-scale training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring (length / punctuation /
stopword ratios), token counting, and document fingerprinting over a
``documents``-style table. These generalize the reference's per-document
scoring ideas (alfalaq12/OCR ``scoring_service.py:62-126`` word extraction +
ratio scoring) to the generic training-data-curation setting.

Everything here is **pure built-in column expressions** — no Python UDFs, no
shuffle (all narrow per-row transforms), whole-stage-codegen friendly — so
the operators scale linearly with input splits: at 100 TB these run at scan
speed and the only cost is the parquet read itself. The one exception is
:func:`with_bpe_token_counts` (exact BPE is inherently iterative), which is
an Arrow-batched pandas UDF with per-word-type memoization.

Determinism contract: every function has an exact ANSI-SQL re-expression
(used as the DuckDB oracle in ``__spark_entry__.py``) — same regexes, same
word lists, same rounding.
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

#: the word regex shared with the reference's scoring/unknown-word extraction
#: (scoring_service.py:71, dictionary_corrector.py:226)
WORD_RE = "[a-z]{3,}"

#: tiny deterministic stopword lists for the lang-ID heuristic (public
#: high-frequency function words; the heuristic is n-gram/stopword voting,
#: standard practice for cheap language ID)
EN_STOPWORDS = (
    "the of and to in a is that it for on with as are was at be this have "
    "from or by not but all were when we there can an your which their"
).split()
ID_STOPWORDS = (
    "yang dan di ke dari untuk dengan pada adalah ini itu tidak dalam akan "
    "ada juga saya kami mereka bisa harus sudah belum atau tersebut dapat"
).split()


def tokens(text_col: str = "text") -> Column:
    """Lowercased >=3-letter word tokens as an array (codegen, no UDF)."""
    return F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_RE}', 0)")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token / whitespace-token / char counts per document.

    ``n_tokens``: regex word tokens; ``n_ws_tokens``: whitespace-split count
    (BPE-ish upper bound ``n_bpe_est`` = ceil(chars/4), the common
    chars-per-token rule of thumb, as a cheap SQL-expressible estimator —
    :func:`with_bpe_token_counts` is the exact counter).
    """
    return df.select(
        "*",
        F.size(tokens(text_col)).alias("n_tokens"),
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
        .alias("n_ws_tokens"),
        F.ceil(F.length(text_col) / 4).cast("long").alias("n_bpe_est"),
    )


def with_bpe_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """EXACT BPE token count per document (``n_bpe``) using the vendored
    merges table (functions/bpe.py) — the real budget tool the
    ``n_bpe_est = ceil(chars/4)`` heuristic in :func:`with_token_stats`
    stands in for. Arrow-batched pandas UDF (BPE application is inherently
    iterative — not expressible in built-in column functions); the encoder
    memoizes per word type, so Zipfian corpora count at dict-hit speed.
    Narrow, no shuffle; deterministic on every engine/partitioning (merge
    application order is rank-based, pinned in tests/test_textstats.py)."""

    @pandas_udf(IntegerType())
    def bpe_count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from ocr_spark.functions.bpe import vendored

        enc = vendored()  # loads once per Python worker (lru_cache)
        for texts in batches:
            yield pd.Series(
                [enc.count(t if isinstance(t, str) else None) for t in texts],
                dtype="int32",
            )

    return df.withColumn("n_bpe", bpe_count(F.col(text_col)))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: count stopword hits per language, take the
    argmax (ties and zero-evidence rows → 'und'). Adds ``lang_pred``,
    ``en_hits``, ``id_hits``. Tokenization is staged into its own
    projection so the regex runs once per row, not once per language."""
    en_lit = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    id_lit = F.array(*[F.lit(w) for w in ID_STOPWORDS])
    out = (
        df.select("*", tokens(text_col).alias("_toks"))
        .select(
            "*",
            F.size(
                F.filter("_toks", lambda t: F.array_contains(en_lit, t))
            ).alias("en_hits"),
            F.size(
                F.filter("_toks", lambda t: F.array_contains(id_lit, t))
            ).alias("id_hits"),
        )
        .drop("_toks")
    )
    return out.withColumn(
        "lang_pred",
        F.when(F.col("en_hits") > F.col("id_hits"), F.lit("en"))
        .when(F.col("id_hits") > F.col("en_hits"), F.lit("id"))
        .otherwise(F.lit("und")),
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score in [0,100].

    Features: length, alpha ratio, punctuation ratio, stopword ratio,
    mean word length. Score = 100 * (0.4*stopword_signal + 0.3*alpha_ratio
    + 0.3*length_signal), truncated toward zero like the reference's
    ``int()`` scoring (scoring_service.py:159-164). All ratios are exact
    rational arithmetic over counts, rounded to 4 dp — reproducible in SQL.
    """
    # Stage the raw counts behind an eval barrier so each regex runs ONCE
    # per row: a single Project would inline the token extraction into every
    # ratio and the score (higher-order-function expressions are not
    # codegen-subexpression-eliminated), multiplying the regex work ~4x.
    stop_lit = F.array(*[F.lit(w) for w in EN_STOPWORDS + ID_STOPWORDS])
    tokked = df.select("*", tokens(text_col).alias("_toks"))
    counted = tokked.select(
        "*",
        F.length(text_col).alias("_nc"),
        F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", "")).alias("_na"),
        F.length(
            F.regexp_replace(F.col(text_col), r"[^.,;:!?'\"()\[\]-]", "")
        ).alias("_np"),
        F.size("_toks").alias("_nt"),
        F.size(
            F.filter("_toks", lambda t: F.array_contains(stop_lit, t))
        ).alias("_ns"),
    ).drop("_toks")
    nc, na, np_, nt, ns = (F.col(c) for c in ("_nc", "_na", "_np", "_nt", "_ns"))
    alpha_ratio = F.when(nc > 0, na / nc).otherwise(F.lit(0.0))
    punct_ratio = F.when(nc > 0, np_ / nc).otherwise(F.lit(0.0))
    stop_ratio = F.when(nt > 0, ns / nt).otherwise(F.lit(0.0))
    # length signal: saturating ramp, full credit at >=200 chars
    len_signal = F.least(nc / F.lit(200.0), F.lit(1.0))
    score = F.floor(
        100 * (0.4 * stop_ratio + 0.3 * alpha_ratio + 0.3 * len_signal)
    ).cast("int")

    return counted.select(
        "*",
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        score.alias("quality_score"),
    ).drop("_nc", "_na", "_np", "_nt", "_ns")


#: winnowing defaults: 8-char grams, 4-hash windows — any shared substring
#: of ≥ k+w-1 = 11 normalized chars is guaranteed to produce a shared
#: fingerprint (the winnowing detection guarantee)
WINNOW_K = 8
WINNOW_W = 4


def with_winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    out_col: str = "winnow",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
    the MOSS scheme): normalize → hash every k-char gram (rolling k-gram
    set) → keep the minimum of each w-hash window → distinct sorted set.
    Unlike :func:`with_fingerprint`'s whole-document hash, shared SUBSTRINGS
    of ≥ k+w-1 chars guarantee shared fingerprints, so overlap of the sets
    localizes partial copies, not just identical documents.

    Pure JVM higher-order functions, narrow, no shuffle; each stage
    (normalized text, gram hashes, window minima) sits in its own
    projection — no cross-expression CSE for these, so inlining would
    re-hash every gram per derived column. Gram hashes reuse the repo's
    md5 bucket primitive at modulus 2³² (identity on the 8-hex value), so
    the DuckDB oracle mirrors them with the standard hex-cast trick.
    Documents with fewer than k+w-1 normalized chars yield an empty set."""
    from ocr_spark.functions.hashing import md5_mod

    if k <= 0 or w <= 0:
        raise ValueError(f"k and w must be positive, got k={k}, w={w}")
    empty = F.array().cast("array<long>")
    staged = df.withColumn(
        "_wn_t", F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    )
    n_grams = F.length("_wn_t") - k + 1
    staged = staged.withColumn(
        "_wn_h",
        F.when(
            F.length("_wn_t") >= k,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: md5_mod(F.col("_wn_t").substr(i, F.lit(k)), 1 << 32),
            ),
        ).otherwise(empty),
    ).drop("_wn_t")
    n_windows = F.size("_wn_h") - w + 1
    winnowed = F.when(
        F.size("_wn_h") >= w,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_windows),
                    lambda j: F.array_min(F.slice("_wn_h", j, w)),
                )
            )
        ),
    ).otherwise(empty)
    return staged.withColumn(out_col, winnowed).drop("_wn_h")


def source_stats(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source curation dashboard: doc count, distinct
    normalized-content fingerprints, duplicate rate, quality mean/min/max —
    the domain-level view a web-scale pipeline uses to decide which sources
    to keep, cap, or drop (per-host/per-domain stats in the web setting).

    Composes :func:`with_quality` + :func:`with_fingerprint` (one narrow
    scoring pass) into ONE aggregate; ``count(DISTINCT fingerprint)`` plans
    as Spark's two-stage distinct aggregate (partial per-partition expand,
    then final), so the shuffle carries (source, fingerprint) pairs — fine
    at any scale because fingerprints are fixed-width md5, and the number
    of sources is small."""
    scored = with_fingerprint(with_quality(df, text_col), text_col)
    n_docs = F.count(F.lit(1))
    n_unique = F.countDistinct("fingerprint")
    return (
        scored.groupBy(source_col)
        .agg(
            n_docs.alias("n_docs"),
            n_unique.alias("n_unique"),
            F.round(1 - n_unique / n_docs, 4).alias("dup_rate"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
            F.min("quality_score").alias("min_quality"),
            F.max("quality_score").alias("max_quality"),
        )
        .orderBy(source_col)
    )


def with_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
    Models", table A1 — the public quality-filter rules every web-corpus
    pipeline applies), all as narrow array expressions:

    * ``dup_line_frac`` — fraction of lines that are repeats of an
      earlier line: ``1 − distinct/total`` over ``split(text, '\\n')``.
    * ``dup_line_char_frac`` — fraction of line characters sitting in
      those repeated occurrences (chars after each line's first copy).
    * ``top{top_n}gram_char_frac`` — chars covered by the single most
      frequent word ``top_n``-gram (count × gram length / text length);
      ties break to the lexicographically smallest gram.
    * ``dup{dup_n}gram_char_frac`` — chars in repeated occurrences of any
      duplicated ``dup_n``-gram, count-based (overlaps are not
      deduplicated — the count·len over-approximation of the published
      character-coverage variant, documented so the threshold is
      calibrated against THIS definition).

    Physical shape: tokenize once (staged projection — the 4-reference
    HOF hazard), sort the gram array, then ONE aggregate fold computes
    run lengths / best run / duplicate chars in O(n log n) per row with
    no shuffle and no UDF. Docs with fewer than n tokens get NULL n-gram
    fracs (no signal), empty docs NULL line fracs."""
    staged = df.withColumn("_rep_toks", tokens(text_col)).withColumn(
        "_rep_lines", F.split(F.col(text_col), "\n")
    )

    def gram_arr(n: int) -> Column:
        toks = F.col("_rep_toks")
        return F.when(
            F.size(toks) >= n,
            F.sort_array(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - n + 1),
                    lambda i: F.array_join(F.slice(toks, i, n), " "),
                )
            ),
        )

    def run_fold(sorted_col: Column) -> Column:
        """struct(best_run, best_gram, dup_chars) over a sorted gram array."""
        init = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit("").alias("bestg"),
            F.lit(0).cast("long").alias("dupc"),
        )

        def step(acc, g):
            is_rep = g == acc["prev"]
            new_run = F.when(is_rep, acc["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                g.alias("prev"),
                new_run.alias("run"),
                F.when(new_run > acc["best"], new_run)
                .otherwise(acc["best"])
                .alias("best"),
                F.when(new_run > acc["best"], g)
                .otherwise(acc["bestg"])
                .alias("bestg"),
                (
                    acc["dupc"]
                    + F.when(is_rep, F.length(g)).otherwise(F.lit(0))
                ).alias("dupc"),
            )

        return F.aggregate(sorted_col, init, step)

    nc = F.length(text_col).cast("double")
    lines = F.col("_rep_lines")
    n_lines = F.size(lines)
    line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    distinct_line_chars = F.aggregate(
        F.array_distinct(lines), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    top_fold = run_fold(gram_arr(top_n))
    dup_fold = run_fold(gram_arr(dup_n))
    out = (
        staged.withColumn("_rep_top", top_fold)
        .withColumn("_rep_dup", dup_fold)
        .withColumn("_rep_lc", line_chars)
        .withColumn("_rep_dlc", distinct_line_chars)
    )
    return (
        out.select(
            "*",
            F.when(
                n_lines > 0,
                F.round(1 - F.size(F.array_distinct(lines)) / n_lines, 6),
            ).alias("dup_line_frac"),
            F.when(
                F.col("_rep_lc") > 0,
                F.round(
                    (F.col("_rep_lc") - F.col("_rep_dlc")) / F.col("_rep_lc"), 6
                ),
            ).alias("dup_line_char_frac"),
            F.when(
                F.col("_rep_top").isNotNull() & (nc > 0),
                F.round(
                    F.col("_rep_top.best")
                    * F.length(F.col("_rep_top.bestg"))
                    / nc,
                    6,
                ),
            ).alias(f"top{top_n}gram_char_frac"),
            F.when(
                F.col("_rep_dup").isNotNull() & (nc > 0),
                F.round(F.col("_rep_dup.dupc") / nc, 6),
            ).alias(f"dup{dup_n}gram_char_frac"),
        )
        .drop("_rep_toks", "_rep_lines", "_rep_top", "_rep_dup", "_rep_lc", "_rep_dlc")
    )


def unigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus unigram table (token, cnt) — ONE hash-aggregate over the
    exploded token stream (map-side partial combine; the shuffle carries
    one row per distinct token per partition). The training half of the
    CCNet/KenLM-style perplexity filter, reduced to its unigram core."""
    from ocr_spark.functions.explode import explode_nonnull

    toked = df.select(tokens(text_col).alias("_lm_toks"))
    return (
        explode_nonnull(toked, "_lm_toks", "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def with_unigram_nll(
    df: DataFrame,
    counts: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document mean negative log-likelihood under an add-α unigram
    LM — the perplexity quality filter of the CCNet pipeline (Wenzek et
    al. 2020), reduced to its unigram core so training is ONE aggregate
    and scoring is exact arithmetic over counts. Returns
    (id, n_scored_tokens, avg_nll) — ``exp(avg_nll)`` is the perplexity;
    corpora keep documents below a threshold.

    ``counts`` defaults to :func:`unigram_counts` over ``df`` itself
    (self-scoring); pass a held-out counts table for the train/score
    split. lp(t) = ln((c(t)+α)/(N+αV)) with N = total tokens and V =
    vocabulary size, both carried as a broadcast one-row frame so the
    whole plan stays lazy. avg_nll rounds to 4 dp — coarse enough that
    the cross-engine float-summation ulp noise cannot flip the rounding
    (ln is the repo's only cross-engine transcendental; everything else
    here is integer-exact).

    Shape at 100 TB: token-count aggregate + one join of the exploded
    token stream against the counts table (broadcastable for real
    vocabularies — ~10⁷ rows — else a shuffle join on fixed-width
    tokens) + one per-doc aggregate. No UDF, no driver state."""
    if counts is None:
        counts = unigram_counts(df, text_col)
    totals = counts.agg(
        F.sum("cnt").alias("_lm_n"), F.count(F.lit(1)).alias("_lm_v")
    )
    from ocr_spark.functions.explode import explode_nonnull

    toked = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_lm_toks")
    )
    exploded = explode_nonnull(toked, "_lm_toks", "token", "id")
    lp = F.log(
        (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(alpha))
        / (F.col("_lm_n") + F.lit(alpha) * F.col("_lm_v"))
    )
    return (
        exploded.join(F.broadcast(counts), "token", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_scored_tokens"),
            F.round(-F.avg(lp), 4).alias("avg_nll"),
        )
    )


def _bigram_stream(df: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """Adjacent-token (prev, cur) pairs per row as a NARROW projection:
    the token array is staged once, then one ``transform`` over positions
    1..n-1 builds the pair structs — no join, no self-zip shuffle. Rows
    with < 2 tokens contribute nothing (both engines agree)."""
    from ocr_spark.functions.explode import explode_nonnull

    toked = df.select(*keep, tokens(text_col).alias("_lm_toks"))
    pairs = F.expr(
        "CASE WHEN size(_lm_toks) >= 2 THEN "
        "transform(slice(_lm_toks, 1, size(_lm_toks) - 1), "
        "(t, i) -> struct(t AS prev, _lm_toks[i + 1] AS cur)) "
        "ELSE array() END"
    )
    staged = toked.select(*keep, pairs.alias("_lm_bgs"))
    return explode_nonnull(staged, "_lm_bgs", "_bg", *keep).select(
        *keep, F.col("_bg.prev").alias("prev"), F.col("_bg.cur").alias("cur")
    )


def bigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus bigram table (prev, cur, cnt) — ONE hash aggregate over the
    adjacent-pair stream (map-side partial combine). The training half of
    :func:`with_bigram_nll`; Zipf keeps the distinct-bigram table far
    smaller than the corpus (it grows with vocabulary, not tokens)."""
    return (
        _bigram_stream(df, text_col)
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def with_bigram_nll(
    df: DataFrame,
    counts: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    lam: float = 0.75,
) -> DataFrame:
    """Per-document mean negative log-likelihood under an INTERPOLATED
    bigram LM — the CCNet/KenLM perplexity filter (Wenzek et al. 2020)
    one order up from :func:`with_unigram_nll`, which is the unigram
    backstop this model interpolates against:

        p(cur | prev) = λ·(c(prev,cur)+α)/(c_ctx(prev)+αV)
                      + (1−λ)·(c(cur)+α)/(N+αV)

    with c_ctx(prev) = Σ_cur c(prev,cur) (the count of ``prev`` as a
    context, so the conditional sums to ≤1 over the smoothed vocabulary),
    V = unigram vocabulary size, N = total tokens. Returns
    (id, n_scored_bigrams, avg_nll); positions 2..n are scored, so
    documents with < 2 tokens drop out of the output on BOTH engines.
    avg_nll rounds to 4 dp — the repo's cross-engine ln contract (the
    interpolation itself is a fixed-order IEEE expression written
    identically in the DuckDB oracle; only the shuffle-order avg needs
    the rounding).

    ``counts`` defaults to :func:`bigram_counts` over ``df`` itself
    (self-scoring); pass a held-out table for the train/score split.

    Shape at 100 TB: bigram + unigram counts are each ONE map-combined
    aggregate; scoring is the exploded pair stream joined against three
    vocabulary-bounded broadcast tables + one per-doc aggregate. No UDF, no
    driver state."""
    if counts is None:
        counts = bigram_counts(df, text_col)
    uni = (
        unigram_counts(df, text_col)
        .withColumnRenamed("token", "cur")
        .withColumnRenamed("cnt", "_u_cnt")
    )
    ctx = counts.groupBy("prev").agg(F.sum("cnt").alias("_ctx_cnt"))
    totals = uni.agg(
        F.sum("_u_cnt").alias("_lm_n"), F.count(F.lit(1)).alias("_lm_v")
    )
    scored = _bigram_stream(
        df.select(F.col(id_col).alias("id"), text_col), text_col, "id"
    )
    p_bi = (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(alpha)) / (
        F.coalesce(F.col("_ctx_cnt"), F.lit(0)) + F.lit(alpha) * F.col("_lm_v")
    )
    p_uni = (F.coalesce(F.col("_u_cnt"), F.lit(0)) + F.lit(alpha)) / (
        F.col("_lm_n") + F.lit(alpha) * F.col("_lm_v")
    )
    lp = F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni)
    return (
        scored.join(F.broadcast(counts), ["prev", "cur"], "left")
        .join(F.broadcast(ctx), "prev", "left")
        .join(F.broadcast(uni), "cur", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_scored_bigrams"),
            F.round(-F.avg(lp), 4).alias("avg_nll"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information
    (Church & Hanks, Computational Linguistics 1990) — the classic
    phrase-mining signal for tokenizer vocabulary curation and
    stop-phrase discovery over a training corpus:

        pmi(a, b) = ln( N·c(a,b) / (c(a)·c(b)) )

    computed over the same adjacent-pair stream as the bigram LM
    (:func:`with_bigram_nll`). ``min_count`` floors c(a,b) BEFORE
    scoring — PMI famously explodes on hapax pairs (Manning & Schütze
    §5.4), and the floor is also what keeps the scored set small at
    scale. Rank is on the 4-dp-ROUNDED pmi (the repo's cross-engine ln
    contract) with (pmi desc, prev asc, cur asc) ties — (prev, cur) is
    the aggregate key, so the order is total and engine-deterministic.
    Returns (prev, cur, cnt, pmi), ≤ k rows. Every operand is cast to
    double in a FIXED order (c(a,b)·N / (c(a)·c(b))) written identically
    in the SQL oracle, so only the ln needs the rounding contract.

    Shape at 100 TB: bigram and unigram counts are each ONE map-combined
    aggregate (outputs grow with vocabulary, not tokens — Zipf-bounded);
    the min_count filter drops the hapax tail before the broadcast
    scoring joins; the global
    top-k is orderBy+limit → TakeOrderedAndProject (per-partition
    partial top-k), never a full sort. No UDF, no driver state.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    bc = bigram_counts(df, text_col).filter(F.col("cnt") >= min_count)
    uni = unigram_counts(df, text_col)
    totals = uni.agg(F.sum("cnt").alias("_n"))
    prev_u = uni.select(
        F.col("token").alias("prev"), F.col("cnt").alias("_ca")
    )
    cur_u = uni.select(F.col("token").alias("cur"), F.col("cnt").alias("_cb"))
    pmi = F.round(
        F.log(
            (F.col("cnt").cast("double") * F.col("_n").cast("double"))
            / (F.col("_ca").cast("double") * F.col("_cb").cast("double"))
        ),
        4,
    )
    return (
        bc.join(F.broadcast(prev_u), "prev")
        .join(F.broadcast(cur_u), "cur")
        .crossJoin(F.broadcast(totals))
        .select("prev", "cur", "cnt", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("prev"), F.asc("cur"))
        .limit(k)
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 of the casefolded, whitespace-collapsed,
    punctuation-stripped text — the standard "normalized-content hash" used
    for fuzzy-exact dedup of near-identical formatting variants."""
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return df.withColumn("fingerprint", F.md5(normalized))


def source_kl_divergence(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source KL divergence of the source's unigram distribution
    from the corpus-wide distribution — the domain-shift diagnostic
    behind mixture re-weighting decisions (the distribution-matching
    view of Xie et al.'s DSIR, reduced to its per-SOURCE aggregate; a
    source with high KL is an outlier domain worth capping or
    re-weighting before training):

        KL(p_s ‖ q) = Σ_t (c_st/n_s) · ln( (c_st/n_s) / (c_t/n) )

    No smoothing is needed: every source token is a corpus token, so
    q(t) > 0 wherever p_s(t) > 0, and KL is finite and ≥ 0 (Gibbs).
    Returns (source, n_tokens, n_types, kl_divergence) with the KL
    rounded to 4 dp — the repo's cross-engine contract for ln plus a
    shuffle-order sum. Deterministic tie-free output: one row per
    source, keyed by the group-by.

    Shape at 100 TB: ONE (source, token) map-combined aggregate (the
    only corpus-sized pass; output is sources × vocabulary, Zipf-
    bounded), a source-totals rollup OF that aggregate (not a second
    corpus pass), the corpus unigram table broadcast onto it, and one
    per-source fold. No UDF, no driver state, no window.
    """
    from ocr_spark.functions.explode import explode_nonnull

    toked = df.select(
        F.col(source_col).alias("source"), tokens(text_col).alias("_kl_toks")
    )
    st = (
        explode_nonnull(toked, "_kl_toks", "token", "source")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("_cst"))
    )
    src_tot = st.groupBy("source").agg(
        F.sum("_cst").alias("_ns"), F.count(F.lit(1)).alias("_types")
    )
    corpus = st.groupBy("token").agg(F.sum("_cst").alias("_ct"))
    totals = corpus.agg(F.sum("_ct").alias("_n"))
    p = F.col("_cst").cast("double") / F.col("_ns").cast("double")
    q = F.col("_ct").cast("double") / F.col("_n").cast("double")
    term = p * F.log(p / q)
    return (
        st.join(F.broadcast(corpus), "token")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(totals))
        .groupBy("source")
        .agg(
            F.max("_ns").alias("n_tokens"),
            F.max("_types").alias("n_types"),
            F.round(F.sum(term), 4).alias("kl_divergence"),
        )
    )


def with_flesch(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease score per document (Flesch 1948; the Kincaid
    recalibration constants are the public US-Navy report values):

        FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    — the classic surface-readability quality signal (alongside the
    Gopher repetition and stopword-ratio gates) for corpus filtering.
    Words are lowercase alphabetic runs ``[a-z]+``; sentences are runs
    of ``[.!?]`` (floored at 1, so unpunctuated text scores as a single
    run-on sentence); syllables use the standard vowel-group heuristic —
    count of ``[aeiouy]+`` runs per word, floored at 1 (no silent-e
    special case: the heuristic is the contract, documented and mirrored
    exactly in the oracle). Adds ``n_words``, ``n_sentences``,
    ``n_syllables``, ``flesch`` (NULL when the document has no words;
    the score is one fixed-order IEEE expression over exact integer
    counts — no transcendentals, so both engines produce bit-identical
    doubles with NO rounding).

    Scale shape (100 TB): ONE narrow projection — the syllable count is
    a higher-order ``aggregate`` over the word array, zero shuffles,
    zero UDFs, whole-stage codegen throughout.
    """
    words = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
    )
    staged = df.select("*", words.alias("_fw"))
    n_words = F.when(F.col("_fw").isNull(), F.lit(0)).otherwise(
        F.size("_fw")
    )
    n_sent = F.greatest(
        F.lit(1),
        F.size(
            F.coalesce(
                F.regexp_extract_all(
                    F.col(text_col), F.lit(r"[.!?]+"), F.lit(0)
                ),
                F.array().cast("array<string>"),
            )
        ),
    )
    syllables = F.aggregate(
        F.coalesce(F.col("_fw"), F.array().cast("array<string>")),
        F.lit(0),
        lambda acc, w: acc
        + F.greatest(
            F.lit(1),
            F.size(
                F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))
            ),
        ),
    )
    counted = staged.select(
        "*",
        n_words.cast("int").alias("n_words"),
        n_sent.cast("int").alias("n_sentences"),
        syllables.cast("int").alias("n_syllables"),
    ).drop("_fw")
    w, s, sy = (F.col(c) for c in ("n_words", "n_sentences", "n_syllables"))
    return counted.select(
        "*",
        F.when(
            w > 0,
            F.lit(206.835)
            - F.lit(1.015) * (w / s)
            - F.lit(84.6) * (sy / w),
        ).alias("flesch"),
    )


def lexical_diversity(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source lexical-diversity diagnostics over the unigram
    distribution — the Zipf/Heaps health check run before mixing a
    source into a training corpus (a source whose type–token ratio or
    Zipf slope is far off the corpus norm is template spam, tables, or
    machine-generated filler):

    - ``ttr`` — type–token ratio, distinct types / total tokens;
    - ``hapax_ratio`` — fraction of types occurring exactly once
      (Baayen's hapax-based productivity measure);
    - ``zipf_slope`` — OLS slope of ln(count) on ln(rank), ranks
      assigned by (count desc, token asc) row_number (a total order, so
      rank assignment is engine-deterministic even among tied counts);
      ≈ −1 for natural Zipfian text (Zipf 1949).

    Returns (source, n_tokens, n_types, ttr, hapax_ratio, zipf_slope).
    ttr/hapax divide exact integer aggregates (one fixed-order division
    each); the slope's Σln sums are shuffle-order-dependent doubles, so
    all three ride the repo's 4-dp cross-engine contract. A one-type
    source has a zero OLS denominator (ln rank ≡ 0, exactly, in both
    engines) and reports slope 0.0.

    Scale shape (100 TB): ONE corpus-sized (source, token) map-combined
    aggregate; ranks are a per-source window over the VOCABULARY (types,
    not tokens — Zipf-bounded); the diagnostics are one further
    per-source fold of that table. No UDFs, no second corpus pass.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(source_col).alias("source"),
        F.explode(tokens(text_col)).alias("token"),
    )
    st = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    rk = st.select(
        "source",
        "c",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("c").desc(), F.col("token").asc()
            )
        )
        .alias("rk"),
    )
    x = F.log(F.col("rk").cast("double"))
    y = F.log(F.col("c").cast("double"))
    agg = rk.groupBy("source").agg(
        F.sum("c").alias("_nt"),
        F.count(F.lit(1)).alias("_ty"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("_hx"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    n = F.col("_ty").cast("double")
    denom = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = F.when(denom == 0, F.lit(0.0)).otherwise(
        (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / denom
    )
    return agg.select(
        "source",
        F.col("_nt").cast("long").alias("n_tokens"),
        F.col("_ty").cast("long").alias("n_types"),
        F.round(
            F.col("_ty").cast("double") / F.col("_nt").cast("double"), 4
        ).alias("ttr"),
        F.round(
            F.col("_hx").cast("double") / F.col("_ty").cast("double"), 4
        ).alias("hapax_ratio"),
        F.round(slope, 4).alias("zipf_slope"),
    )


def with_char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Shannon character entropy per document (nats) — the classic
    binary-junk / base64-blob / single-char-spam detector (natural text
    sits near 3–4.2 nats; near-zero or near-uniform values flag
    non-text): H = −Σ_c p_c·ln p_c over the document's character
    distribution. Adds ``n_chars``, ``n_charset`` (distinct characters)
    and ``char_entropy`` rounded to 4 dp — the fold iterates the SORTED
    distinct-character list, a fixed total order in both engines, so the
    only cross-engine slack is ln's ulp (the repo's 4-dp ln contract).
    Empty or NULL text yields (0, 0, 0.0).

    Scale shape (100 TB): ONE narrow projection — the distribution is
    never materialized; each distinct character's count is a
    higher-order filter over the char array (O(charset · chars) per row,
    charset alphabet-bounded), zero shuffles, zero UDFs.
    """
    nonempty = F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    chars = F.split(F.col(text_col), "", -1)
    staged = df.select(
        "*",
        F.when(nonempty, chars).alias("_ce"),
    )
    n = F.size("_ce")
    alphabet = F.array_sort(F.array_distinct(F.col("_ce")))
    p_of = lambda c: (
        F.size(F.filter("_ce", lambda x: x == c)).cast("double")
        / n.cast("double")
    )
    # 0.0 − sum, not −sum: a single-character document folds to −0.0
    # under unary negation, which the harness float canon distinguishes
    # from 0.0 (the oracle mirrors this exact form)
    h = F.lit(0.0) - F.aggregate(
        alphabet,
        F.lit(0.0),
        lambda acc, c: acc + p_of(c) * F.log(p_of(c)),
    )
    return staged.select(
        "*",
        F.coalesce(n, F.lit(0)).cast("int").alias("n_chars"),
        F.coalesce(F.size(alphabet), F.lit(0)).cast("int").alias(
            "n_charset"
        ),
        F.coalesce(F.round(h, 4), F.lit(0.0)).alias("char_entropy"),
    ).drop("_ce")


def heaps_growth(
    df: DataFrame,
    n_points: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary-growth curve (Heaps 1978): cumulative distinct
    types vs cumulative tokens as documents accrue in id order, sampled
    at ``n_points`` equal-width id-range checkpoints — the diagnostic
    that separates a naturally growing corpus (V ≈ K·Nᵝ, β ≈ 0.5) from
    template spam (vocabulary saturates) or id-ordered concatenation
    bugs (vocabulary jumps). Returns
    ``(bucket, id_hi, cum_tokens, cum_types)``, one row per non-empty
    checkpoint; a type counts at its FIRST occurrence (smallest id).

    Exactness: bucket width = ceil((max−min+1)/n_points) in exact
    integer arithmetic; all outputs are integer aggregates — no floats.

    Scale shape (100 TB): first occurrence per type is ONE map-combined
    ``min(id)`` aggregate over the token stream (vocabulary-sized
    output) — the only corpus explode; per-bucket token totals come from
    NARROW per-document counts (no second token-stream pass); the
    cumulative window runs over AT MOST ``n_points`` pre-aggregated rows
    — the single-partition ordered window is bounded by the checkpoint
    count, never the corpus.
    """
    from pyspark.sql import Window

    if n_points < 1:
        raise ValueError(f"n_points must be >= 1, got {n_points}")
    bounds = df.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    )
    width = (
        F.col("hi") - F.col("lo") + F.lit(n_points)
    ) / F.lit(n_points)  # ceil((hi-lo+1)/n_points) = floor((hi-lo+n)/n)
    bounds = bounds.select(
        "lo", F.floor(width).cast("long").alias("w")
    )
    # per-bucket token totals from NARROW per-doc counts (the explode
    # below feeds only the first-occurrence aggregate); a bucket whose
    # documents carry zero tokens is dropped — same rows as the oracle's
    # token-stream grouping
    per_bucket_tokens = (
        df.join(F.broadcast(bounds))
        .select(
            F.floor(
                (F.col(id_col) - F.col("lo")) / F.col("w")
            ).alias("bucket"),
            F.coalesce(F.size(tokens(text_col)), F.lit(0)).alias("_nt"),
        )
        .groupBy("bucket")
        .agg(F.sum("_nt").alias("toks"))
        .filter(F.col("toks") > 0)
    )
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token")
    )
    first_occ = toks.groupBy("token").agg(F.min("id").alias("first_id"))
    new_types = (
        first_occ.join(F.broadcast(bounds))
        .select(
            F.floor(
                (F.col("first_id") - F.col("lo")) / F.col("w")
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("newt"))
    )
    per = per_bucket_tokens.join(new_types, "bucket", "left").select(
        "bucket",
        "toks",
        F.coalesce("newt", F.lit(0)).alias("newt"),
    )
    w_cum = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.join(F.broadcast(bounds)).select(
        F.col("bucket").cast("int").alias("bucket"),
        (F.col("lo") + (F.col("bucket") + 1) * F.col("w") - 1)
        .cast("long")
        .alias("id_hi"),
        F.sum("toks").over(w_cum).cast("long").alias("cum_tokens"),
        F.sum("newt").over(w_cum).cast("long").alias("cum_types"),
    )


def length_quantiles(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """Per-group length-distribution quantiles — the corpus-profiling
    aggregate behind length-based quality cuts (where to put a min/max
    length filter, how skewed a source is). Returns one row per group:

        (group, n_docs, p25, p50, p75, p95, ...)   one col per prob,
        linear-interpolated quantile rounded to 4 dp.

    Spark's exact ``percentile`` aggregate, which buffers each group's
    values: right whenever one group fits an executor, and exact against
    the oracle (DuckDB ``quantile_cont`` implements the same p·(n−1)
    linear-interpolation definition).
    """
    if not probs or any(not 0 <= p <= 1 for p in probs):
        raise ValueError(f"probs must be in [0, 1]: {probs}")
    plist = list(probs)
    names = [f"p{round(p * 100)}" for p in plist]
    if len(set(names)) != len(names):
        # 0.25 and 0.254 would both land on 'p25' — an ambiguous-column
        # trap downstream; fail at plan-build time instead
        raise ValueError(
            f"probs collide after column-name rounding: {probs} -> {names}"
        )
    q = F.percentile(F.col(value_col), F.array(*[F.lit(p) for p in plist]))
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"), q.alias("_q")
    )
    cols = [F.col("grp").alias(group_col), "n_docs"] + [
        F.round(F.col("_q")[i].cast("double"), 4).alias(name)
        for i, name in enumerate(names)
    ]
    return agg.select(*cols).orderBy(group_col)


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (SURVEY §2.8 X51).
# ---------------------------------------------------------------------------

#: CMS defaults: depth 4 / width 1024 → ε = e/w ≈ 0.27% of the stream
#: length per cell at δ = e^-4 ≈ 1.8% failure odds (Cormode & Muthukrishnan
#: 2005 bounds); 4096 counters regardless of corpus size
CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_bucket(term: Column, row: Column | int, width: int) -> Column:
    """CMS bucket for ``term`` under hash row ``row``: the family's
    md5-prefix 60-bit key over 'row:term', mod ``width`` — ONE definition
    shared by the sketch build and the estimate probe (and reproduced
    verbatim by the DuckDB oracle)."""
    r = F.lit(row) if isinstance(row, int) else row
    digest = F.md5(F.concat(r.cast("string"), F.lit(":"), term))
    return (
        F.conv(F.substring(digest, 1, 15), 16, 10).cast("long") % width
    )


def cms_sketch(
    df: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Count-min sketch of the corpus token-occurrence stream:
    ``(row, bucket, cnt)`` with ``cnt = Σ occurrences of all terms hashing
    to (row, bucket)``. At most ``depth·width`` output rows NO MATTER the
    corpus size — the mergeable fixed-memory frequency summary (merging two
    sketches = adding their cells), which is what survives 100 TB when the
    exact vocabulary table cannot be kept hot.

    Shape: one narrow explode of token occurrences × ``depth`` hash rows,
    then ONE hash-agg keyed on (row, bucket) — map-side partial combine
    absorbs hot terms (every occurrence of a Zipf-head word pre-aggregates
    inside its task), so the shuffle carries ≤ depth·width rows per task.
    """
    from ocr_spark.functions.explode import explode_nonnull

    occ = explode_nonnull(df.select(tokens(text_col).alias("_cms_t")),
                          "_cms_t", "term")
    rows = explode_nonnull(
        occ.select("term", F.sequence(F.lit(0), F.lit(depth - 1)).alias("_r")),
        "_r",
        "row",
        "term",
    )
    return (
        rows.select("row", cms_bucket(F.col("term"), F.col("row"), width).alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    top_k: int = 20,
) -> DataFrame:
    """Heavy-hitter eval harness over the sketch: the exact top-``top_k``
    corpus terms (count desc, term asc — deterministic tie-break) probed
    against the CMS, one row per term::

        (term, exact_cnt, cms_est, overestimate, rel_err)

    ``cms_est = min over rows of cell(row, h_row(term))`` — the classic
    point query. ``overestimate`` must be TRUE for every term (CMS error
    is one-sided; pytest pins it as a property, the oracle pins the exact
    cell arithmetic); ``rel_err`` is the 4-dp relative overcount.

    Like :func:`ivf_recall` for ANN, this is the sketch-quality eval: the
    exact side is affordable here because the word-type vocabulary is
    Zipf-bounded (the same argument as the BPE trainer), and at 100 TB the
    sketch alone — merged per partition, 4096 longs — answers the same
    point queries without any exact vocabulary pass.

    The probe side is driver-free: candidate terms expand to their
    ``depth`` (row, bucket) keys and broadcast-join the ≤ depth·width-row
    sketch; the min-over-rows is a ``top_k``-row aggregate.
    """
    if depth < 1 or width < 1 or top_k < 1:
        raise ValueError("depth, width and top_k must be positive")
    exact = unigram_counts(df, text_col)
    candidates = exact.orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    ).limit(top_k)
    sketch = cms_sketch(df, text_col, depth, width)
    probes = (
        candidates.select(
            F.col("token").alias("term"),
            F.col("cnt").alias("exact_cnt"),
            F.sequence(F.lit(0), F.lit(depth - 1)).alias("_r"),
        )
        .select("term", "exact_cnt", F.explode("_r").alias("row"))
        .withColumn("bucket", cms_bucket(F.col("term"), F.col("row"), width))
    )
    est = (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "inner")
        .groupBy("term", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "term",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("overestimate"),
        F.round(
            (F.col("cms_est") - F.col("exact_cnt"))
            / F.col("exact_cnt").cast("double"),
            4,
        ).alias("rel_err"),
    ).orderBy(F.col("exact_cnt").desc(), F.col("term").asc())


def mad_outliers(
    df: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    id_col: str = "doc_id",
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier scoring via the modified z-score
    (SURVEY §2.8 X60): Iglewicz & Hoaglin's ``0.6745·(x − median) / MAD``
    with the standard |z| > 3.5 flag — the outlier screen that, unlike
    ``behavior.daily_anomalies``' mean/std z, a handful of extreme
    documents cannot drag toward themselves (median and MAD have a 50%
    breakdown point; mean/std have 0%).

    Returns one row per input row whose group is not NULL::

        (id, group, value, med, mad, robust_z, is_outlier)

    Rows with a NULL group are excluded: NULL keys never match in the two
    inner joins, and the DuckDB oracle drops them the same way.

    ``med``/``mad`` are rounded to 6 dp for display; ``robust_z`` and the
    flag are computed from the UNROUNDED statistics, in one fixed
    multiply-subtract-divide whose IEEE result is engine-identical.
    ``robust_z`` ships 6-dp FLOOR-truncated, not round()ed: the nice
    decimal operands land z exactly on decimal halfway points
    (…9375 → …94?), where Spark rounds the shortest decimal repr and
    DuckDB rounds the binary value — floor of the identical double is
    the engine-independent choice.
    A group with ``MAD = 0`` (over half its values identical) yields NULL
    z and flag — no spread evidence is never reported as "no outliers"
    (the X54 no-evidence rule).

    Determinism: medians are the exact linear-interpolated quantile
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, both at rank
    ``q·(n−1)``); interpolation at q = 0.5 averages two values, exact in
    binary floating point.

    Scale shape at 100 TB: the corpus never shuffles — two
    group-cardinality aggregates (exact percentile state is O(group rows)
    on the agg side but groups are sources, so the agg frames are tiny)
    each broadcast back onto a column-pruned scan of
    ``(id, group, value)``; the text column never loads. Cost = two
    narrow passes over a 3-column projection, zero wide exchanges.
    """
    v = F.col(value_col).cast("double")
    med = df.groupBy(group_col).agg(
        F.percentile(v, F.lit(0.5)).alias("_med")
    )
    dev = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        v.alias("value"),
    ).join(F.broadcast(med.withColumnRenamed(group_col, "grp")), "grp")
    mad = dev.groupBy("grp").agg(
        F.percentile(F.abs(F.col("value") - F.col("_med")), F.lit(0.5))
        .alias("_mad")
    )
    scored = dev.join(F.broadcast(mad), "grp")
    z = (
        F.lit(0.6745)
        * (F.col("value") - F.col("_med"))
        / F.col("_mad")
    )
    has_spread = F.col("_mad") != 0.0
    return scored.select(
        F.col("id").alias(id_col),
        F.col("grp").alias(group_col),
        F.col("value").alias(value_col),
        F.round(F.col("_med"), 6).alias("med"),
        F.round(F.col("_mad"), 6).alias("mad"),
        F.when(
            has_spread, F.floor(z * F.lit(1000000.0)) / F.lit(1000000.0)
        ).alias("robust_z"),
        F.when(has_spread, F.abs(z) > F.lit(threshold)).alias(
            "is_outlier"
        ),
    )
