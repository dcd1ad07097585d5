"""Lexical retrieval: BM25 (Robertson/Sparck Jones probabilistic ranking,
the Okapi BM25 function as standardized in Lucene's similarity) — the
keyword-side complement to the vector ANN family in operators/similarity.py.
A training-data pipeline uses it for corpus exploration, targeted slice
extraction ("every doc mentioning X"), and retrieval-based contamination
audits, at the same determinism contract as the rest of the repo: explicit
4-dp rounding around the one transcendental (ln), (score desc, id asc)
tie-breaks, exact-integer tf/df/dl everywhere else.

Two physical shapes, chosen by the caller's query cardinality:

* :func:`bm25_topk` — ONE ad-hoc query: per-term tf counted by a narrow
  array filter over the staged token array (no explode, no posting list,
  zero corpus shuffle); corpus stats (N, Σdl) and per-term document
  frequencies ride broadcast one-row frames (the unigram_nll totals
  idiom) so the plan stays lazy end-to-end and the result is one
  TakeOrderedAndProject. The right shape when |query terms| is small —
  the scan does q·len(token) comparisons per row instead of shuffling
  len(token) posting rows.
* :func:`bm25_join` — a BATCH of queries: classic posting-list shape.
  One explode+groupBy builds the (doc, term, tf) table, the exploded
  query terms broadcast against it, one partial-agg sum per (query, doc)
  and one per-query top-k window. This is the 100 TB shape when the
  query side is itself a table (contamination probes, eval suites).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.explode import explode_nonnull
from ocr_spark.operators.textstats import tokens

#: Okapi defaults (the Robertson et al. TREC-3 constants, also Lucene's)
BM25_K1 = 1.2
BM25_B = 0.75


def _validate(k: int, k1: float, b: float) -> None:
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if k1 < 0 or not (0 <= b <= 1):
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got k1={k1}, b={b}")


def _idf(df_col, n_col):
    """Lucene's BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)) — strictly
    positive, so a term occurring in most documents never flips the
    ranking negative. The ln is the only transcendental; callers round
    the final score to 4 dp (the repo's cross-engine ln contract)."""
    return F.log(1.0 + (n_col - df_col + 0.5) / (df_col + 0.5))


def _tf_norm(tf_col, dl_col, avgdl_col, k1: float, b: float):
    return (tf_col * (k1 + 1.0)) / (
        tf_col + k1 * (1.0 - b + b * dl_col / avgdl_col)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k documents for ONE keyword query, scored with Okapi BM25.
    Returns (id, score) with score rounded to 4 dp, ranked
    (score desc, id asc); documents matching no term are excluded.

    Scale shape: per-term tf = ``size(filter(toks, x -> x = term))`` over
    the token array staged ONCE per row — q extra array passes instead of
    exploding len(toks) posting rows, narrow and codegen'd; df(term) and
    (N, Σdl) are two tiny aggregates crossJoin-broadcast back (lazy plan,
    no driver collect); the rank is a TakeOrderedAndProject, never a
    global sort. Per-term contributions are summed in QUERY ORDER — the
    oracle writes the same sum order, so pre-rounding floats differ only
    by the engines' ln ulp. Duplicate query terms are an error (they
    would double-count); term strings must already be in token form
    (lowercase — matching :func:`ocr_spark.operators.textstats.tokens`)."""
    _validate(k, k1, b)
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError(f"duplicate query terms in {query_terms}")
    staged = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_toks")
    )
    def _tf(term):
        # one-arg lambda: a second (default) arg would flip F.filter into
        # its (element, index) form and compare tokens against the index
        return F.size(F.filter("_toks", lambda x: x == F.lit(term)))

    tf_cols = [
        _tf(t).alias(f"_tf_{i}") for i, t in enumerate(query_terms)
    ]
    scored0 = staged.select("id", F.size("_toks").alias("_dl"), *tf_cols)
    stats = scored0.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.sum("_dl").cast("double") / F.count(F.lit(1))).alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("int")).alias(f"_df_{i}")
            for i in range(len(query_terms))
        ],
    )
    score = None
    for i in range(len(query_terms)):
        contrib = _idf(F.col(f"_df_{i}"), F.col("_n")) * _tf_norm(
            F.col(f"_tf_{i}"), F.col("_dl"), F.col("_avgdl"), k1, b
        )
        score = contrib if score is None else score + contrib
    # no-match docs score exactly 0.0 (every tf numerator is 0) and rank
    # below every match, so filtering score > 0 ABOVE the limit returns
    # the same set as a pre-rank match filter — and, unlike one, cannot
    # be pushed under the projection, where Catalyst would substitute the
    # tf expressions and re-run the tokenizer per term per row (the
    # staged-projection/no-CSE hazard; observed 3× regexp in the plan)
    return (
        scored0.crossJoin(F.broadcast(stats))
        .select("id", F.round(score, 4).alias("score"))
        .orderBy(F.col("score").desc(), "id")
        .limit(k)
        .filter(F.col("score") > 0.0)
    )


def bm25_join(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-query BM25 top-k for a TABLE of queries
    (query_id, terms array<string>): the posting-list shape. Returns
    (query_id, id, score, rank) with rank 1..k per query, ties broken
    (rounded score desc, id asc) — the same relational contract as
    :func:`ocr_spark.operators.similarity.knn_join`.

    Scale shape: one explode+groupBy builds the (doc, term, tf) posting
    table (map-side partial combine); per-term document frequencies are
    ONE more aggregate over it; the exploded query terms and their df
    broadcast against the postings (term universe of a query batch is
    small by construction), so the corpus shuffles once on (query, doc)
    for the partial-agg score sum and once for the per-query window —
    whose input is only matching (query, doc) pairs, never the corpus
    cross-product. Duplicate terms within one query are an error.

    Unlike :func:`bm25_topk`'s fixed-order sum, the per-(query, doc)
    score is a shuffle-order float aggregate — the 4-dp rounding is what
    pins it cross-engine (the unigram_nll contract)."""
    _validate(k, k1, b)
    staged = docs.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_toks")
    )
    corpus = staged.select("id", F.size("_toks").alias("_dl"), "_toks")
    stats = corpus.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.sum("_dl").cast("double") / F.count(F.lit(1))).alias("_avgdl"),
    )
    qex = queries.select(
        F.col(query_id_col).alias("qid"),
        F.when(
            # NULL terms pass through (and explode to nothing) rather
            # than falling into the error branch via NULL == NULL
            F.col(terms_col).isNull()
            | (
                F.size(F.col(terms_col))
                == F.size(F.array_distinct(F.col(terms_col)))
            ),
            F.col(terms_col),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("duplicate terms in query "),
                    F.col(query_id_col).cast("string"),
                )
            )
        )
        .alias("_terms"),
    )
    qterms = explode_nonnull(qex, "_terms", "term", "qid")
    qset = qterms.select("term").distinct()
    # query-term filter pushed UNDER the tf aggregate: the posting shuffle
    # carries only tokens matching the (broadcast) query-term universe,
    # not the corpus vocabulary — and df over the filtered postings is
    # still exact, since every doc containing a query term survives
    posting = (
        explode_nonnull(corpus, "_toks", "term", "id", "_dl")
        .join(F.broadcast(qset), "term")
        .groupBy("id", "_dl", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = posting.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    hits = posting.join(F.broadcast(qterms), "term").join(
        F.broadcast(dfreq), "term"
    )
    contrib = _idf(F.col("_df"), F.col("_n")) * _tf_norm(
        F.col("_tf"), F.col("_dl"), F.col("_avgdl"), k1, b
    )
    scored = (
        hits.crossJoin(F.broadcast(stats))
        .groupBy("qid", "id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"), "id", "score", "rank"
        )
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
    query_id_col: str = "query_id",
    id_col: str = "id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009) of
    N per-query rankings — the standard hybrid-retrieval combiner (e.g.
    BM25 lexical + embedding-cosine semantic, or relevance + a
    query-independent quality prior): fused(d) = Σ_lists 1/(k_rrf +
    rank_d), a document absent from a list contributing 0. Inputs share
    the (query_id, id, rank) contract that bm25_join and knn_join emit
    (rank 1-based, unique within a (list, query)). Returns
    ``(query_id, id, score, rank)`` with rank 1..k per query, ties
    broken (score desc, id asc).

    Determinism contract: the fused score is computed as ONE
    fixed-order expression over per-list ranks (the lists are pivoted
    to columns first — ``min(when(src=i, rank))`` is pure selection
    since ranks are unique), never a shuffle-order float sum, so both
    engines execute the identical IEEE op sequence and the doubles are
    bit-equal with no rounding needed — 1/(k+r) has no transcendental.

    Scale shape: a unionByName of the (already small — top-k per query
    per list) rankings, one hash aggregate on (query, id) doing the
    pivot, one per-query window over ≤ N·k rows. The expensive work
    lives in the upstream rankers; fusion itself is O(queries · k · N)
    rows end to end, never touching the corpus."""
    from functools import reduce

    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if k_rrf < 1:
        raise ValueError(f"k_rrf must be >= 1, got {k_rrf}")
    if len(ranked) < 2:
        raise ValueError(f"need >= 2 rankings to fuse, got {len(ranked)}")
    tagged = [
        df.select(
            F.col(query_id_col).alias("qid"),
            F.col(id_col).alias("id"),
            F.lit(i).alias("_src"),
            F.col(rank_col).alias("_r"),
        )
        for i, df in enumerate(ranked)
    ]
    unioned = reduce(lambda a, b: a.unionByName(b), tagged)
    pivoted = unioned.groupBy("qid", "id").agg(
        *[
            F.min(F.when(F.col("_src") == i, F.col("_r"))).alias(f"_r{i}")
            for i in range(len(ranked))
        ]
    )
    score = None
    for i in range(len(ranked)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(f"_r{i}")),
            F.lit(0.0),
        )
        score = term if score is None else score + term
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("id"))
    return (
        pivoted.select("qid", "id", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), "id", "score", "rank")
    )


def tfidf_topk_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k characteristic terms by tf·idf (Sparck Jones
    1972; the smooth-idf variant standardized by scikit-learn:
    idf(t) = ln((N+1)/(df(t)+1)) + 1, strictly positive, never divides
    by zero) — the classic keyword/topic-slice extractor a curation
    pipeline uses to label and stratify corpus segments. Returns
    ``(id, term, tf, score, rank)`` with rank 1..k per document, ranked
    on the ROUNDED score (4 dp — the repo's cross-engine ln contract)
    with ties broken (score desc, term asc) so the selection is
    deterministic on every engine.

    N counts ALL input rows (the scikit-learn convention), carried as a
    broadcast one-row frame so the plan stays lazy.

    Scale shape: one hash aggregate on (id, term) builds the tf table
    (map-side combine absorbs within-doc repeats), one vocabulary-sized
    aggregate derives df, the tf stream joins the broadcast df table
    (Zipf bounds real vocabularies ~10⁷ rows), then ONE per-document
    window over each doc's distinct terms. No UDF, no driver state."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql import Window

    n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_ts"))
    tf = (
        explode_nonnull(toked, "_ts", "term", "id")
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log((F.col("_n_docs") + 1.0) / (F.col("_df") + 1.0)) + 1.0
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select("id", "term", "tf", F.round(F.col("tf") * idf, 4).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
