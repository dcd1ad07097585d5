"""Physical-plan assertions: the scale properties the operators claim.

These tests pin the *plan shape*, not results: filters reach the parquet
scan, column pruning holds, small-side joins broadcast, top-k compiles to
TakeOrderedAndProject (no global sort), and per-row transforms stay
shuffle-free. A regression here is a 100-TB performance bug even when every
value is still correct.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/events.parquet").filter(
        F.col("event_type") == "error"
    ).select("event_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in plan


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan


def test_extraction_is_narrow(docs):
    from ocr_spark.operators.extraction import extract_turns

    plan = _plan(extract_turns(docs.select(F.lit("d").alias("conv_id"),
                                           F.col("doc_id"), "text"),
                               text_col="text"))
    assert "Exchange" not in plan  # no shuffle in the per-turn map stage
    assert "ArrowEvalPython" in plan  # the fused UDF is Arrow-vectorized


def test_dedup_signatures_narrow(docs):
    from ocr_spark.operators.dedup import minhash_signatures

    plan = _plan(minhash_signatures(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # built-ins only, no slow-path UDF


def test_broadcast_join_in_q3(spark):
    import __spark_entry__ as e

    plan = _plan(e.extra_queries()["q3_nation_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["ann_cosine_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_anti_join_broadcasts(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["j2_unknown_antijoin"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_exact_dedup_partial_aggregation(docs):
    from ocr_spark.operators.dedup import exact_dedup

    plan = _plan(exact_dedup(docs))
    # partial (map-side) aggregate before the exchange: shuffle carries one
    # row per distinct hash per partition, not one per document
    assert plan.count("HashAggregate") >= 2
    before_exchange = plan.split("Exchange")[-1]
    assert "HashAggregate" in before_exchange


def test_salting_spreads_skewed_conversation(spark):
    from pyspark.sql.functions import spark_partition_id

    from ocr_spark.operators.extraction import salted_repartition

    rows = [("huge", i, "t" * 5) for i in range(4000)] + [
        (f"c{i}", 0, "x") for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    parts = (
        salted_repartition(df, 16, salt_buckets=8)
        .filter(F.col("conv_id") == "huge")
        .select(spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    # an 8-bucket salt must spread the hot conversation across >1 task
    assert parts >= 4


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    # bucketing both sides on the join key pre-co-locates them: the join
    # plan has SortMergeJoin but NO Exchange — at 100 TB this is the
    # difference between a full shuffle of the fact table and none
    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .mode("overwrite").saveAsTable("b_orders"))
    (lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .mode("overwrite").saveAsTable("b_lineitem"))
    joined = (
        spark.table("b_lineitem")
        # at sf0.001 Spark would broadcast; hint the merge strategy to get
        # the plan shape a 100 TB fact-fact join takes
        .hint("merge")
        .join(
            spark.table("b_orders").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(joined)
    assert "SortMergeJoin" in plan
    # the only exchange is the tiny post-join aggregation on o_orderstatus;
    # neither join input is shuffled (bucketed scans satisfy the join's
    # required distribution)
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Bucketed: true" in plan
    assert joined.count() > 0


def test_minhash_near_dup_single_shuffle(docs):
    """Posting-list LSH: the whole near-dup pipeline shuffles ONCE (the
    bucket groupBy) plus the final distinct — signatures must not re-join
    (no extra Exchanges, no cached side)."""
    from ocr_spark.operators.dedup import minhash_near_duplicates

    plan = _plan(minhash_near_duplicates(docs))
    # one Exchange for the posting groupBy + one for the pair distinct
    assert plan.count("Exchange") == 2
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_window_topk_single_shuffle(spark):
    """w1 (top-3 per customer): exactly one QUERY Exchange (the
    partition-key shuffle) and the rank filter applied inside the Window
    stage — a second hash shuffle or a post-collect filter would not
    scale. The loader's toy-tier lake-layout shim adds one RoundRobin
    exchange at the scan (restoring the split parallelism a real lake
    provides; see __spark_entry__._t) — discounted here because it is
    loader-owned, not part of the query's shape."""
    import __spark_entry__ as e

    # w1 rotated to extras in round 4 (cap_per_source gates the same
    # window-top-k shape on documents)
    df = e.extra_queries()["w1_top_orders_per_customer"](spark, SF)
    plan = _plan(df)
    assert "Window" in plan
    shim = plan.count("Exchange RoundRobinPartitioning")
    assert plan.count("Exchange") - shim == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_q5_broadcast_chain(spark):
    """q5's three dimension joins must all broadcast — any SortMergeJoin
    in this tree shuffles the fact table once per dimension."""
    import __spark_entry__ as e

    plan = _plan(e.extra_queries()["q5_region_volume"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_fused_pipeline_single_python_crossing(docs):
    """The composed production path (boilerplate strip + extraction) must
    cross the JVM↔Python boundary ONCE — two ArrowEvalPython nodes means
    the fusion regressed and the Python exchange cost doubled."""
    from ocr_spark.operators.boilerplate import strip_boilerplate
    from ocr_spark.operators.extraction import (
        extract_content_turns,
        extract_turns,
    )

    fused = _plan(extract_content_turns(docs.select("doc_id", "text")))
    assert fused.count("ArrowEvalPython") == 1
    assert "Exchange" not in fused  # still narrow
    unfused = _plan(
        extract_turns(
            strip_boilerplate(docs.select("doc_id", "text")),
            text_col="content_text",
        )
    )
    assert unfused.count("ArrowEvalPython") == 2  # what fusion removes


def test_textstats_stay_jvm_side(docs):
    from ocr_spark.operators.textstats import with_lang_id, with_quality

    for op in (with_quality, with_lang_id):
        plan = _plan(op(docs.select("doc_id", "text")))
        assert "Python" not in plan  # pure JVM expressions, no UDF fallback
        assert "Exchange" not in plan  # narrow
        # the tokenizing regex must run once per row — staged projections
        # keep CollapseProject from inlining it into every consumer
        assert plan.count("regexp_extract_all") == 1, op.__name__


def test_shingle_operators_tokenize_once_per_row(docs):
    """The shingle expression references its token array 4× and
    interpreted HOF trees re-run every reference — so the tokenize MUST
    be staged in its own projection (measured 40% of minhash_near_dup's
    sf0.1 wall time when inlined). One regexp_extract_all per plan pins
    the staging against CollapseProject re-inlining it."""
    from ocr_spark.operators.dedup import (
        decontaminate,
        jaccard_near_duplicates,
        minhash_signatures,
    )

    d = docs.select("doc_id", "text")
    assert _plan(minhash_signatures(d)).count("regexp_extract_all") == 1
    assert _plan(jaccard_near_duplicates(d)).count("regexp_extract_all") == 1
    # decontaminate tokenizes each side once (train + benchmark)
    assert _plan(
        decontaminate(d, d.limit(5))
    ).count("regexp_extract_all") == 2


def test_knn_join_window_sees_partial_topk_not_cross_product(spark):
    """The per-query rank window must consume the mapInPandas partial
    top-k (≤ partitions × queries × k rows), NOT the |corpus| × |queries|
    scored cross-product — the cross-product-into-window shape lands each
    query's entire corpus on one task (single-task OOM at 10⁹ rows)."""
    from ocr_spark.operators.similarity import knn_join

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(knn_join(emb.filter(F.col("vec_id") >= 5),
                          emb.filter(F.col("vec_id") < 5), k=5))
    assert "MapInPandas" in plan  # map-side partial top-k per query
    # no join of any kind feeds the window: the query side ships in the
    # UDF closure, so the only plan nodes are scan → UDF → window
    for join_node in ("BroadcastNestedLoopJoin", "CartesianProduct",
                      "SortMergeJoin", "BroadcastHashJoin"):
        assert join_node not in plan


def test_embedding_near_dup_never_builds_posting_buffer(spark):
    """Embedding near-dup may not materialize a collect_list posting: a
    posting duplicates the bucket's member array (bucket × dim doubles)
    into every exploded member row — measured OOM on sf1's hot bucket. It
    scores buckets in ONE FlatMapGroupsInPandas (one Exchange on the
    bucket key, vectors move once)."""
    from ocr_spark.operators.similarity import embedding_near_duplicates

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    grouped = _plan(
        embedding_near_duplicates(emb, threshold=0.9, n_planes=4, dim=16)
    )
    assert "collect_list" not in grouped
    assert "CartesianProduct" not in grouped
    assert "FlatMapGroupsInPandas" in grouped
    # exactly two shuffles: the bucket groupBy + the cross-table distinct
    assert grouped.count("Exchange") == 2


def test_pii_redaction_is_narrow(docs):
    from ocr_spark.operators.redaction import with_pii_redacted

    plan = _plan(with_pii_redacted(docs.select("doc_id", "text")))
    assert "Exchange" not in plan  # pure per-row regexp chain
    assert "EvalPython" not in plan  # JVM expressions only, no Python UDF


def test_shard_assignment_narrow_histogram_partial_agg(docs):
    from ocr_spark.operators.sharding import assign_shards, shard_histogram

    assert "Exchange" not in _plan(
        assign_shards(docs.select("doc_id"), 8)
    )  # placement is a projection — no data movement to decide shards
    plan = _plan(shard_histogram(docs.select("doc_id", "n_chars"), 8))
    # map-side partial combine before the single shard-key shuffle
    assert plan.count("Exchange hashpartitioning(shard") == 1
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_source_stats_scan_prunes_columns(docs):
    from ocr_spark.operators.textstats import source_stats

    plan = _plan(source_stats(docs.select("doc_id", "text", "source")))
    # the agg needs only text+source — Catalyst prunes even the caller's
    # doc_id out of the scan
    assert "ReadSchema: struct<text:string,source:string>" in plan


def test_semantic_dedup_assignment_narrow_pairs_one_cell_shuffle(spark):
    """SemDeDup's scale contract: cell assignment (+ centroid cosine) is a
    pure literal-centroid projection — no Exchange, no Python — and the
    within-cell pair stage shares the grouped bucket core (ONE shuffle on
    cell + the distinct, vectors move once; never all-pairs)."""
    from ocr_spark.operators.similarity import (
        assign_with_centroid_cos,
        load_ivf_centroids,
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = load_ivf_centroids()
    assigned = assign_with_centroid_cos(emb, cents)
    aplan = _plan(assigned)
    assert "Exchange" not in aplan
    assert "Python" not in aplan  # all-JVM HOF expressions

    pplan = _plan(semantic_dedup_pairs(assigned, threshold=0.4))
    assert "FlatMapGroupsInPandas" in pplan
    assert "CartesianProduct" not in pplan
    assert pplan.count("Exchange") == 2  # cell groupBy + pair distinct


def test_centroid_similarity_one_corpus_agg_broadcast_pairs(spark):
    """X53: the corpus contributes ONE map-combined (label, dim) hash agg
    — partial aggregation before the exchange — and the label-pair join
    rides a broadcast, never a SortMergeJoin over the corpus."""
    from ocr_spark.operators.similarity import source_centroid_similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(source_centroid_similarity(emb))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan
    # partial_sum before the exchange = map-side combine on the gram agg
    assert "partial_sum" in plan


def test_ngram_novelty_no_window_no_self_join(docs):
    """X54: novelty is two map-combined aggs over one gram explode — no
    window over the gram stream, no corpus self-join (the only joins are
    the one-row-per-doc assembly joins back to the id spine)."""
    from ocr_spark.operators.dedup import ngram_novelty

    plan = _plan(ngram_novelty(docs))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan  # map-side combine on the firsts agg
    assert "partial_count" in plan


def test_normalized_dedup_two_level_partial_agg_no_text_shuffle(docs):
    """X55: both aggregation levels partial-combine map-side and the
    shuffled keys are fixed-width md5 digests — the raw text column never
    appears in an Exchange's output schema."""
    from ocr_spark.operators.dedup import normalized_dedup

    plan = _plan(normalized_dedup(docs))
    assert "partial_min" in plan and "partial_count" in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line
