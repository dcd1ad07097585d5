"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship fused-extraction pipeline (SURVEY.md §2.2 T1–T7
+ A6) on sf0.001. ``REGISTRY`` at the bottom declares every query once: its
builder over the driver's parquet tables, its exact DuckDB oracle when it
is SQL-expressible, and whether it is a gate row or an extra. ``queries``,
``oracle_sql``, ``extra_queries`` and ``extra_oracle_sql`` are views of it
(the per-turn extraction core is deliberately NOT SQL-expressible — its
correctness gate is the golden fixture suite in tests/test_golden.py).

Determinism rules used throughout: md5-based hashing (portable across
Spark/DuckDB/Python), fixed-width hex compare for MinHash, explicit
rounding on float aggregates, and (key, id) tie-breaks on every top-k.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import (
    minhash_coefficients as _minhash_coefficients,
)
from ocr_spark.operators.textstats import WORD_RE
from ocr_spark.session import read_parquet


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one tier table, spread over every core.

    Spark reads a parquet row group whole, in the split that holds its
    middle, and the tier writers put each table in ONE file with ONE row
    group. So every scan-rooted narrow stage (the flagship extraction,
    winnowing, signatures, quality scoring, …) would run in as many tasks
    as there are row groups, whatever the split count (a 4.7 MB table
    plans two splits, one of them empty) — measured 5× on sf1 winnowing
    (51.4 → 10.5 s at local[32]). A real lake is millions of row groups,
    so scan parallelism is free there; the round-robin repartition below
    restores exactly that and nothing else (results are unchanged — the
    compare is order-insensitive — and sortBeforeRepartition keeps the
    layout deterministic). The row-group count comes from the parquet
    footers on the driver, without a Spark job."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    df = read_parquet(spark, path)
    cores = spark.sparkContext.defaultParallelism
    row_groups = sum(f.num_row_groups for f in ds.dataset(path, format="parquet").get_fragments())
    if row_groups < cores:
        df = df.repartition(cores)
    return df


# ---------------------------------------------------------------------------
# Flagship: fused per-document extraction (T1–T7 + A6) — not SQL-expressible.
# ---------------------------------------------------------------------------


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.extraction import extract_turns

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = extract_turns(docs, text_col="text")
    return out.select(
        "doc_id",
        "extracted_text",
        "normalized_text",
        "dictionary_corrections",
        "spelling_changes",
        F.col("quality.overall").alias("quality_overall"),
        F.col("quality.label").alias("quality_label"),
        F.col("quality.dictionary_match").alias("quality_dictionary_match"),
        F.size("unknown_words").alias("n_unknown_words"),
        F.size("spans").alias("n_spans"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Aggregations A1/A2/A5/A7/A8/A9 (SURVEY.md §2.3) over events/documents.
# ---------------------------------------------------------------------------


def _a1_event_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ok = F.col("event_type") != "error"
    return ev.agg(
        F.count(F.lit(1)).alias("total_events"),
        F.sum(F.when(ok, 1).otherwise(0)).alias("successful"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("failed"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


_A1_SQL = """
SELECT CAST(count(*) AS BIGINT) AS total_events,
       CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS successful,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS failed,
       ROUND(avg(value), 4) AS avg_value,
       ROUND(sum(value), 2) AS total_value
FROM events
"""


def _a2_events_by_date(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ok = F.col("event_type") != "error"
    return (
        ev.groupBy(F.to_date("ts").alias("date"))
        .agg(
            F.sum(F.when(ok, 1).otherwise(0)).alias("successful"),
            F.sum(F.when(~ok, 1).otherwise(0)).alias("failed"),
        )
    )


_A2_SQL = """
SELECT CAST(ts AS DATE) AS date,
       CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS successful,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS failed
FROM events GROUP BY 1
"""


def _a2_zero_filled(spark, sf_dir):
    """A2 with the missing-day zero-fill the reference does client-side
    (routers/admin.py:199-217) — sequence() + broadcast left join."""
    from ocr_spark.operators.metrics import requests_by_date

    ev = _t(spark, sf_dir, "events").withColumn(
        "success", F.col("event_type") != "error"
    )
    return requests_by_date(ev, "ts", "success", zero_fill=True)


_A2Z_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date,
         CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS successful,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS failed
  FROM events GROUP BY 1
),
days AS (
  SELECT unnest(generate_series((SELECT min(date) FROM daily),
                                (SELECT max(date) FROM daily),
                                INTERVAL 1 DAY))::DATE AS date
)
SELECT days.date AS date,
       COALESCE(successful, 0) AS successful,
       COALESCE(failed, 0) AS failed
FROM days LEFT JOIN daily ON days.date = daily.date
"""


def _s6_import_merge(spark, sf_dir):
    """J4/S6 import-merge semantics (routers/learning.py:302-340) over two
    derived word tables: frequencies take max, approve-wins, timestamps
    widen. Split the documents table in half to build the two sides —
    deterministic, no external data."""
    from ocr_spark.operators.learning import merge_import

    words = _doc_words(spark, sf_dir)
    ts0 = F.lit("2026-01-01 00:00:00").cast("timestamp")

    def side(pred):
        return (
            words.filter(pred)
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("frequency"))
            .select(
                "word",
                "frequency",
                (F.col("frequency") >= 3).alias("is_approved"),
                ts0.alias("first_seen"),
                ts0.alias("last_seen"),
                F.lit(None).cast("timestamp").alias("approved_at"),
            )
        )

    merged = merge_import(side(F.col("doc_id") < 250), side(F.col("doc_id") >= 250))
    return merged.select("word", "frequency", "is_approved")


def _s6_sql() -> str:
    return f"""
WITH words AS ({_DOC_WORDS_SQL}),
a AS (SELECT word, CAST(count(*) AS BIGINT) AS frequency, count(*) >= 3 AS is_approved
      FROM words WHERE doc_id < 250 GROUP BY word),
b AS (SELECT word, CAST(count(*) AS BIGINT) AS frequency, count(*) >= 3 AS is_approved
      FROM words WHERE doc_id >= 250 GROUP BY word)
SELECT COALESCE(a.word, b.word) AS word,
       GREATEST(COALESCE(a.frequency, 0), COALESCE(b.frequency, 0)) AS frequency,
       (COALESCE(a.is_approved, FALSE) OR COALESCE(b.is_approved, FALSE)) AS is_approved
FROM a FULL OUTER JOIN b ON a.word = b.word
"""





def _s5_export(spark, sf_dir):
    """S5 learned-words JSON export rows (routers/learning.py:184-248):
    approved section (frequency >= 5) + pending section capped at 1000 by
    (frequency desc, word asc) over the deterministic doc-word learned
    table. The JSON sink itself (version header + words as JSON lines) is
    round-trip tested in tests/test_learning.py."""
    from ocr_spark.operators.learning import export_learned_words

    ts0 = F.lit("2026-01-01 00:00:00").cast("timestamp")
    learned = (
        _doc_words(spark, sf_dir)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("frequency"))
        .select(
            "word",
            "frequency",
            (F.col("frequency") >= 5).alias("is_approved"),
            ts0.alias("first_seen"),
            ts0.alias("last_seen"),
            F.when(F.col("frequency") >= 5, ts0).alias("approved_at"),
        )
    )
    return export_learned_words(learned).select("section", "word", "frequency")


def _s5_sql() -> str:
    return f"""
WITH freq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS frequency
  FROM ({_DOC_WORDS_SQL}) GROUP BY word
)
SELECT 'approved' AS section, word, frequency FROM freq WHERE frequency >= 5
UNION ALL
SELECT * FROM (
  SELECT 'pending' AS section, word, frequency FROM freq WHERE frequency < 5
  ORDER BY frequency DESC, word ASC LIMIT 1000
)
"""


def _a3_key_stats(spark, sf_dir):
    """A3 (db_service.py:176-193): total/active/revoked key counts + total
    requests, with user_id as the key analog; active = used within 7 days
    of the newest event."""
    from ocr_spark.operators.metrics import key_stats

    return key_stats(_t(spark, sf_dir, "events"))


_A3_SQL = """
WITH usage AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS requests_count, max(ts) AS last_used
  FROM events GROUP BY user_id
),
bound AS (SELECT max(ts) AS max_ts FROM events)
SELECT CAST(count(*) AS BIGINT) AS total_keys,
       CAST(sum(CASE WHEN last_used >= max_ts - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT)
         AS active_keys,
       CAST(sum(CASE WHEN last_used >= max_ts - INTERVAL 7 DAY THEN 0 ELSE 1 END) AS BIGINT)
         AS revoked_keys,
       CAST(sum(requests_count) AS BIGINT) AS total_requests
FROM usage, bound
"""


def _a3_key_usage(spark, sf_dir):
    """A3 per-key listing (db_service.py:154-165)."""
    from ocr_spark.operators.metrics import key_usage

    return key_usage(_t(spark, sf_dir, "events")).select(
        "key", "requests_count", "last_used", "is_active"
    )


_A3_USAGE_SQL = """
WITH bound AS (SELECT max(ts) AS max_ts FROM events)
SELECT user_id AS key, CAST(count(*) AS BIGINT) AS requests_count,
       max(ts) AS last_used,
       max(ts) >= max(max_ts) - INTERVAL 7 DAY AS is_active
FROM events, bound GROUP BY user_id
"""


def _a5_counts_by_type(spark, sf_dir):
    from ocr_spark.operators.metrics import counts_by_type

    return counts_by_type(_t(spark, sf_dir, "events"), "event_type")


_A5_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY ROLLUP(event_type)
"""


def _doc_words(spark, sf_dir):
    """Distinct (doc_id, word) pairs — the A7 unknown-word analog over the
    generic documents table (every word is 'unknown' to an empty kamus)."""
    from ocr_spark.functions.explode import explode_nonnull

    docs = _t(spark, sf_dir, "documents")
    return explode_nonnull(
        docs,
        F.array_distinct(
            F.expr(f"regexp_extract_all(lower(text), '{WORD_RE}', 0)")
        ),
        "word",
        "doc_id",
    )


_DOC_WORDS_SQL = f"""
SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS word
FROM documents
"""


def _a7_word_frequency(spark, sf_dir):
    return (
        _doc_words(spark, sf_dir)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("frequency"))
        .withColumn("is_approved", F.col("frequency") >= 5)
    )


_A7_SQL = f"""
SELECT word, CAST(count(*) AS BIGINT) AS frequency, count(*) >= 5 AS is_approved
FROM ({_DOC_WORDS_SQL}) GROUP BY word
"""


def _a8_top_pending(spark, sf_dir):
    """A8 over doc-distinct BIGRAMS: the documents vocabulary is tiny (~30
    words, all above the approval threshold), so pending single words don't
    exist at any SF — bigrams give a realistic long-tail 'pending' set
    while keeping A8's exact shape (filter pending, top-k by frequency
    desc with deterministic tie-break)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(lower(text), '{WORD_RE}', 0)")
    bigrams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        )
    )
    from ocr_spark.functions.explode import explode_nonnull

    return (
        explode_nonnull(docs.filter(F.size(toks) >= 2), bigrams, "bigram")
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("frequency"))
        .filter(F.col("frequency") < 5)
        .orderBy(F.desc("frequency"), F.asc("bigram"))
        .limit(20)
    )


_A8_SQL = f"""
WITH b AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(generate_series(1, len(t) - 1),
                          i -> array_to_string(t[i:i+1], ' ')))) AS bigram
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS t
        FROM documents)
  WHERE len(t) >= 2
)
SELECT bigram, CAST(count(*) AS BIGINT) AS frequency
FROM b GROUP BY bigram HAVING count(*) < 5
ORDER BY frequency DESC, bigram ASC LIMIT 20
"""


def _t8_gap_sessions(spark, sf_dir):
    """Gap-based sessionization in batch (the window-function rendition of
    the streaming sessionizer): a new session starts when a user's
    inter-event gap exceeds 30 minutes — lag + cumulative sum over an
    event-time window, then per-session aggregates. One shuffle on the
    partition key."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES"),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = gapped.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("session_id"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


_T8_GAP_SQL = """
WITH gapped AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END
           AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM gapped
)
SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
"""


def _asof_signup_attribution(spark, sf_dir):
    """As-of join: attribute every non-signup event to the user's most
    recent signup at-or-before it (NULL when none) — the temporal-join
    primitive (kdb ``aj`` / pandas ``merge_asof``) expressed WITHOUT a
    join: union both sides, one window pass per user carrying the
    last-seen login forward. One hash shuffle total, no per-key
    cross-product (plan-pinned in tests/test_joins.py). Oracle: DuckDB's
    native ASOF LEFT JOIN over a tie-deduped login table — an independent
    formulation of the same semantics."""
    from ocr_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id"
    )
    acts = ev.filter(F.col("event_type") != "signup").select(
        "event_id", "user_id", "ts", "event_type"
    )
    out = asof_join(
        acts, signups, on="user_id", right_cols=["event_id"], prefix="signup_"
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "signup_ts",
        "signup_event_id",
        F.expr("timestampdiff(MICROSECOND, signup_ts, ts)").alias("wait_us"),
    )


_ASOF_SQL = """
WITH signups AS (
  -- the operator breaks exact-ts ties by max payload struct = max event_id;
  -- DuckDB ASOF leaves ties unspecified, so dedup to that same winner first
  SELECT user_id, ts, max(event_id) AS event_id
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
),
acts AS (
  SELECT event_id, user_id, ts, event_type FROM events
  WHERE event_type <> 'signup'
)
SELECT a.event_id, a.user_id, a.ts, a.event_type,
       s.ts AS signup_ts, s.event_id AS signup_event_id,
       date_diff('microsecond', s.ts, a.ts) AS wait_us
FROM acts a ASOF LEFT JOIN signups s
  ON a.user_id = s.user_id AND a.ts >= s.ts
"""


def _range_join_error_sessions(spark, sf_dir):
    """Range join: place every error event inside the gap-session interval
    (from the t8 sessionizer) that contains it. Equi key (user_id) +
    containment filter — one hash shuffle, never the
    BroadcastNestedLoopJoin Spark emits for bare range predicates; the
    keyless bucketed rewrite is pytest-covered (tests/test_joins.py).
    Oracle: recompute the sessions in SQL and BETWEEN-join."""
    from ocr_spark.operators.joins import range_join

    sessions = _t8_gap_sessions(spark, sf_dir)
    errors = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    ).select("event_id", "user_id", "ts")
    out = range_join(
        errors, sessions,
        start_col="session_start", end_col="session_end",
        on="user_id", prefix="s_",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("s_session_id").alias("session_id"),
        F.col("s_n_events").alias("session_n_events"),
    )


_RANGE_JOIN_SQL = f"""
WITH sessions AS ({_T8_GAP_SQL})
SELECT e.event_id, e.user_id, e.ts,
       s.session_id, s.n_events AS session_n_events
FROM events e JOIN sessions s
  ON e.user_id = s.user_id
 AND e.ts BETWEEN s.session_start AND s.session_end
WHERE e.event_type = 'error'
"""


def _a10_value_quantiles(spark, sf_dir):
    """Discrete quantiles (exact element selection — deterministic across
    engines, unlike interpolated percentiles) of event value per type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"), 6).alias("p50"),
        F.round(F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)"), 6).alias("p95"),
        F.round(F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)"), 6).alias("p99"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


_A10_SQL = """
SELECT event_type,
       ROUND(quantile_disc(value, 0.5), 6) AS p50,
       ROUND(quantile_disc(value, 0.95), 6) AS p95,
       ROUND(quantile_disc(value, 0.99), 6) AS p99,
       ROUND(min(value), 6) AS vmin,
       ROUND(max(value), 6) AS vmax
FROM events GROUP BY event_type
"""


#: fixed pivot column list — explicit values keep the output schema
#: deterministic (and Catalyst skips the extra distinct-values job)
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _a11_type_pivot(spark, sf_dir):
    """Pivot family: daily event counts pivoted to one column per event
    type. The explicit value list makes the schema deterministic and
    avoids the distinct-scan Catalyst otherwise runs; the oracle is the
    equivalent conditional aggregation."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.to_date("ts").alias("date"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    # pivot leaves NULL for absent combinations; zero-fill for the compare
    return out.select(
        "date", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


_A11_SQL = """
SELECT CAST(ts AS DATE) AS date,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
FROM events GROUP BY 1
"""


def _a12_distinct_users(spark, sf_dir):
    """Distinct-aggregation family: exact distinct users + events per type
    (count(DISTINCT x) expands to a two-stage aggregate — the shape to
    know before reaching for approx_count_distinct at scale)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


_A12_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


def _a12_approx_distinct(spark, sf_dir):
    """The 100-TB rendition of A12: HyperLogLog++ ``approx_count_distinct``
    at rsd=0.02 (±2% standard error) — a single-pass, fixed-memory sketch
    per group vs the exact two-stage distinct's full-key shuffle. The exact
    variant stays the oracle; this one is rows-only at the driver gate
    (DuckDB's HLL is a different sketch) with a tolerance-band pytest
    pinning |approx − exact| within 5·rsd."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("n_users_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _a4_learning_stats(spark, sf_dir):
    """A4 learning stats (reference learning_service.py:187-205) over the
    deterministic learned table derived from A7's word frequencies —
    total/approved/pending in one aggregate."""
    from ocr_spark.operators.learning import learning_stats

    return learning_stats(_a7_word_frequency(spark, sf_dir))


_A4_SQL = f"""
WITH lw AS ({_A7_SQL})
SELECT CAST(count(*) AS BIGINT) AS total_words,
       CAST(sum(CASE WHEN is_approved THEN 1 ELSE 0 END) AS BIGINT) AS approved,
       CAST(sum(CASE WHEN NOT is_approved THEN 1 ELSE 0 END) AS BIGINT) AS pending
FROM lw
"""


def _a9_event_pagination(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(60)
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .limit(50)  # rows 11..60 from the top == OFFSET 10 LIMIT 50
        .select("event_id", "event_type", "value")
    )


_A9_SQL = """
SELECT event_id, event_type, value FROM events
ORDER BY ts DESC, event_id DESC LIMIT 50 OFFSET 10
"""


# ---------------------------------------------------------------------------
# S4 preview truncation; T8 ordered reassembly (event-journey analog).
# ---------------------------------------------------------------------------


def _s4_preview(spark, sf_dir):
    from ocr_spark.operators.metrics import preview_truncate

    docs = _t(spark, sf_dir, "documents")
    return preview_truncate(docs, "text", 120).select(
        "doc_id",
        F.col("text_preview").alias("preview"),
        F.length("text_preview").alias("preview_len"),
    )


_S4_SQL = """
SELECT doc_id, substr(text, 1, 120) AS preview,
       CAST(length(substr(text, 1, 120)) AS INT) AS preview_len
FROM documents
"""


def _t8_event_sessions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    packed = F.struct("ts", "event_id", "event_type")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(packed)), lambda s: s["event_type"]
            ),
            ">",
        ).alias("journey"),
        F.count(F.lit(1)).alias("n_events"),
    )


_T8_SQL = """
SELECT user_id, string_agg(event_type, '>' ORDER BY ts, event_id) AS journey,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# J2: broadcast anti-join (unknown words vs a derived top-50 kamus).
# ---------------------------------------------------------------------------


def _j2_unknown_antijoin(spark, sf_dir):
    words = _doc_words(spark, sf_dir)
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("frequency"))
    kamus = freq.orderBy(F.desc("frequency"), F.asc("word")).limit(10).select("word")
    return (
        freq.join(F.broadcast(kamus), "word", "left_anti")
        .select("word", "frequency")
    )


_J2_SQL = f"""
WITH freq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS frequency
  FROM ({_DOC_WORDS_SQL}) GROUP BY word
),
kamus AS (SELECT word FROM freq ORDER BY frequency DESC, word ASC LIMIT 10)
SELECT word, frequency FROM freq WHERE word NOT IN (SELECT word FROM kamus)
"""


# ---------------------------------------------------------------------------
# Dedup family (training-data pipeline).
# ---------------------------------------------------------------------------

_SHINGLES_SQL = f"""
SELECT doc_id,
       CASE WHEN len(t) >= 3
            THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                              i -> array_to_string(t[i:i+2], ' ')))
            ELSE [array_to_string(t, ' ')] END AS shingles
FROM (SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS t FROM documents)
"""


def _exact_dedup(spark, sf_dir):
    from ocr_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


_EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)
"""


def _minhash_signatures(spark, sf_dir):
    from ocr_spark.functions.explode import posexplode_nonnull
    from ocr_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(
        _t(spark, sf_dir, "documents"), n_hashes=16, k=3
    )
    # posexplode_nonnull, NOT a bare posexplode: the inferred size()>0
    # filter under an inner Generate re-evaluates the fused signature
    # aggregate once per OUTPUT row (functions/explode.py; measured
    # 124.6 -> ~45 s at the sf1 tier for this very query)
    return posexplode_nonnull(sigs, "signature", "seed", "minhash", "id")


# The 2-universal family's (i, aᵢ, bᵢ) coefficients enter the oracle as a
# VALUES literal — HUGEINT multiply reproduces Spark's decimal(38,0)
# arithmetic exactly (both are exact integer math mod 2^61 − 1)
_MINHASH_COEF_VALUES = ", ".join(
    f"({i}, {a}, {b})"
    for i, (a, b) in enumerate(_minhash_coefficients(16))
)

_MINHASH_SQL = f"""
WITH ex AS (SELECT doc_id, unnest(shingles) AS s FROM ({_SHINGLES_SQL})),
h AS (SELECT doc_id,
             ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
      FROM ex),
coef AS (SELECT * FROM (VALUES {_MINHASH_COEF_VALUES}) AS t(seed, a, b))
SELECT h.doc_id AS id, CAST(coef.seed AS INT) AS seed,
       CAST(min((coef.a::HUGEINT * h.h + coef.b) % 2305843009213693951)
            AS BIGINT) AS minhash
FROM h CROSS JOIN coef GROUP BY 1, 2
"""


def _jaccard_near_dup(spark, sf_dir):
    """Exact shingle-set Jaccard with the hot-shingle cap at 1000 — inert
    at oracle scale (a shingle's doc frequency can't exceed the 500-doc
    sf0.01 table), so the oracle is the exact uncapped Jaccard; at bench
    scale the cap bounds the self-join fan-out."""
    from ocr_spark.operators.dedup import jaccard_near_duplicates

    return jaccard_near_duplicates(
        _t(spark, sf_dir, "documents"), threshold=0.1, k=3, max_doc_freq=_JACCARD_CAP
    )


#: hot-shingle document-frequency cap used by every jaccard-family entry —
#: mirrored in the SQL oracles below so Spark/oracle equality holds at ANY
#: scale factor, not just where the cap happens to be inert
_JACCARD_CAP = 1000

# Capped-universe Jaccard: shingles with doc frequency > cap leave the
# universe (intersections AND set sizes) — the exact semantics of the Spark
# operator's max_doc_freq. With no over-cap shingle this reduces to the
# plain exact Jaccard (sizes == len(shingles), every posting kept).
_JACCARD_SQL = f"""
WITH sized AS (SELECT doc_id, shingles FROM ({_SHINGLES_SQL})),
ex0 AS (SELECT doc_id,
               ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS s
        FROM sized),
ex AS (SELECT * FROM ex0
       WHERE s IN (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= {_JACCARD_CAP})),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(count(*) AS DOUBLE) / (sa.n + sb.n - count(*)), 6) AS jaccard
FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
JOIN sizes sa ON sa.doc_id = a.doc_id
JOIN sizes sb ON sb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
HAVING ROUND(CAST(count(*) AS DOUBLE) / (sa.n + sb.n - count(*)), 6) >= 0.1
"""


def _dedup_clusters(spark, sf_dir):
    """Pairs → connected components → keeper decision over the WHOLE
    corpus: the jaccard near-dup pairs (oracle-checked above) resolve to
    per-document (cluster, keep) via iterated hash-min label propagation —
    the materialized dedup decision a 100 TB pipeline needs (not a pair
    list). Oracle: DuckDB recursive CTE computing min-reachable-id."""
    from ocr_spark.operators.dedup import jaccard_near_duplicates, resolve_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_near_duplicates(docs, threshold=0.1, k=3, max_doc_freq=_JACCARD_CAP)
    return resolve_clusters(pairs, docs, id_col="doc_id")


_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach(id, label) AS (
  SELECT id, id AS label FROM verts
  UNION
  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id)
SELECT d.doc_id AS id,
       COALESCE(c.cluster, d.doc_id) AS cluster,
       COALESCE(c.cluster, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""


def _dedup_corpus(spark, sf_dir):
    """The materialized deduplicated corpus: one doc (min id) per jaccard
    near-dup cluster, all columns preserved — what a training-data pipeline
    actually writes out. Projected to (doc_id, source, n_chars) for the
    compare (text equality is already covered by the cluster oracle)."""
    from ocr_spark.operators.dedup import dedup_corpus, jaccard_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_near_duplicates(docs, threshold=0.1, k=3, max_doc_freq=_JACCARD_CAP)
    return dedup_corpus(pairs, docs).select(
        "doc_id", "source", F.length("text").alias("n_chars")
    )


_DEDUP_CORPUS_SQL = f"""
WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach(id, label) AS (
  SELECT id, id AS label FROM verts
  UNION
  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
),
dropped AS (SELECT id FROM reach GROUP BY id HAVING min(label) <> id)
SELECT doc_id, source, CAST(length(text) AS INT) AS n_chars
FROM documents WHERE doc_id NOT IN (SELECT id FROM dropped)
"""


def _simhash(spark, sf_dir):
    from ocr_spark.operators.dedup import with_simhash

    docs = _t(spark, sf_dir, "documents")
    return with_simhash(docs).select("doc_id", "simhash")


_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, md5(t) AS h FROM (
    SELECT DISTINCT doc_id,
           unnest(list_distinct(regexp_extract_all(lower(text), '{WORD_RE}'))) AS t
    FROM documents
  )
),
votes AS (
  SELECT doc_id, b.bit AS bit,
         CASE WHEN sum(CASE WHEN
              ((strpos('0123456789abcdef', substr(h, (b.bit // 4) + 1, 1)) - 1)
               >> (3 - (b.bit % 4))) & 1 = 1
              THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS v
  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
  GROUP BY doc_id, b.bit
),
agg AS (
  SELECT doc_id, sum(CAST(v AS HUGEINT) * (CAST(1 AS HUGEINT) << (63 - bit))) AS s
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(CASE WHEN COALESCE(a.s, 0) >= CAST(1 AS HUGEINT) << 63
                 THEN COALESCE(a.s, 0) - (CAST(1 AS HUGEINT) << 64)
                 ELSE COALESCE(a.s, 0) END AS BIGINT) AS simhash
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def _minhash_near_dup(spark, sf_dir):
    """MinHash-LSH near-dup pipeline. Approximate as an ESTIMATOR of
    Jaccard, but fully deterministic given the hash family and banding —
    so the whole pipeline (band digests, bucket join, signature-similarity
    verify) is reproduced exactly in DuckDB. The hot-bucket cap (1000)
    never fires at oracle scale (≤500 docs/bucket possible at sf0.01)."""
    from ocr_spark.operators.dedup import minhash_near_duplicates

    return minhash_near_duplicates(
        _t(spark, sf_dir, "documents"),
        n_hashes=16,
        n_bands=4,
        threshold=0.25,
        max_bucket_size=1000,
    )


_MINHASH_NEAR_DUP_SQL = f"""
WITH sigs AS ({_MINHASH_SQL}),
sigarr AS (SELECT id, list(minhash ORDER BY seed) AS sig FROM sigs GROUP BY id),
bands AS (
  SELECT id, b.band,
         md5(array_to_string(list_transform(sig[b.band*4+1 : b.band*4+4],
                                            x -> CAST(x AS VARCHAR)), '|')) AS bucket
  FROM sigarr CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id < b.id
)
SELECT c.id_a, c.id_b,
       ROUND(CAST(len(list_filter(generate_series(1, 16),
                                  i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16, 6)
         AS sig_sim
FROM cands c
JOIN sigarr sa ON sa.id = c.id_a
JOIN sigarr sb ON sb.id = c.id_b
WHERE CAST(len(list_filter(generate_series(1, 16),
                           i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16 >= 0.25
"""


def _simhash_near_dup(spark, sf_dir):
    """Block-LSH near-dup pairs at Hamming ≤ 3 over 4 derived 16-bit blocks
    — inside the pigeonhole guarantee (max_hamming < n_blocks), so the pair
    set is EXACT and oracle-checked (DuckDB reproduces the block bucketing
    and bit_count(xor) verification)."""
    from ocr_spark.operators.dedup import simhash_near_duplicates, with_simhash

    docs = with_simhash(_t(spark, sf_dir, "documents"))
    return simhash_near_duplicates(docs, max_hamming=3)


# Block decomposition of the 64-bit simhash: hamming(a,b) = Σ over the four
# 16-bit blocks of bit_count(xor(block_a, block_b)) — exact, and it keeps
# the DuckDB arithmetic in INTEGER range (no HUGEINT xor needed). The
# unsigned view us = simhash + 2^64 (mod) reproduces shiftrightunsigned.
# ``blocks`` is MATERIALIZED: inlined into each of its four references,
# the query ran for minutes at sf1; computed once it takes about 9 s
# there, with the same rows.
_SIMHASH_NEAR_DUP_SQL = f"""
WITH sh AS ({_SIMHASH_SQL}),
u AS (
  SELECT doc_id,
         CAST(simhash AS HUGEINT)
         + CASE WHEN simhash < 0 THEN CAST(18446744073709551616 AS HUGEINT)
                ELSE 0 END AS us
  FROM sh
),
blocks AS MATERIALIZED (
  SELECT doc_id, b.i AS block_idx,
         CAST((us // (CAST(1 AS HUGEINT) << (b.i * 16))) % 65536 AS INTEGER) AS bv
  FROM u CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) b
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM blocks a JOIN blocks b ON a.block_idx = b.block_idx AND a.bv = b.bv
  WHERE a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(sum(bit_count(xor(ba.bv, bb.bv))) AS INT) AS hamming
FROM cands c
JOIN blocks ba ON ba.doc_id = c.id_a
JOIN blocks bb ON bb.doc_id = c.id_b AND bb.block_idx = ba.block_idx
GROUP BY c.id_a, c.id_b
HAVING sum(bit_count(xor(ba.bv, bb.bv))) <= 3
"""


# ---------------------------------------------------------------------------
# Main-content extraction (north_star surface): block classification, layout.
# ---------------------------------------------------------------------------


def _boilerplate_strip(spark, sf_dir):
    """Boilerpipe-style block classification over the documents table —
    per-block word/link/stopword features + NumWordsRules labels. Not
    SQL-expressible (prev/next-block classification with offset-tracked
    HTML parsing); gated by tests/test_boilerplate.py goldens."""
    from ocr_spark.operators.boilerplate import strip_boilerplate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return strip_boilerplate(docs).select(
        "doc_id",
        "content_text",
        "n_blocks",
        "n_content_blocks",
        "n_boilerplate_blocks",
        "content_words",
    )


def _pdf_layout(spark, sf_dir):
    """Line/column clustering over deterministic synthetic layout tokens:
    each document's words are laid out on a two-column grid (seeded by
    doc_id — no external data), then reconstructed in reading order.
    Rows-only; geometric properties are pytest-gated."""
    from ocr_spark.operators.boilerplate import parse_layout

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # word i -> column (i mod 2), row (i div 2): x = col*40 + 7*(i div 8 mod 3)
    toks = F.transform(
        words,
        lambda w, i: F.struct(
            ((i % 2) * 40.0 + (i / 8 % 3).cast("int") * 7.0).alias("x"),
            ((i / 2).cast("int") * 10.0).cast("double").alias("y"),
            F.lit(6.0).alias("w"),
            F.lit(8.0).alias("h"),
            w.alias("text"),
        ),
    )
    with_toks = docs.select("doc_id", toks.alias("layout_tokens")).filter(n >= 4)
    return parse_layout(with_toks, y_tol=1.0, gap_min=5.0).select(
        "doc_id", "n_lines", "n_columns", "n_tokens",
        F.length("layout_text").alias("layout_len"),
    )


def _full_pipeline(spark, sf_dir):
    """The composed production path: block-classify each document's text
    (boilerplate strip) THEN run the OCR-correction/scoring core on the
    extracted main content — ONE fused Arrow UDF (a single JVM↔Python
    crossing; the intermediate content_text never re-enters the JVM), no
    shuffle. Rows-only (composition of two non-SQL-expressible stages);
    fused≡unfused parity is pytest-gated."""
    from ocr_spark.operators.extraction import extract_content_turns

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = extract_content_turns(docs)
    return out.select(
        "doc_id",
        "n_blocks",
        "normalized_text",
        "dictionary_corrections",
        "spelling_changes",
        F.col("quality.overall").alias("quality_overall"),
    )


def _decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing any 3-gram shingle with the
    'benchmark' (doc_id < 20) are dropped; returns the keep set with its
    overlap count (0 by construction of the filter)."""
    from ocr_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") < 20)
    training = docs.filter(F.col("doc_id") >= 20)
    return decontaminate(training, benchmark, max_overlap=0)


_DECONTAMINATE_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
bench AS (SELECT DISTINCT ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS s
          FROM sh WHERE doc_id < 20),
train AS (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS s
          FROM sh WHERE doc_id >= 20),
ov AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
  FROM train t JOIN bench b ON t.s = b.s GROUP BY t.doc_id
)
SELECT d.doc_id AS id, COALESCE(o.n_overlap, 0) AS n_overlap
FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
LEFT JOIN ov o ON d.doc_id = o.doc_id
WHERE COALESCE(o.n_overlap, 0) <= 0
"""


def _stratified_sample(spark, sf_dir):
    """Deterministic domain-mixing sample: per-source percent quotas keyed
    on md5(doc_id) — same row set on every run and engine."""
    from ocr_spark.operators.dedup import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    quotas = {"src0": 80, "src1": 50, "src2": 20, "src3": 10}
    return stratified_sample(docs, quotas).select("doc_id", "source")


_STRATIFIED_SQL = """
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 <
      CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 50
                  WHEN 'src2' THEN 20 WHEN 'src3' THEN 10 ELSE 0 END
"""


def _curate_corpus(spark, sf_dir):
    """The composed training-data curation pipeline — what the dedup /
    quality / decontamination operators exist FOR, chained end-to-end:
    quality gate (score ≥ 50) → language gate (drop 'und') → benchmark
    decontamination (vs docs < 20) → near-dup cluster dedup (jaccard ≥
    0.1, keep min id) → deterministic stratified sample. One oracle checks
    the whole composition; each stage is additionally oracle-checked alone
    above."""
    from ocr_spark.operators.curation import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    quotas = {"src0": 80, "src1": 50, "src2": 20, "src3": 10}
    out = curate_corpus(
        docs.filter(F.col("doc_id") >= 5),
        docs.filter(F.col("doc_id") < 5),
        quotas,
        min_quality=50,
        jaccard_threshold=0.1,
        k=3,
        max_doc_freq=_JACCARD_CAP,
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("stratum").alias("source"),
        "lang_pred",
        "quality_score",
    )


def _curate_sql() -> str:
    quality = _quality_sql()
    langid_hits = f"""
  SELECT doc_id,
         len(list_filter(regexp_extract_all(lower(text), '{WORD_RE}'),
                         t -> list_contains({_stop_sql(_textstats_lists()[0])}, t))) AS en_hits,
         len(list_filter(regexp_extract_all(lower(text), '{WORD_RE}'),
                         t -> list_contains({_stop_sql(_textstats_lists()[1])}, t))) AS id_hits
  FROM documents
"""
    # DuckDB inlines a CTE into every query that references it, directly
    # or through ``kept``/``clean``; materializing the regex-heavy dq and
    # hits and the unnested ex0 once cut this oracle from ~30 s to under 1 s
    return f"""
WITH RECURSIVE
dq AS MATERIALIZED ({quality}),
hits AS MATERIALIZED ({langid_hits}),
langs AS (
  SELECT doc_id, CASE WHEN en_hits > id_hits THEN 'en'
                      WHEN id_hits > en_hits THEN 'id'
                      ELSE 'und' END AS lang_pred
  FROM hits
),
sh AS ({_SHINGLES_SQL}),
bench AS (SELECT DISTINCT ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS s
          FROM sh WHERE doc_id < 5),
kept AS (
  SELECT d.doc_id, d.source, l.lang_pred, q.quality_score
  FROM documents d
  JOIN dq q USING (doc_id)
  JOIN langs l USING (doc_id)
  WHERE q.quality_score >= 50 AND l.lang_pred <> 'und' AND d.doc_id >= 5
),
contaminated AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS s
        FROM sh WHERE doc_id IN (SELECT doc_id FROM kept)) t
  JOIN bench b ON t.s = b.s
),
clean AS (SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
sized AS (SELECT doc_id, shingles FROM sh
          WHERE doc_id IN (SELECT doc_id FROM clean)),
ex0 AS MATERIALIZED (SELECT doc_id,
               ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS s
        FROM sized),
ex AS (SELECT * FROM ex0
       WHERE s IN (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= {_JACCARD_CAP})),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN sizes sa ON sa.doc_id = a.doc_id
  JOIN sizes sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
  HAVING ROUND(CAST(count(*) AS DOUBLE) / (sa.n + sb.n - count(*)), 6) >= 0.1
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach(id, label) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
),
dropped AS (SELECT id FROM reach GROUP BY id HAVING min(label) <> id)
SELECT doc_id, source, lang_pred, quality_score
FROM clean
WHERE doc_id NOT IN (SELECT id FROM dropped)
  AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 <
      CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 50
                  WHEN 'src2' THEN 20 WHEN 'src3' THEN 10 ELSE 0 END
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings.
# ---------------------------------------------------------------------------


def _ann_cosine_topk(spark, sf_dir):
    from ocr_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)


_ANN_SQL = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0
)
SELECT vec_id AS id,
       ROUND(list_inner_product(v, qv) /
             (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))), 6) AS score
FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id <> 0), q
ORDER BY score DESC, id ASC LIMIT 10
"""


def _ivf_topk(spark, sf_dir):
    """IVF approximate top-k: the shipped spherical-k-means coarse
    quantizer (tools/train_ivf.py, n_cells = √(training rows) via
    derive_ivf_params) assigns the corpus; only the
    nprobe=3 cells nearest the query are scanned, exact cosine rerank
    inside — the data-adaptive counterpart of the hyperplane-LSH search.
    With the corpus at rest partitioned by cell the probe filter becomes
    partition pruning (scan ~3/8 of the bytes). Approximate as search but
    deterministic given the shipped centroids, which enter the oracle as
    literals: same assignment argmax, same probe set, same rerank."""
    from ocr_spark.operators.similarity import ivf_topk, load_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return ivf_topk(
        emb.filter(F.col("vec_id") != 0), qvec, load_ivf_centroids(),
        k=10, nprobe=3,
    )


def _ivf_sql(nprobe: int = 3) -> str:
    """IVF oracle with the shipped centroids inlined as literals. The
    probe set depends on the query vector, so the SQL derives it the same
    way the operator does: score the query against every centroid, keep
    the top-nprobe cells (score desc, cell asc). Assignment ties break to
    the FIRST max in both engines (array_position / list_indexof)."""
    from ocr_spark.operators.similarity import load_ivf_centroids

    cents = load_ivf_centroids()
    def scores(vexpr: str) -> str:
        return "[" + ", ".join(
            "list_inner_product({v}, [{c}])".format(
                v=vexpr, c=", ".join(repr(x) for x in cent)
            )
            for cent in cents
        ) + "]"

    return f"""
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0
),
probe AS (
  SELECT CAST(i - 1 AS INTEGER) AS cell
  FROM (SELECT unnest({scores('qv')}) AS s,
               generate_subscripts({scores('qv')}, 1) AS i
        FROM q)
  ORDER BY s DESC, i ASC LIMIT {nprobe}
),
assigned AS (
  SELECT vec_id, v,
         CAST(list_indexof(sc, list_aggregate(sc, 'max')) - 1 AS INTEGER) AS cell
  FROM (SELECT vec_id, v, {scores('v')} AS sc
        FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings WHERE vec_id <> 0 AND embedding IS NOT NULL))
)
SELECT vec_id AS id,
       ROUND(CASE WHEN sqrt(list_inner_product(v, v)) = 0 THEN 0.0
                  ELSE list_inner_product(v, qv)
                       / (sqrt(list_inner_product(v, v))
                          * sqrt(list_inner_product(qv, qv))) END, 6) AS score
FROM assigned, q WHERE cell IN (SELECT cell FROM probe)
ORDER BY score DESC, id ASC LIMIT 10
"""


def _doc_tf_embeddings(spark, sf_dir):
    """Feature-hashed TF embeddings straight from the documents table
    (hashing trick, ICML'09) — the documents → embeddings bridge that lets
    the whole ANN/near-dup family run on raw text. One narrow staged fold,
    no shuffle; counts are integer-exact doubles so the L2 normalization
    is bit-identical however the oracle re-derives them (grid + left join
    in SQL vs per-row fold in Spark)."""
    from ocr_spark.operators.similarity import hashed_tf_embed

    docs = _t(spark, sf_dir, "documents")
    emb = hashed_tf_embed(docs, dim=16)
    return emb.select(
        "doc_id",
        F.transform(F.col("embedding"), lambda x: F.round(x, 6)).alias(
            "embedding"
        ),
    )


_DOC_TF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS t
  FROM documents
),
bc AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT % 16 AS b,
         CAST(count(*) AS DOUBLE) AS c
  FROM toks GROUP BY doc_id, b
),
grid AS (
  SELECT d.doc_id, gs.i FROM (SELECT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) gs
),
cnt AS (
  SELECT g.doc_id, g.i, COALESCE(bc.c, 0.0) AS c
  FROM grid g LEFT JOIN bc ON bc.doc_id = g.doc_id AND bc.b = g.i
),
arr AS (SELECT doc_id, list(c ORDER BY i) AS cnts FROM cnt GROUP BY doc_id)
SELECT doc_id,
       list_transform(cnts, x -> ROUND(CASE WHEN nrm = 0 THEN x
                                            ELSE x / nrm END, 6)) AS embedding
FROM (SELECT doc_id, cnts,
             sqrt(list_sum(list_transform(cnts, x -> x * x))) AS nrm
      FROM arr)
"""


def _ann_cosine_topk_np(spark, sf_dir):
    """BLAS variant of the exact top-k (one matmul per Arrow batch,
    per-partition k-selection) — same oracle as the expression version."""
    from ocr_spark.operators.similarity import cosine_topk_np

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return cosine_topk_np(emb.filter(F.col("vec_id") != 0), qvec, k=10)


def _ann_lsh_topk(spark, sf_dir):
    """Bucketed variant — approximate as SEARCH (bucket prefilter loses
    recall) but deterministic given the seeded hyperplanes, which enter the
    DuckDB oracle as literals: same bucket bits, same rerank, same top-k.
    Recall vs the exact top-k is additionally asserted in
    tests/test_similarity.py."""
    from ocr_spark.operators.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return lsh_cosine_topk(emb, qvec, k=10, n_planes=6)


def _ann_lsh_topk_mp(spark, sf_dir):
    """Multi-probe variant: candidates come from the query bucket plus all
    Hamming-1 neighbor buckets — the standard recall enhancer, still a
    deterministic prefilter the oracle reproduces by comparing bucket
    strings character-wise."""
    from ocr_spark.operators.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return lsh_cosine_topk(emb, qvec, k=10, n_planes=6, multi_probe=1)


def _ann_lsh_mp_sql() -> str:
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE embedding IS NOT NULL),
b AS (SELECT vec_id, v, {_bucket_sql('v', 6)} AS bucket FROM v),
q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT vec_id AS id,
       ROUND(CASE WHEN sqrt(list_inner_product(v, v)) = 0 THEN 0.0
                  ELSE list_inner_product(v, qv)
                       / (sqrt(list_inner_product(v, v))
                          * sqrt(list_inner_product(qv, qv))) END, 6) AS score
FROM b, q
WHERE len(list_filter(generate_series(1, 6), i -> bucket[i] <> qb[i])) <= 1
ORDER BY score DESC, id ASC LIMIT 10
"""


#: embedding width of the testdata embeddings table (fixed contract across
#: SFs — asserted against the parquet in tests/test_similarity.py)
_EMB_DIM = 64


def _bucket_sql(vec_expr: str, n_planes: int, seed: int = 7) -> str:
    """Sign-bit bucket expression with the SAME seeded hyperplanes the Spark
    operators use (similarity.hyperplanes) inlined as literals. ``repr``
    round-trips float64 exactly, so both engines see bit-identical planes."""
    from ocr_spark.operators.similarity import hyperplanes

    planes = hyperplanes(_EMB_DIM, n_planes, seed)
    bits = ", ".join(
        "CASE WHEN list_inner_product({v}, [{p}]) >= 0 THEN '1' ELSE '0' END".format(
            v=vec_expr, p=", ".join(repr(x) for x in plane)
        )
        for plane in planes
    )
    return f"concat({bits})"


def _ann_lsh_sql() -> str:
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE embedding IS NOT NULL),
b AS (SELECT vec_id, v, {_bucket_sql('v', 6)} AS bucket FROM v),
q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT vec_id AS id,
       ROUND(CASE WHEN sqrt(list_inner_product(v, v)) = 0 THEN 0.0
                  ELSE list_inner_product(v, qv)
                       / (sqrt(list_inner_product(v, v))
                          * sqrt(list_inner_product(qv, qv))) END, 6) AS score
FROM b, q WHERE b.bucket = q.qb
ORDER BY score DESC, id ASC LIMIT 10
"""


def _knn_join(spark, sf_dir):
    """k-NN join: top-5 corpus neighbors for each of 5 query vectors —
    broadcast query side, narrow scoring with hoisted norms, one window
    shuffle on query_id."""
    from ocr_spark.operators.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    return knn_join(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5), k=5
    )


_KNN_SQL = """
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL),
c AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id >= 5 AND embedding IS NOT NULL),
scored AS (
  SELECT q.query_id, c.id,
         ROUND(CASE WHEN sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv)) = 0
                    THEN 0.0
                    ELSE list_inner_product(v, qv)
                         / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv)))
               END, 6) AS score
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT query_id, id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, id, score, rank FROM ranked WHERE rank <= 5
"""


def _embedding_near_dup(spark, sf_dir):
    """LSH-bucketed self-join + exact cosine verify. Deterministic given the
    seeded hyperplanes (literals in the oracle too); dim passed explicitly
    (table contract) so no probe job runs."""
    from ocr_spark.operators.similarity import embedding_near_duplicates

    return embedding_near_duplicates(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_planes=3, dim=_EMB_DIM
    )


def _emb_near_dup_sql() -> str:
    return f"""
WITH v AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
b AS (SELECT id, v, {_bucket_sql('v', 3)} AS bucket FROM v),
scored AS (
  SELECT a.id AS id_a, b2.id AS id_b,
         ROUND(list_inner_product(a.v, b2.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b2.v, b2.v))), 6) AS cos
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id
)
SELECT DISTINCT id_a, id_b, cos FROM scored WHERE cos >= 0.4
"""


def _semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    dedup over k-means cells. The shipped IVF quantizer assigns every
    vector to a cell; only within-cell pairs are cosine-scored (Σ|cell|²
    candidates, never all-pairs); duplicate groups resolve by connected
    components; the keeper is the member FARTHEST from its centroid
    (lowest 6-dp cosine, id tiebreak) — the paper's diversity rule.
    Deterministic end-to-end given the shipped centroids, so the oracle
    reproduces assignment, pairs, components, and ranking exactly."""
    from ocr_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def _semantic_dedup_sql(threshold: float = 0.4) -> str:
    """SemDeDup oracle: same centroid literals as the IVF oracle, same
    first-max assignment, within-cell pair scoring, recursive-CTE
    components, and the farthest-from-centroid window rank."""
    from ocr_spark.operators.similarity import load_ivf_centroids

    cents = load_ivf_centroids()

    def scores(vexpr: str) -> str:
        return "[" + ", ".join(
            "list_inner_product({v}, [{c}])".format(
                v=vexpr, c=", ".join(repr(x) for x in cent)
            )
            for cent in cents
        ) + "]"

    c_norms = "[" + ", ".join(
        "sqrt(list_inner_product([{c}], [{c}]))".format(
            c=", ".join(repr(x) for x in cent)
        )
        for cent in cents
    ) + "]"
    return f"""
WITH RECURSIVE v AS (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
asg AS (
  SELECT id, v, CAST(list_indexof(sc, list_aggregate(sc, 'max')) - 1 AS INTEGER) AS cell,
         list_aggregate(sc, 'max') AS mx
  FROM (SELECT id, v, {scores('v')} AS sc FROM v)
),
asgc AS (
  SELECT id, cell,
         ROUND(CASE WHEN sqrt(list_inner_product(v, v)) = 0 THEN 0.0
                    ELSE mx / (sqrt(list_inner_product(v, v)) * ({c_norms})[cell + 1])
               END, 6) AS centroid_cos
  FROM asg
),
pairs AS (
  SELECT * FROM (
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND(list_inner_product(a.v, b.v)
                 / (sqrt(list_inner_product(a.v, a.v))
                    * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
    FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id)
  WHERE cos >= {threshold}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach(id, label) AS (
  SELECT id, id AS label FROM verts
  UNION
  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
ranked AS (
  SELECT c.id AS rid, c.cluster,
         row_number() OVER (PARTITION BY c.cluster
                            ORDER BY a.centroid_cos ASC, c.id ASC) AS rn
  FROM comp c JOIN asgc a ON a.id = c.id
)
SELECT a.id, a.cell, a.centroid_cos,
       COALESCE(r.cluster, a.id) AS cluster,
       COALESCE(r.rn = 1, TRUE) AS keep
FROM asgc a LEFT JOIN ranked r ON r.rid = a.id
"""


# ---------------------------------------------------------------------------
# Text analysis (lang-ID, quality, token counts, fingerprints).
# ---------------------------------------------------------------------------


def _media_image_features(spark, sf_dir):
    """M1 with REAL codecs (stdlib PNG/BMP/PPM decode — functions/
    codecs.py + the pure-numpy baseline JPEG in functions/jpeg.py) over
    deterministically synthesized real payloads; the corrupt JPEG-magic
    rows pin the NULL-feature behavior for undecodable payloads. Rows-only
    (binary decode is not SQL-expressible); exact feature values are
    pytest-pinned in tests/test_multimodal.py."""
    from ocr_spark.operators.multimodal import (
        extract_image_features,
        synthesize_real_media,
    )

    media = synthesize_real_media(spark, n=60)
    feats = extract_image_features(media, decode="real")
    return feats.select(
        "media_id",
        "n_bytes",
        F.round("mean_luma", 6).alias("mean_luma"),
        F.col("feature").isNotNull().alias("decoded"),
    )


def _t9_preprocess(spark, sf_dir):
    """T9/T10 pixel preprocessing with REAL numpy operators (grayscale,
    hist-EQ, thicken, unsharp, Otsu, projection-profile deskew) over
    synthesized real images. Rows-only; algorithmic properties (Otsu on
    bimodal, known-angle deskew recovery) are pytest-pinned."""
    from ocr_spark.operators.multimodal import (
        preprocess_images,
        synthesize_real_media,
    )

    media = synthesize_real_media(spark, n=60)
    out = preprocess_images(media)
    return out.select(
        "media_id",
        "otsu_threshold",
        F.round("deskew_angle", 3).alias("deskew_angle"),
        F.round("ink_ratio", 6).alias("ink_ratio"),
        F.col("processed").isNotNull().alias("decoded"),
    )


def _media_audio_features(spark, sf_dir):
    """M1 audio: REAL stdlib WAV decode — duration/RMS/zero-crossing rate;
    non-audio payloads yield NULL features. Rows-only + pytest."""
    from ocr_spark.operators.multimodal import (
        extract_audio_features,
        synthesize_real_media,
    )

    media = synthesize_real_media(spark, n=60)
    return extract_audio_features(media, decode="real").select(
        "media_id",
        "duration_ms",
        "sample_rate",
        F.round("rms", 6).alias("rms"),
        F.round("zero_crossing_rate", 6).alias("zero_crossing_rate"),
    )


def _lang_id_counts(spark, sf_dir):
    from ocr_spark.operators.textstats import with_lang_id

    docs = _t(spark, sf_dir, "documents")
    return with_lang_id(docs).groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("en_hits").alias("total_en_hits"),
        F.sum("id_hits").alias("total_id_hits"),
    )


def _stop_sql(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _textstats_lists():
    from ocr_spark.operators.textstats import EN_STOPWORDS, ID_STOPWORDS

    return EN_STOPWORDS, ID_STOPWORDS


def _langid_sql() -> str:
    en, id_ = _textstats_lists()
    return f"""
WITH hits AS (
  SELECT doc_id,
         len(list_filter(regexp_extract_all(lower(text), '{WORD_RE}'),
                         t -> list_contains({_stop_sql(en)}, t))) AS en_hits,
         len(list_filter(regexp_extract_all(lower(text), '{WORD_RE}'),
                         t -> list_contains({_stop_sql(id_)}, t))) AS id_hits
  FROM documents
)
SELECT CASE WHEN en_hits > id_hits THEN 'en'
            WHEN id_hits > en_hits THEN 'id'
            ELSE 'und' END AS lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(en_hits) AS BIGINT) AS total_en_hits,
       CAST(sum(id_hits) AS BIGINT) AS total_id_hits
FROM hits GROUP BY 1
"""


def _doc_quality(spark, sf_dir):
    from ocr_spark.operators.textstats import with_quality

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_quality(docs).select(
        "doc_id", "alpha_ratio", "punct_ratio", "stop_ratio", "quality_score"
    )


def _quality_sql() -> str:
    en, id_ = _textstats_lists()
    punct = "[^.,;:!?''\"()\\[\\]-]"
    return f"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '{punct}', '', 'g')) AS n_punct,
         len(regexp_extract_all(lower(text), '{WORD_RE}')) AS n_toks,
         len(list_filter(regexp_extract_all(lower(text), '{WORD_RE}'),
                         t -> list_contains({_stop_sql(en + id_)}, t))) AS n_stop
  FROM documents
),
ratios AS (
  SELECT doc_id,
         CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_toks > 0 THEN n_stop / n_toks ELSE 0.0 END AS stop_ratio,
         LEAST(n_chars / 200.0, 1.0) AS len_signal
  FROM feats
)
SELECT doc_id, ROUND(alpha_ratio, 4) AS alpha_ratio,
       ROUND(punct_ratio, 4) AS punct_ratio,
       ROUND(stop_ratio, 4) AS stop_ratio,
       CAST(FLOOR(100 * (0.4 * stop_ratio + 0.3 * alpha_ratio + 0.3 * len_signal)) AS INT)
         AS quality_score
FROM ratios
"""


def _token_counts(spark, sf_dir):
    from ocr_spark.operators.textstats import with_token_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_token_stats(docs).select(
        "doc_id", "n_tokens", "n_ws_tokens", "n_bpe_est"
    )


_TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{WORD_RE}')) AS INT) AS n_tokens,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_ws_tokens,
       CAST(CEIL(length(text) / 4.0) AS BIGINT) AS n_bpe_est
FROM documents
"""


def _bpe_token_counts(spark, sf_dir):
    """Exact BPE token counts via the vendored merges table. Rows-only:
    BPE's iterative merge application is not SQL-expressible — exact counts
    on fixed inputs plus engine-vs-local equality are pytest-pinned
    (tests/test_textstats.py); n_bpe ≤ n_chars+words sanity here."""
    from ocr_spark.operators.textstats import with_bpe_token_counts

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_bpe_token_counts(docs).select("doc_id", "n_bpe")


def _fingerprints(spark, sf_dir):
    from ocr_spark.operators.textstats import with_fingerprint

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_fingerprint(docs).select("doc_id", "fingerprint")


_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS fingerprint
FROM documents
"""


def _gopher_repetition(spark, sf_dir):
    """Gopher repetition quality rules (Rae et al. 2021): duplicate-line
    fraction/char-fraction, top-2-gram char coverage, duplicate-5-gram
    char coverage — all narrow array expressions (one sort + one fold per
    doc). Every ratio is a single IEEE division of exact integer counts,
    so the oracle matches bit-for-bit; tie-break for the top gram is
    (count desc, gram asc) on both engines."""
    from ocr_spark.operators.textstats import with_repetition_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_repetition_stats(docs).select(
        "doc_id",
        "dup_line_frac",
        "dup_line_char_frac",
        "top2gram_char_frac",
        "dup5gram_char_frac",
    )


_GOPHER_REPETITION_SQL = f"""
WITH base AS (
  SELECT doc_id, length(text) AS nc,
         regexp_extract_all(lower(text), '{WORD_RE}') AS t,
         string_split(text, chr(10)) AS lines
  FROM documents
),
linestats AS (
  SELECT doc_id,
         CASE WHEN len(lines) > 0
              THEN ROUND(1 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines), 6)
         END AS dup_line_frac,
         COALESCE(list_sum(list_transform(lines, x -> length(x))), 0) AS lc,
         COALESCE(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0) AS dlc
  FROM base
),
g2 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                                       i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM base WHERE len(t) >= 2
),
top2 AS (
  SELECT doc_id, count(*) AS cnt, g
  FROM g2 GROUP BY doc_id, g
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) = 1
),
g5 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 4),
                                       i -> array_to_string(t[i:i+4], ' '))) AS g
  FROM base WHERE len(t) >= 5
),
dup5 AS (
  SELECT doc_id, SUM((cnt - 1) * length(g)) AS dupc
  FROM (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT b.doc_id,
       l.dup_line_frac,
       CASE WHEN l.lc > 0 THEN ROUND(CAST(l.lc - l.dlc AS DOUBLE) / l.lc, 6) END
         AS dup_line_char_frac,
       CASE WHEN t2.cnt IS NOT NULL AND b.nc > 0
            THEN ROUND(CAST(t2.cnt * length(t2.g) AS DOUBLE) / b.nc, 6)
       END AS top2gram_char_frac,
       CASE WHEN d5.doc_id IS NOT NULL AND b.nc > 0
            THEN ROUND(CAST(d5.dupc AS DOUBLE) / b.nc, 6)
       END AS dup5gram_char_frac
FROM base b
JOIN linestats l USING (doc_id)
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN dup5 d5 USING (doc_id)
"""


def _unigram_nll(spark, sf_dir):
    """CCNet-style perplexity quality filter reduced to its unigram core:
    train counts with one aggregate over the corpus, score each doc's
    mean negative log-likelihood under add-1 smoothing. avg_nll rounds to
    4 dp — ln is the repo's only cross-engine transcendental, and the
    coarse rounding absorbs summation-order ulp noise (everything else is
    integer-exact)."""
    from ocr_spark.operators.textstats import with_unigram_nll

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_unigram_nll(docs).select(
        F.col("id").alias("doc_id"), "n_scored_tokens", "avg_nll"
    )


_UNIGRAM_NLL_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
tot AS (SELECT sum(cnt) AS n, count(*) AS v FROM counts)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_scored_tokens,
       ROUND(-avg(ln((c.cnt + 1.0) / (tot.n + 1.0 * tot.v))), 4) AS avg_nll
FROM toks t JOIN counts c USING (token) CROSS JOIN tot
GROUP BY t.doc_id
"""


def _bigram_nll(spark, sf_dir):
    """Interpolated bigram-LM perplexity filter (the CCNet/KenLM filter
    one order above unigram_nll): p(cur|prev) = 0.75·p_bigram +
    0.25·p_unigram, add-1 smoothed, self-scored. The interpolation is a
    fixed-order IEEE expression written identically in the oracle; the
    4-dp round absorbs only the shuffle-order avg around the one ln."""
    from ocr_spark.operators.textstats import with_bigram_nll

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_bigram_nll(docs).select(
        F.col("id").alias("doc_id"), "n_scored_bigrams", "avg_nll"
    )


_BIGRAM_NLL_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS ts
  FROM documents
),
uni AS (SELECT unnest(ts) AS token FROM toks),
ucnt AS (SELECT token, count(*) AS c FROM uni GROUP BY token),
tot AS (SELECT sum(c) AS n, count(*) AS v FROM ucnt),
bg AS (
  SELECT doc_id, unnest(ts[1:len(ts)-1]) AS prev, unnest(ts[2:len(ts)]) AS cur
  FROM toks WHERE len(ts) >= 2
),
bcnt AS (SELECT prev, cur, count(*) AS cb FROM bg GROUP BY prev, cur),
ccnt AS (SELECT prev, sum(cb) AS cc FROM bcnt GROUP BY prev)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_scored_bigrams,
       ROUND(-avg(ln(
         0.75 * ((bcnt.cb + 1.0) / (ccnt.cc + 1.0 * tot.v))
         + 0.25 * ((ucnt.c + 1.0) / (tot.n + 1.0 * tot.v))
       )), 4) AS avg_nll
FROM bg
JOIN bcnt USING (prev, cur)
JOIN ccnt USING (prev)
JOIN ucnt ON ucnt.token = bg.cur
CROSS JOIN tot
GROUP BY bg.doc_id
"""


def _tfidf_topk_terms(spark, sf_dir):
    """Per-document top-5 characteristic terms by tf·idf (smooth idf,
    the scikit-learn formula), ranked on the 4-dp-rounded score with
    (score desc, term asc) ties — deterministic on both engines."""
    from ocr_spark.operators.retrieval import tfidf_topk_terms

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_topk_terms(docs, k=5).select(
        F.col("id").alias("doc_id"), "term", "tf", "score", "rank"
    )


_TFIDF_SQL = f"""
WITH ex AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS term
  FROM documents
),
tfc AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, score, rank FROM (
  SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf,
         ROUND(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 4) AS score,
         CAST(row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY ROUND(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 4)
                    DESC, t.term
         ) AS INTEGER) AS rank
  FROM tfc t JOIN dfreq d USING (term) CROSS JOIN n
) WHERE rank <= 5
"""


def _edit_near_dup(spark, sf_dir):
    """Character edit-distance near-dup pairs (Levenshtein <= 5) via
    PassJoin pigeonhole segment candidates + exact banded-DP verify —
    candidates are provably complete, so the brute-force DuckDB oracle
    (|Δlen| <= 5 necessary-condition prefilter) matches exactly; dist is
    an exact integer, no floats anywhere."""
    from ocr_spark.operators.editdist import edit_distance_near_dup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return edit_distance_near_dup(docs, max_dist=5)


_EDIT_NEAR_DUP_SQL = """
WITH d AS (
  SELECT doc_id, text, length(text) AS l FROM documents WHERE text IS NOT NULL
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
FROM d a JOIN d b
  ON b.l BETWEEN a.l - 5 AND a.l + 5 AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= 5
"""


def _winnow_fingerprints(spark, sf_dir):
    from ocr_spark.operators.textstats import with_winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_winnow_fingerprints(docs).select("doc_id", "winnow")


#: winnowing (MOSS) fingerprint sets re-derived in DuckDB: same k=8 grams,
#: w=4 window minima, same md5-prefix 32-bit hash (hex-cast trick); list
#: slicing is 1-based inclusive so hs[j:j+3] is the 4-hash window
_WINNOW_SQL = """
WITH n AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
  FROM documents
),
h AS (
  SELECT doc_id,
         CASE WHEN length(t) >= 8 THEN
           list_transform(generate_series(1, length(t) - 7),
             i -> ('0x' || substring(md5(substring(t, i, 8)), 1, 8))::BIGINT)
         ELSE [] END AS hs
  FROM n
)
SELECT doc_id,
       CASE WHEN len(hs) >= 4 THEN
         list_sort(list_distinct(list_transform(
           generate_series(1, len(hs) - 3),
           j -> list_min(hs[j:j+3]))))
       ELSE [] END AS winnow
FROM h
"""


#: hot-fingerprint cap for the winnow gate query — same universe-cap
#: semantics as _JACCARD_CAP (fps over the doc-frequency cap leave the
#: universe on BOTH engines, so equality holds at any SF); inert at
#: sf≤0.01 (≤500 docs), active at sf0.1+ where boilerplate fingerprints
#: go hot
_WINNOW_CAP = 1000


def cap_counters(spark: SparkSession, sf_dir: str) -> dict:
    """Hot-key drop counts of the near-dup caps over the tier's documents:
    shingles over the Jaccard doc-frequency cap, over-cap MinHash LSH
    buckets, and winnow fingerprints over the winnow cap. A silent cap
    reads as "covered everything" when it did not; these counts make the
    recall loss observable per tier (0 until the corpus has hot keys)."""
    from ocr_spark.functions.explode import explode_nonnull
    from ocr_spark.operators.dedup import (
        band_buckets,
        minhash_signatures,
        shingle_ids_from_tokens,
    )
    from ocr_spark.operators.textstats import (
        WINNOW_K,
        WINNOW_W,
        tokens,
        with_winnow_fingerprints,
    )

    def over(df: DataFrame, keys: list[str], cap: int) -> int:
        return df.groupBy(*keys).count().filter(F.col("count") > cap).count()

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    shingles = explode_nonnull(
        docs.select(tokens("text").alias("_toks")),
        shingle_ids_from_tokens(F.col("_toks"), 3),
        "s",
    )
    buckets = minhash_signatures(docs, n_hashes=16, k=3).select(
        F.posexplode(band_buckets("signature", 4)).alias("band", "bucket")
    )
    fingerprints = explode_nonnull(
        with_winnow_fingerprints(
            docs.select("doc_id", "text"), "text", WINNOW_K, WINNOW_W
        ),
        "winnow", "fp",
    )
    return {
        "max_doc_freq": _JACCARD_CAP,
        "max_bucket_size": _JACCARD_CAP,
        "max_winnow_freq": _WINNOW_CAP,
        "jaccard_dropped_shingles": over(shingles, ["s"], _JACCARD_CAP),
        "minhash_hot_buckets": over(buckets, ["band", "bucket"], _JACCARD_CAP),
        "winnow_hot_fingerprints": over(fingerprints, ["fp"], _WINNOW_CAP),
    }


def _winnow_near_dup(spark, sf_dir):
    from ocr_spark.operators.dedup import winnow_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_near_duplicates(docs, threshold=0.1, max_doc_freq=_WINNOW_CAP)


def _winnow_containment(spark, sf_dir):
    """Asymmetric partial-dup pairs: |∩|/min(|a|,|b|) over the capped
    winnow universe — a small doc embedded in a big one scores ~1 here
    while Jaccard dilutes it by the size gap (Broder containment)."""
    from ocr_spark.operators.dedup import winnow_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_near_duplicates(
        docs, threshold=0.5, max_doc_freq=_WINNOW_CAP, metric="containment"
    )


_WINNOW_NEAR_DUP_SQL = f"""
WITH w AS ({_WINNOW_SQL}),
ex0 AS (SELECT doc_id, unnest(winnow) AS s FROM w),
ex AS (SELECT * FROM ex0
       WHERE s IN (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= {_WINNOW_CAP})),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(count(*) AS DOUBLE) / (sa.n + sb.n - count(*)), 6) AS jaccard
FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
JOIN sizes sa ON sa.doc_id = a.doc_id
JOIN sizes sb ON sb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
HAVING ROUND(CAST(count(*) AS DOUBLE) / (sa.n + sb.n - count(*)), 6) >= 0.1
"""


_WINNOW_CONTAINMENT_SQL = f"""
WITH w AS ({_WINNOW_SQL}),
ex0 AS (SELECT doc_id, unnest(winnow) AS s FROM w),
ex AS (SELECT * FROM ex0
       WHERE s IN (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= {_WINNOW_CAP})),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(count(*) AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
JOIN sizes sa ON sa.doc_id = a.doc_id
JOIN sizes sb ON sb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
HAVING ROUND(CAST(count(*) AS DOUBLE) / LEAST(sa.n, sb.n), 6) >= 0.5
"""


#: ExactSubstr gate length: 50 chars (Lee et al. 2022 use 50 BPE tokens —
#: chars keep the operator tokenizer-free); at sf0.01, 47 of 500 docs carry
#: duplicated ≥50-char substrings, so the gate exercises real span work
_SUBSTR_L = 50


def _substr_dup_stats(spark, sf_dir):
    """ExactSubstr span-level dedup (Lee et al., ACL'22): per-doc count /
    chars / fraction of corpus-duplicated ≥50-char spans plus the md5 of
    the span-stripped text — the hash pins the strip (interval merge +
    re-concatenation) byte-for-byte against the oracle's independent
    gaps-and-islands SQL formulation."""
    from ocr_spark.operators.dedup import strip_duplicate_substrings

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = strip_duplicate_substrings(docs, min_len=_SUBSTR_L)
    return out.select(
        "doc_id",
        F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
        F.col("dup_chars").cast("long").alias("dup_chars"),
        "dup_char_frac",
        F.md5("kept_text").alias("kept_md5"),
    ).orderBy("doc_id")


#: duplicated-position detection re-derived in DuckDB (same 60-bit
#: md5-prefix gram keys), then the classic gaps-and-islands interval merge
#: (lag + running sum) — a deliberately DIFFERENT span-merge formulation
#: than the engine's narrow array fold, so agreement checks the semantics,
#: not a shared implementation
_SUBSTR_DUP_SQL = f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, length(text) - {_SUBSTR_L - 1}),
           i -> {{'pos': i,
                  'h': ('0x' || substring(md5(substring(text, i, {_SUBSTR_L})), 1, 15))::BIGINT}})) AS ph
  FROM documents WHERE length(text) >= {_SUBSTR_L}
),
gg AS (SELECT doc_id, ph.pos AS pos, ph.h AS h FROM g),
dup AS (SELECT h FROM gg GROUP BY h HAVING count(*) >= 2),
cov AS (SELECT doc_id, pos FROM gg WHERE h IN (SELECT h FROM dup)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {_SUBSTR_L} THEN 0 ELSE 1 END AS brk
  FROM cov
),
isl2 AS (SELECT doc_id, pos,
                sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         FROM isl),
spans AS (SELECT doc_id, min(pos) AS s, max(pos) + {_SUBSTR_L} AS e
          FROM isl2 GROUP BY doc_id, grp),
segs AS (
  SELECT doc_id, s, e,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS f
  FROM spans
),
perdoc AS (
  SELECT d.doc_id,
         CAST(count(*) AS BIGINT) AS n_dup_spans,
         CAST(sum(sg.e - sg.s) AS BIGINT) AS dup_chars,
         string_agg(substring(d.text, sg.f, sg.s - sg.f), '' ORDER BY sg.s)
           || substring(d.text, max(sg.e),
                        greatest(length(d.text) - max(sg.e) + 1, 0)) AS kept
  FROM documents d JOIN segs sg ON sg.doc_id = d.doc_id
  GROUP BY d.doc_id, d.text
)
SELECT d.doc_id,
       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(p.dup_chars, 0) AS BIGINT) AS dup_chars,
       CASE WHEN length(d.text) > 0
            THEN ROUND(coalesce(p.dup_chars, 0) / length(d.text), 4)
            ELSE NULL END AS dup_char_frac,
       md5(coalesce(p.kept, d.text)) AS kept_md5
FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
ORDER BY d.doc_id
"""


#: deterministic PII seeding for the redaction gate: the synthetic corpus
#: contains no emails/IPs/numbers, so the query plants one of each per row
#: (derived from doc_id, identically in Spark and DuckDB) — the oracle then
#: checks the full redaction chain does real work on every row, not just
#: the identity path.
def _pii_seeded_spark(docs):
    m = lambda k: (F.col("doc_id") % k).cast("string")  # noqa: E731
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail-"),
            m(7),
            F.lit(".example.com via 10."),
            m(200),
            F.lit(".0."),
            m(250),
            F.lit(" tel 0812-"),
            (F.col("doc_id") % 1000000 + 1000000).cast("string"),
        ).alias("text"),
    )


_PII_SEED_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail-' || CAST(doc_id % 7 AS VARCHAR)"
    " || '.example.com via 10.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.0.' || CAST(doc_id % 250 AS VARCHAR)"
    " || ' tel 0812-' || CAST(doc_id % 1000000 + 1000000 AS VARCHAR)"
)


def _pii_redaction(spark, sf_dir):
    from ocr_spark.operators.redaction import with_pii_redacted

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_pii_redacted(_pii_seeded_spark(docs)).select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_longnum",
        F.md5("redacted").alias("red_hash"),
    )


def _pii_sql() -> str:
    from ocr_spark.operators.redaction import pii_rules_sql

    redacted, (n_email, n_ipv4, n_longnum) = pii_rules_sql("text")
    return f"""
WITH seeded AS (SELECT doc_id, {_PII_SEED_SQL} AS text FROM documents)
SELECT doc_id,
       CAST({n_email} AS INT) AS n_email,
       CAST({n_ipv4} AS INT) AS n_ipv4,
       CAST({n_longnum} AS INT) AS n_longnum,
       md5({redacted}) AS red_hash
FROM seeded
"""


_N_SHARDS = 8


def _training_shards(spark, sf_dir):
    from ocr_spark.operators.sharding import shard_histogram

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return shard_histogram(docs, _N_SHARDS)


_SHARDS_SQL = f"""
WITH s AS (
  SELECT doc_id, n_chars,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % {_N_SHARDS} AS INT) AS shard
  FROM documents
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM s GROUP BY shard ORDER BY shard
"""


def _pack_summary(spark, sf_dir):
    """Sequence-packing layout (GPT-style concat-and-cut sample packing):
    per (shard, pack) document counts and starting-token totals. Exact
    integer arithmetic (md5 shard + windowed running offset + integer
    div), so the layout is a pure function of (ids, token counts) —
    engines and cluster sizes agree bit-for-bit."""
    from ocr_spark.operators.sharding import pack_summary

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_summary(docs, max_tokens=512, n_shards=8)


_PACK_SUMMARY_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 8 AS INT) AS shard,
         CAST(len(regexp_extract_all(lower(text), '{WORD_RE}')) AS BIGINT)
           AS n_tok
  FROM documents
),
o AS (
  SELECT doc_id, shard, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM t
)
SELECT shard,
       CAST(off // 512 AS INT) AS pack,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_id
FROM o GROUP BY shard, off // 512
"""


_MIX_WEIGHTS = {"src0": 4000, "src1": 3000, "src2": 2000, "src3": 1000}
_MIX_BUDGET = 20_000


def _quality_classify(spark, sf_dir):
    """Model-based quality filter: the shipped logistic-regression logit
    (hashed-TF features, weights trained in-repo by tools/train_quality.py)
    and its keep decision per document — no transcendental anywhere (the
    boundary is logit >= 0), so the oracle reproduces the score exactly."""
    from ocr_spark.operators.curation import classify_quality

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return classify_quality(docs)


def _quality_classify_sql() -> str:
    from ocr_spark.operators.curation import load_quality_weights

    m = load_quality_weights()
    dim = int(m["dim"])
    w = "[" + ", ".join(repr(float(x)) for x in m["weights"]) + "]::DOUBLE[]"
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS t
  FROM documents
),
bc AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT % {dim} AS bkt,
         CAST(count(*) AS DOUBLE) AS c
  FROM toks GROUP BY doc_id, bkt
),
grid AS (
  SELECT d.doc_id, gs.i FROM (SELECT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(generate_series(0, {dim - 1})) AS i) gs
),
cnt AS (
  SELECT g.doc_id, g.i, COALESCE(bc.c, 0.0) AS c
  FROM grid g LEFT JOIN bc ON bc.doc_id = g.doc_id AND bc.bkt = g.i
),
arr AS (SELECT doc_id, list(c ORDER BY i) AS cnts FROM cnt GROUP BY doc_id),
emb AS (
  SELECT doc_id,
         CASE WHEN n = 0 THEN cnts
              ELSE list_transform(cnts, x -> x / n) END AS e
  FROM (SELECT doc_id, cnts,
               sqrt(list_sum(list_transform(cnts, x -> x * x))) AS n
        FROM arr)
),
sc AS (
  SELECT doc_id,
         ROUND(list_inner_product(e, {w}) + {float(m["bias"])!r}, 6) AS logit
  FROM emb
)
SELECT doc_id AS id, logit, logit >= 0 AS keep FROM sc
"""


def _bpe_train_merges(spark, sf_dir):
    """Distributed BPE tokenizer training over the documents table as a
    Spark job (one pair-count aggregate + one narrow merge rewrite per
    iteration over the word-type vocabulary) — the corpus-scale path for
    building functions/bpe's merges table; tools/train_bpe.py's
    driver-side text collection stops being possible at lake scale.
    Rows-only by design (iterative, per-iteration argmax data-dependent —
    the kmeans_cells class); pytest pins bit-equality against the
    sequential reference. At sf0.01 the first 30 rows equal the first 30
    lines of the SHIPPED ocr_spark/data/bpe_merges.txt, which
    tools/train_bpe.py trained on the same corpus."""
    from ocr_spark.operators.tokenizer import train_bpe_distributed

    docs = _t(spark, sf_dir, "documents").select("text")
    merges = train_bpe_distributed(docs, n_merges=30)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    ).orderBy("rank")


def _kmeans_cells(spark, sf_dir):
    """Distributed spherical k-means (Lloyd) trained over the FULL
    embeddings table as a Spark job — the scale path for building the
    V5/V7 coarse quantizer (tools/train_ivf.py's driver-side sample
    stops being representative at 10⁹ vectors). Fixed-point accumulation
    makes the centroids independent of partitioning/AQE; pytest pins
    bit-equality against a sequential reference and across repartitions.
    Rows-only by design (iterative algorithm — per-iteration centroids
    are data-dependent, not SQL-expressible); returns the per-cell size
    and the 6-dp trained centroid."""
    from ocr_spark.operators.similarity import (
        assign_with_centroid_cos,
        kmeans_fit_distributed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit_distributed(emb, 8, iters=4)
    sizes = (
        assign_with_centroid_cos(emb, cents)
        .filter(F.col("cell").isNotNull())
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("size"))
    )
    cent_df = spark.createDataFrame(
        [(i, [round(x, 6) for x in c]) for i, c in enumerate(cents)],
        "cell: int, centroid: array<double>",
    )
    return sizes.join(cent_df, "cell").orderBy("cell")


def _dsir_importance(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, hashed-unigram core):
    score every document by how much more likely its hashed token stream
    is under the src0 target slice than under the full corpus — the
    domain-targeting selection a pretraining mix runs to upweight
    wiki-like text. Exact: md5 buckets, integer counts, one ln per
    distinct bucket pair, 4-dp rounding."""
    from ocr_spark.operators.curation import with_dsir_weight

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    target = docs.filter(F.col("source") == "src0")
    return with_dsir_weight(docs, target).select(
        F.col("id").alias("doc_id"), "n_tokens", "log_weight"
    )


#: DSIR oracle: same md5 bucket recipe (hashing.md5_mod contract), add-α
#: smoothing over the FIXED 2¹⁶-bucket domain on both estimators, summed
#: per-occurrence log ratio + the constant totals term folded per token
_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(regexp_extract_all(lower(text), '{WORD_RE}'))), 1, 8))::BIGINT
           % 65536 AS bucket
  FROM documents
),
tgt AS (
  SELECT bucket, count(*) AS ct FROM toks
  WHERE doc_id IN (SELECT doc_id FROM documents WHERE source = 'src0')
  GROUP BY bucket
),
raw AS (SELECT bucket, count(*) AS cr FROM toks GROUP BY bucket),
tot AS (SELECT (SELECT sum(ct) FROM tgt) AS nt, (SELECT sum(cr) FROM raw) AS nr)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       ROUND(sum(ln(COALESCE(g.ct, 0) + 1.0) - ln(COALESCE(r.cr, 0) + 1.0)
                 + ln((tot.nr + 65536.0) / (tot.nt + 65536.0))), 4) AS log_weight
FROM toks t
LEFT JOIN tgt g USING (bucket)
LEFT JOIN raw r USING (bucket)
CROSS JOIN tot
GROUP BY t.doc_id
"""


def _cap_per_source(spark, sf_dir):
    """Per-source cap: keep the 10 best-quality docs per source
    (quality_score desc, doc_id asc tie-break) — the source-balancing
    window every web corpus runs so one domain cannot dominate."""
    from ocr_spark.operators.curation import cap_per_source
    from ocr_spark.operators.textstats import with_quality

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    scored = with_quality(docs).select("doc_id", "source", "quality_score")
    return cap_per_source(scored, 10, rank_col="quality_score")


def _cap_per_source_sql() -> str:
    return f"""
WITH q AS ({_quality_sql()}),
scored AS (
  SELECT d.doc_id, d.source, q.quality_score
  FROM documents d JOIN q USING (doc_id)
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY source ORDER BY quality_score DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT doc_id, source, quality_score FROM ranked WHERE rn <= 10
"""


#: BM25 gate config: common terms + one rare term ('dup', df≈25 at
#: sf0.01) so the idf spread actually reorders documents
_BM25_TERMS = ["spark", "window", "merge", "dup"]
_BM25_K = 15
_BM25_QUERY_TABLE = [
    (1, ["spark", "window", "merge", "dup"]),
    (2, ["scan", "data", "vector"]),
    (3, ["dup", "line"]),
]


def _bm25_topk(spark, sf_dir):
    """Okapi BM25 keyword top-k (single ad-hoc query, narrow shape): the
    lexical complement to the vector ANN family."""
    from ocr_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, _BM25_TERMS, k=_BM25_K)


def _bm25_join(spark, sf_dir):
    """Per-query BM25 top-k over a literal query table (posting-list
    shape) — ranks carried so the oracle pins the full ordering."""
    from ocr_spark.operators.retrieval import bm25_join

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qdf = spark.createDataFrame(
        _BM25_QUERY_TABLE, "query_id long, terms array<string>"
    )
    return bm25_join(docs, qdf, k=10)


def _bm25_consts() -> tuple[str, str, str, str]:
    """The exact double literals the Spark expressions fold at plan-build
    time (k1+1.0 and 1.0-b evaluate in Python), rendered with repr so the
    oracle's arithmetic is bit-identical up to DuckDB's ln."""
    from ocr_spark.operators.retrieval import BM25_B, BM25_K1

    return (
        repr(BM25_K1 + 1.0),
        repr(BM25_K1),
        repr(1.0 - BM25_B),
        repr(BM25_B),
    )


def _bm25_topk_sql() -> str:
    k1p1, k1, omb, b = _bm25_consts()
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    contribs = "\n         + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {k1p1}) / (tf{i} + {k1} * ({omb} + {b} * dl / avgdl))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH t AS (SELECT doc_id,
                  regexp_extract_all(lower(text), '{WORD_RE}') AS toks
           FROM documents),
d AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_cols}
  FROM t
),
s AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             {df_cols}
      FROM d),
scored AS (
  SELECT doc_id AS id, ROUND({contribs}, 4) AS score
  FROM d, s
)
SELECT id, score FROM scored WHERE score > 0
ORDER BY score DESC, id LIMIT {_BM25_K}
"""


def _bm25_join_sql() -> str:
    k1p1, k1, omb, b = _bm25_consts()
    qvals = ", ".join(
        f"({qid}, '{t}')"
        for qid, terms in _BM25_QUERY_TABLE
        for t in terms
    )
    return f"""
WITH qterms(qid, term) AS (VALUES {qvals}),
t AS (SELECT doc_id,
             regexp_extract_all(lower(text), '{WORD_RE}') AS toks
      FROM documents),
s AS (SELECT count(*) AS n,
             CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
      FROM t),
posting AS (
  SELECT doc_id, len(toks) AS dl, term, count(*) AS tf
  FROM (SELECT doc_id, toks, unnest(toks) AS term FROM t)
  WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY doc_id, len(toks), term
),
dfreq AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
scored AS (
  SELECT q.qid, p.doc_id,
         ROUND(sum(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * {k1p1})
               / (p.tf + {k1} * ({omb} + {b} * p.dl / s.avgdl))), 4) AS score
  FROM posting p
  JOIN qterms q USING (term) JOIN dfreq f USING (term) CROSS JOIN s
  GROUP BY q.qid, p.doc_id
),
ranked AS (
  SELECT CAST(qid AS BIGINT) AS query_id, doc_id AS id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


#: line_strip gate config. The synthetic gate corpus is single-line text
#: (no '\n'), so the gate splits on a literal token delimiter to produce
#: genuinely repeating cross-document segments (43 segments exceed the
#: cap at sf0.01) — the algorithm under test is identical; real
#: multi-line transcripts use the '\n' default (pytest fixtures cover it)
_LINE_STRIP_DELIM = " the "
_LINE_STRIP_CAP = 2


def _line_strip(spark, sf_dir):
    """CCNet/C4-style corpus-level boilerplate-line strip: remove every
    segment whose verbatim form appears in more than ``_LINE_STRIP_CAP``
    distinct documents, reassemble survivors in order."""
    from ocr_spark.operators.curation import line_strip

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return line_strip(
        docs, max_doc_freq=_LINE_STRIP_CAP, delimiter=_LINE_STRIP_DELIM
    )


def _line_strip_sql() -> str:
    # the delimiter is interpolated into SQL string literals below —
    # escape single quotes so a future delimiter change cannot inject
    # syntax (the Spark side re.escape's it; this is the SQL analogue)
    d = _LINE_STRIP_DELIM.replace("'", "''")
    return f"""
WITH s AS (SELECT doc_id, string_split(text, '{d}') AS ls FROM documents),
l AS (SELECT doc_id, unnest(ls) AS line, unnest(range(len(ls))) AS pos
      FROM s),
f AS (
  SELECT line FROM (
    SELECT line, count(*) AS df
    FROM (SELECT DISTINCT line, doc_id FROM l WHERE line <> '')
    GROUP BY line
  ) WHERE df > {_LINE_STRIP_CAP}
),
k AS (SELECT l.doc_id, l.pos, l.line
      FROM l LEFT JOIN f USING (line) WHERE f.line IS NULL),
r AS (SELECT doc_id, string_agg(line, '{d}' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM k GROUP BY doc_id),
n AS (SELECT doc_id, coalesce(len(ls), 0) AS n_lines FROM s)
SELECT n.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(n.n_lines AS INT) AS n_lines,
       CAST(n.n_lines - coalesce(r.n_kept, 0) AS INT) AS n_removed
FROM n LEFT JOIN r USING (doc_id)
"""


_PARA_DEDUP_DELIM = " the "


def _paragraph_dedup(spark, sf_dir):
    """RefinedWeb/Dolma-style corpus-GLOBAL keep-first-occurrence
    paragraph dedup: every distinct non-empty segment survives exactly
    once, at its smallest (doc_id, pos); later occurrences are removed
    and survivors reassembled in order. Complements the gated line_strip
    (corpus-frequency STRIP) with the first-winner rule."""
    from ocr_spark.operators.curation import paragraph_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return paragraph_dedup(docs, delimiter=_PARA_DEDUP_DELIM)


def _paragraph_dedup_sql() -> str:
    # same quote-escape contract as _line_strip_sql (the Spark side
    # re.escape's the literal; this is the SQL analogue)
    d = _PARA_DEDUP_DELIM.replace("'", "''")
    return f"""
WITH s AS (SELECT doc_id, string_split(text, '{d}') AS ps FROM documents),
p AS (SELECT doc_id, unnest(ps) AS para, unnest(range(len(ps))) AS pos
      FROM s),
w AS (
  SELECT doc_id, pos, para,
         row_number() OVER (
           PARTITION BY ('0x' || substr(md5(para), 1, 15))::BIGINT
           ORDER BY doc_id, pos
         ) AS rn
  FROM p WHERE para <> ''
),
k AS (SELECT doc_id, pos, para FROM w WHERE rn = 1
      UNION ALL
      SELECT doc_id, pos, para FROM p WHERE para = ''),
r AS (SELECT doc_id, string_agg(para, '{d}' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM k GROUP BY doc_id),
n AS (SELECT doc_id, coalesce(len(ps), 0) AS n_paras FROM s)
SELECT n.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(n.n_paras AS INT) AS n_paras,
       CAST(n.n_paras - coalesce(r.n_kept, 0) AS INT) AS n_removed
FROM n LEFT JOIN r USING (doc_id)
"""


_CHUNK_SIZE = 16
_CHUNK_STRIDE = 12


def _chunk_documents(spark, sf_dir):
    """Sliding-window token chunking (RAG/pretraining example prep):
    chunk k = tokens[k·stride, k·stride + chunk_size), emitted while
    k·stride < n_tokens — one narrow projection, zero shuffles."""
    from ocr_spark.operators.sharding import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(
        docs, chunk_size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )


_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS ts
  FROM documents
),
st AS (
  SELECT doc_id, ts, unnest(range(0, len(ts), {_CHUNK_STRIDE})) AS s
  FROM toks WHERE len(ts) > 0
)
SELECT doc_id,
       CAST(s // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
       array_to_string(ts[s + 1 : s + {_CHUNK_SIZE}], ' ') AS chunk_text,
       CAST(len(ts[s + 1 : s + {_CHUNK_SIZE}]) AS INT) AS n_chunk_tokens
FROM st
"""


def _source_kl(spark, sf_dir):
    """Per-source KL divergence from the corpus unigram distribution —
    the outlier-domain diagnostic behind mixture re-weighting. No
    smoothing needed (source vocab ⊆ corpus vocab ⇒ KL finite, ≥ 0)."""
    from ocr_spark.operators.textstats import source_kl_divergence

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return source_kl_divergence(docs)


_SOURCE_KL_SQL = f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS token
  FROM documents
),
st AS (SELECT source, token, count(*) AS cst FROM toks GROUP BY source, token),
stot AS (SELECT source, sum(cst) AS ns, count(*) AS types
         FROM st GROUP BY source),
corp AS (SELECT token, sum(cst) AS ct FROM st GROUP BY token),
tot AS (SELECT sum(ct) AS n FROM corp)
SELECT st.source,
       CAST(max(stot.ns) AS BIGINT) AS n_tokens,
       CAST(max(stot.types) AS BIGINT) AS n_types,
       ROUND(sum((CAST(st.cst AS DOUBLE) / CAST(stot.ns AS DOUBLE))
             * ln((CAST(st.cst AS DOUBLE) / CAST(stot.ns AS DOUBLE))
                  / (CAST(corp.ct AS DOUBLE) / CAST(tot.n AS DOUBLE)))), 4)
         AS kl_divergence
FROM st
JOIN corp USING (token)
JOIN stot USING (source)
CROSS JOIN tot
GROUP BY st.source
"""


_PMI_MIN_COUNT = 5
_PMI_K = 20


def _pmi_collocations(spark, sf_dir):
    """Top-k bigram collocations by 4-dp-rounded PMI (Church & Hanks
    1990) with a min_count floor — corpus phrase mining over the same
    adjacent-pair stream as the gated bigram_nll. The score expression is
    a fixed-order IEEE formula written identically in the oracle; rank
    ties break (pmi desc, prev asc, cur asc), a total order."""
    from ocr_spark.operators.textstats import pmi_collocations

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pmi_collocations(docs, min_count=_PMI_MIN_COUNT, k=_PMI_K)


_PMI_SQL = f"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '{WORD_RE}') AS ts FROM documents
),
uni AS (SELECT unnest(ts) AS token FROM toks),
ucnt AS (SELECT token, count(*) AS c FROM uni GROUP BY token),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM ucnt),
bg AS (
  SELECT unnest(ts[1:len(ts)-1]) AS prev, unnest(ts[2:len(ts)]) AS cur
  FROM toks WHERE len(ts) >= 2
),
bcnt AS (SELECT prev, cur, count(*) AS cb FROM bg GROUP BY prev, cur
         HAVING count(*) >= {_PMI_MIN_COUNT})
SELECT b.prev, b.cur, CAST(b.cb AS BIGINT) AS cnt,
       ROUND(ln((CAST(b.cb AS DOUBLE) * tot.n)
                / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 4) AS pmi
FROM bcnt b
JOIN ucnt ua ON ua.token = b.prev
JOIN ucnt ub ON ub.token = b.cur
CROSS JOIN tot
ORDER BY pmi DESC, b.prev ASC, b.cur ASC
LIMIT {_PMI_K}
"""


def _rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranking (per-query) with a query-independent document-quality prior
    (global top-10 by quality_score — the TakeOrderedAndProject shape,
    never a full-corpus window). The fused score is a fixed-order IEEE
    expression, bit-equal across engines with no rounding."""
    from pyspark.sql import Window

    from ocr_spark.operators.retrieval import bm25_join, rrf_fuse
    from ocr_spark.operators.textstats import with_quality

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qdf = spark.createDataFrame(
        _BM25_QUERY_TABLE, "query_id long, terms array<string>"
    )
    lex = bm25_join(docs, qdf, k=10)
    top = (
        with_quality(docs)
        .select("doc_id", "quality_score")
        .orderBy(F.col("quality_score").desc(), F.col("doc_id"))
        .limit(10)
    )
    # the window runs AFTER the limit — 10 rows, one task, not a
    # global-sort window over the corpus
    w = Window.orderBy(F.col("quality_score").desc(), F.col("doc_id"))
    prior = top.withColumn("rank", F.row_number().over(w)).select(
        F.col("doc_id").alias("id"), "rank"
    )
    prior_per_q = qdf.select("query_id").crossJoin(prior)
    return rrf_fuse([lex, prior_per_q], k=10)


def _rrf_fusion_sql() -> str:
    qids = ", ".join(f"({qid})" for qid, _ in _BM25_QUERY_TABLE)
    return f"""
WITH bm AS ({_bm25_join_sql()}),
q AS ({_quality_sql()}),
prior AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY quality_score DESC, doc_id ASC) AS r
  FROM q QUALIFY r <= 10
),
qids(query_id) AS (VALUES {qids}),
pq AS (SELECT CAST(query_id AS BIGINT) AS query_id, id, r
       FROM qids CROSS JOIN prior),
u AS (
  SELECT query_id, id, 0 AS src, rank AS r FROM bm
  UNION ALL
  SELECT query_id, id, 1 AS src, r FROM pq
),
pv AS (
  SELECT query_id, id,
         min(CASE WHEN src = 0 THEN r END) AS r0,
         min(CASE WHEN src = 1 THEN r END) AS r1
  FROM u GROUP BY query_id, id
),
scored AS (
  SELECT query_id, id,
         coalesce(1.0 / (60.0 + r0), 0.0)
           + coalesce(1.0 / (60.0 + r1), 0.0) AS score
  FROM pv
),
ranked AS (
  SELECT query_id, id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, id ASC) AS rank
  FROM scored
)
SELECT query_id, id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def _mixture_summary(spark, sf_dir):
    """Token-weighted corpus mixing: thresholds derived from a 20k-token
    budget split 40/30/20/10 across sources, plus the achieved kept
    docs/tokens — all exact integer math on both engines."""
    from ocr_spark.operators.curation import mixture_summary

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return mixture_summary(docs, _MIX_WEIGHTS, _MIX_BUDGET)


def _mix_weights_case() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN {w}" for s, w in _MIX_WEIGHTS.items()
    )
    return f"CASE source {arms} ELSE 0 END"


_MIXTURE_SUMMARY_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(lower(text), '{WORD_RE}')) AS BIGINT)
           AS n_tok
  FROM documents
),
tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS total_docs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens
  FROM t GROUP BY source
),
thr AS (
  SELECT source, total_docs, total_tokens,
         CAST(CASE WHEN total_tokens <= 0 THEN 0
              ELSE least(10000,
                         ({_MIX_BUDGET} * {_mix_weights_case()})
                           // total_tokens)
         END AS INT) AS thr_bps
  FROM tot
),
kept AS (
  SELECT source, CAST(count(*) AS BIGINT) AS kept_docs,
         CAST(sum(n_tok) AS BIGINT) AS kept_tokens
  FROM t JOIN thr USING (source)
  WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 10000 < thr_bps
  GROUP BY source
)
SELECT thr.source, total_docs, total_tokens, thr_bps,
       CAST(COALESCE(kept_docs, 0) AS BIGINT) AS kept_docs,
       CAST(COALESCE(kept_tokens, 0) AS BIGINT) AS kept_tokens
FROM thr LEFT JOIN kept USING (source)
"""


def _bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination (same benchmark split as
    `decontaminate`): the benchmark compiles into a 2^16-bit / 5-hash
    bitset literal and the keep filter is a NARROW projection — no join
    node at all. Deterministic positions (md5_mod of shingle-id:j), so
    the oracle reproduces the bitset test exactly; false positives can
    only shrink the keep set, never admit a contaminated doc."""
    from ocr_spark.operators.dedup import bloom_decontaminate

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") < 20)
    training = docs.filter(F.col("doc_id") >= 20)
    return bloom_decontaminate(training, benchmark, max_overlap=0)


def _bloom_pos_sql(s_expr: str, j: int) -> str:
    return (
        f"('0x' || substring(md5(CAST({s_expr} AS VARCHAR) || ':{j}'), 1, 8))"
        f"::BIGINT % 65536"
    )


_BLOOM_DECONTAMINATE_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
bench AS (SELECT DISTINCT ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS s
          FROM sh WHERE doc_id < 20),
pos AS (SELECT DISTINCT unnest([{", ".join(_bloom_pos_sql("s", j) for j in range(5))}]) AS p
        FROM bench),
train AS (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS s
          FROM sh WHERE doc_id >= 20),
tp AS (SELECT doc_id, s, unnest([{", ".join(_bloom_pos_sql("s", j) for j in range(5))}]) AS p
       FROM train),
hitsh AS (
  SELECT doc_id, s FROM tp JOIN pos USING (p)
  GROUP BY doc_id, s HAVING count(*) = 5
),
hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM hitsh GROUP BY doc_id)
SELECT d.doc_id AS id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_overlap
FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE COALESCE(h.n, 0) <= 0
"""


def _source_stats(spark, sf_dir):
    from ocr_spark.operators.textstats import source_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return source_stats(docs)


def _source_stats_sql() -> str:
    return f"""
WITH q AS ({_quality_sql()}),
f AS ({_FINGERPRINT_SQL}),
j AS (SELECT d.source, q.quality_score, f.fingerprint
      FROM documents d
      JOIN q ON d.doc_id = q.doc_id
      JOIN f ON d.doc_id = f.doc_id)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fingerprint) AS BIGINT) AS n_unique,
       ROUND(1 - count(DISTINCT fingerprint) / CAST(count(*) AS DOUBLE), 4)
         AS dup_rate,
       ROUND(avg(quality_score), 4) AS avg_quality,
       CAST(min(quality_score) AS INT) AS min_quality,
       CAST(max(quality_score) AS INT) AS max_quality
FROM j GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Generic relational breadth: TPC-H-style aggregate + broadcast joins.
# ---------------------------------------------------------------------------


def _q1_pricing(spark, sf_dir):
    """TPC-H Q1-style pricing summary. The sums run in exact DECIMAL(15,2),
    the TPC-H column types: a double sum rounded to cents depends on the
    summation order, and so on the core count, when it lands near a half
    cent."""
    li = _t(spark, sf_dir, "lineitem")
    qty, price, disc = (
        F.col(c).cast("decimal(15,2)")
        for c in ("l_quantity", "l_extendedprice", "l_discount")
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.sum(price).alias("sum_base_price"),
            F.round(F.sum(price * (1 - disc)), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q1_SQL = """
WITH li AS (
  SELECT l_returnflag, l_linestatus, l_discount,
         CAST(l_quantity AS DECIMAL(15,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(15,2)) AS price,
         CAST(l_discount AS DECIMAL(15,2)) AS disc
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       sum(qty) AS sum_qty,
       sum(price) AS sum_base_price,
       ROUND(sum(price * (1 - disc)), 2) AS sum_disc_price,
       ROUND(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM li GROUP BY l_returnflag, l_linestatus
"""


def _q3_nation_revenue(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_Q3_SQL = """
SELECT n_name, ROUND(sum(o_totalprice), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def _q5_region_volume(spark, sf_dir):
    """TPC-H Q5-style multi-join chain: fact table joined through three
    broadcast dimensions with a pushed-down region filter — exercises join
    reordering + broadcast planning on the deepest join tree here."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    ).select("r_regionkey")
    return (
        orders.join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_Q5_SQL = """
SELECT n_name, ROUND(sum(o_totalprice), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def _w1_top_orders_per_customer(spark, sf_dir):
    """Window-function family: top-3 orders per customer by totalprice
    (row_number over a partitioned ordered window, deterministic orderkey
    tie-break). One shuffle on the partition key; the rank filter prunes
    before the final projection."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 3)
    )


_W1_SQL = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS totalprice,
       CAST(rank AS INT) AS rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
WHERE rank <= 3
"""


def _q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: aggregate-then-semi-join — orders whose lineitem
    quantity sum exceeds a threshold, joined back for the order columns.
    The heavy side aggregates BEFORE the join (map-side partial), so the
    join input is pre-shrunk — the shape that matters at fact-table scale."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return orders.join(
        big, orders["o_orderkey"] == big["l_orderkey"]
    ).select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        "sum_qty",
    )


_Q18_SQL = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice, sum_qty
FROM orders
JOIN (
  SELECT l_orderkey, ROUND(sum(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING ROUND(sum(l_quantity), 2) > 150
) ON o_orderkey = l_orderkey
"""


def _t8_assembled_docs(spark, sf_dir):
    """T8 with the reference's page headers (ocr_service.py:594-609): each
    user's events reassembled into one document under stable (ts, event_id)
    ordering, '--- Halaman {i} ---' header per unit, blank-line joined —
    the full assembly path as an exact oracle (not just the journey
    string)."""
    from ocr_spark.operators.extraction import assemble_conversations

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("conv_id"),
        # per-user ordinal as the turn index: events carry no turn_idx
        F.col("event_id").alias("turn_idx"),
        F.col("event_type").alias("normalized_text"),
        "ts",
    )
    out = assemble_conversations(ev)
    return out.select(
        F.col("conv_id").alias("user_id"),
        F.length("document").alias("doc_len"),
        F.md5("document").alias("doc_hash"),
        "n_turns",
    )


_T8_ASSEMBLED_SQL = """
SELECT user_id, CAST(length(doc) AS INT) AS doc_len, md5(doc) AS doc_hash,
       n_turns
FROM (
  SELECT user_id,
         string_agg('--- Halaman ' || CAST(event_id + 1 AS VARCHAR) || ' ---'
                      || chr(10) || event_type,
                    chr(10) || chr(10) ORDER BY event_id) AS doc,
         CAST(count(*) AS BIGINT) AS n_turns
  FROM events
  WHERE event_type IS NOT NULL AND length(trim(event_type)) > 0
  GROUP BY user_id
)
"""


# ---------------------------------------------------------------------------
# Contract surface.
# ---------------------------------------------------------------------------


# --- round-5 session-3 families: C4 rule gate, encoding repair, Flesch,
# --- lexical diversity, deterministic splits -------------------------------

#: c4_filters gate config, tuned so every rule actually fires on the tier
#: corpus (no newlines/punctuation in the synthetic documents, so the
#: segment delimiter is the line_strip/paragraph_dedup convention and the
#: terminal-punct rule — exercised by pytest fixtures with real
#: punctuation — is toggled off here).
_C4_DELIM = " the "
_C4_MIN_WORDS = 8
_C4_LINE_BLOCK = ("slow",)
_C4_DOC_BLOCK = ("vector",)


def _c4_filters(spark, sf_dir):
    """C4 heuristic rule gate (Raffel et al. 2020 §2.2): rule-based
    line filtering (min words, blocklist term) + document-level keep
    flag — the rule-based complement to the gated corpus-frequency
    line_strip and first-winner paragraph_dedup."""
    from ocr_spark.operators.curation import c4_rule_filters

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return c4_rule_filters(
        docs,
        delimiter=_C4_DELIM,
        min_words=_C4_MIN_WORDS,
        require_terminal_punct=False,
        min_sentences=0,
        line_blocklist=_C4_LINE_BLOCK,
        doc_blocklist=_C4_DOC_BLOCK,
    )


_C4_FILTERS_SQL = f"""
WITH ls AS (
  SELECT doc_id, text,
         CASE WHEN text IS NULL THEN NULL
              ELSE string_split(text, '{_C4_DELIM}') END AS segs
  FROM documents
),
marks AS (
  SELECT doc_id, text, segs,
         list_filter(segs, l ->
             len(regexp_extract_all(l, '\\S+')) >= {_C4_MIN_WORDS}
             AND NOT contains(lower(l), '{_C4_LINE_BLOCK[0]}')) AS kept
  FROM ls
)
SELECT doc_id,
  coalesce(array_to_string(kept, '{_C4_DELIM}'), '') AS clean_text,
  CAST(coalesce(len(segs), 0) AS INT) AS n_lines,
  CAST(coalesce(len(kept), 0) AS INT) AS n_kept,
  CAST(coalesce(len(list_filter(segs,
      l -> len(regexp_extract_all(l, '\\S+')) < {_C4_MIN_WORDS})), 0)
    AS INT) AS drop_short,
  CAST(0 AS INT) AS drop_nopunct,
  CAST(coalesce(len(list_filter(segs,
      l -> contains(lower(l), '{_C4_LINE_BLOCK[0]}'))), 0)
    AS INT) AS drop_term,
  CAST(coalesce(len(regexp_extract_all(
      coalesce(array_to_string(kept, '{_C4_DELIM}'), ''), '[.!?]+')), 0)
    AS INT) AS n_sentences,
  CASE WHEN text IS NULL THEN FALSE
       ELSE NOT contains(lower(text), '{_C4_DOC_BLOCK[0]}') END AS keep_doc
FROM marks
"""


def _mojibake_repair(spark, sf_dir):
    """ftfy-style encoding repair: cp1252-mojibake undo + one HTML
    entity decode level, with per-family occurrence counters. The tier
    corpus is clean ASCII (counters 0, clean_text == text — itself an
    exact-equality check of the 49-step fold); the rule-firing paths are
    pytest-pinned on planted artifacts."""
    from ocr_spark.operators.curation import mojibake_repair

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return mojibake_repair(docs)


def _mojibake_sql() -> str:
    from ocr_spark.operators.curation import (
        ENTITY_REPAIRS,
        MOJIBAKE_REPAIRS,
    )

    def esc(s: str) -> str:
        return s.replace("'", "''")

    expr = "text"
    for bad, good in MOJIBAKE_REPAIRS + ENTITY_REPAIRS:
        expr = f"replace({expr}, '{esc(bad)}', '{esc(good)}')"

    def cnt(pairs) -> str:
        return " + ".join(
            f"((length(text) - length(replace(text, '{esc(b)}', '')))"
            f" // {len(b)})"
            for b, _ in pairs
        )

    return f"""
SELECT doc_id AS id,
       coalesce({expr}, '') AS clean_text,
       CAST(coalesce({cnt(MOJIBAKE_REPAIRS)}, 0) AS BIGINT) AS n_encoding,
       CAST(coalesce({cnt(ENTITY_REPAIRS)}, 0) AS BIGINT) AS n_entities
FROM documents
"""


def _flesch_readability(spark, sf_dir):
    """Flesch reading-ease per document (vowel-group syllable heuristic,
    floored sentence count) — one fixed-order IEEE expression over exact
    integer counts, bit-identical cross-engine with no rounding."""
    from ocr_spark.operators.textstats import with_flesch

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_flesch(docs).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch"
    )


_FLESCH_SQL = """
WITH w AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS ws
  FROM documents
),
c AS (
  SELECT doc_id,
         len(ws) AS n_words,
         greatest(1, len(regexp_extract_all(coalesce(text, ''), '[.!?]+')))
           AS n_sentences,
         coalesce(list_sum(list_transform(ws,
             x -> greatest(1, len(regexp_extract_all(x, '[aeiouy]+'))))), 0)
           AS n_syllables
  FROM w
)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       CAST(n_sentences AS INT) AS n_sentences,
       CAST(n_syllables AS INT) AS n_syllables,
       CASE WHEN n_words > 0 THEN
         206.835
         - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       END AS flesch
FROM c
"""


def _lexical_diversity(spark, sf_dir):
    """Per-source type-token ratio / hapax ratio / Zipf OLS slope over
    the unigram distribution — the lexical-health diagnostic beside the
    gated source_kl_divergence (4-dp ln contract on the slope)."""
    from ocr_spark.operators.textstats import lexical_diversity

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return lexical_diversity(docs)


_LEXDIV_SQL = f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS token
  FROM documents
),
st AS (SELECT source, token, count(*) AS c FROM toks GROUP BY source, token),
r AS (
  SELECT source, c,
         ln(CAST(row_number() OVER (PARTITION BY source
             ORDER BY c DESC, token ASC) AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y
  FROM st
),
a AS (
  SELECT source, sum(c) AS nt, count(*) AS ty,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hx,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM r GROUP BY source
)
SELECT source,
       CAST(nt AS BIGINT) AS n_tokens,
       CAST(ty AS BIGINT) AS n_types,
       ROUND(CAST(ty AS DOUBLE) / CAST(nt AS DOUBLE), 4) AS ttr,
       ROUND(CAST(hx AS DOUBLE) / CAST(ty AS DOUBLE), 4) AS hapax_ratio,
       ROUND(CASE WHEN CAST(ty AS DOUBLE) * sxx - sx * sx = 0 THEN 0.0
             ELSE (CAST(ty AS DOUBLE) * sxy - sx * sy)
                  / (CAST(ty AS DOUBLE) * sxx - sx * sx) END, 4)
         AS zipf_slope
FROM a
"""


def _split_summary(spark, sf_dir):
    """Deterministic train/val/test hash-split accounting: md5-bucket
    assignment (coordination-free, partitioning-independent) + per-split
    doc/token totals and realized fractions."""
    from ocr_spark.operators.sharding import split_summary

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return split_summary(docs)


_SPLIT_SUMMARY_SQL = f"""
WITH a AS (
  SELECT CASE
           WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 10000 < 9000 THEN 'train'
           WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 10000 < 9500 THEN 'val'
           ELSE 'test'
         END AS split,
         len(regexp_extract_all(lower(text), '{WORD_RE}')) AS nt
  FROM documents
),
p AS (
  SELECT split, count(*) AS n_docs, sum(coalesce(nt, 0)) AS n_tokens
  FROM a GROUP BY split
),
t AS (SELECT sum(n_docs) AS total FROM p)
SELECT split,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE), 4) AS frac_docs
FROM p CROSS JOIN t
"""


def _char_entropy(spark, sf_dir):
    """Shannon character entropy per document — the binary-junk /
    base64-blob detector; fixed-iteration-order fold over the sorted
    charset, 4-dp ln contract, '0.0 − sum' form so a single-character
    document cannot emit −0.0."""
    from ocr_spark.operators.textstats import with_char_entropy

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_char_entropy(docs).select(
        "doc_id", "n_chars", "n_charset", "char_entropy"
    )


_CHAR_ENTROPY_SQL = """
WITH cs AS (
  SELECT doc_id,
         CASE WHEN text IS NOT NULL AND length(text) > 0
              THEN string_split(text, '') END AS ce
  FROM documents
),
alpha AS (SELECT doc_id, ce, list_sort(list_distinct(ce)) AS al FROM cs)
SELECT doc_id,
  CAST(coalesce(len(ce), 0) AS INT) AS n_chars,
  CAST(coalesce(len(al), 0) AS INT) AS n_charset,
  coalesce(ROUND(0.0 - list_sum(list_transform(al, c ->
      (CAST(len(list_filter(ce, x -> x = c)) AS DOUBLE)
         / CAST(len(ce) AS DOUBLE))
      * ln(CAST(len(list_filter(ce, x -> x = c)) AS DOUBLE)
           / CAST(len(ce) AS DOUBLE)))), 4), 0.0) AS char_entropy
FROM alpha
"""


_HEAPS_POINTS = 25


def _heaps_growth(spark, sf_dir):
    """Heaps-law vocabulary-growth curve: cumulative tokens vs cumulative
    first-occurrence types at equal-width doc-id checkpoints — the
    window input is pre-aggregated to <= n_points rows, so the ordered
    cumulative window is bounded by the checkpoint count."""
    from ocr_spark.operators.textstats import heaps_growth

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return heaps_growth(docs, n_points=_HEAPS_POINTS)


_HEAPS_SQL = f"""
WITH b AS (
  SELECT min(doc_id) AS lo,
         (max(doc_id) - min(doc_id) + {_HEAPS_POINTS}) // {_HEAPS_POINTS} AS w
  FROM documents
),
toks AS (
  SELECT doc_id AS id,
         unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS token
  FROM documents
),
tb AS (SELECT (id - b.lo) // b.w AS bucket, token, id FROM toks CROSS JOIN b),
pbt AS (SELECT bucket, count(*) AS toks FROM tb GROUP BY bucket),
fo AS (SELECT token, min(id) AS first_id FROM tb GROUP BY token),
nt AS (
  SELECT (first_id - b.lo) // b.w AS bucket, count(*) AS newt
  FROM fo CROSS JOIN b GROUP BY 1
),
per AS (
  SELECT p.bucket, p.toks, coalesce(n.newt, 0) AS newt
  FROM pbt p LEFT JOIN nt n USING (bucket)
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(b.lo + (bucket + 1) * b.w - 1 AS BIGINT) AS id_hi,
       CAST(sum(toks) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
       CAST(sum(newt) OVER (ORDER BY bucket) AS BIGINT) AS cum_types
FROM per CROSS JOIN b
"""


def _cross_source_dup(spark, sf_dir):
    """Source-pair duplication matrix over the gate's exact-Jaccard pair
    stream — which sources copy from which, the provenance view behind
    per-source caps/drops. Rides the already-oracled pair semantics."""
    from ocr_spark.operators.dedup import (
        cross_source_dup_matrix,
        jaccard_near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_near_duplicates(
        docs, threshold=0.1, k=3, max_doc_freq=_JACCARD_CAP
    )
    return cross_source_dup_matrix(pairs, docs)


def _cross_source_dup_sql() -> str:
    return f"""
WITH pairs AS ({_JACCARD_SQL}),
lab AS (
  SELECT least(da.source, db.source) AS src_a,
         greatest(da.source, db.source) AS src_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.id_a
  JOIN documents db ON db.doc_id = p.id_b
)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# Behavioral event analytics (SURVEY §2.8 X40-X42): funnel, cohort
# retention, per-user anomaly z-scores — the one-shuffle-on-user-key OLAP
# shapes one step past the reference's A1-A9 history queries.
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]


def _event_funnel(spark, sf_dir):
    """Strictly-ordered view→click→purchase funnel via cascading
    cumulative-window mins (ONE exchange + sort carries all steps)."""
    from ocr_spark.operators.behavior import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, _FUNNEL_STEPS)


def _event_funnel_sql() -> str:
    s1, s2, s3 = _FUNNEL_STEPS
    return f"""
WITH w1 AS (
  SELECT user_id, ts, event_type, event_id,
         min(CASE WHEN event_type = '{s1}' THEN ts END) OVER cw AS t0
  FROM events
  WINDOW cw AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING)
),
w2 AS (
  SELECT *, min(CASE WHEN event_type = '{s2}' AND t0 < ts THEN ts END)
              OVER cw AS t1
  FROM w1
  WINDOW cw AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING)
),
w3 AS (
  SELECT *, min(CASE WHEN event_type = '{s3}' AND t1 < ts THEN ts END)
              OVER cw AS t2
  FROM w2
  WINDOW cw AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING)
),
pu AS (
  SELECT user_id, bool_or(t0 IS NOT NULL) AS r0,
         bool_or(t1 IS NOT NULL) AS r1, bool_or(t2 IS NOT NULL) AS r2
  FROM w3 GROUP BY user_id
),
c AS (
  SELECT CAST(sum(CASE WHEN r0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM pu
)
SELECT 1 AS step_index, '{s1}' AS step, n0 AS n_users,
       ROUND(CASE WHEN n0 > 0 THEN n0 / n0 ELSE 0.0 END, 4) AS conv_overall,
       ROUND(CASE WHEN n0 > 0 THEN n0 / n0 ELSE 0.0 END, 4) AS conv_from_prev
FROM c
UNION ALL
SELECT 2, '{s2}', n1,
       ROUND(CASE WHEN n0 > 0 THEN n1 / n0 ELSE 0.0 END, 4),
       ROUND(CASE WHEN n0 > 0 THEN n1 / n0 ELSE 0.0 END, 4)
FROM c
UNION ALL
SELECT 3, '{s3}', n2,
       ROUND(CASE WHEN n0 > 0 THEN n2 / n0 ELSE 0.0 END, 4),
       ROUND(CASE WHEN n1 > 0 THEN n2 / n1 ELSE 0.0 END, 4)
FROM c
ORDER BY step_index
"""


def _cohort_retention(spark, sf_dir):
    """Weekly cohort-retention triangle; integer period arithmetic so both
    engines agree exactly."""
    from ocr_spark.operators.behavior import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, period_days=7)


_COHORT_SQL = """
WITH base AS (
  SELECT user_id AS u,
         CAST(floor(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    / 7.0) AS BIGINT) AS p
  FROM events
),
firsts AS (SELECT u, min(p) AS cohort_p FROM base GROUP BY u),
activity AS (SELECT DISTINCT u, p FROM base),
joined AS (
  SELECT a.u, f.cohort_p, CAST(a.p - f.cohort_p AS INT) AS period_offset
  FROM activity a JOIN firsts f USING (u)
),
sizes AS (SELECT cohort_p, CAST(count(*) AS BIGINT) AS cohort_size
          FROM firsts GROUP BY cohort_p),
grid AS (SELECT cohort_p, period_offset, CAST(count(*) AS BIGINT) AS n_active
         FROM joined GROUP BY cohort_p, period_offset)
SELECT DATE '1970-01-01' + CAST(g.cohort_p * 7 AS INT) AS cohort_start,
       g.period_offset, g.n_active, s.cohort_size,
       ROUND(g.n_active / CAST(s.cohort_size AS DOUBLE), 4) AS retention
FROM grid g JOIN sizes s USING (cohort_p)
ORDER BY cohort_start, period_offset
"""


def _daily_anomalies(spark, sf_dir):
    """Per-user daily-volume anomaly days, |z| > 2 with the integer-sums
    z-score (one IEEE sqrt is the only inexact op — exact oracle)."""
    from ocr_spark.operators.behavior import daily_anomalies

    ev = _t(spark, sf_dir, "events")
    return daily_anomalies(ev, z_threshold=2.0)


_ANOMALY_SQL = """
WITH daily AS (
  SELECT user_id AS u, CAST(ts AS DATE) AS date,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT *, CAST(count(*) OVER uw AS BIGINT) AS _n,
         CAST(sum(n_events) OVER uw AS BIGINT) AS _s,
         CAST(sum(n_events * n_events) OVER uw AS BIGINT) AS _q
  FROM daily
  WINDOW uw AS (PARTITION BY u)
)
SELECT u AS user_id, date, n_events,
       ROUND((_n * n_events - _s)
             / sqrt(CAST(_n * _q - _s * _s AS DOUBLE)), 4) AS z
FROM m
WHERE _n >= 3 AND (_n * _q - _s * _s) > 0
  AND abs((_n * n_events - _s)
          / sqrt(CAST(_n * _q - _s * _s AS DOUBLE))) > 2.0
ORDER BY user_id, date
"""


# ---------------------------------------------------------------------------
# Corpus-mix tooling (SURVEY §2.8 X43-X44): temperature resampling and
# per-source length quantiles.
# ---------------------------------------------------------------------------


def _temperature_resample(spark, sf_dir):
    """alpha=0.5 (T=2) source flattening at target_frac=0.5 — deterministic
    hash-Bernoulli thinning; keep_prob derives from fixed-point integer
    weights so the oracle reproduces it bit-for-bit."""
    from ocr_spark.operators.sharding import temperature_resample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_resample(docs, alpha=0.5, target_frac=0.5)


_TEMP_RESAMPLE_SQL = """
WITH s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY source
),
w AS (
  SELECT source, n_s,
         CAST(floor(sqrt(CAST(n_s AS DOUBLE)) * 1048576) AS BIGINT) AS w_s
  FROM s
),
t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
             CAST(sum(w_s) AS BIGINT) AS w_total FROM w),
r AS (
  SELECT source,
         LEAST(1.0, (0.5 * n_total * w_s) / (w_total * CAST(n_s AS DOUBLE)))
           AS keep_prob
  FROM w CROSS JOIN t
)
SELECT d.doc_id, d.source, ROUND(r.keep_prob, 6) AS keep_prob
FROM documents d JOIN r USING (source)
WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        % 4294967296
      < CAST(floor(r.keep_prob * 4294967296.0) AS BIGINT)
"""


def _incremental_near_dup(spark, sf_dir):
    """Daily-crawl ingestion dedup: the batch (doc_id % 10 == 9, ~10% of
    the corpus at any tier) exact-Jaccard-matched against the remaining
    corpus — batch × corpus only, never corpus × corpus."""
    from ocr_spark.operators.dedup import incremental_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 9)
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    return incremental_near_duplicates(
        new, corpus, threshold=0.1, k=3, max_doc_freq=_JACCARD_CAP
    )


_INCREMENTAL_SQL = f"""
WITH sized AS ({_SHINGLES_SQL}),
ex0 AS (SELECT doc_id,
               ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS s
        FROM sized),
exn0 AS (SELECT doc_id AS id_new, s FROM ex0 WHERE doc_id % 10 = 9),
exc0 AS (SELECT doc_id AS id_corpus, s FROM ex0 WHERE doc_id % 10 <> 9),
hot AS (SELECT s FROM exc0 GROUP BY s HAVING count(*) > {_JACCARD_CAP}),
exn AS (SELECT * FROM exn0 WHERE s NOT IN (SELECT s FROM hot)),
exc AS (SELECT * FROM exc0 WHERE s NOT IN (SELECT s FROM hot)),
sn AS (SELECT id_new, CAST(count(*) AS BIGINT) AS n FROM exn GROUP BY id_new),
sc AS (SELECT id_corpus, CAST(count(*) AS BIGINT) AS n
       FROM exc GROUP BY id_corpus)
SELECT a.id_new, b.id_corpus,
       ROUND(CAST(count(*) AS DOUBLE) / (sn.n + sc.n - count(*)), 6) AS jaccard
FROM exn a JOIN exc b ON a.s = b.s
JOIN sn ON sn.id_new = a.id_new
JOIN sc ON sc.id_corpus = b.id_corpus
GROUP BY a.id_new, b.id_corpus, sn.n, sc.n
HAVING ROUND(CAST(count(*) AS DOUBLE) / (sn.n + sc.n - count(*)), 6) >= 0.1
"""


def _leakage_safe_split(spark, sf_dir):
    """Near-dup-cluster-keyed train/val/test split: every member of a
    jaccard cluster shares the split of its canonical cluster id."""
    from ocr_spark.operators.dedup import jaccard_near_duplicates
    from ocr_spark.operators.sharding import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_near_duplicates(
        docs, threshold=0.1, k=3, max_doc_freq=_JACCARD_CAP
    )
    return leakage_safe_split(pairs, docs)


_LEAKAGE_SPLIT_SQL = f"""
WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach(id, label) AS (
  SELECT id, id AS label FROM verts
  UNION
  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
resolved AS (
  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
),
b AS (
  SELECT doc_id, cluster,
         ('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 8))::BIGINT
           % 10000 AS bucket
  FROM resolved
)
SELECT doc_id, cluster,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            WHEN bucket < 10000 THEN 'test' END AS split
FROM b
"""


def _ivf_recall(spark, sf_dir):
    """Recall@5 of IVF nprobe=2 probing vs the exact kNN answer, per
    query — the index-tuning eval harness, over the knn_join gate's
    query/corpus split and the shipped centroids."""
    from ocr_spark.operators.similarity import ivf_recall, load_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_recall(
        emb.filter(F.col("vec_id") >= 5),
        emb.filter(F.col("vec_id") < 5),
        load_ivf_centroids(),
        k=5,
        nprobe=2,
    )


def _ivf_recall_sql(k: int = 5, nprobe: int = 2) -> str:
    from ocr_spark.operators.similarity import load_ivf_centroids

    cents = load_ivf_centroids()

    def scores(vexpr: str) -> str:
        return "[" + ", ".join(
            "list_inner_product({v}, [{c}])".format(
                v=vexpr, c=", ".join(repr(x) for x in cent)
            )
            for cent in cents
        ) + "]"

    cos = (
        "ROUND(CASE WHEN sqrt(list_inner_product({v}, {v}))"
        " * sqrt(list_inner_product({q}, {q})) = 0 THEN 0.0"
        " ELSE list_inner_product({v}, {q})"
        " / (sqrt(list_inner_product({v}, {v}))"
        " * sqrt(list_inner_product({q}, {q}))) END, 6)"
    )
    return f"""
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL),
c AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id >= 5 AND embedding IS NOT NULL),
exact AS (
  SELECT query_id, id FROM (
    SELECT q.query_id, c.id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {cos.format(v='v', q='qv')} DESC, c.id ASC) AS rn
    FROM c CROSS JOIN q) WHERE rn <= {k}
),
probe AS (
  SELECT query_id, cell FROM (
    SELECT query_id, CAST(i - 1 AS INTEGER) AS cell,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s DESC, i ASC) AS rn
    FROM (SELECT query_id, unnest({scores('qv')}) AS s,
                 generate_subscripts({scores('qv')}, 1) AS i
          FROM q)) WHERE rn <= {nprobe}
),
assigned AS (
  SELECT id, v,
         CAST(list_indexof(sc, list_aggregate(sc, 'max')) - 1 AS INTEGER)
           AS cell
  FROM (SELECT id, v, {scores('v')} AS sc FROM c)
),
approx AS (
  SELECT query_id, id FROM (
    SELECT p.query_id, a.id,
           row_number() OVER (PARTITION BY p.query_id
             ORDER BY {cos.format(v='a.v', q='q.qv')} DESC, a.id ASC) AS rn
    FROM assigned a JOIN probe p USING (cell)
    JOIN q ON q.query_id = p.query_id
  ) WHERE rn <= {k}
),
hits AS (
  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM exact e JOIN approx a ON a.query_id = e.query_id AND a.id = e.id
  GROUP BY e.query_id
)
SELECT q.query_id, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       ROUND(COALESCE(h.n_hit, 0) / {float(k)!r}, 4) AS recall_at_k
FROM q LEFT JOIN hits h USING (query_id) ORDER BY query_id
"""


def _collapse_repeats(spark, sf_dir):
    """Within-doc consecutive-repeat collapse at the word level (the
    toy-tier docs carry no newlines — same delimiter convention as the
    line_strip gate): stuttered tokens collapse to their first
    occurrence, order preserved, zero shuffles."""
    from ocr_spark.operators.curation import collapse_repeats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return collapse_repeats(docs, delimiter=" ")


_COLLAPSE_REPEATS_SQL = """
WITH p AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN CAST([] AS VARCHAR[])
              ELSE string_split(text, ' ') END AS parts
  FROM documents
),
k AS (
  SELECT doc_id, parts,
         list_filter(parts, (x, i) -> i = 1 OR x <> parts[i - 1]) AS kept
  FROM p
)
SELECT doc_id,
       array_to_string(kept, ' ') AS clean_text,
       CAST(len(parts) AS INT) AS n_parts,
       CAST(len(parts) - len(kept) AS INT) AS n_collapsed
FROM k
"""


def _length_quantiles(spark, sf_dir):
    """Exact per-source length quantiles (linear interpolation — the
    quantile_cont definition both engines implement)."""
    from ocr_spark.operators.textstats import length_quantiles

    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    return length_quantiles(docs)


_LENGTH_QUANTILES_SQL = """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(n_chars, 0.25), 4) AS p25,
       ROUND(quantile_cont(n_chars, 0.50), 4) AS p50,
       ROUND(quantile_cont(n_chars, 0.75), 4) AS p75,
       ROUND(quantile_cont(n_chars, 0.95), 4) AS p95
FROM documents GROUP BY source ORDER BY source
"""


# --- round-5 session-5 families: dialogue-structure audit (X49),
# --- n-gram contamination coverage (X50), CMS heavy hitters (X51) ---------


def _transcript_view(spark, sf_dir):
    """Deterministic transcript-shaped view over events — the north rule's
    exact input contract (conv_id, turn_idx, role, text, tool, ts),
    synthesized with pure modular arithmetic on event_id so the DuckDB
    oracle rebuilds the identical table (no randomness, no floats). The
    role mix deliberately contains structural violations (repeats, orphan
    tool turns, conversations opening mid-dialogue) so every audit counter
    is exercised at every SF."""
    ev = _t(spark, sf_dir, "events")
    role = (
        F.when(F.col("event_id") % 11 < 4, F.lit("user"))
        .when(F.col("event_id") % 11 < 8, F.lit("assistant"))
        .when(F.col("event_id") % 11 < 10, F.lit("tool"))
        .otherwise(F.lit("system"))
    )
    return ev.select(
        F.col("user_id").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        role.alias("role"),
        F.when(F.col("event_id") % 13 == 0, F.lit("")).otherwise(
            F.col("event_type")
        ).alias("text"),
        F.when(
            (role == "assistant") & (F.col("event_id") % 3 == 0),
            F.concat(F.lit("tool_"), (F.col("event_id") % 5).cast("string")),
        ).alias("tool"),
        "ts",
    )


#: the transcript synthesis above, verbatim in DuckDB — shared CTE body
_TRANSCRIPT_CTE = """
  SELECT user_id AS conv_id, event_id AS turn_idx,
         CASE WHEN event_id % 11 < 4 THEN 'user'
              WHEN event_id % 11 < 8 THEN 'assistant'
              WHEN event_id % 11 < 10 THEN 'tool'
              ELSE 'system' END AS role,
         CASE WHEN event_id % 13 = 0 THEN '' ELSE event_type END AS text,
         CASE WHEN event_id % 11 >= 4 AND event_id % 11 < 8
                   AND event_id % 3 = 0
              THEN 'tool_' || CAST(event_id % 5 AS VARCHAR) END AS tool,
         ts
  FROM events
"""


def _dialogue_audit(spark, sf_dir):
    """Per-conversation dialogue-structure audit (X49) over the synthetic
    transcript view: one window + one reuse-partitioned agg, exact integer
    counters, boolean verdict."""
    from ocr_spark.operators.dialogue import dialogue_audit

    return dialogue_audit(_transcript_view(spark, sf_dir))


_DIALOGUE_AUDIT_SQL = f"""
WITH t AS ({_TRANSCRIPT_CTE}),
x AS (
  SELECT conv_id, turn_idx, role, text, tool,
         lag(role) OVER w AS prev_role,
         lag(tool) OVER w AS prev_tool
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_user,
       CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_assistant,
       CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tool,
       CAST(sum(CASE WHEN role = 'assistant' AND tool IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
       CAST(sum(CASE WHEN prev_role IS NOT NULL AND prev_role = role
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_role_repeats,
       CAST(sum(CASE WHEN role = 'tool' AND NOT (
                       prev_role IS NOT NULL AND prev_role = 'assistant'
                       AND prev_tool IS NOT NULL)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_tool,
       CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_empty,
       min_by(role, turn_idx) = 'user' AS starts_with_user,
       (min_by(role, turn_idx) = 'user'
        AND sum(CASE WHEN prev_role IS NOT NULL AND prev_role = role
                     THEN 1 ELSE 0 END) = 0
        AND sum(CASE WHEN role = 'tool' AND NOT (
                       prev_role IS NOT NULL AND prev_role = 'assistant'
                       AND prev_tool IS NOT NULL)
                     THEN 1 ELSE 0 END) = 0) AS valid
FROM x GROUP BY conv_id ORDER BY conv_id
"""


def _ngram_coverage(spark, sf_dir):
    """Graded contamination overlap (X50): per eval doc (the decontaminate
    convention's doc_id < 20 benchmark slice), the fraction of its distinct
    word 5-grams present anywhere in the training corpus (doc_id >= 20) —
    the GPT-3/PaLM per-example overlap statistic. Corpus grams never
    shuffle: broadcast semi-join against the eval gram set, then a distinct
    bounded by |eval grams|."""
    from ocr_spark.operators.dedup import ngram_coverage

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") < 20)
    tr = docs.filter(F.col("doc_id") >= 20)
    return ngram_coverage(tr, ev, k=5)


_NGRAM_COVERAGE_SQL = f"""
WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS t
            FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(
                     generate_series(1, len(t) - 4),
                     i -> array_to_string(t[i:i+4], ' ')))
              ELSE [array_to_string(t, ' ')] END AS shingles
  FROM tk
),
ev AS (SELECT DISTINCT doc_id,
              ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS g
       FROM sh WHERE doc_id < 20),
tr AS (SELECT DISTINCT
              ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS g
       FROM sh WHERE doc_id >= 20),
agg AS (
  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched
  FROM ev e LEFT JOIN tr t USING (g) GROUP BY e.doc_id
)
SELECT d.doc_id AS id, COALESCE(a.n_grams, 0) AS n_grams,
       COALESCE(a.n_matched, 0) AS n_matched,
       ROUND(CASE WHEN COALESCE(a.n_grams, 0) > 0
                  THEN a.n_matched / CAST(a.n_grams AS DOUBLE)
                  ELSE 0.0 END, 4) AS coverage
FROM (SELECT doc_id FROM documents WHERE doc_id < 20) d
LEFT JOIN agg a USING (doc_id)
ORDER BY id
"""


def _cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy-hitter harness (X51): exact top-20 corpus
    terms probed against a depth-4 × width-1024 CMS of the token stream;
    the one-sided-error property (cms_est >= exact) must hold on every
    row. The sketch is the mergeable fixed-memory scale path; the oracle
    reproduces its cell arithmetic bit-for-bit."""
    from ocr_spark.operators.textstats import cms_heavy_hitters

    return cms_heavy_hitters(_t(spark, sf_dir, "documents"), top_k=20)


_CMS_HH_SQL = f"""
WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '{WORD_RE}'))
               AS term
             FROM documents),
exact AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt
          FROM tok GROUP BY term),
cand AS (SELECT * FROM exact ORDER BY exact_cnt DESC, term LIMIT 20),
rows AS (SELECT unnest(generate_series(0, 3)) AS row),
cells AS (
  SELECT r.row,
         ('0x' || substr(md5(CAST(r.row AS VARCHAR) || ':' || t.term),
                         1, 15))::BIGINT % 1024 AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM tok t CROSS JOIN rows r
  GROUP BY 1, 2
),
est AS (
  SELECT c.term, c.exact_cnt, min(s.cnt) AS cms_est
  FROM cand c
  CROSS JOIN rows r
  JOIN cells s
    ON s.row = r.row
   AND s.bucket = ('0x' || substr(md5(CAST(r.row AS VARCHAR) || ':'
                                      || c.term), 1, 15))::BIGINT % 1024
  GROUP BY c.term, c.exact_cnt
)
SELECT term, exact_cnt, cms_est, cms_est >= exact_cnt AS overestimate,
       ROUND((cms_est - exact_cnt) / CAST(exact_cnt AS DOUBLE), 4) AS rel_err
FROM est ORDER BY exact_cnt DESC, term
"""


def _lsh_recall(spark, sf_dir):
    """LSH candidate-recall harness (X52): what fraction of the exact
    Jaccard near-dup pairs (the gate's truth config: k=3, cap, floor 0.1)
    does the gate's 16-hash / 4-band MinHash index surface as raw band
    collisions, graded at 0.3 / 0.5 / 0.7 — the dedup twin of ivf_recall."""
    from ocr_spark.operators.dedup import lsh_recall

    return lsh_recall(
        _t(spark, sf_dir, "documents"),
        thresholds=(0.3, 0.5, 0.7),
        truth_threshold=0.1,
        n_hashes=16,
        n_bands=4,
        k=3,
        max_doc_freq=_JACCARD_CAP,
        max_bucket_size=1000,
    )


_LSH_RECALL_SQL = f"""
WITH truth AS ({_JACCARD_SQL}),
sigs AS ({_MINHASH_SQL}),
sigarr AS (SELECT id, list(minhash ORDER BY seed) AS sig FROM sigs GROUP BY id),
bands AS (
  SELECT id, b.band,
         md5(array_to_string(list_transform(sig[b.band*4+1 : b.band*4+4],
                                            x -> CAST(x AS VARCHAR)), '|')) AS bucket
  FROM sigarr CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id < b.id
),
j AS (
  SELECT t.jaccard, c.id_a IS NOT NULL AS hit
  FROM truth t LEFT JOIN cands c ON c.id_a = t.id_a AND c.id_b = t.id_b
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cands),
s AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN jaccard >= 0.3 THEN 1 END), 0) AS BIGINT) AS nt0,
    CAST(coalesce(sum(CASE WHEN jaccard >= 0.3 AND hit THEN 1 END), 0) AS BIGINT) AS nh0,
    CAST(coalesce(sum(CASE WHEN jaccard >= 0.5 THEN 1 END), 0) AS BIGINT) AS nt1,
    CAST(coalesce(sum(CASE WHEN jaccard >= 0.5 AND hit THEN 1 END), 0) AS BIGINT) AS nh1,
    CAST(coalesce(sum(CASE WHEN jaccard >= 0.7 THEN 1 END), 0) AS BIGINT) AS nt2,
    CAST(coalesce(sum(CASE WHEN jaccard >= 0.7 AND hit THEN 1 END), 0) AS BIGINT) AS nh2
  FROM j
)
SELECT CAST(0.3 AS DOUBLE) AS threshold, nt0 AS n_true_pairs, n_candidates,
       nh0 AS n_hits,
       ROUND(CASE WHEN nt0 > 0 THEN nh0 / CAST(nt0 AS DOUBLE) ELSE 0.0 END, 4)
         AS recall,
       ROUND(CASE WHEN n_candidates > 0
                  THEN nh0 / CAST(n_candidates AS DOUBLE) ELSE 0.0 END, 4)
         AS cand_precision
FROM s, n
UNION ALL
SELECT CAST(0.5 AS DOUBLE), nt1, n_candidates, nh1,
       ROUND(CASE WHEN nt1 > 0 THEN nh1 / CAST(nt1 AS DOUBLE) ELSE 0.0 END, 4),
       ROUND(CASE WHEN n_candidates > 0
                  THEN nh1 / CAST(n_candidates AS DOUBLE) ELSE 0.0 END, 4)
FROM s, n
UNION ALL
SELECT CAST(0.7 AS DOUBLE), nt2, n_candidates, nh2,
       ROUND(CASE WHEN nt2 > 0 THEN nh2 / CAST(nt2 AS DOUBLE) ELSE 0.0 END, 4),
       ROUND(CASE WHEN n_candidates > 0
                  THEN nh2 / CAST(n_candidates AS DOUBLE) ELSE 0.0 END, 4)
FROM s, n
ORDER BY threshold
"""


def _centroid_similarity(spark, sf_dir):
    """Per-source centroid cosine matrix (X53): fixed-point integer
    component sums (exact, shuffle-order-independent) per label; cosine of
    the sum vectors (the 1/n scaling cancels) via the family's fixed-order
    IEEE fold — the embedding-side provenance diagnostic beside the
    token-side per-source KL (X31) and the pair-level dup matrix (X39)."""
    from ocr_spark.operators.similarity import source_centroid_similarity

    return source_centroid_similarity(_t(spark, sf_dir, "embeddings"))


_CENTROID_SIM_SQL = """
WITH q AS (
  SELECT label AS lbl,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
  FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL
),
ex AS (
  SELECT lbl,
         unnest(generate_series(1, len(qv))) AS dim,
         unnest(qv) AS val
  FROM q
),
sums AS (
  SELECT lbl, dim, coalesce(sum(val), 0) AS s FROM ex GROUP BY lbl, dim
),
vecs AS (
  SELECT lbl, list(CAST(s AS DOUBLE) ORDER BY dim) AS sv
  FROM sums GROUP BY lbl
),
cnt AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY lbl),
lv AS (SELECT vecs.lbl, sv, n FROM vecs JOIN cnt USING (lbl))
SELECT a.lbl AS label_a, b.lbl AS label_b, a.n AS n_a, b.n AS n_b,
       ROUND(CASE WHEN sqrt(list_inner_product(a.sv, a.sv)) *
                       sqrt(list_inner_product(b.sv, b.sv)) <> 0.0
                  THEN list_inner_product(a.sv, b.sv) /
                       (sqrt(list_inner_product(a.sv, a.sv)) *
                        sqrt(list_inner_product(b.sv, b.sv)))
             END, 6) AS centroid_cos
FROM lv a JOIN lv b ON a.lbl <= b.lbl
"""


def _ngram_novelty(spark, sf_dir):
    """Per-doc n-gram novelty (X54): fraction of a document's distinct
    word 3-grams (the family shingle key) whose first corpus occurrence
    (min doc_id) is this document — the graded marginal-contribution
    metric for dedup-aware sampling; verbatim dup of an earlier doc → 0.0,
    all-new text → 1.0, zero-gram docs → NULL."""
    from ocr_spark.operators.dedup import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"))


def _ngram_novelty_sql() -> str:
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
g AS (
  SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS s
  FROM sh
),
gg AS (SELECT doc_id, s FROM g WHERE s IS NOT NULL),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM gg GROUP BY doc_id
),
firsts AS (SELECT s, min(doc_id) AS fid FROM gg GROUP BY s),
novel AS (
  SELECT fid AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
  FROM firsts GROUP BY fid
)
SELECT d.doc_id,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(v.n_novel, 0) AS BIGINT) AS n_novel,
       ROUND(CASE WHEN coalesce(p.n_grams, 0) > 0
                  THEN coalesce(v.n_novel, 0) / CAST(p.n_grams AS DOUBLE)
             END, 4) AS novelty
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN novel v USING (doc_id)
"""


def _normalized_dedup(spark, sf_dir):
    """Normalized exact dedup (X55): the CCNet/Dolma canonical-form tier
    between byte-exact dedup and shingle near-dup — group on
    md5(lowercase, non-alphanumeric runs → one space, trimmed), keep min
    id, count copies plus distinct raw texts per group."""
    from ocr_spark.operators.dedup import normalized_dedup

    return normalized_dedup(_t(spark, sf_dir, "documents"))


_NORMALIZED_DEDUP_SQL = """
WITH n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
           AS norm_hash,
         md5(text) AS raw_hash
  FROM documents
),
b AS (
  SELECT norm_hash, raw_hash, min(doc_id) AS mid,
         CAST(count(*) AS BIGINT) AS n
  FROM n GROUP BY norm_hash, raw_hash
)
SELECT norm_hash, CAST(min(mid) AS BIGINT) AS keep_id,
       CAST(sum(n) AS BIGINT) AS n_copies,
       CAST(count(*) AS BIGINT) AS n_exact
FROM b GROUP BY norm_hash
"""


# --- round-5 session-8 families: SFT example preparation (X56–X58) and
# --- tool-run islands (X59), all over the shared transcript view ----------


def _sft_context(spark, sf_dir):
    """Multi-turn SFT context assembly (X56): one row per assistant turn
    pairing the previous up-to-4 turns (rendered ``role: text``, joined by
    newline) with the assistant text as the target — the (context,
    completion) example construction every public instruction-tuning
    corpus ships. One O(k)-frame window; head-of-conversation turns get
    n_context=0 / context='' explicitly on both engines."""
    from ocr_spark.operators.sft import assemble_context

    return assemble_context(_transcript_view(spark, sf_dir), k=4)


_SFT_CONTEXT_SQL = f"""
WITH t AS ({_TRANSCRIPT_CTE}),
x AS (
  SELECT conv_id, turn_idx, role,
         count(*) OVER w AS n_context,
         list(coalesce(role, '') || ': ' || coalesce(text, '')) OVER w AS ctx,
         coalesce(text, '') AS target
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
)
SELECT conv_id, turn_idx, CAST(n_context AS BIGINT) AS n_context,
       CASE WHEN n_context = 0 THEN ''
            ELSE array_to_string(ctx, chr(10)) END AS context,
       target
FROM x WHERE role = 'assistant'
"""


def _sft_pairs(spark, sf_dir):
    """Instruction/response pair mining (X57): every strict (user turn,
    immediately-following assistant turn) adjacency becomes one example —
    the single-turn SFT corpus. One O(1)-state lead window; non-adjacent
    pairs are structural defects dialogue_audit counts, never examples."""
    from ocr_spark.operators.sft import response_pairs

    return response_pairs(_transcript_view(spark, sf_dir))


_SFT_PAIRS_SQL = f"""
WITH t AS ({_TRANSCRIPT_CTE}),
x AS (
  SELECT conv_id, turn_idx AS prompt_idx, role,
         lead(role) OVER w AS next_role,
         lead(turn_idx) OVER w AS response_idx,
         coalesce(text, '') AS prompt,
         coalesce(lead(text) OVER w, '') AS response
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, prompt_idx, response_idx, prompt, response
FROM x WHERE role = 'user' AND next_role = 'assistant'
"""


def _conv_prefix_dedup(spark, sf_dir):
    """Conversation-prefix dedup (X58): conversations opening with the
    same canonicalized first-2 user turns (X55's normalized_text form,
    '|'-joined — injective, the canonical alphabet excludes '|') are one
    duplicate class; keeper = class min conv_id, no-user-turn
    conversations carry NULL class columns (the X54 no-evidence rule)."""
    from ocr_spark.operators.sft import conversation_prefix_dedup

    return conversation_prefix_dedup(_transcript_view(spark, sf_dir), k=2)


_CONV_PREFIX_DEDUP_SQL = f"""
WITH t AS ({_TRANSCRIPT_CTE}),
r AS (
  SELECT conv_id, turn_idx,
         role = 'user' AND
         sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS UNBOUNDED PRECEDING) <= 2 AS is_pfx,
         trim(regexp_replace(lower(coalesce(text, '')),
                             '[^a-z0-9]+', ' ', 'g')) AS canon
  FROM t
),
c AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(CASE WHEN is_pfx THEN 1 ELSE 0 END) AS BIGINT)
           AS n_prefix_turns,
         string_agg(CASE WHEN is_pfx THEN canon END, '|'
                    ORDER BY turn_idx) AS joined
  FROM r GROUP BY conv_id
),
k AS (
  SELECT conv_id, n_turns, n_prefix_turns,
         CASE WHEN n_prefix_turns > 0 THEN md5(joined) END AS prefix_key
  FROM c
)
SELECT conv_id, n_turns, n_prefix_turns, prefix_key,
       CASE WHEN prefix_key IS NOT NULL
            THEN CAST(count(*) OVER (PARTITION BY prefix_key) AS BIGINT)
       END AS class_size,
       CASE WHEN prefix_key IS NOT NULL
            THEN min(conv_id) OVER (PARTITION BY prefix_key)
       END AS keeper,
       CASE WHEN prefix_key IS NOT NULL
            THEN min(conv_id) OVER (PARTITION BY prefix_key) = conv_id
       END AS is_keeper
FROM k
"""


def _tool_runs(spark, sf_dir):
    """Tool-run island statistics (X59): per conversation, gaps-and-islands
    over consecutive tool-role turns — run count, longest run, first run
    start; the agent-loop-depth signal SFT curation caps on. One Exchange
    end to end (window partitioning reused by both aggregates)."""
    from ocr_spark.operators.dialogue import tool_run_stats

    return tool_run_stats(_transcript_view(spark, sf_dir))


_TOOL_RUNS_SQL = f"""
WITH t AS ({_TRANSCRIPT_CTE}),
x AS (
  SELECT conv_id, turn_idx, role = 'tool' AS is_tool,
         row_number() OVER w
           - sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)
             OVER (PARTITION BY conv_id ORDER BY turn_idx
                   ROWS UNBOUNDED PRECEDING) AS island
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
runs AS (
  SELECT conv_id, island, CAST(count(*) AS BIGINT) AS len,
         min(turn_idx) AS start
  FROM x WHERE is_tool GROUP BY conv_id, island
)
SELECT conv_id, CAST(sum(len) AS BIGINT) AS n_tool_turns,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(len) AS BIGINT) AS longest_run,
       min(start) AS first_run_start
FROM runs GROUP BY conv_id
"""


# --- round-5 session-8 batch 3: context-budget truncation (X62),
# --- role-run merge repair (X63), int8 embedding quantization (X64) -------


def _truncate_context(spark, sf_dir):
    """Context-window left-truncation (X62): per turn, the running
    whitespace-token total from the conversation's END and a kept flag —
    oldest turns drop first, the final turn always survives (a truncation
    that deletes the training target is worse than an over-long example).
    One descending window, O(1) state."""
    from ocr_spark.operators.sft import truncate_to_budget

    return truncate_to_budget(_transcript_view(spark, sf_dir), budget=24)


_TRUNCATE_CONTEXT_SQL = f"""
WITH t AS ({_TRANSCRIPT_CTE}),
x AS (
  SELECT conv_id, turn_idx,
         CAST(len(regexp_extract_all(coalesce(text, ''), '\\S+'))
              AS BIGINT) AS n_tok
  FROM t
)
SELECT conv_id, turn_idx, n_tok,
       sum(n_tok) OVER w AS cum_from_end,
       (sum(n_tok) OVER w <= 24 OR row_number() OVER w2 = 1) AS kept
FROM x
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx DESC
             ROWS UNBOUNDED PRECEDING),
       w2 AS (PARTITION BY conv_id ORDER BY turn_idx DESC)
"""


def _merge_role_runs(spark, sf_dir):
    """Role-run merge repair (X63): consecutive same-role turns — the
    n_role_repeats defect X49's audit counts — collapse to one turn
    keeping the run's first turn_idx, texts joined in order, n_merged
    auditable. Change-point islands; one Exchange end to end."""
    from ocr_spark.operators.dialogue import merge_role_runs

    return merge_role_runs(_transcript_view(spark, sf_dir))


_MERGE_ROLE_RUNS_SQL = f"""
WITH t AS ({_TRANSCRIPT_CTE}),
x AS (
  SELECT conv_id, turn_idx, role, coalesce(text, '') AS txt,
         sum(CASE WHEN prev_role IS DISTINCT FROM role
                  THEN 1 ELSE 0 END) OVER (
             PARTITION BY conv_id ORDER BY turn_idx
             ROWS UNBOUNDED PRECEDING) AS island
  FROM (
    SELECT conv_id, turn_idx, role, text,
           lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS prev_role
    FROM t
  )
)
SELECT conv_id, min(turn_idx) AS turn_idx, min(role) AS role,
       string_agg(txt, chr(10) ORDER BY turn_idx) AS text,
       CAST(count(*) AS BIGINT) AS n_merged
FROM x GROUP BY conv_id, island
"""


def _quantize_embeddings(spark, sf_dir):
    """Symmetric per-vector int8 quantization (X64): scale = max|x|/127,
    q = floor(x·127/max|x| + 0.5) — floor-half-up, not round(), per the
    X60 engine-rounding lesson; zero vectors quantize to zeros. Narrow,
    zero-shuffle; the 4× compression that cheapens every downstream
    embedding shuffle/broadcast."""
    from ocr_spark.operators.similarity import quantize_embeddings

    return quantize_embeddings(_t(spark, sf_dir, "embeddings"))


_QUANTIZE_EMB_SQL = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
m AS (
  SELECT vec_id, x,
         list_max(list_transform(x, v -> abs(v))) AS max_abs
  FROM e
)
SELECT vec_id AS id,
       CASE WHEN x IS NOT NULL THEN len(x) END AS dim,
       CASE WHEN x IS NOT NULL THEN max_abs END AS max_abs,
       CASE WHEN x IS NULL THEN NULL
            WHEN max_abs = 0
            THEN list_transform(x, v -> 0)
            ELSE list_transform(
                   x, v -> CAST(floor(v * 127.0 / max_abs + 0.5)
                                AS INTEGER))
       END AS qvec
FROM m
"""


def _curate_conversations(spark, sf_dir):
    """Composed conversation curation (X65): the transcript-grain
    curate_corpus — keep = audit-valid AND prefix-dedup keeper AND ≥1
    strict user→assistant pair AND turn-count bounds, with per-reason
    drop flags. Three conversation-grain frames joined on conv_id; the
    turn grain is read only by the component passes."""
    from ocr_spark.operators.sft import curate_conversations

    return curate_conversations(
        _transcript_view(spark, sf_dir), prefix_k=2, min_turns=2,
        max_turns=500,
    )


_CURATE_CONVS_SQL = f"""
WITH audit AS (SELECT conv_id, n_turns, valid FROM ({_DIALOGUE_AUDIT_SQL})),
ded AS (SELECT conv_id, is_keeper FROM ({_CONV_PREFIX_DEDUP_SQL})),
prs AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_pairs
  FROM ({_SFT_PAIRS_SQL}) GROUP BY conv_id
),
j AS (
  SELECT a.conv_id, a.n_turns, coalesce(p.n_pairs, 0) AS n_pairs,
         a.valid, d.is_keeper
  FROM audit a
  LEFT JOIN ded d USING (conv_id)
  LEFT JOIN prs p USING (conv_id)
)
SELECT conv_id, n_turns, n_pairs, valid, is_keeper,
       (NOT (NOT valid)
        AND NOT (is_keeper IS NOT NULL AND NOT is_keeper)
        AND NOT (n_pairs = 0)
        AND NOT (n_turns < 2 OR n_turns > 500)) AS keep,
       NOT valid AS drop_invalid,
       (is_keeper IS NOT NULL AND NOT is_keeper) AS drop_dup,
       n_pairs = 0 AS drop_no_pairs,
       (n_turns < 2 OR n_turns > 500) AS drop_len
FROM j
"""


def _turn_latency(spark, sf_dir):
    """Assistant response-latency stats (X66): exact integer microsecond
    gaps over the strict user→assistant adjacencies, aggregated per
    conversation — the cached-response / session-split triage signal.
    One Exchange (the X57 window's partitioning reused)."""
    from ocr_spark.operators.dialogue import turn_latency

    return turn_latency(_transcript_view(spark, sf_dir))


_TURN_LATENCY_SQL = f"""
WITH t AS ({_TRANSCRIPT_CTE}),
x AS (
  SELECT conv_id, role,
         lead(role) OVER w AS next_role,
         lead(epoch_us(ts)) OVER w - epoch_us(ts) AS lat
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_responses,
       CAST(sum(lat) AS BIGINT) AS total_latency_us,
       CAST(min(lat) AS BIGINT) AS min_latency_us,
       CAST(max(lat) AS BIGINT) AS max_latency_us
FROM x WHERE role = 'user' AND next_role = 'assistant'
      AND lat IS NOT NULL
GROUP BY conv_id
"""


def _role_transitions(spark, sf_dir):
    """Corpus-wide role-transition matrix (X67): adjacent (from, to) role
    counts plus (NULL, role) conversation openings — the first-order
    Markov summary whose cells triage the X49 defect counters. Output is
    role-grid-sized at any corpus size."""
    from ocr_spark.operators.dialogue import role_transitions

    return role_transitions(_transcript_view(spark, sf_dir))


_ROLE_TRANSITIONS_SQL = f"""
WITH t AS ({_TRANSCRIPT_CTE}),
x AS (
  SELECT lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS from_role,
         role AS to_role
  FROM t
)
SELECT from_role, to_role, CAST(count(*) AS BIGINT) AS n
FROM x GROUP BY from_role, to_role
"""


# --- round-5 session-8 statistical-selection families: robust MAD
# --- outliers (X60) and percentile curriculum bins (X61) ------------------


def _mad_outliers(spark, sf_dir):
    """Robust per-source outlier scoring (X60): Iglewicz–Hoaglin modified
    z-score 0.6745·(x − median)/MAD over document lengths, |z| > 3.5
    flag; median/MAD have 50% breakdown where daily_anomalies' mean/std
    have 0%. Two source-cardinality percentile aggregates broadcast onto
    a column-pruned scan — the corpus never shuffles; MAD = 0 groups
    yield NULL z (the X54 no-evidence rule)."""
    from ocr_spark.operators.textstats import mad_outliers

    return mad_outliers(_t(spark, sf_dir, "documents"))


_MAD_OUTLIERS_SQL = """
WITH m AS (
  SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
  FROM documents GROUP BY source
),
d AS (
  SELECT doc_id, documents.source, CAST(n_chars AS DOUBLE) AS value, med
  FROM documents JOIN m USING (source)
),
md AS (
  SELECT source, quantile_cont(abs(value - med), 0.5) AS mad
  FROM d GROUP BY source
)
SELECT doc_id, d.source, value AS n_chars,
       ROUND(med, 6) AS med, ROUND(mad, 6) AS mad,
       CASE WHEN mad <> 0
            THEN floor(0.6745 * (value - med) / mad * 1000000.0)
                 / 1000000.0 END AS robust_z,
       CASE WHEN mad <> 0
            THEN abs(0.6745 * (value - med) / mad) > 3.5 END AS is_outlier
FROM d JOIN md USING (source)
"""


def _curriculum_bins(spark, sf_dir):
    """Percentile-threshold curriculum assignment (X61): every document
    bucketed into one of 8 length tiers by exact interpolated corpus
    quantiles — the Bengio-style short→long curriculum as a narrow
    threshold fold (n_bins−1 broadcast literals), NOT a single-task
    global ntile window."""
    from ocr_spark.operators.curation import curriculum_bins

    return curriculum_bins(_t(spark, sf_dir, "documents"), n_bins=8)


_CURRICULUM_BINS_SQL = """
WITH t AS (
  SELECT quantile_cont(CAST(n_chars AS DOUBLE),
                       [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS th
  FROM documents
)
SELECT doc_id AS id, n_chars AS value,
       CASE WHEN n_chars IS NOT NULL THEN
         CAST(len(list_filter(th, x -> CAST(n_chars AS DOUBLE) > x))
              AS INTEGER) END AS bin
FROM documents, t
"""


class Query(NamedTuple):
    """One registry entry.

    ``oracle`` is DuckDB SQL that reproduces the result exactly, or None
    for a rows-only query; the LSH queries have oracles because their
    seeded hash families make them deterministic. ``gate`` puts the query
    in the driver's 50-row gate, one row per operator family; the others
    are extras, checked by ``python tools/check_oracles.py --extended``.
    ``bench``, ``plan`` and ``sf1`` select the query for ``bench.py``,
    ``tools/dump_plans.py`` and the ``tools/sf1_tier.py`` sweep, which
    has only the documents and embeddings tables.
    """

    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    gate: bool
    bench: bool = False
    plan: bool = False
    sf1: bool = False


GATE, EXTRA = True, False

#: every query, gate entries first; the four views below keep this order
REGISTRY: dict[str, Query] = {
    # rows-only, not SQL-expressible: pytest goldens gate these four
    "flagship_extract": Query(_flagship, None, GATE, bench=True, plan=True),
    "boilerplate_strip": Query(_boilerplate_strip, None, GATE, bench=True),
    "pdf_layout": Query(_pdf_layout, None, GATE, bench=True),
    "full_pipeline": Query(_full_pipeline, None, GATE, bench=True, plan=True),
    "a1_event_stats": Query(_a1_event_stats, _A1_SQL, GATE),
    "a2_zero_filled": Query(_a2_zero_filled, _A2Z_SQL, GATE),
    "a3_key_stats": Query(_a3_key_stats, _A3_SQL, GATE),
    "a5_counts_by_type": Query(_a5_counts_by_type, _A5_SQL, GATE),
    "a4_learning_stats": Query(_a4_learning_stats, _A4_SQL, GATE),
    "a7_word_frequency": Query(
        _a7_word_frequency, _A7_SQL, GATE, bench=True, plan=True),
    "a8_top_pending": Query(_a8_top_pending, _A8_SQL, GATE),
    "a9_event_pagination": Query(_a9_event_pagination, _A9_SQL, GATE),
    "s4_preview": Query(_s4_preview, _S4_SQL, GATE),
    "s5_export": Query(_s5_export, _s5_sql(), GATE),
    "s6_import_merge": Query(_s6_import_merge, _s6_sql(), GATE),
    "t8_event_sessions": Query(
        _t8_event_sessions, _T8_SQL, GATE, bench=True, plan=True),
    "asof_signup_attribution": Query(
        _asof_signup_attribution, _ASOF_SQL, GATE, bench=True, plan=True),
    "range_join_error_sessions": Query(
        _range_join_error_sessions, _RANGE_JOIN_SQL, GATE,
        bench=True, plan=True),
    "j2_unknown_antijoin": Query(
        _j2_unknown_antijoin, _J2_SQL, GATE, plan=True),
    "exact_dedup": Query(
        _exact_dedup, _EXACT_DEDUP_SQL, GATE, bench=True, plan=True, sf1=True),
    "minhash_near_dup": Query(
        _minhash_near_dup, _MINHASH_NEAR_DUP_SQL, GATE,
        bench=True, plan=True, sf1=True),
    "jaccard_near_dup": Query(
        _jaccard_near_dup, _JACCARD_SQL, GATE,
        bench=True, plan=True, sf1=True),
    "dedup_clusters": Query(
        _dedup_clusters, _DEDUP_CLUSTERS_SQL, GATE,
        bench=True, plan=True, sf1=True),
    "simhash_near_dup": Query(
        _simhash_near_dup, _SIMHASH_NEAR_DUP_SQL, GATE, bench=True, sf1=True),
    "curate_corpus": Query(
        _curate_corpus, _curate_sql(), GATE, bench=True, sf1=True),
    "c4_filters": Query(
        _c4_filters, _C4_FILTERS_SQL, GATE, bench=True, plan=True, sf1=True),
    # not in the sf1 sweep: its brute-force oracle is O(pairs·len²)
    "edit_near_dup": Query(
        _edit_near_dup, _EDIT_NEAR_DUP_SQL, GATE, bench=True, plan=True),
    "winnow_near_dup": Query(
        _winnow_near_dup, _WINNOW_NEAR_DUP_SQL, GATE, sf1=True),
    "substr_dup_stats": Query(
        _substr_dup_stats, _SUBSTR_DUP_SQL, GATE,
        bench=True, plan=True, sf1=True),
    "line_strip": Query(
        _line_strip, _line_strip_sql(), GATE, bench=True, plan=True, sf1=True),
    "paragraph_dedup": Query(
        _paragraph_dedup, _paragraph_dedup_sql(), GATE,
        bench=True, plan=True, sf1=True),
    "ann_cosine_topk": Query(
        _ann_cosine_topk, _ANN_SQL, GATE, bench=True, plan=True, sf1=True),
    "ivf_topk": Query(
        _ivf_topk, _ivf_sql(), GATE, bench=True, plan=True, sf1=True),
    "knn_join": Query(
        _knn_join, _KNN_SQL, GATE, bench=True, plan=True, sf1=True),
    "embedding_near_dup": Query(
        _embedding_near_dup, _emb_near_dup_sql(), GATE, bench=True, sf1=True),
    "semantic_dedup": Query(
        _semantic_dedup, _semantic_dedup_sql(), GATE,
        bench=True, plan=True, sf1=True),
    "rrf_fusion": Query(
        _rrf_fusion, _rrf_fusion_sql(), GATE, bench=True, plan=True, sf1=True),
    "bm25_topk": Query(
        _bm25_topk, _bm25_topk_sql(), GATE, bench=True, plan=True, sf1=True),
    "tfidf_topk_terms": Query(
        _tfidf_topk_terms, _TFIDF_SQL, GATE, bench=True, plan=True, sf1=True),
    "t9_preprocess": Query(_t9_preprocess, None, GATE),
    "lang_id_counts": Query(
        _lang_id_counts, _langid_sql(), GATE, bench=True, sf1=True),
    "gopher_repetition": Query(
        _gopher_repetition, _GOPHER_REPETITION_SQL, GATE,
        bench=True, sf1=True),
    "bigram_nll": Query(
        _bigram_nll, _BIGRAM_NLL_SQL, GATE, bench=True, plan=True, sf1=True),
    "pmi_collocations": Query(
        _pmi_collocations, _PMI_SQL, GATE, bench=True, plan=True, sf1=True),
    "bpe_token_counts": Query(
        _bpe_token_counts, None, GATE, bench=True, sf1=True),
    "pii_redaction": Query(
        _pii_redaction, _pii_sql(), GATE, bench=True, plan=True, sf1=True),
    "source_stats": Query(
        _source_stats, _source_stats_sql(), GATE,
        bench=True, plan=True, sf1=True),
    "training_shards": Query(
        _training_shards, _SHARDS_SQL, GATE, bench=True, plan=True, sf1=True),
    "dsir_importance": Query(_dsir_importance, _DSIR_SQL, GATE, sf1=True),
    "cap_per_source": Query(
        _cap_per_source, _cap_per_source_sql(), GATE, sf1=True),
    "minhash_signatures": Query(
        _minhash_signatures, _MINHASH_SQL, EXTRA, plan=True, sf1=True),
    "simhash": Query(_simhash, _SIMHASH_SQL, EXTRA, bench=True, sf1=True),
    "dedup_corpus": Query(_dedup_corpus, _DEDUP_CORPUS_SQL, EXTRA, sf1=True),
    "ann_cosine_topk_np": Query(
        _ann_cosine_topk_np, _ANN_SQL, EXTRA, sf1=True),
    "ann_lsh_topk": Query(_ann_lsh_topk, _ann_lsh_sql(), EXTRA, sf1=True),
    "ann_lsh_topk_mp": Query(
        _ann_lsh_topk_mp, _ann_lsh_mp_sql(), EXTRA, sf1=True),
    "a2_events_by_date": Query(_a2_events_by_date, _A2_SQL, EXTRA),
    # no oracle: an HLL estimate; pytest bounds it by the exact count
    "a12_approx_distinct": Query(_a12_approx_distinct, None, EXTRA),
    "a12_distinct_users": Query(_a12_distinct_users, _A12_SQL, EXTRA),
    "a3_key_usage": Query(_a3_key_usage, _A3_USAGE_SQL, EXTRA),
    "doc_tf_embeddings": Query(
        _doc_tf_embeddings, _DOC_TF_SQL, EXTRA, sf1=True),
    "a11_type_pivot": Query(_a11_type_pivot, _A11_SQL, EXTRA),
    "t8_gap_sessions": Query(_t8_gap_sessions, _T8_GAP_SQL, EXTRA),
    "fingerprints": Query(
        _fingerprints, _FINGERPRINT_SQL, EXTRA, bench=True, sf1=True),
    "token_counts": Query(_token_counts, _TOKEN_COUNTS_SQL, EXTRA, sf1=True),
    "winnow_fingerprints": Query(
        _winnow_fingerprints, _WINNOW_SQL, EXTRA, sf1=True),
    "doc_quality": Query(
        _doc_quality, _quality_sql(), EXTRA, bench=True, plan=True, sf1=True),
    "q5_region_volume": Query(_q5_region_volume, _Q5_SQL, EXTRA, plan=True),
    "mixture_summary": Query(
        _mixture_summary, _MIXTURE_SUMMARY_SQL, EXTRA, sf1=True),
    "bloom_decontaminate": Query(
        _bloom_decontaminate, _BLOOM_DECONTAMINATE_SQL, EXTRA, sf1=True),
    "pack_summary": Query(_pack_summary, _PACK_SUMMARY_SQL, EXTRA, sf1=True),
    "quality_classify": Query(
        _quality_classify, _quality_classify_sql(), EXTRA),
    "kmeans_cells": Query(_kmeans_cells, None, EXTRA, sf1=True),
    "q18_large_orders": Query(_q18_large_orders, _Q18_SQL, EXTRA),
    "w1_top_orders_per_customer": Query(
        _w1_top_orders_per_customer, _W1_SQL, EXTRA, plan=True),
    "q3_nation_revenue": Query(
        _q3_nation_revenue, _Q3_SQL, EXTRA, bench=True, plan=True),
    "q1_pricing": Query(_q1_pricing, _Q1_SQL, EXTRA, bench=True),
    "a10_value_quantiles": Query(_a10_value_quantiles, _A10_SQL, EXTRA),
    "t8_assembled_docs": Query(_t8_assembled_docs, _T8_ASSEMBLED_SQL, EXTRA),
    "winnow_containment": Query(
        _winnow_containment, _WINNOW_CONTAINMENT_SQL, EXTRA, sf1=True),
    "bpe_train_merges": Query(_bpe_train_merges, None, EXTRA, sf1=True),
    # no oracle: pytest checks the codec against local WAV files
    "media_audio_features": Query(_media_audio_features, None, EXTRA),
    "bm25_join": Query(
        _bm25_join, _bm25_join_sql(), EXTRA, bench=True, plan=True, sf1=True),
    "stratified_sample": Query(
        _stratified_sample, _STRATIFIED_SQL, EXTRA, sf1=True),
    # no oracle: pytest checks the codec against local PNG files
    "media_image_features": Query(_media_image_features, None, EXTRA),
    "unigram_nll": Query(
        _unigram_nll, _UNIGRAM_NLL_SQL, EXTRA, bench=True, sf1=True),
    "chunk_documents": Query(
        _chunk_documents, _CHUNK_SQL, EXTRA, bench=True, plan=True, sf1=True),
    "source_kl_divergence": Query(
        _source_kl, _SOURCE_KL_SQL, EXTRA, bench=True, plan=True, sf1=True),
    "decontaminate": Query(
        _decontaminate, _DECONTAMINATE_SQL, EXTRA, bench=True, sf1=True),
    "mojibake_repair": Query(
        _mojibake_repair, _mojibake_sql(), EXTRA,
        bench=True, plan=True, sf1=True),
    "flesch_readability": Query(
        _flesch_readability, _FLESCH_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "lexical_diversity": Query(
        _lexical_diversity, _LEXDIV_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "split_summary": Query(
        _split_summary, _SPLIT_SUMMARY_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "char_entropy": Query(
        _char_entropy, _CHAR_ENTROPY_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "heaps_growth": Query(
        _heaps_growth, _HEAPS_SQL, EXTRA, bench=True, plan=True, sf1=True),
    "cross_source_dup_matrix": Query(
        _cross_source_dup, _cross_source_dup_sql(), EXTRA,
        bench=True, plan=True, sf1=True),
    "event_funnel": Query(
        _event_funnel, _event_funnel_sql(), EXTRA, bench=True, plan=True),
    "cohort_retention": Query(
        _cohort_retention, _COHORT_SQL, EXTRA, bench=True, plan=True),
    "daily_anomalies": Query(
        _daily_anomalies, _ANOMALY_SQL, EXTRA, bench=True, plan=True),
    "temperature_resample": Query(
        _temperature_resample, _TEMP_RESAMPLE_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "length_quantiles": Query(
        _length_quantiles, _LENGTH_QUANTILES_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "incremental_near_dup": Query(
        _incremental_near_dup, _INCREMENTAL_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "leakage_safe_split": Query(
        _leakage_safe_split, _LEAKAGE_SPLIT_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "ivf_recall": Query(
        _ivf_recall, _ivf_recall_sql(), EXTRA,
        bench=True, plan=True, sf1=True),
    "collapse_repeats": Query(
        _collapse_repeats, _COLLAPSE_REPEATS_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "dialogue_audit": Query(
        _dialogue_audit, _DIALOGUE_AUDIT_SQL, EXTRA, bench=True, plan=True),
    "ngram_coverage": Query(
        _ngram_coverage, _NGRAM_COVERAGE_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "cms_heavy_hitters": Query(
        _cms_heavy_hitters, _CMS_HH_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "lsh_recall": Query(
        _lsh_recall, _LSH_RECALL_SQL, EXTRA, bench=True, plan=True, sf1=True),
    "centroid_similarity": Query(
        _centroid_similarity, _CENTROID_SIM_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "ngram_novelty": Query(
        _ngram_novelty, _ngram_novelty_sql(), EXTRA,
        bench=True, plan=True, sf1=True),
    "normalized_dedup": Query(
        _normalized_dedup, _NORMALIZED_DEDUP_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "sft_context": Query(
        _sft_context, _SFT_CONTEXT_SQL, EXTRA, bench=True, plan=True),
    "sft_pairs": Query(
        _sft_pairs, _SFT_PAIRS_SQL, EXTRA, bench=True, plan=True),
    "conv_prefix_dedup": Query(
        _conv_prefix_dedup, _CONV_PREFIX_DEDUP_SQL, EXTRA,
        bench=True, plan=True),
    "tool_runs": Query(
        _tool_runs, _TOOL_RUNS_SQL, EXTRA, bench=True, plan=True),
    "mad_outliers": Query(
        _mad_outliers, _MAD_OUTLIERS_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "curriculum_bins": Query(
        _curriculum_bins, _CURRICULUM_BINS_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "truncate_context": Query(
        _truncate_context, _TRUNCATE_CONTEXT_SQL, EXTRA,
        bench=True, plan=True),
    "merge_role_runs": Query(
        _merge_role_runs, _MERGE_ROLE_RUNS_SQL, EXTRA, bench=True, plan=True),
    "quantize_embeddings": Query(
        _quantize_embeddings, _QUANTIZE_EMB_SQL, EXTRA,
        bench=True, plan=True, sf1=True),
    "curate_conversations": Query(
        _curate_conversations, _CURATE_CONVS_SQL, EXTRA,
        bench=True, plan=True),
    "turn_latency": Query(
        _turn_latency, _TURN_LATENCY_SQL, EXTRA, bench=True, plan=True),
    "role_transitions": Query(
        _role_transitions, _ROLE_TRANSITIONS_SQL, EXTRA,
        bench=True, plan=True),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: q.build for n, q in REGISTRY.items() if q.gate}


def oracle_sql() -> dict[str, str]:
    return {n: q.oracle for n, q in REGISTRY.items() if q.gate and q.oracle}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: q.build for n, q in REGISTRY.items() if not q.gate}


def extra_oracle_sql() -> dict[str, str]:
    return {
        n: q.oracle for n, q in REGISTRY.items() if not q.gate and q.oracle
    }
