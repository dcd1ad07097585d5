"""Metadata/metrics aggregations (SURVEY.md §2.3 A2, A3, A5, S4).

The reference keeps these as SQL over its SQLite history DB
(db_service.py:197-278, audit_logger.py:125-146); here they are generic
DataFrame aggregations over any event/metrics table. Every one is
Catalyst-native (partial aggregation map-side, no UDFs), so they hold at any
scale the shuffle on the group key holds.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def requests_by_date(
    df: DataFrame,
    ts_col: str = "ts",
    success_col: str = "success",
    zero_fill: bool = False,
) -> DataFrame:
    """A2 (db_service.py:265-278): per-day success/fail counts, ordered.
    ``zero_fill`` adds missing days via sequence() + left join — the
    reference does this client-side (routers/admin.py:199-217)."""
    daily = (
        df.groupBy(F.to_date(ts_col).alias("date"))
        .agg(
            F.sum(F.when(F.col(success_col), 1).otherwise(0)).alias("successful"),
            F.sum(F.when(~F.col(success_col), 1).otherwise(0)).alias("failed"),
        )
    )
    if zero_fill:
        bounds = df.agg(
            F.min(F.to_date(ts_col)).alias("lo"), F.max(F.to_date(ts_col)).alias("hi")
        )
        days = bounds.select(
            F.explode(F.sequence("lo", "hi")).alias("date")
        )
        daily = (
            days.join(daily, "date", "left")
            .select(
                "date",
                F.coalesce("successful", F.lit(0)).alias("successful"),
                F.coalesce("failed", F.lit(0)).alias("failed"),
            )
        )
    return daily.orderBy("date")


def counts_by_type(df: DataFrame, type_col: str) -> DataFrame:
    """A5 (audit_logger.py:125-146): counts per type plus the grand total,
    via rollup (one pass)."""
    return (
        df.rollup(type_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col(type_col).asc_nulls_first())
    )


def key_usage(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    active_days: int = 7,
) -> DataFrame:
    """A3 per-key usage view (db_service.py:154-165 list_api_keys):
    requests_count + last_used per key, with an activity flag — a key is
    "active" when used within ``active_days`` of the dataset's newest
    event (the batch analog of the reference's is_active column; data
    carries no revocation table). The global bound is a 1-row broadcast
    cross join, not a window over everything."""
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("requests_count"),
        F.max(ts_col).alias("last_used"),
    )
    bound = df.agg(F.max(ts_col).alias("_max_ts"))
    return (
        per_key.crossJoin(F.broadcast(bound))
        .select(
            "key",
            "requests_count",
            "last_used",
            (
                F.col("last_used")
                >= F.col("_max_ts") - F.expr(f"INTERVAL {active_days} DAYS")
            ).alias("is_active"),
        )
    )


def key_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    active_days: int = 7,
) -> DataFrame:
    """A3 aggregate (db_service.py:176-193 stats_api_key): total / active /
    revoked key counts + total request count, over :func:`key_usage`."""
    usage = key_usage(df, key_col, ts_col, active_days)
    # revoked = NOT-active including NULL last_used (all-null timestamps):
    # `when(~is_active)` would count such keys in NEITHER bucket, making
    # active+revoked != total and diverging from the SQL oracle's ELSE arm
    return usage.agg(
        F.count(F.lit(1)).alias("total_keys"),
        F.sum(F.when(F.col("is_active"), 1).otherwise(0)).alias("active_keys"),
        F.sum(F.when(F.col("is_active"), 0).otherwise(1)).alias("revoked_keys"),
        F.sum("requests_count").alias("total_requests"),
    )


def preview_truncate(df: DataFrame, text_col: str = "text", n: int = 500) -> DataFrame:
    """S4's 500-char preview truncation (db_service.py:220)."""
    return df.withColumn(f"{text_col}_preview", F.substring(F.col(text_col), 1, n))
