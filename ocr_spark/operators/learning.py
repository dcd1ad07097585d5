"""Auto-learning dictionary jobs (SURVEY.md §2.3 A7, §2.4 J4/J5).

The reference accrues word frequencies row-at-a-time into SQLite with a
cross-request feedback loop (learning_service.py:49-107). The batch
re-expression uses EPOCH SNAPSHOT semantics (SURVEY.md §7.4): the kamus is
frozen for a whole job; unknown words aggregate once per epoch; approvals
take effect next epoch. All operators below are pure DataFrame transforms —
the upsert loop becomes one groupBy + one join per epoch.

learned_words schema (mirrors db_service.py:66-76):
  word string, frequency long, is_approved boolean,
  first_seen timestamp, last_seen timestamp, approved_at timestamp
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FREQUENCY_THRESHOLD = 5
#: batch equivalent of the reference's word validity gate
#: (learning_service.py:34-47): >=3 chars, no digits, letters modulo -/'.
VALID_WORD = r"^[a-z\-']{3,}$"


def epoch_word_counts(extracted: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Aggregate this epoch's unknown words: one count per (word, turn) —
    the per-document dedup already happened inside the UDF (array_distinct
    semantics), so frequency == number of turns the word appeared in."""
    return (
        extracted.select(F.explode("unknown_words").alias("word"), F.col(ts_col).alias("_ts"))
        .filter(F.col("word").rlike(VALID_WORD))
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("frequency"),
            F.min("_ts").alias("first_seen"),
            F.max("_ts").alias("last_seen"),
        )
    )


def accrue_learned(
    existing: DataFrame | None,
    epoch_counts: DataFrame,
    threshold: int = FREQUENCY_THRESHOLD,
) -> DataFrame:
    """MERGE the epoch counts into the learned_words table: frequencies add,
    auto-approve once the total crosses the threshold, approvals are sticky.
    Expressed as a full outer join (the Iceberg deployment swaps in
    ``MERGE INTO`` with identical semantics)."""
    if existing is None:
        merged = epoch_counts.select(
            "word",
            "frequency",
            F.lit(False).alias("is_approved"),
            "first_seen",
            "last_seen",
            F.lit(None).cast("timestamp").alias("approved_at"),
        )
    else:
        e = existing.alias("e")
        n = epoch_counts.alias("n")
        merged = e.join(n, "word", "full_outer").select(
            "word",
            (F.coalesce("e.frequency", F.lit(0)) + F.coalesce("n.frequency", F.lit(0))).alias(
                "frequency"
            ),
            F.coalesce("e.is_approved", F.lit(False)).alias("is_approved"),
            F.least("e.first_seen", "n.first_seen").alias("first_seen"),
            F.greatest("e.last_seen", "n.last_seen").alias("last_seen"),
            F.col("e.approved_at").alias("approved_at"),
        )
    return merged.withColumn(
        "approved_at",
        F.when(
            ~F.col("is_approved") & (F.col("frequency") >= threshold),
            F.col("last_seen"),
        ).otherwise(F.col("approved_at")),
    ).withColumn(
        "is_approved", F.col("is_approved") | (F.col("frequency") >= threshold)
    )


def merge_import(existing: DataFrame, imported: DataFrame) -> DataFrame:
    """J4 import-merge semantics (routers/learning.py:302-340): per word,
    existing rows take max(frequency) and approve-wins; new rows insert."""
    e = existing.alias("e")
    i = imported.alias("i")
    return e.join(i, "word", "full_outer").select(
        "word",
        F.greatest(
            F.coalesce("e.frequency", F.lit(0)), F.coalesce("i.frequency", F.lit(0))
        ).alias("frequency"),
        (F.coalesce("e.is_approved", F.lit(False)) | F.coalesce("i.is_approved", F.lit(False))).alias(
            "is_approved"
        ),
        F.least("e.first_seen", "i.first_seen").alias("first_seen"),
        F.greatest("e.last_seen", "i.last_seen").alias("last_seen"),
        F.coalesce("e.approved_at", "i.approved_at").alias("approved_at"),
    )


def approve_words(
    learned: DataFrame, words: list[str], approved_at
) -> DataFrame:
    """Manual approval (learning_service.py:136-152): set
    is_approved/approved_at for the listed words where still pending —
    already-approved rows keep their original approved_at. Words are
    lowercased/stripped like the reference. ``approved_at`` is an explicit
    timestamp (determinism; the reference stamps now())."""
    targets = [w.lower().strip() for w in words]
    newly = F.col("word").isin(targets) & ~F.col("is_approved")
    return learned.withColumn(
        "approved_at",
        F.when(newly, F.lit(approved_at).cast("timestamp")).otherwise(
            F.col("approved_at")
        ),
    ).withColumn("is_approved", F.col("is_approved") | newly)


def reject_words(learned: DataFrame, words: list[str]) -> DataFrame:
    """Manual rejection (learning_service.py:154-165): drop the listed
    words from tracking entirely."""
    targets = [w.lower().strip() for w in words]
    return learned.filter(~F.col("word").isin(targets))


EXPORT_VERSION = "1.0"


def export_learned_words(
    learned: DataFrame,
    approved_only: bool = False,
    pending_limit: int = 1000,
) -> DataFrame:
    """S5 export rows (reference routers/learning.py:184-248): ALL approved
    words plus pending words capped at ``pending_limit`` by (frequency desc,
    last_seen desc, word asc — the reference's ordering plus a
    deterministic tie-break), tagged with a ``section`` column standing in
    for the response's two lists. ``approved_only`` mirrors the
    /export/approved variant (words only)."""
    cols = ["word", "frequency", "first_seen", "last_seen", "approved_at"]
    approved = learned.filter("is_approved").select(
        F.lit("approved").alias("section"), *cols
    )
    if approved_only:
        return approved
    pending = (
        learned.filter(~F.col("is_approved"))
        .orderBy(F.desc("frequency"), F.desc("last_seen"), F.asc("word"))
        .limit(pending_limit)
        .select(F.lit("pending").alias("section"), *cols)
    )
    return approved.unionByName(pending)


def write_learned_export(
    learned: DataFrame,
    path: str,
    export_date: str,
    approved_only: bool = False,
    pending_limit: int = 1000,
) -> dict:
    """JSON export sink: word rows as JSON lines under ``{path}/words`` plus
    a ``_meta.json`` version header matching the reference's ExportResponse
    envelope (version / export_date / totals). The rows scale out through
    ``df.write.json``; only the tiny per-section counts touch the driver.
    Returns the meta dict.

    LOCAL-FILESYSTEM contract: the meta header is written with pathlib +
    atomic rename while the rows go through the Hadoop sink — on an
    object-store/HDFS path the two halves would land in different
    filesystems, so URI-schemed paths are rejected loudly (same contract
    as the versioned learned-table root; route exports to local disk and
    ship, or swap the meta write for the Hadoop FileSystem API when
    deploying against a remote store)."""
    import json

    from ocr_spark.streaming.extract_stream import require_local_path

    root = require_local_path(path, "learned export path")
    rows = export_learned_words(learned, approved_only, pending_limit).persist()
    try:
        rows.write.mode("overwrite").json(f"{path}/words")
        counts = {
            r["section"]: r["n"]
            for r in rows.groupBy("section")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    finally:
        rows.unpersist()
    meta = {
        "version": EXPORT_VERSION,
        "export_date": export_date,
        "total_words": sum(counts.values()),
        "approved_count": counts.get("approved", 0),
        "pending_count": counts.get("pending", 0),
        "export_type": "approved_only" if approved_only else "full",
    }
    root.mkdir(parents=True, exist_ok=True)
    tmp = root / "_meta.json.tmp"
    tmp.write_text(json.dumps(meta, indent=1))
    tmp.rename(root / "_meta.json")
    return meta


EXPORT_ROW_DDL = (
    "section string, word string, frequency long, first_seen timestamp, "
    "last_seen timestamp, approved_at timestamp"
)


def read_learned_export(spark, path: str) -> DataFrame:
    """Read an export back into the learned_words schema — the S6 import
    source (round-trips through merge_import; tested). The explicit schema
    keeps types stable regardless of JSON inference."""
    rows = spark.read.schema(EXPORT_ROW_DDL).json(f"{path}/words")
    return rows.select(
        "word",
        "frequency",
        (F.col("section") == "approved").alias("is_approved"),
        "first_seen",
        "last_seen",
        "approved_at",
    )


def kamus_union(base_words: DataFrame, learned: DataFrame) -> DataFrame:
    """J5: next epoch's dictionary = base kamus ∪ approved learned words."""
    return (
        base_words.select("word")
        .union(learned.filter("is_approved").select("word"))
        .distinct()
    )


def pending_top_k(learned: DataFrame, k: int = 50) -> DataFrame:
    """A8: pending words by frequency desc, last_seen desc
    (learning_service.py:109-121)."""
    return (
        learned.filter(~F.col("is_approved"))
        .orderBy(F.desc("frequency"), F.desc("last_seen"), F.asc("word"))
        .limit(k)
        .select("word", "frequency", "first_seen", "last_seen")
    )


def learning_stats(learned: DataFrame) -> DataFrame:
    """A4: total/approved/pending counts (learning_service.py:187-205)."""
    return learned.agg(
        F.count(F.lit(1)).alias("total_words"),
        F.sum(F.when(F.col("is_approved"), 1).otherwise(0)).alias("approved"),
        F.sum(F.when(~F.col("is_approved"), 1).otherwise(0)).alias("pending"),
    )
