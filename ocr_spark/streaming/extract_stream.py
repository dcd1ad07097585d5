"""Structured Streaming rendition of the extraction pipeline.

The reference is purely request-at-a-time (SURVEY.md §2.6: no streaming
features); its incremental aspects map to batch-epoch jobs. This module
provides the *streaming deployment shape* anyway, because a transcript lake
ingests continuously: ``extract_turns`` (the batch path's fused extraction
UDF) runs unchanged over a file-source stream with exactly-once sink
semantics via checkpointing — Structured Streaming's incremental execution
IS the scaling story (each micro-batch is the batch plan over new files
only).

Also included: a watermarked sliding-window per-language throughput metric
stream (the streaming analog of A2's per-day counts) demonstrating late-data
handling, and a ``foreachBatch`` learning accrual hook that reuses the batch
epoch merge (ocr_spark.operators.learning) so stream and batch share one
code path for A7.

Versioned snapshot tables (the learned-words table, the streaming near-dup
store in ``neardup_stream``) are read through :func:`live_snapshot` and
written through :func:`commit_snapshot` (:func:`commit_learned_snapshot`
for a caller that picks its own version); this module alone knows the
``_CURRENT`` pointer's keys, the version numbering and the conflict rule.
"""
from __future__ import annotations

import fcntl
import json
import pathlib
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ocr_spark.plans.job import INPUT_COLUMNS
from ocr_spark.session import read_parquet

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_transcript_stream(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """File-source stream over a transcript directory: new parquet files are
    the micro-batch unit (the streaming analog of the batch job's file-group
    checkpoint; both resume from durable progress — WAL offsets here,
    manifests there). ``maxFilesPerTrigger`` bounds batch size so executor
    memory is stable regardless of backlog depth."""
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
        .select(*INPUT_COLUMNS)
    )


def write_extracted_stream(
    extracted: DataFrame, output_path: str, checkpoint_path: str
) -> StreamingQuery:
    """Append sink with checkpointed exactly-once file output. The
    ``availableNow`` trigger drains the current backlog and stops —
    kill-and-restart resumes from the checkpoint without reprocessing
    (tested in tests/test_streaming.py)."""
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_turn_metrics(
    stream: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Watermarked sliding-window turn counts per role — the streaming
    analog of A2 (per-day request counts, db_service.py:265-278). The
    watermark bounds state: late turns beyond it are dropped, so state size
    is O(windows in flight), not O(stream length)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("role"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.octet_length("text")).alias("bytes_in"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
            "bytes_in",
        )
    )


def dedup_stream(
    stream: DataFrame,
    watermark: str = "1 hour",
    key: str = "content",
) -> DataFrame:
    """Streaming exact dedup with bounded state: drop rows whose key was
    already seen within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — state evicts past the watermark,
    so memory is O(keys per horizon), not O(stream length)).

    ``key='content'`` dedups on the md5 of the text (the streaming analog
    of the batch exact_dedup operator); ``key='turn'`` on (conv_id,
    turn_idx) — idempotent re-ingestion of replayed source files."""
    s = stream.withWatermark("ts", watermark)
    if key == "content":
        return (
            s.withColumn(
                "text_hash", F.md5(F.coalesce(F.col("text"), F.lit("")))
            ).dropDuplicatesWithinWatermark(["text_hash"])
        )
    return s.dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])


def sessionize_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: assemble
    each conversation's turns into one document, emitting when the
    conversation has been silent for ``gap`` of EVENT time — the streaming
    rendition of the batch page-order assembly
    (operators/extraction.assemble_conversations; reference
    ocr_service.py:594-609), with identical document text (parity-tested).

    State per conv_id = the accumulated (turn_idx, text) list; an
    event-time timeout at last_ts + gap fires once the watermark passes it,
    so state is bounded by conversations active within the watermark
    horizon — late turns inside the horizon still join their session;
    beyond it the watermark has already sealed the document. This is the
    operator shape (hand-managed state + timeout) that windowed aggs can't
    express: output depends on per-group ORDER, not just counts."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = _duration_ms(gap)
    out_schema = (
        "conv_id string, document string, n_turns int, last_ts timestamp"
    )
    state_schema = "turns array<struct<i:int,t:string>>, last_ms long"

    def assemble(turns: list) -> str:
        # filter BEFORE sorting: None text inside the sort key would raise
        # on a (same-idx, None) vs (same-idx, str) comparison
        nonempty = [(i, t) for i, t in turns if t is not None and t.strip()]
        return "\n\n".join(
            f"--- Halaman {i + 1} ---\n{t}" for i, t in sorted(nonempty)
        )

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            (turns, last_ms) = state.get
            turns = [(int(s["i"]), s["t"]) for s in turns]
            doc = assemble(turns)
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "document": [doc],
                    "n_turns": [sum(1 for _, t in turns if t and t.strip())],
                    "last_ts": [pd.Timestamp(last_ms, unit="ms")],
                }
            )
            return
        turns = []
        last_ms = 0
        if state.exists:
            prev_turns, last_ms = state.get
            turns = list(prev_turns)
        for pdf in pdfs:
            for i, t, ts in zip(pdf["turn_idx"], pdf["text"], pdf["ts"]):
                turns.append({"i": int(i), "t": t})
                last_ms = max(last_ms, int(pd.Timestamp(ts).value // 10**6))
        state.update((turns, last_ms))
        state.setTimeoutTimestamp(last_ms + gap_ms)
        yield pd.DataFrame(
            {"conv_id": [], "document": [], "n_turns": [], "last_ts": []}
        )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _duration_ms(spec: str) -> int:
    """'30 minutes' / '2 hours' / '90 seconds' -> milliseconds."""
    n, unit = spec.split()
    factor = {
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit]
    return int(n) * factor


#: pointer file naming the live snapshot of a versioned table
LEARNED_CURRENT = "_CURRENT"
#: snapshot dirs kept below the live one by each commit's GC
KEEP_SNAPSHOTS = 2
COMMIT_ATTEMPTS = 3


class SnapshotConflict(RuntimeError):
    """Another writer committed first; re-read the pointer and retry."""

    def __init__(self, root: pathlib.Path, reason: str):
        super().__init__(
            f"concurrent commit on {root}: {reason}; re-read state and retry"
        )


def require_local_path(path: str | pathlib.Path, what: str) -> pathlib.Path:
    """The versioned-table root (and the learned-words export) is a
    LOCAL-FILESYSTEM contract: the commit relies on ``flock`` and
    ``os.rename`` atomicity and the pointer/meta files are written with
    pathlib, while the row data goes through ``df.write`` — on an object
    store (s3a://...) or HDFS the two halves would land in different
    filesystems. Reject URI-schemed paths loudly instead of splitting the
    artifact; strip a ``file://`` prefix, which pathlib would read as a
    relative path."""
    s = str(path)
    scheme, sep, _ = s.partition("://")
    if sep and scheme != "file":
        raise NotImplementedError(
            f"{what} requires a local filesystem path (atomic-rename commit "
            f"protocol); got scheme {scheme!r}: {s}. Use an Iceberg/metastore "
            f"commit for object-store deployments."
        )
    return pathlib.Path(s[7:] if s.startswith("file://") else s)


def _learned_state(root: pathlib.Path) -> dict | None:
    cur = root / LEARNED_CURRENT
    if not cur.exists():
        return None
    return json.loads(cur.read_text())


def _state_version(state: dict | None) -> int:
    if state is None:
        return -1
    # .get fallback: pointers from before the version/batch_id split
    return state.get("version", state.get("batch_id", -1))


def _next_version(root: pathlib.Path, state: dict | None) -> int:
    dir_max = -1
    for p in root.glob("v*"):
        try:
            dir_max = max(dir_max, int(p.name[1:]))
        except ValueError:
            continue
    return max(_state_version(state), dir_max) + 1


def next_commit_version(root: pathlib.Path) -> int:
    """The version a new commit on ``root`` targets: one past both the
    pointer and the highest snapshot dir (see :func:`commit_snapshot`)."""
    return _next_version(root, _learned_state(root))


def live_snapshot(
    path: str | pathlib.Path, what: str = "versioned table root"
) -> pathlib.Path | None:
    """The snapshot dir ``_CURRENT`` names; None before the first commit."""
    root = require_local_path(path, what)
    state = _learned_state(root)
    return root / state["snapshot"] if state else None


def read_learned_table(spark: SparkSession, learned_table_path: str) -> DataFrame | None:
    """The live snapshot of a versioned learned table; None when no
    snapshot has been committed yet."""
    snapshot = live_snapshot(learned_table_path, "learned table root")
    return None if snapshot is None else read_parquet(spark, str(snapshot))


def commit_snapshot(
    path: str | pathlib.Path, build, batch_id: int | None = None
) -> int | None:
    """Commit the next snapshot of the versioned table at ``path``: the one
    write path of every versioned table (the learned-words table, the
    streaming near-dup store). Returns the committed version, or None when
    nothing was committed. This is the plain-local-filesystem rendition of
    an Iceberg snapshot commit.

    Layout: ``_CURRENT`` holds ``{"snapshot": "v{version:010d}", "version",
    "batch_id"}``; ``version`` counts every commit by any writer and names
    the snapshot dir; ``batch_id`` is the last streaming micro-batch applied.

    ``build(snapshot, version, tmp)`` writes the new snapshot's full content
    into the empty staging dir ``tmp``, derived from the live snapshot dir
    ``snapshot`` (None before the first commit); it may return False to
    commit nothing.

    ``batch_id`` makes a ``foreachBatch`` writer exactly-once across
    at-least-once replays: when the pointer already records a batch_id at
    or past it, nothing is built. Admin writers pass None and the pointer's
    batch_id is carried over unchanged — advancing it would make a resumed
    stream drop new micro-batches as replays.

    Each attempt reads ``_CURRENT`` once; the replay guard, the version and
    the build input all come from that read. The version is one past both
    the pointer and the highest ``v*`` dir, so crash debris (a writer that
    died between renaming its snapshot dir and swapping the pointer) is
    skipped, never reused or deleted early. Under an exclusive ``flock`` on
    ``_CURRENT.lock`` the commit checks that the pointer still equals the
    one read and that ``v{version}`` does not exist, renames the staging
    dir to it and atomically replaces ``_CURRENT``. Otherwise
    :class:`SnapshotConflict`: the staging is discarded and the attempt
    starts over from a fresh read, so a concurrent commit is merged into,
    never overwritten. A build error while the pointer moved (a faster
    writer's GC deleted the snapshot being read lazily) is retried the same
    way; any other error propagates, as does the last of
    ``COMMIT_ATTEMPTS`` conflicts. The lock and the renames need one local
    filesystem (:func:`require_local_path`); a metastore/Iceberg commit
    transaction is the deployment-grade rendition.

    After the swap, still under the lock, GC keeps ``KEEP_SNAPSHOTS`` + 1
    snapshot dirs (one extra for a concurrent writer still lazily reading
    the previous one); everything swept is below the pointer just
    committed."""
    root = require_local_path(path, "versioned table root")
    root.mkdir(parents=True, exist_ok=True)
    for attempt in range(1, COMMIT_ATTEMPTS + 1):
        state = _learned_state(root)
        last_batch = state.get("batch_id") if state else None
        if batch_id is not None and last_batch is not None and batch_id <= last_batch:
            return None  # at-least-once replay of an applied micro-batch
        version = _next_version(root, state)
        snapshot = root / state["snapshot"] if state else None
        try:
            return _commit(
                root, state, version, last_batch if batch_id is None else batch_id,
                lambda tmp: build(snapshot, version, tmp),
            )
        except SnapshotConflict:
            if attempt == COMMIT_ATTEMPTS:
                raise
        except Exception:
            if attempt == COMMIT_ATTEMPTS or _learned_state(root) == state:
                raise


def update_learned_table(
    spark: SparkSession, path: str, derive, batch_id: int | None = None
) -> int | None:
    """Commit ``derive(live table or None)`` as the learned table's next
    snapshot through :func:`commit_snapshot`; the merge runs on the
    executors (no collect)."""

    def build(snapshot, version, tmp):
        live = read_parquet(spark, str(snapshot)) if snapshot else None
        derive(live).write.mode("overwrite").parquet(str(tmp))

    return commit_snapshot(path, build, batch_id)


def learning_foreach_batch(learned_table_path: str):
    """``foreachBatch`` hook: accrue each micro-batch's unknown-word counts
    into the learned table with the batch epoch merge (A7; epoch ==
    micro-batch), exactly once per batch_id."""
    from ocr_spark.operators.learning import accrue_learned, epoch_word_counts

    def hook(batch_df: DataFrame, batch_id: int) -> None:
        update_learned_table(
            batch_df.sparkSession,
            learned_table_path,
            lambda live: accrue_learned(live, epoch_word_counts(batch_df)),
            batch_id,
        )

    return hook


def commit_learned_snapshot(
    merged: DataFrame,
    root: pathlib.Path,
    version: int,
    stream_batch_id: int | None = None,
) -> None:
    """Commit ``merged`` as snapshot ``version`` of the learned table at
    ``root``, once: :func:`commit_snapshot`'s protocol for a caller that
    picked its own version (:func:`next_commit_version`). Raises
    :class:`SnapshotConflict` when the pointer is already at or past
    ``version``."""
    root = require_local_path(root, "learned table root")
    root.mkdir(parents=True, exist_ok=True)
    state = _learned_state(root)
    if _state_version(state) >= version:
        raise SnapshotConflict(root, f"pointer already at or past v{version:010d}")
    _commit(
        root, state, version, stream_batch_id,
        lambda tmp: merged.write.mode("overwrite").parquet(str(tmp)),
    )


def _commit(root, state, version, batch_id, stage) -> int | None:
    """One attempt of :func:`commit_snapshot` against the pointer ``state``."""
    snap = f"v{version:010d}"
    tmp = root / f"_tmp-{snap}-{uuid.uuid4().hex[:8]}"  # per-writer staging
    tmp.mkdir()
    try:
        if stage(tmp) is False:
            return None
        with open(root / f"{LEARNED_CURRENT}.lock", "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)  # released on close or exit
            if _learned_state(root) != state:
                raise SnapshotConflict(root, "pointer moved since it was read")
            if (root / snap).exists():
                raise SnapshotConflict(root, f"snapshot dir {snap} already exists")
            tmp.rename(root / snap)
            ptr_tmp = root / f"{LEARNED_CURRENT}.tmp-{uuid.uuid4().hex[:8]}"
            ptr_tmp.write_text(
                json.dumps({"snapshot": snap, "version": version, "batch_id": batch_id})
            )
            ptr_tmp.rename(root / LEARNED_CURRENT)  # atomic commit
            for old in sorted(root.glob("v*"))[: -(KEEP_SNAPSHOTS + 1)]:
                shutil.rmtree(old)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # already gone once renamed
    return version
