"""Streaming incremental MinHash-LSH near-dup against the accumulated corpus.

The batch near-dup operators (ocr_spark.operators.dedup) answer "which
pairs in THIS corpus are near-duplicates"; a real ingest pipeline asks a
different question per micro-batch: "which of these NEW documents
near-duplicate anything seen so far". ``dropDuplicatesWithinWatermark``
covers exact dedup with bounded state, but MinHash-LSH state (band
postings) must outlive any watermark — so it lives in a versioned snapshot
store committed through the SAME protocol as the learned-words table
(extract_stream.commit_snapshot: staged write → pointer check, rename and
pointer swap under one lock → deferred GC; batch_id replay guard for
foreachBatch's at-least-once semantics).

APPEND-ONLY LAYOUT (the Iceberg-append analogue, upgraded from the
round-3 full-rewrite): a snapshot is a tiny ``manifest.json`` listing
immutable per-batch DELTA directories —

    root/_CURRENT                      → names the live v… (extract_stream)
    root/v…/manifest.json              → {"bands": [names], "pairs": [names]}
    root/band_deltas/_delta=<name>/_pb=<k>/*.parquet   (per-batch, immutable)
    root/pair_deltas/_delta=<name>/*.parquet

so a commit writes O(micro-batch) rows + one JSON, never rewriting the
accumulated table (the r3 layout rewrote ALL bands every batch — the
documented O(corpus) seam, now closed). Reading a snapshot = reading the
manifest's delta dirs with ``basePath`` partition discovery; the
``_delta`` partition column is dropped, ``_pb`` stays.

Per micro-batch (``foreachBatch`` hook):

1. signatures + banded (band, bucket) rows for the new documents — the
   same single-pass arithmetic as the batch operator
   (dedup.minhash_signatures / dedup.band_buckets), so stream and batch
   share one hash family definition;
2. documents whose id is already in the store are dropped (idempotent
   re-ingestion — a replayed source file cannot double-register a doc);
3. candidate pairs = genuinely-new banded rows joined against the
   ACCUMULATED ∪ new banded rows on (band, bucket) — the new side is the
   micro-batch (small by construction) and broadcasts, and the
   accumulated side is read through a ``_pb IN (batch's buckets)`` filter
   that prunes at the parquet-partition level;
4. snapshot N+1 = manifest(old deltas + this batch's delta), committed
   atomically. A pair's discovery batch is unique (ids register exactly
   once, and a pair needs at least one newly-registered member), so
   cross-batch pair dedup is structurally unnecessary — the per-batch
   ``distinct`` is the only one.

Incremental-vs-batch equality: a pair (a, b) with b ingested at or after
a collides in some (band, bucket) — exactly the batch candidate
condition — and is found by the join in b's micro-batch (both sides of
the bucket are present: a from the store, b from the batch). The final
pair set therefore equals ``minhash_near_duplicates`` over the full
corpus with the same (n_hashes, n_bands, k, threshold)
(tests/test_streaming.py pins this over a multi-batch replay).

At 100 TB: per-batch work is O(batch) write + a partition-pruned probe
of the accumulated bands (O(docs × n_bands) fixed-width rows at rest).
Delta-file count grows with batch count — run
:func:`compact_neardup_store` periodically (reads everything once,
commits ONE delta); unreferenced delta debris from crashes/compaction is
swept once the live pointer passes it. The hot-bucket cap is a
BATCH-side concept (global posting sizes aren't known incrementally);
cap-sensitive deployments should periodically re-run the batch operator
to rebuild the store (documented trade-off).
"""
from __future__ import annotations

import json
import pathlib
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import band_buckets, minhash_signatures
from ocr_spark.streaming.extract_stream import (
    KEEP_SNAPSHOTS,
    commit_snapshot,
    live_snapshot,
    require_local_path,
)

BAND_DELTAS = "band_deltas"
PAIR_DELTAS = "pair_deltas"
MANIFEST = "manifest.json"

#: at-rest partition count for the bands table: pmod(hash(bucket), N).
#: Spark's hash() is murmur3 and deterministic across sessions, so the
#: same bucket digest always lands in the same partition on every commit.
BANDS_PARTITIONS = 16


def _with_pb(bands: DataFrame) -> DataFrame:
    """Attach the at-rest partition key (idempotent)."""
    if "_pb" in bands.columns:
        return bands
    return bands.withColumn(
        "_pb", F.pmod(F.hash("bucket"), F.lit(BANDS_PARTITIONS))
    )


def _read_manifest(snapshot: pathlib.Path) -> dict:
    return json.loads((snapshot / MANIFEST).read_text())


def _write_manifest(tmp: pathlib.Path, bands: list[str], pairs: list[str]) -> None:
    (tmp / MANIFEST).write_text(json.dumps({"bands": bands, "pairs": pairs}))


def _read_deltas(
    spark: SparkSession, base: pathlib.Path, names: list[str]
) -> DataFrame | None:
    """Union the named immutable delta dirs via basePath partition
    discovery; the synthetic ``_delta`` partition column is dropped."""
    if not names:
        return None
    paths = [str(base / f"_delta={n}") for n in names]
    return (
        spark.read.option("basePath", str(base)).parquet(*paths).drop("_delta")
    )


def _read_snapshot(
    spark: SparkSession, snapshot: pathlib.Path
) -> tuple[DataFrame, DataFrame]:
    root, man = snapshot.parent, _read_manifest(snapshot)
    bands = _read_deltas(spark, root / BAND_DELTAS, man["bands"])
    pairs = _read_deltas(spark, root / PAIR_DELTAS, man["pairs"])
    assert bands is not None and pairs is not None  # empty first commits are skipped
    return bands, pairs


def read_neardup_state(
    spark: SparkSession, store_path: str
) -> tuple[DataFrame, DataFrame] | None:
    """The live snapshot's (bands, pairs), each the union of its manifest's
    deltas; None before the first commit."""
    snapshot = live_snapshot(store_path, "near-dup store root")
    return None if snapshot is None else _read_snapshot(spark, snapshot)


def _banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    n_bands: int,
    k: int,
) -> DataFrame:
    """(id, signature, band, bucket) rows — the store's unit of state,
    identical arithmetic to the batch operator's posting source."""
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, k)
    from ocr_spark.functions.explode import posexplode_nonnull

    return posexplode_nonnull(
        sigs, band_buckets("signature", n_bands), "band", "bucket",
        "id", "signature",
    )


def _sig_sim(a, b):
    return F.round(
        F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq))
        / F.size(a),
        6,
    )


def _write_delta(
    bands: DataFrame | None,
    pairs: DataFrame | None,
    root: pathlib.Path,
    name: str,
) -> None:
    """Write one immutable per-batch delta (bands partitioned by _pb)."""
    if bands is not None:
        bands.write.mode("errorifexists").partitionBy("_pb").parquet(
            str(root / BAND_DELTAS / f"_delta={name}")
        )
    if pairs is not None:
        pairs.write.mode("errorifexists").parquet(
            str(root / PAIR_DELTAS / f"_delta={name}")
        )


def _sweep_orphan_deltas(root: pathlib.Path, version: int) -> None:
    """After committing ``version``, delete delta dirs referenced by NO
    ``v*`` manifest and born below the keep window — crash debris and
    compacted-away history. An in-flight writer whose delta falls below the
    window read a pointer older than this commit, so its commit conflicts
    and retries with a fresh delta."""
    horizon = version - (KEEP_SNAPSHOTS + 1)
    referenced: set[str] = set()
    for snap in root.glob("v*"):
        mf = snap / MANIFEST
        if mf.exists():
            man = json.loads(mf.read_text())
            referenced.update(man.get("bands", []))
            referenced.update(man.get("pairs", []))
    for base in (root / BAND_DELTAS, root / PAIR_DELTAS):
        if not base.exists():
            continue
        for d in base.glob("_delta=*"):
            name = d.name.split("=", 1)[1]
            try:
                born = int(name.rsplit("x", 1)[1].split("-", 1)[0])
            except (IndexError, ValueError):
                continue
            if name not in referenced and born <= horizon:
                shutil.rmtree(d, ignore_errors=True)


def _commit_and_sweep(root: pathlib.Path, build, batch_id: int | None = None) -> None:
    version = commit_snapshot(root, build, batch_id)
    if version is not None:
        _sweep_orphan_deltas(root, version)


def neardup_foreach_batch(
    store_path: str,
    text_col: str = "text",
    id_col: str = "conv_id",
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
):
    """``foreachBatch`` hook: near-dup each micro-batch against the
    accumulated corpus and fold the result into the versioned store,
    exactly once per batch_id (extract_stream.commit_snapshot). Each
    attempt writes a FRESH delta; a lost attempt's delta is debris for the
    orphan sweep.

    Commit cost is O(micro-batch): one delta write + one manifest JSON —
    the accumulated table is never rewritten (append-only manifests; the
    true Iceberg deployment maps 1:1 onto append commits)."""
    root = require_local_path(store_path, "near-dup store root")

    def hook(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        def build(snapshot, version, tmp):
            man = _read_manifest(snapshot) if snapshot else {"bands": [], "pairs": []}
            old_bands = _read_deltas(spark, root / BAND_DELTAS, man["bands"])
            new_bands = _with_pb(
                _banded(batch_df, text_col, id_col, n_hashes, n_bands, k)
            )
            if old_bands is not None:
                # idempotent re-ingestion: a doc id already registered
                # (replayed source file) must not re-enter the state
                seen = old_bands.select("id").distinct()
                new_bands = new_bands.join(seen, "id", "left_anti")

            # partition-pruned probe: only store partitions holding the
            # micro-batch's buckets can produce a collision — the IN
            # filter reaches the parquet scan as a PartitionFilter
            # (pinned in tests/test_streaming.py). new_bands' own buckets
            # satisfy the filter by construction.
            batch_pbs = [
                row[0] for row in new_bands.select("_pb").distinct().collect()
            ]
            if not batch_pbs:
                if snapshot is None:
                    # an empty FIRST batch must not commit (no delta to
                    # reference); the replayed empty batch is idempotent
                    return False
                # record the batch_id against replays; manifest unchanged
                _write_manifest(tmp, man["bands"], man["pairs"])
                return True
            probe_old = (
                old_bands.filter(F.col("_pb").isin(batch_pbs))
                if old_bands is not None
                else None
            )
            probe = (
                new_bands if probe_old is None
                else probe_old.unionByName(new_bands)
            )
            # the new side is the micro-batch — broadcast it so the
            # accumulated-side probe is a shuffle-free scan
            l, r = F.col("l"), F.col("r")
            cand = (
                F.broadcast(
                    new_bands.select(
                        F.struct("id", "signature").alias("l"), "band", "bucket"
                    )
                )
                .join(
                    probe.select(
                        F.struct("id", "signature").alias("r"), "band", "bucket"
                    ),
                    ["band", "bucket"],
                )
                .filter(l["id"] != r["id"])
                .select(
                    F.when(l["id"] < r["id"], l["id"]).otherwise(r["id"]).alias("id_a"),
                    F.when(l["id"] < r["id"], r["id"]).otherwise(l["id"]).alias("id_b"),
                    _sig_sim(l["signature"], r["signature"]).alias("sig_sim"),
                )
                .filter(F.col("sig_sim") >= threshold)
                .distinct()
            )

            # unique delta name: batch id + target version + entropy, so a
            # retried commit never collides with its own debris
            name = f"b{batch_id}x{version}-{uuid.uuid4().hex[:8]}"
            _write_delta(new_bands, cand, root, name)
            _write_manifest(tmp, man["bands"] + [name], man["pairs"] + [name])
            return True

        _commit_and_sweep(root, build, batch_id)

    return hook


def compact_neardup_store(spark: SparkSession, store_path: str) -> None:
    """Rewrite the accumulated state into ONE delta and commit a manifest
    referencing only it — bounds delta-file growth; superseded deltas are
    swept once the pointer passes the keep window. Keeps the recorded
    stream batch_id unchanged (compaction is not an ingest)."""
    root = require_local_path(store_path, "near-dup store root")

    def build(snapshot, version, tmp):
        if snapshot is None:
            return False
        name = f"compactx{version}-{uuid.uuid4().hex[:8]}"
        _write_delta(*_read_snapshot(spark, snapshot), root, name)
        _write_manifest(tmp, [name], [name])
        return True

    _commit_and_sweep(root, build)
