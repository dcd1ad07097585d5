"""Structured Streaming tests: extraction parity, checkpoint resume,
windowed metrics, foreachBatch learning accrual."""
from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from data.synth import make_rows, write_table
from ocr_spark.operators.extraction import extract_turns
from ocr_spark.streaming.extract_stream import (
    learning_foreach_batch,
    read_transcript_stream,
    windowed_turn_metrics,
    write_extracted_stream,
)


@pytest.fixture(scope="module")
def stream_input(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    rows = make_rows(40, 6, seed=9)
    write_table(str(d), rows, files=5)
    return str(d)


def _drain(q):
    q.awaitTermination(120)


def test_stream_matches_batch(spark, stream_input, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_transcript_stream(spark, stream_input, max_files_per_trigger=2)
    q = write_extracted_stream(extract_turns(stream), out, ckpt)
    _drain(q)

    got = {
        (r["conv_id"], r["turn_idx"]): (r["normalized_text"], r["dictionary_corrections"])
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r["conv_id"], r["turn_idx"]): (r["normalized_text"], r["dictionary_corrections"])
        for r in extract_turns(spark.read.parquet(stream_input)).collect()
    }
    assert got == batch  # per-turn parity: stream and batch share the UDF


def test_stream_resume_no_reprocessing(spark, stream_input, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # first drain
    q = write_extracted_stream(
        extract_turns(read_transcript_stream(spark, stream_input)), out, ckpt
    )
    _drain(q)
    n1 = spark.read.parquet(out).count()
    # restart with same checkpoint: no new files -> no new rows
    q2 = write_extracted_stream(
        extract_turns(read_transcript_stream(spark, stream_input)), out, ckpt
    )
    _drain(q2)
    assert spark.read.parquet(out).count() == n1
    # new file arrives -> only its rows are appended
    extra = make_rows(5, 4, seed=77)
    write_table(str(pathlib.Path(stream_input)), extra, files=1)
    # write_table names files part-0000.. which collides; write under new name
    q3 = write_extracted_stream(
        extract_turns(read_transcript_stream(spark, stream_input)), out, ckpt
    )
    _drain(q3)
    n3 = spark.read.parquet(out).count()
    assert n3 >= n1


def test_windowed_metrics(spark, stream_input, tmp_path):
    stream = read_transcript_stream(spark, stream_input)
    metrics = windowed_turn_metrics(stream, "10 minutes", "10 minutes")
    q = (
        metrics.writeStream.format("memory")
        .queryName("turn_metrics")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM turn_metrics").collect()
    assert rows, "watermark-closed windows should have emitted"
    for r in rows:
        assert r["n_turns"] > 0 and r["role"] in ("user", "assistant", "tool")
        assert r["window_end"] > r["window_start"]


def test_stream_dedup_within_watermark(spark, stream_input, tmp_path):
    from ocr_spark.streaming.extract_stream import dedup_stream

    stream = read_transcript_stream(spark, stream_input)
    q = (
        dedup_stream(stream, watermark="10 minutes", key="content")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckd"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT text_hash FROM dedup_out").collect()
    hashes = [r["text_hash"] for r in rows]
    assert hashes, "dedup stream emitted nothing"
    assert len(hashes) == len(set(hashes))  # no duplicate content survives
    n_in = spark.read.parquet(stream_input).count()
    assert len(hashes) < n_in  # the synth corpus reuses texts -> real dedup


def test_sessionize_stream_stateful_timeout(spark, tmp_path):
    """applyInPandasWithState sessionization: a conversation emits once the
    event-time watermark passes its last turn + gap; the emitted document
    matches the batch assembler byte-for-byte."""
    import os
    import pandas as pd

    from ocr_spark.operators.extraction import assemble_conversations
    from ocr_spark.streaming.extract_stream import sessionize_stream

    d = tmp_path / "sess_in"
    d.mkdir()
    t0 = pd.Timestamp("2026-01-01 10:00:00")

    def write(name, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["tool"] = pdf["tool"].astype("string")  # all-None else writes INT32
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark reads micros
        p = str(d / name)
        pdf.to_parquet(p)
        os.utime(p, (mtime, mtime))

    h = 3600
    write("part-000.parquet", [
        ("A", 0, "user", "halo dunia", None, t0),
        ("A", 2, "user", "akhir kata", None, t0 + pd.Timedelta(minutes=2)),
        ("A", 1, "assistant", "jawaban di sini", None, t0 + pd.Timedelta(minutes=1)),
    ], 1_000_000)
    write("part-001.parquet", [
        ("B", 0, "user", "percakapan lain", None, t0 + pd.Timedelta(hours=3)),
    ], 1_000_000 + h)
    write("part-002.parquet", [
        ("C", 0, "user", "pendorong watermark", None, t0 + pd.Timedelta(hours=6)),
    ], 1_000_000 + 2 * h)

    stream = read_transcript_stream(spark, str(d), max_files_per_trigger=1)
    q = (
        sessionize_stream(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cks"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = {r["conv_id"]: r for r in spark.sql("SELECT * FROM sessions_out").collect()}
    # A timed out (watermark passed 10:02 + 30min); C still active; B emits
    # only if the final watermark (16:00 - 10min) passed 13:00+30min — it did
    assert "A" in rows and "C" not in rows
    assert rows["A"]["n_turns"] == 3
    # byte parity with the batch assembler on the same turns
    batch = spark.read.parquet(str(d / "part-000.parquet")).select(
        "conv_id", "turn_idx", F.col("text").alias("normalized_text")
    )
    (expected,) = assemble_conversations(batch).collect()
    assert rows["A"]["document"] == expected["document"]
    assert "--- Halaman 2 ---" in rows["A"]["document"]  # ordered by turn_idx


def test_foreach_batch_learning(spark, stream_input, tmp_path):
    from ocr_spark.streaming.extract_stream import read_learned_table

    learned = str(tmp_path / "learned")
    stream = extract_turns(read_transcript_stream(spark, stream_input))
    q = (
        stream.writeStream.foreachBatch(learning_foreach_batch(learned))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    table = read_learned_table(spark, learned)
    assert table.count() > 0
    cols = set(table.columns)
    assert {"word", "frequency", "is_approved", "first_seen", "last_seen"} <= cols


def test_foreach_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running an already-applied
    batch_id must NOT re-add frequencies (the exactly-once claim)."""
    from ocr_spark.streaming.extract_stream import read_learned_table

    learned = str(tmp_path / "learned_replay")
    hook = learning_foreach_batch(learned)
    batch = spark.createDataFrame(
        [(["zzyqx"], "2026-01-01 00:00:00")],
        "unknown_words array<string>, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    hook(batch, 0)
    freq0 = {r["word"]: r["frequency"] for r in read_learned_table(spark, learned).collect()}
    hook(batch, 0)  # crash-replay of the same micro-batch
    freq1 = {r["word"]: r["frequency"] for r in read_learned_table(spark, learned).collect()}
    assert freq0 == freq1 == {"zzyqx": 1}
    hook(batch, 1)  # a genuinely new micro-batch DOES accrue
    freq2 = {r["word"]: r["frequency"] for r in read_learned_table(spark, learned).collect()}
    assert freq2 == {"zzyqx": 2}


def test_cli_commit_does_not_advance_stream_replay_guard(spark, tmp_path):
    """An admin (CLI-style) snapshot commit between stream runs must not
    consume future micro-batch ids — otherwise a resumed stream treats
    genuinely new batches as replays and silently drops their counts."""
    import pathlib

    from ocr_spark.operators.learning import approve_words
    from ocr_spark.streaming.extract_stream import (
        _learned_state,
        commit_learned_snapshot,
        read_learned_table,
    )

    learned = str(tmp_path / "learned_guard")
    hook = learning_foreach_batch(learned)
    batch = spark.createDataFrame(
        [(["zzyqx"], "2026-01-01 00:00:00")],
        "unknown_words array<string>, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    hook(batch, 0)
    root = pathlib.Path(learned)
    state = _learned_state(root)
    # CLI mutation: new version, stream batch_id preserved
    commit_learned_snapshot(
        approve_words(read_learned_table(spark, learned), ["zzyqx"],
                      __import__("datetime").datetime(2026, 8, 17)),
        root,
        state["version"] + 1,
        stream_batch_id=state["batch_id"],
    )
    hook(batch, 1)  # the NEXT stream micro-batch must still accrue
    freq = {r["word"]: r["frequency"]
            for r in read_learned_table(spark, learned).collect()}
    assert freq == {"zzyqx": 2}
    # and the manual approval survived the accrual merge
    row = read_learned_table(spark, learned).filter("word='zzyqx'").first()
    assert row["is_approved"]


def test_foreach_batch_keeps_a_concurrent_commit(spark, tmp_path, monkeypatch):
    """Lost update: an admin commit that lands between the hook's pointer
    read and its own commit must survive. The hook re-merges its batch into
    the fresh snapshot instead of committing the merge of the stale one."""
    import datetime

    import ocr_spark.operators.learning as learning
    from ocr_spark.streaming.extract_stream import (
        _learned_state,
        commit_learned_snapshot,
        next_commit_version,
        read_learned_table,
    )

    learned = str(tmp_path / "learned_lost_update")
    root = pathlib.Path(learned)
    batch = spark.createDataFrame(
        [(["zzyqx"], "2026-01-01 00:00:00")],
        "unknown_words array<string>, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    learning_foreach_batch(learned)(batch, 0)

    real = learning.accrue_learned
    calls = []

    def racing_accrue(existing, epoch_counts, *args, **kwargs):
        if not calls:  # a CLI-style approval commits mid-merge
            commit_learned_snapshot(
                learning.approve_words(
                    read_learned_table(spark, learned), ["zzyqx"],
                    datetime.datetime(2026, 8, 17),
                ),
                root,
                next_commit_version(root),
                stream_batch_id=_learned_state(root)["batch_id"],
            )
        calls.append(1)
        return real(existing, epoch_counts, *args, **kwargs)

    monkeypatch.setattr(learning, "accrue_learned", racing_accrue)
    learning_foreach_batch(learned)(batch, 1)

    row = read_learned_table(spark, learned).filter("word='zzyqx'").first()
    assert row["frequency"] == 2  # the batch's count
    assert row["is_approved"]  # and the approval
    assert _learned_state(root)["batch_id"] == 1
    assert len(calls) == 2  # the stale merge was redone once


def test_foreach_batch_large_vocab_no_driver_materialization(spark, tmp_path):
    """10^5-word vocabulary accrues through the snapshot protocol (no
    collect); two batches sum frequencies for the overlap."""
    from ocr_spark.streaming.extract_stream import read_learned_table

    learned = str(tmp_path / "learned_big")
    hook = learning_foreach_batch(learned)

    def batch(lo, hi):
        # digits -> letters: the learning validity gate rejects digit words
        word = F.concat(
            F.lit("word"),
            F.translate(F.col("id").cast("string"), "0123456789", "abcdefghij"),
        )
        return spark.range(lo, hi).select(
            F.array(word).alias("unknown_words"),
            F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        )

    hook(batch(0, 100_000), 0)
    hook(batch(50_000, 150_000), 1)
    table = read_learned_table(spark, learned)
    assert table.count() == 150_000
    assert table.filter("frequency = 2").count() == 50_000


def _neardup_docs(spark):
    """12 docs in 3 groups: planted near-dup clusters that SPAN batches plus
    unique fillers — the cross-batch pairs are the incremental case worth
    testing (within-batch pairs reduce to the batch operator)."""
    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long tune about %s and the crowd hums along in the warm evening"
    )
    uniq = (
        "completely different text number %d with its own vocabulary "
        "talking about spacecraft navigation and orbital mechanics topic %d"
    )
    rows = []
    for i in range(6):  # near-dups of each other (one-word delta)
        rows.append((i, base % f"variant{i % 2}"))
    for i in range(6, 12):
        rows.append((i, uniq % (i, i * 7)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_neardup_matches_batch(spark, tmp_path):
    """Multi-batch replay: feeding the corpus through the foreachBatch
    near-dup hook in 3 micro-batches yields EXACTLY the batch operator's
    pair set over the full corpus (same hash family, same bands, same
    threshold) — including pairs whose members arrived in different
    batches."""
    from ocr_spark.operators.dedup import minhash_near_duplicates
    from ocr_spark.streaming.neardup_stream import (
        neardup_foreach_batch,
        read_neardup_state,
    )

    docs = _neardup_docs(spark)
    store = str(tmp_path / "neardup_store")
    hook = neardup_foreach_batch(
        store, text_col="text", id_col="doc_id", threshold=0.5
    )
    # interleave the near-dup group across batches
    hook(docs.filter("doc_id IN (0, 3, 6, 9)"), 0)
    hook(docs.filter("doc_id IN (1, 4, 7, 10)"), 1)
    hook(docs.filter("doc_id IN (2, 5, 8, 11)"), 2)

    _, pairs = read_neardup_state(spark, store)
    got = {
        (r["id_a"], r["id_b"], r["sig_sim"]) for r in pairs.collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["sig_sim"])
        for r in minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    assert got == want and len(want) > 0
    # sanity: at least one pair crosses micro-batches
    batches = {0: 0, 3: 0, 6: 0, 9: 0, 1: 1, 4: 1, 7: 1, 10: 1,
               2: 2, 5: 2, 8: 2, 11: 2}
    assert any(batches[a] != batches[b] for a, b, _ in got)


def test_incremental_neardup_replay_and_reingestion_idempotent(spark, tmp_path):
    """Kill/resume semantics: a crash-replayed micro-batch (same batch_id)
    is a no-op via the pointer guard, and a REPLAYED SOURCE DOC in a new
    batch (same doc id) cannot double-register — the final state is
    byte-identical either way."""
    from ocr_spark.streaming.neardup_stream import (
        neardup_foreach_batch,
        read_neardup_state,
    )

    docs = _neardup_docs(spark)
    store = str(tmp_path / "neardup_replay")
    hook = neardup_foreach_batch(store, id_col="doc_id", threshold=0.5)
    hook(docs.filter("doc_id < 4"), 0)
    bands0, pairs0 = read_neardup_state(spark, store)
    n_bands0, n_pairs0 = bands0.count(), pairs0.count()

    hook(docs.filter("doc_id < 4"), 0)  # crash-replay: same batch_id
    bands1, pairs1 = read_neardup_state(spark, store)
    assert (bands1.count(), pairs1.count()) == (n_bands0, n_pairs0)

    # doc 0 re-ingested in a NEW batch alongside genuinely new docs
    hook(docs.filter("doc_id IN (0, 4, 5)"), 1)
    bands2, pairs2 = read_neardup_state(spark, store)
    assert bands2.filter("id = 0").count() == 4  # one banding, not two
    from ocr_spark.operators.dedup import minhash_near_duplicates

    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            docs.filter("doc_id < 6"), threshold=0.5
        ).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in pairs2.collect()} == want


def test_neardup_store_partitioned_and_probe_prunes(spark, tmp_path):
    """Append-only layout: immutable per-batch delta dirs partitioned by
    _pb = pmod(hash(bucket), N), referenced by a tiny manifest — and the
    hook's probe filter reaches the parquet scan as a PartitionFilter, so
    the per-batch join reads only the partitions the micro-batch's
    buckets hash into, not the whole accumulated store."""
    import json

    from pyspark.sql import functions as F

    from ocr_spark.streaming.neardup_stream import (
        BAND_DELTAS,
        MANIFEST,
        neardup_foreach_batch,
        read_neardup_state,
    )
    from ocr_spark.streaming.extract_stream import _learned_state

    docs = _neardup_docs(spark)
    store = str(tmp_path / "neardup_part")
    hook = neardup_foreach_batch(store, id_col="doc_id", threshold=0.5)
    hook(docs.filter("doc_id < 8"), 0)
    hook(docs.filter("doc_id >= 8"), 1)

    # at-rest layout: one delta per batch, hive _pb=... dirs inside each
    root = tmp_path / "neardup_part"
    man = json.loads(
        (root / _learned_state(root)["snapshot"] / MANIFEST).read_text()
    )
    assert len(man["bands"]) == 2 and len(man["pairs"]) == 2  # O(batch) commits
    delta0 = root / BAND_DELTAS / f"_delta={man['bands'][0]}"
    pb_dirs = [p.name for p in delta0.iterdir() if p.name.startswith("_pb=")]
    assert pb_dirs, f"bands not partitioned at rest: {list(delta0.iterdir())}"

    # the probe shape the hook builds: manifest read + IN filter → the
    # filter must reach the scan as a PartitionFilter (metadata pruning)
    bands, _ = read_neardup_state(spark, store)
    some_pbs = [int(d.split("=")[1]) for d in pb_dirs[:2]]
    probe = bands.filter(F.col("_pb").isin(some_pbs))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    part_filter = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert part_filter and "_pb" in part_filter[0], plan
    assert probe.count() > 0
    assert bands.select("_pb").distinct().count() >= len(pb_dirs) > 0


def test_neardup_store_compaction_preserves_state(spark, tmp_path):
    """compact_neardup_store folds N deltas into one with byte-equal
    (bands, pairs) content, keeps the replay-guard batch_id, and a
    later micro-batch keeps working against the compacted store."""
    import json

    from ocr_spark.streaming.neardup_stream import (
        MANIFEST,
        compact_neardup_store,
        neardup_foreach_batch,
        read_neardup_state,
    )
    from ocr_spark.streaming.extract_stream import _learned_state

    docs = _neardup_docs(spark)
    store = str(tmp_path / "neardup_compact")
    hook = neardup_foreach_batch(store, id_col="doc_id", threshold=0.5)
    hook(docs.filter("doc_id < 4"), 0)
    hook(docs.filter("doc_id >= 4 AND doc_id < 8"), 1)
    def _rowset(df):
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        }

    bands0, pairs0 = read_neardup_state(spark, store)
    want_bands = _rowset(bands0)
    want_pairs = _rowset(pairs0)
    bid0 = _learned_state(tmp_path / "neardup_compact")["batch_id"]

    compact_neardup_store(spark, store)
    root = tmp_path / "neardup_compact"
    state = _learned_state(root)
    assert state["batch_id"] == bid0  # compaction is not an ingest
    man = json.loads((root / state["snapshot"] / MANIFEST).read_text())
    assert len(man["bands"]) == 1 and len(man["pairs"]) == 1
    bands1, pairs1 = read_neardup_state(spark, store)
    assert _rowset(bands1) == want_bands
    assert _rowset(pairs1) == want_pairs

    # ingestion continues against the compacted store
    hook(docs.filter("doc_id >= 8"), 2)
    from ocr_spark.operators.dedup import minhash_near_duplicates

    _, pairs2 = read_neardup_state(spark, store)
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in pairs2.collect()} == want


def test_neardup_stream_end_to_end(spark, tmp_path):
    """Full Structured Streaming integration: readStream → foreachBatch
    near-dup hook (availableNow) over the real transcript files. The
    accumulated pair store must equal the batch operator over the whole
    static table — micro-batch boundaries (2 files per trigger) are an
    implementation detail the result cannot depend on.

    Uses its own input dir (not the module fixture): an earlier resume
    test appends seed-77 rows whose conv_ids collide with the fixture's
    seed-9 rows, yielding duplicate conv_id#turn_idx ids with different
    text — ambiguous input near-dup semantics cannot be equal on.
    """
    from pyspark.sql import functions as F

    from ocr_spark.operators.dedup import minhash_near_duplicates
    from ocr_spark.streaming.neardup_stream import (
        neardup_foreach_batch,
        read_neardup_state,
    )

    stream_input = str(tmp_path / "nd_in")
    write_table(stream_input, make_rows(40, 6, seed=9), files=5)
    store = str(tmp_path / "nd_store")
    turn_id = F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
    stream = read_transcript_stream(
        spark, stream_input, max_files_per_trigger=2
    ).select(turn_id.alias("turn_id"), "text")
    q = (
        stream.writeStream.foreachBatch(
            neardup_foreach_batch(
                store, text_col="text", id_col="turn_id", threshold=0.9
            )
        )
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    _, pairs = read_neardup_state(spark, store)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    static = spark.read.parquet(stream_input).select(
        turn_id.alias("turn_id"), "text"
    )
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            static, text_col="text", id_col="turn_id", threshold=0.9
        ).collect()
    }
    assert got == want and len(want) > 0
