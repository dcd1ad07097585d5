"""The learning admin CLI (ocr_spark/plans/run_learning.py), run in process:
one JSON line per command, and every mutation commits exactly one new
version of the learned table while keeping the stream's replay guard."""
from __future__ import annotations

import json
import pathlib
import sys

import pytest
from pyspark.sql import functions as F

from ocr_spark.plans import run_learning
from ocr_spark.streaming.extract_stream import (
    _learned_state,
    learning_foreach_batch,
    read_learned_table,
)


def _batch(spark, word_lists):
    return spark.createDataFrame(
        [(ws, "2026-01-01 00:00:00") for ws in word_lists],
        "unknown_words array<string>, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _cli(spark, monkeypatch, capsys, *argv):
    monkeypatch.setattr(sys, "argv", ["run_learning.py", *argv])
    # the CLI builds its own session; hand it the test session instead, so
    # its builder options do not leak into the tests that follow
    monkeypatch.setattr("ocr_spark.session.get_spark", lambda *a, **k: spark)
    rc = run_learning.main()
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    return rc, json.loads(lines[0])


@pytest.fixture
def table(spark, tmp_path):
    """alpha seen 5 times (auto-approved), beta 2, gamma 1; applied as
    stream micro-batch 3."""
    path = str(tmp_path / "learned")
    words = [["alpha", "beta"]] * 2 + [["alpha"]] * 2 + [["alpha", "gamma"]]
    learning_foreach_batch(path)(_batch(spark, words), 3)
    return path


def test_cli_read_commands(spark, table, monkeypatch, capsys):
    root = pathlib.Path(table)
    before = _learned_state(root)
    rc, out = _cli(spark, monkeypatch, capsys, "stats", "--table", table)
    assert rc == 0
    assert out == {"total_words": 3, "approved": 1, "pending": 2}
    rc, out = _cli(
        spark, monkeypatch, capsys, "pending", "--table", table, "--limit", "1"
    )
    assert rc == 0 and out == {"pending": [{"word": "beta", "frequency": 2}]}
    assert _learned_state(root) == before  # reads commit nothing


def test_cli_mutations_advance_version_and_keep_batch_id(
    spark, table, tmp_path, monkeypatch, capsys
):
    from ocr_spark.operators.learning import write_learned_export

    root = pathlib.Path(table)
    assert _learned_state(root)["version"] == 0

    rc, out = _cli(
        spark, monkeypatch, capsys, "approve", "--table", table, "--words", "beta"
    )
    assert rc == 0 and out == {"approved": ["beta"], "version": 1}
    assert _learned_state(root)["batch_id"] == 3

    rc, out = _cli(
        spark, monkeypatch, capsys, "reject", "--table", table, "--words", "gamma"
    )
    assert rc == 0 and out == {"rejected": ["gamma"], "version": 2}

    src = str(tmp_path / "export")
    delta = spark.createDataFrame(
        [("delta", 7, True, None, None, None)],
        "word string, frequency long, is_approved boolean, "
        "first_seen timestamp, last_seen timestamp, approved_at timestamp",
    )
    write_learned_export(delta, src, export_date="2026-08-17")
    rc, out = _cli(
        spark, monkeypatch, capsys, "import", "--table", table, "--src", src
    )
    assert rc == 0 and out == {"imported_from": src, "version": 3}

    state = _learned_state(root)
    assert state["version"] == 3 and state["batch_id"] == 3
    got = {
        r["word"]: (r["frequency"], r["is_approved"])
        for r in read_learned_table(spark, table).collect()
    }
    assert got == {"alpha": (5, True), "beta": (2, True), "delta": (7, True)}


def test_cli_without_snapshot_reports_error(spark, tmp_path, monkeypatch, capsys):
    table = str(tmp_path / "empty")
    rc, out = _cli(spark, monkeypatch, capsys, "stats", "--table", table)
    assert rc == 1 and out["error"] == "no committed snapshot"


def test_cli_mutation_keeps_a_concurrent_stream_batch(
    spark, table, monkeypatch, capsys
):
    """A micro-batch that commits while the CLI builds its approval must
    survive: the CLI re-applies its mutation to the fresh snapshot instead
    of failing or overwriting the batch's counts."""
    import ocr_spark.operators.learning as learning

    real = learning.approve_words
    calls = []

    def racing_approve(learned, words, approved_at):
        if not calls:
            learning_foreach_batch(table)(_batch(spark, [["beta"]]), 4)
        calls.append(words)
        return real(learned, words, approved_at)

    monkeypatch.setattr(learning, "approve_words", racing_approve)
    rc, out = _cli(
        spark, monkeypatch, capsys, "approve", "--table", table, "--words", "beta"
    )
    assert rc == 0 and out["version"] == 2
    assert len(calls) == 2  # the first build lost the race and was redone
    state = _learned_state(pathlib.Path(table))
    assert state["version"] == 2 and state["batch_id"] == 4
    row = read_learned_table(spark, table).filter("word = 'beta'").first()
    assert row["frequency"] == 3 and row["is_approved"]
