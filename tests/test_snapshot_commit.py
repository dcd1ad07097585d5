"""The versioned-table commit (extract_stream.commit_snapshot) without
Spark: each snapshot is one small JSON file, so many writers can race."""
from __future__ import annotations

import json
import sys
import threading

from ocr_spark.streaming.extract_stream import (
    SnapshotConflict,
    _learned_state,
    commit_snapshot,
)


def _increment(snapshot, version, tmp):
    n = json.loads((snapshot / "n.json").read_text()) if snapshot else 0
    (tmp / "n.json").write_text(json.dumps(n + 1))


def test_concurrent_commits_lose_no_update(tmp_path):
    """Twelve threads each commit twenty increments at once. Every commit
    that returns a version is in the final count (no lost update), the
    versions are 0..n-1, and only exhausted retries fail."""
    root = tmp_path / "table"
    committed, conflicts = [], []

    def writer():
        for _ in range(20):
            try:
                committed.append(commit_snapshot(root, _increment))
            except SnapshotConflict:
                conflicts.append(1)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)

    assert len(committed) + len(conflicts) == 12 * 20 and committed
    assert sorted(committed) == list(range(len(committed)))
    state = _learned_state(root)
    assert state["version"] == len(committed) - 1
    assert json.loads((root / state["snapshot"] / "n.json").read_text()) == len(committed)
    assert not list(root.glob("_tmp-*"))  # lost attempts leave no staging


def test_replay_guard_and_batch_id_carry_over(tmp_path):
    """A micro-batch id at or below the pointer's is a no-op; an admin
    commit (batch_id None) keeps the pointer's batch_id; a build that
    returns False commits nothing."""
    root = tmp_path / "table"
    assert commit_snapshot(root, _increment, batch_id=4) == 0
    assert commit_snapshot(root, _increment, batch_id=4) is None
    assert commit_snapshot(root, _increment, batch_id=3) is None
    assert commit_snapshot(root, _increment) == 1
    assert _learned_state(root)["batch_id"] == 4
    assert commit_snapshot(root, lambda *_: False) is None
    assert commit_snapshot(root, _increment, batch_id=5) == 2
    state = _learned_state(root)
    assert state == {"snapshot": "v0000000002", "version": 2, "batch_id": 5}
    assert json.loads((root / state["snapshot"] / "n.json").read_text()) == 3
    assert not list(root.glob("_tmp-*"))
