"""Session defaults sized to the machine, the session's fixed settings,
and the parquet schema memo of ``read_parquet``."""
import os
import pathlib
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql.types import BinaryType, StringType

from ocr_spark import session
from ocr_spark.session import read_parquet

REPO = pathlib.Path(__file__).resolve().parent.parent
TIERS = (pathlib.Path("/root/testdata/sf0.001"), REPO / "data" / "sf1")


def test_driver_memory_is_a_third_of_visible_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    for total_gb, want in ((15, "5120m"), (6, "2048m"), (48, "8192m"), (2, "1024m")):
        monkeypatch.setattr(session, "visible_memory_bytes", lambda: total_gb << 30)
        assert session.default_driver_memory() == want
    monkeypatch.setattr(session, "visible_memory_bytes", lambda: None)
    assert session.default_driver_memory() == "8g"


def test_explicit_driver_memory_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    monkeypatch.setattr(session, "visible_memory_bytes", lambda: 64 << 30)
    assert session.default_driver_memory() == "3g"


def test_visible_memory_is_read():
    total = session.visible_memory_bytes()
    assert total is None or total > 0


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def _jobs(spark, build):
    """``build()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_reread_of_unchanged_file_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    first, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1  # Spark's own inference
    again, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    assert again.schema == first.schema == spark.read.parquet(path).schema
    assert sorted(again.collect()) == sorted(first.collect())


@pytest.mark.parametrize("tier", TIERS, ids=lambda t: t.name)
def test_memoized_schema_equals_spark_inference(spark, tier):
    tables = sorted(tier.glob("*.parquet"))
    assert tables
    for table in tables:
        path = str(table)
        read_parquet(spark, path)
        memoized, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == 0, table.name
        assert memoized.schema == spark.read.parquet(path).schema, table.name


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    os.remove(path)
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.schema == spark.read.parquet(path).schema
    assert df.columns == ["b", "c"]


def test_schema_setting_change_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"blob": pa.array([b"ab"], pa.binary())}), path)
    assert read_parquet(spark, path).schema["blob"].dataType == BinaryType()
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert jobs >= 1
    assert df.schema["blob"].dataType == StringType()
    assert read_parquet(spark, path).schema["blob"].dataType == BinaryType()


def test_directory_is_not_memoized(spark, tmp_path):
    root = tmp_path / "dir"
    root.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(root / "part-0.parquet"))
    read_parquet(spark, str(root))
    memo = dict(session._schemas)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, str(root)))
    assert jobs >= 1
    assert session._schemas == memo
    assert df.columns == ["a"]
