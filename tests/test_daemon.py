"""The Python worker daemon (``ocr_spark/_daemon.py``): workers import
pyspark from site-packages, and only when it is the JVM's version."""
from __future__ import annotations

import json
import pathlib
import subprocess
import sys
import textwrap

import pandas as pd
import pyspark
from pyspark.sql.functions import pandas_udf

from ocr_spark._daemon import strip_archives

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_workers_import_pyspark_from_site_packages(spark):
    @pandas_udf("string")
    def origin(ids: pd.Series) -> pd.Series:
        import sys

        import pyspark

        zips = sum(1 for p in sys.path if p.endswith(".zip"))
        return pd.Series([f"{pyspark.__file__}|{zips}"] * len(ids))

    rows = spark.range(8).repartition(4).select(origin("id").alias("o")).distinct().collect()
    assert [r["o"] for r in rows] == [f"{pyspark.__file__}|0"]
    assert "site-packages" in pyspark.__file__


def test_version_mismatch_touches_nothing(monkeypatch):
    monkeypatch.setattr(sys, "path", sys.path + ["/nowhere/pyspark.zip", "/nowhere/x.jar"])
    path = list(sys.path)
    strip_archives("0.0.0")  # the first metadata read imports its parsers
    modules = dict(sys.modules)
    for version in ("0.0.0", None):
        assert strip_archives(version) is False
        assert sys.path == path
        assert sys.modules == modules
    assert sys.modules["pyspark"] is pyspark


def test_version_match_strips_archives():
    # in a child process: a strip drops this interpreter's pyspark modules
    code = textwrap.dedent(
        """
        import sys
        import pyspark
        sys.path[:0] = ["/nowhere/pyspark.zip", "/nowhere/py4j-src.zip", "/nowhere/x.jar"]
        from ocr_spark._daemon import strip_archives
        assert strip_archives(pyspark.__version__) is True
        assert not [p for p in sys.path if p.endswith((".zip", ".jar"))]
        assert not [m for m in sys.modules if m.split(".")[0] in ("pyspark", "py4j")]
        assert not sys.path_importer_cache
        """
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=120, cwd=REPO)


def test_spark_submit_outside_the_repo(tmp_path):
    """Under ``spark-submit --py-files`` the JVM starts before ``get_spark``
    and its workers cannot import the package until a task ships it, so
    they run the stock daemon: the job still runs from any directory."""
    subprocess.run(
        [sys.executable, str(REPO / "data/synth.py"), str(tmp_path / "in"),
         "--convs", "20", "--mean-turns", "4", "--files", "2"],
        check=True, capture_output=True,
    )
    pyfiles = tmp_path / "ocr_spark.zip"
    subprocess.run(["zip", "-qr", str(pyfiles), "ocr_spark"], cwd=REPO, check=True)
    res = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--py-files", str(pyfiles),
         str(REPO / "ocr_spark/plans/run_extract.py"), "--master", "local[2]",
         "--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"), "--groups", "2"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert json.loads(res.stdout.strip().splitlines()[-1])["turns"] > 0
