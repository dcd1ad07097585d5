"""Driver-side planning of the flagship: a warm plan launches no Spark job,
and the extraction struct flattens to the columns a ``withColumn`` chain
gave."""
from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from ocr_spark.functions.udfs import make_extract_udf
from ocr_spark.operators.extraction import (
    CONTENT_EXTRACT_COLUMNS,
    OUTPUT_COLUMNS,
    extract_content_turns,
    extract_turns,
)

SF = "/root/testdata/sf0.001"


def test_warm_flagship_plan_launches_no_job(spark):
    import __spark_entry__ as entry

    entry._flagship(spark, SF)
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        entry._flagship(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def _chained(df, tmp, struct, names):
    """The flattening ``extract_turns``/``extract_content_turns`` did
    before they projected the struct in one ``select``."""
    out = df.withColumn(tmp, struct)
    for name in names:
        out = out.withColumn(name, F.col(f"{tmp}.{name}"))
    return out.drop(tmp)


INPUTS = {
    "plain": "conv_id string, text string",
    "spans": "spans int, conv_id string, text string",
    "quality": "text string, quality string, turn_idx int",
    "mixed_case": "Quality double, text string, SPANS int",
    "scratch": "_x int, text string, _cx int, `a.b` int",
}


@pytest.mark.parametrize("ddl", INPUTS.values(), ids=INPUTS.keys())
@pytest.mark.parametrize("content", [False, True], ids=["turns", "content"])
def test_one_projection_matches_withcolumn_chain(spark, ddl, content):
    df = spark.createDataFrame([], ddl)
    udf = make_extract_udf(True, True, False, None, content=content)
    if content:
        got = extract_content_turns(df)
        want = _chained(df, "_cx", udf(F.col("text")), CONTENT_EXTRACT_COLUMNS)
    else:
        got = extract_turns(df)
        want = _chained(df, "_x", udf(F.col("text")), OUTPUT_COLUMNS)
    assert got.columns == want.columns
    assert got.schema == want.schema
