"""Per-turn equality through the REAL Spark path (Arrow batches, pandas UDF,
flattening, ordering) — not just the pure-Python core."""
import json
import pathlib

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.extraction import (
    assemble_conversations,
    extract_turns,
    salted_repartition,
)

FIXTURES = json.loads(
    (pathlib.Path(__file__).parent / "fixtures" / "golden.json").read_text()
)


@pytest.fixture(scope="module")
def golden_df(spark):
    """All both-flags-on fixtures as one transcript-shaped DataFrame."""
    rows = [
        (i, fx["input"], fx["name"])
        for i, fx in enumerate(FIXTURES)
        if fx["use_dictionary"] and fx["use_spelling"] and not fx["confidences"]
    ]
    return spark.createDataFrame(rows, "turn_idx int, text string, name string"), rows


def test_udf_equality(spark, golden_df):
    df, rows = golden_df
    got = {
        r["name"]: r
        for r in extract_turns(df, use_dictionary=True, use_spelling=True).collect()
    }
    expected = {fx["name"]: fx["expected"] for fx in FIXTURES}
    assert len(got) == len(rows)
    for name, row in got.items():
        exp = expected[name]
        assert row["extracted_text"] == exp["extracted_text"], name
        assert row["normalized_text"] == exp["normalized_text"], name
        assert row["dictionary_corrections"] == exp["dictionary_corrections"], name
        assert row["spelling_changes"] == exp["spelling_changes"], name
        q = row["quality"].asDict()
        assert q == exp["quality"], name
        assert sorted(row["unknown_words"]) == exp["unknown_words"], name


def test_udf_with_confidences_equals_golden(spark):
    """The same builder called on (text, confidences) scores the per-line
    OCR confidences."""
    from ocr_spark.functions.udfs import make_extract_udf

    cases = [
        fx for fx in FIXTURES
        if fx["use_dictionary"] and fx["use_spelling"] and fx["confidences"]
    ]
    df = spark.createDataFrame(
        [(fx["name"], fx["input"], fx["confidences"]) for fx in cases],
        "name string, text string, confs array<double>",
    )
    udf = make_extract_udf()
    got = {r["name"]: r["x"] for r in df.select("name", udf("text", "confs").alias("x")).collect()}
    assert len(got) == len(cases)
    for fx in cases:
        row, exp = got[fx["name"]], fx["expected"]
        assert row["normalized_text"] == exp["normalized_text"], fx["name"]
        assert row["quality"].asDict() == exp["quality"], fx["name"]


def test_flag_combinations(spark):
    df = spark.createDataFrame(
        [("Djelan Krmet 63 jang baik Rp.277.--",)], "text string"
    )
    off = extract_turns(df, use_dictionary=False, use_spelling=False).first()
    assert off["normalized_text"] == off["extracted_text"] == df.first()["text"]
    dict_only = extract_turns(df, use_dictionary=True, use_spelling=False).first()
    assert "Kramat" in dict_only["extracted_text"]
    assert "Djelan" in dict_only["normalized_text"]  # spelling untouched
    both = extract_turns(df, use_dictionary=True, use_spelling=True).first()
    assert both["normalized_text"].startswith("Jelan Kramat 63 yang baik Rp 277,-")


def test_assembly_order_and_headers(spark):
    # shuffled input, one empty turn to skip — analog of page assembly
    rows = [
        ("c1", 2, "third"),
        ("c1", 0, "first"),
        ("c1", 1, "   "),
        ("c1", 3, ""),
        ("c2", 0, "solo"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, normalized_text string")
    out = {r["conv_id"]: r for r in assemble_conversations(df).collect()}
    assert out["c1"]["document"] == (
        "--- Halaman 1 ---\nfirst\n\n--- Halaman 3 ---\nthird"
    )
    assert out["c1"]["n_turns"] == 2
    assert out["c2"]["document"] == "--- Halaman 1 ---\nsolo"


def test_salted_repartition_is_lossless(spark):
    df = spark.range(0, 500).select(
        F.concat(F.lit("conv-"), (F.col("id") % 3).cast("string")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
    )
    salted = salted_repartition(df, 8)
    assert salted.count() == 500
    assert salted.rdd.getNumPartitions() == 8
    # no duplicated or lost keys
    assert salted.distinct().count() == df.distinct().count()


def test_assembly_segmenting_guard_reconstructs_unsegmented(spark):
    """The hot-conversation guard: a 100k-turn conversation assembles into
    bounded document_part rows (each ≤ max_turns turns), and joining the
    parts in order reconstructs the unsegmented document byte-for-byte.
    The default path stays unchanged."""
    from ocr_spark.operators.extraction import assemble_conversations

    n = 100_000
    df = spark.range(n).select(
        F.lit("conv-hot").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(F.lit("turn text "), F.col("id")).alias("normalized_text"),
    )
    parts = assemble_conversations(df, max_turns=4096).collect()
    assert all(r["n_turns"] <= 4096 for r in parts)
    assert [r["document_part"] for r in sorted(parts, key=lambda r: r["document_part"])] == list(range(25))
    rebuilt = "\n\n".join(
        r["document"] for r in sorted(parts, key=lambda r: r["document_part"])
    )
    whole = assemble_conversations(df).first()
    assert whole["n_turns"] == n
    assert rebuilt == whole["document"]


def test_assembly_segmenting_sparse_idx_and_validation(spark):
    from ocr_spark.operators.extraction import assemble_conversations

    import pytest

    df = spark.createDataFrame(
        [("c", 0, "a"), ("c", 7, "b"), ("c", 8, "c")],
        "conv_id string, turn_idx int, normalized_text string",
    )
    rows = {
        r["document_part"]: r
        for r in assemble_conversations(df, max_turns=4).collect()
    }
    # parts follow turn_idx ranges: 0//4=0, 7//4=1, 8//4=2 — sparse
    # conversations make SMALLER parts, never larger (the bound is hard)
    assert {p: r["n_turns"] for p, r in rows.items()} == {0: 1, 1: 1, 2: 1}
    with pytest.raises(ValueError, match="max_turns"):
        assemble_conversations(df, max_turns=0)
