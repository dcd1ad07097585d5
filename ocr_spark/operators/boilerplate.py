"""Spark operators for main-content extraction and layout parsing.

Wraps ``functions.blocks`` (Boilerpipe-style block classification) and
``functions.layout`` (line/column clustering) as Arrow-batched UDFs —
narrow per-row transforms, the same scale profile as the OCR extraction
core (no shuffle; the only cost is the Python exchange, Arrow-batched).
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ocr_spark.functions.udfs import CONTENT_SCHEMA

LAYOUT_SCHEMA = StructType(
    [
        StructField("layout_text", StringType()),
        StructField("n_lines", IntegerType()),
        StructField("n_columns", IntegerType()),
        StructField("n_tokens", IntegerType()),
    ]
)

CONTENT_COLUMNS = CONTENT_SCHEMA.fieldNames()


@pandas_udf(CONTENT_SCHEMA)
def _content_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    from ocr_spark.functions.blocks import extract_main_content

    for texts in batches:
        cols: dict[str, list] = {name: [] for name in CONTENT_COLUMNS}
        for t in texts:
            out = extract_main_content(t if isinstance(t, str) else None)
            out["content_spans"] = [
                {"start": s, "end": e} for s, e in out["content_spans"]
            ]
            for k in CONTENT_COLUMNS:
                cols[k].append(out[k])
        yield pd.DataFrame(cols, columns=CONTENT_COLUMNS)


def strip_boilerplate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Block-classify each turn's text and keep main content. Adds the
    CONTENT_SCHEMA columns (content_text, content_spans, block counters).
    Narrow — one fused Arrow UDF, no shuffle."""
    out = df.withColumn("_c", _content_udf(F.col(text_col)))
    for name in CONTENT_COLUMNS:
        out = out.withColumn(name, F.col(f"_c.{name}"))
    return out.drop("_c")


def parse_layout(
    df: DataFrame,
    tokens_col: str = "layout_tokens",
    y_tol: float = 0.5,
    gap_min: float = 3.0,
) -> DataFrame:
    """Reconstruct reading-order text from positioned layout tokens
    (``array<struct<x,y,w,h,text>>`` — what a PDF text extractor emits).
    Adds LAYOUT_SCHEMA columns."""

    @pandas_udf(LAYOUT_SCHEMA)
    def run(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from ocr_spark.functions.layout import layout_text

        for token_lists in batches:
            rows = []
            for toks in token_lists:
                tuples = (
                    [
                        (t["x"], t["y"], t["w"], t["h"], t["text"])
                        for t in toks
                    ]
                    if toks is not None
                    else []
                )
                out = layout_text(tuples, y_tol=y_tol, gap_min=gap_min)
                rows.append(
                    {
                        "layout_text": out["text"],
                        "n_lines": out["n_lines"],
                        "n_columns": out["n_columns"],
                        "n_tokens": out["n_tokens"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["layout_text", "n_lines", "n_columns", "n_tokens"],
            )

    out = df.withColumn("_l", run(F.col(tokens_col)))
    for name in ("layout_text", "n_lines", "n_columns", "n_tokens"):
        out = out.withColumn(name, F.col(f"_l.{name}"))
    return out.drop("_l")
