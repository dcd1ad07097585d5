"""Vectorized (Arrow-batched) pandas UDFs wrapping the extraction core.

One fused scalar pandas UDF carries the whole per-turn pipeline
(SURVEY.md §2.7): T1 multi-word -> T2/T3 word correction -> T4 currency ->
T5 spelling -> A6 scoring -> T7 unknown words, returning a single struct so
each turn crosses the JVM<->Python boundary exactly once. Iterator-of-series
form amortizes per-task setup (the compiled rule tables import once per
Python worker process, not per batch).

No per-row Python crosses the boundary — batches arrive as Arrow record
batches and the struct result returns as one Arrow array (input_hint: "no
per-row Python" refers to this boundary; inside the batch, string-mutation
work is inherently per-string, exactly like Spark's own codegen'd string
kernels are per-value).
"""
from __future__ import annotations

from itertools import repeat
from typing import Iterator

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

QUALITY_SCHEMA = StructType(
    [
        StructField("overall", IntegerType()),
        StructField("label", StringType()),
        StructField("confidence", DoubleType()),
        StructField("dictionary_match", DoubleType()),
        StructField("correction_rate", DoubleType()),
        StructField("total_words", IntegerType()),
        StructField("matched_words", IntegerType()),
        StructField("corrected_words", IntegerType()),
    ]
)

SPAN_SCHEMA = StructType(
    [
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("kind", StringType()),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("normalized_text", StringType()),
        StructField("dictionary_corrections", IntegerType()),
        StructField("spelling_changes", IntegerType()),
        StructField("quality", QUALITY_SCHEMA),
        StructField("unknown_words", ArrayType(StringType())),
        StructField("spans", ArrayType(SPAN_SCHEMA)),
    ]
)


#: fused boilerplate-strip + extraction output (block counters + content
#: spans, then the full extraction struct fields)
CONTENT_EXTRACT_SCHEMA = StructType(
    [
        StructField("content_text", StringType()),
        StructField(
            "content_spans",
            ArrayType(
                StructType(
                    [
                        StructField("start", IntegerType()),
                        StructField("end", IntegerType()),
                    ]
                )
            ),
        ),
        StructField("n_blocks", IntegerType()),
        StructField("n_content_blocks", IntegerType()),
        StructField("n_boilerplate_blocks", IntegerType()),
        StructField("content_words", IntegerType()),
    ]
    + list(EXTRACT_SCHEMA.fields)
)


def make_extract_udf(
    use_dictionary: bool = True,
    use_spelling: bool = True,
    fuzzy: bool = False,
    extra_kamus: frozenset | None = None,
    content: bool = False,
):
    """Build the fused extraction UDF for a given flag combination.

    Called on one string column it runs ``extract_turn`` per text; called
    on (text, confidences array<double>) it also scores the per-line OCR
    confidences (reference ocr_service.py:554). With ``content`` it first
    strips boilerplate (``extract_main_content``) and runs the core on the
    main content, returning CONTENT_EXTRACT_SCHEMA: strip and extraction
    in ONE JVM↔Python crossing, so the intermediate content_text never
    round-trips through the JVM.

    Flags are closure-captured (constant per job), so Catalyst sees a plain
    deterministic scalar UDF. ``extra_kamus`` is the epoch snapshot of
    approved learned words (SURVEY.md §7.4): vocab-sized, so closure
    capture ships it once per task via the serialized UDF — the same cost
    profile as an explicit broadcast variable. The batch result is
    assembled column-wise (dict-of-lists) — ``DataFrame.from_records``
    over per-row dicts costs ~15% of the whole UDF at steady state.
    """
    schema = CONTENT_EXTRACT_SCHEMA if content else EXTRACT_SCHEMA
    names = schema.fieldNames()

    @pandas_udf(schema)
    def extract(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # import inside the worker: rule tables compile once per process
        from ocr_spark.functions.blocks import extract_main_content
        from ocr_spark.functions.textops import extract_turn

        for batch in batches:
            # two input columns arrive as a tuple of series
            texts, confs = batch if isinstance(batch, tuple) else (batch, repeat(None))
            cols: dict[str, list] = {name: [] for name in names}
            for t, c in zip(texts, confs):
                t = t if isinstance(t, str) else None
                if content:
                    block = extract_main_content(t)
                    t = block["content_text"]
                out = extract_turn(
                    t,
                    use_dictionary=use_dictionary,
                    use_spelling=use_spelling,
                    confidences=list(c) if c is not None and len(c) else None,
                    fuzzy=fuzzy,
                    extra_kamus=extra_kamus,
                )
                out["spans"] = [{"start": s, "end": e, "kind": k} for s, e, k in out["spans"]]
                if content:
                    out.update(block)
                    out["content_spans"] = [
                        {"start": s, "end": e} for s, e in block["content_spans"]
                    ]
                for name in names:
                    cols[name].append(out[name])
            yield pd.DataFrame(cols, columns=names)

    return extract
