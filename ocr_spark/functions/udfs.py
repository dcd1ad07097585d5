"""Arrow UDFs wrapping the extraction core.

One fused iterator ``arrow_udf`` carries the whole per-turn pipeline
(SURVEY.md §2.7): T1 multi-word -> T2/T3 word correction -> T4 currency ->
T5 spelling -> A6 scoring -> T7 unknown words, returning a single struct so
each turn crosses the JVM<->Python boundary exactly once. The iterator form
amortizes per-task setup (the compiled rule tables import once per Python
worker process, not per batch), and the workers come from
``ocr_spark._daemon``, which imports pyspark from site-packages, so a task's
setup does not re-read ``pyspark.zip``.

Each Arrow batch goes to ``textops.extract_batch`` as one list, which gates
the batch's dictionary stages with one RE2 scan, and each output column
returns as one Arrow array built from Python lists: no pandas frame sits
between the Arrow batch and the core.
"""
from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
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


#: boilerplate-strip output (``functions.blocks.extract_main_content``):
#: the main content, its {start, end} spans, then the block counters
CONTENT_SCHEMA = StructType(
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
)

#: fused boilerplate-strip + extraction output
CONTENT_EXTRACT_SCHEMA = StructType(
    CONTENT_SCHEMA.fields + EXTRACT_SCHEMA.fields
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
    profile as an explicit broadcast variable. Each batch is read with
    ``pa.array(...).to_pylist()``, which also takes the pandas Series a
    caller of ``.func`` may pass, and the result is one ``pa.StructArray``
    of columns built by ``pa.array`` (spans as tuples, quality as dicts).
    """
    schema = CONTENT_EXTRACT_SCHEMA if content else EXTRACT_SCHEMA
    fields = list(to_arrow_type(schema))

    @arrow_udf(schema)
    def extract(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        # import inside the worker: rule tables compile once per process
        from ocr_spark.functions.blocks import extract_main_content
        from ocr_spark.functions.textops import extract_batch

        for batch in batches:
            # two input columns arrive as a tuple of arrays
            texts, confs = batch if isinstance(batch, tuple) else (batch, None)
            texts = pa.array(texts).to_pylist()
            if confs is not None:
                confs = [c or None for c in pa.array(confs).to_pylist()]
            if content:
                blocks = [extract_main_content(t) for t in texts]
                texts = [block["content_text"] for block in blocks]
            rows = extract_batch(
                texts, confs, use_dictionary, use_spelling, fuzzy, extra_kamus
            )
            if content:
                for row, block in zip(rows, blocks):
                    row.update(block)
            yield pa.StructArray.from_arrays(
                [pa.array([row[f.name] for row in rows], type=f.type) for f in fields],
                fields=fields,
            )

    return extract
