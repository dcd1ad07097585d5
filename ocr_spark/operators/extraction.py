"""Extraction operators: per-turn extract, skew-aware repartition, T8 assembly.

The per-turn transform is embarrassingly parallel, so the only scale hazards
are (a) partition skew from long agent-loop conversations and (b) the
JVM<->Python exchange — handled by salted repartitioning and one fused Arrow
UDF respectively. Conversation reassembly (the analog of the reference's
page-order restore, ocr_service.py:594-609) is the single genuine shuffle.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.udfs import make_extract_udf

#: columns added by extract_turns
OUTPUT_COLUMNS = [
    "extracted_text",
    "normalized_text",
    "dictionary_corrections",
    "spelling_changes",
    "quality",
    "unknown_words",
    "spans",
]


def salted_repartition(df: DataFrame, num_partitions: int, salt_buckets: int = 16) -> DataFrame:
    """Repartition for the map stage keyed on (conv_id, salt).

    A pure hash(conv_id) partitioning puts a 10^5-turn agent-loop
    conversation on one task; salting by a hash of turn_idx spreads each
    conversation over up to ``salt_buckets`` tasks while keeping data motion
    deterministic. The later reassembly window re-shuffles on conv_id anyway,
    so the salt costs nothing extra there.
    """
    salt = F.pmod(F.xxhash64("turn_idx"), F.lit(salt_buckets))
    return df.repartition(num_partitions, F.col("conv_id"), salt)


def extract_turns(
    df: DataFrame,
    text_col: str = "text",
    use_dictionary: bool = True,
    use_spelling: bool = True,
    fuzzy: bool = False,
    keep_struct: bool = False,
    extra_kamus: frozenset | None = None,
) -> DataFrame:
    """Apply the fused extraction UDF and flatten the result struct into the
    output columns (SURVEY.md §1.2). Narrow, no shuffle. ``extra_kamus`` is
    the epoch snapshot of approved learned words (affects unknown-word
    tracking, dictionary-match scoring, and the fuzzy candidate set)."""
    udf = make_extract_udf(use_dictionary, use_spelling, fuzzy, extra_kamus)
    out = df.withColumn("_x", udf(F.col(text_col)))
    if keep_struct:
        return out
    for name in OUTPUT_COLUMNS:
        out = out.withColumn(name, F.col(f"_x.{name}"))
    return out.drop("_x")


#: columns added by extract_content_turns (fused pipeline)
CONTENT_EXTRACT_COLUMNS = [
    "content_text",
    "content_spans",
    "n_blocks",
    "n_content_blocks",
    "n_boilerplate_blocks",
    "content_words",
] + OUTPUT_COLUMNS


def extract_content_turns(
    df: DataFrame,
    text_col: str = "text",
    use_dictionary: bool = True,
    use_spelling: bool = True,
    fuzzy: bool = False,
    extra_kamus: frozenset | None = None,
) -> DataFrame:
    """The composed production path — boilerplate strip THEN the
    correction/scoring core on the extracted main content — as ONE fused
    Arrow UDF, so each document crosses the JVM↔Python boundary once
    instead of twice (the intermediate content_text never returns to the
    JVM). Narrow, no shuffle; equals strip_boilerplate→extract_turns
    column-for-column (tested)."""
    udf = make_extract_udf(use_dictionary, use_spelling, fuzzy, extra_kamus, content=True)
    out = df.withColumn("_cx", udf(F.col(text_col)))
    for name in CONTENT_EXTRACT_COLUMNS:
        out = out.withColumn(name, F.col(f"_cx.{name}"))
    return out.drop("_cx")


def page_header(idx: Column) -> Column:
    """'--- Halaman {i+1} ---' header (reference ocr_service.py:598-601)."""
    return F.concat(F.lit("--- Halaman "), (idx + 1).cast("string"), F.lit(" ---"))


def assemble_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "normalized_text",
    with_headers: bool = True,
    max_turns: int | None = None,
) -> DataFrame:
    """Reassemble per-conversation documents under stable (conv_id, turn_idx)
    ordering — the transcript analog of the reference's page assembly:
    non-empty units joined by blank lines, each prefixed with a page header.

    Implemented as sort_array(collect_list(struct(idx, text))) so ordering is
    enforced inside the aggregation (one shuffle, no window pass needed).

    ``max_turns`` is the hot-conversation guard: without it, a 10⁵-turn
    agent-loop conversation builds ONE collect_list row holding the whole
    conversation's text — an unsafe-row/executor-memory hazard at scale.
    With it, the aggregation key becomes (conv, turn_idx // max_turns) and
    the output gains a ``document_part`` column (part index, ascending in
    turn order): every aggregation group is hard-bounded at ``max_turns``
    turns regardless of conversation length, same single shuffle, and
    concatenating a conversation's parts in part order with the same
    '\\n\\n' separator reconstructs the unsegmented document exactly
    (tested). The default path (``max_turns=None``) is byte-identical to
    before — segmenting is opt-in for corpora with pathological
    conversation lengths."""
    unit = (
        F.concat(page_header(F.col(idx_col)), F.lit("\n"), F.col(text_col))
        if with_headers
        else F.col(text_col)
    )
    packed = F.struct(F.col(idx_col).alias("i"), unit.alias("t"))
    nonempty = df.filter(
        F.col(text_col).isNotNull() & (F.length(F.trim(F.col(text_col))) > 0)
    )
    doc = F.array_join(
        F.transform(F.sort_array(F.collect_list(packed)), lambda s: s["t"]),
        "\n\n",
    )
    if max_turns is None:
        return nonempty.groupBy(conv_col).agg(
            doc.alias("document"), F.count("*").alias("n_turns")
        )
    if max_turns < 1:
        raise ValueError(f"max_turns must be >= 1, got {max_turns}")
    # turn_idx // max_turns bounds each group at max_turns turns (turn_idx
    # is unique per conversation), so group size is independent of
    # conversation length — the partitioner spreads a hot conversation's
    # parts across tasks for free
    part = F.floor(F.col(idx_col) / max_turns).cast("int")
    return nonempty.groupBy(
        F.col(conv_col), part.alias("document_part")
    ).agg(doc.alias("document"), F.count("*").alias("n_turns"))
