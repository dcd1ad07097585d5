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

from ocr_spark.functions.udfs import (
    CONTENT_EXTRACT_SCHEMA,
    EXTRACT_SCHEMA,
    make_extract_udf,
)

#: columns added by extract_turns
OUTPUT_COLUMNS = EXTRACT_SCHEMA.fieldNames()


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


def _with_fields(df: DataFrame, tmp: str, struct: Column, names: list[str]) -> DataFrame:
    """``df`` with the fields ``names`` of ``struct`` as columns, projected
    in one ``select`` over ``struct`` held in the column ``tmp``: the
    columns and order that ``withColumn(tmp, struct)``, a ``withColumn``
    per field and ``drop(tmp)`` give. A field that shares its name with
    input columns (by the session's name resolution) takes their places;
    the others follow in order; an input column named ``tmp`` is
    dropped."""
    if df.sparkSession.conf.get("spark.sql.caseSensitive") == "true":
        key = str
    else:
        key = str.lower
    fields = {key(n): n for n in names}
    inputs = df.columns
    cols = []
    for c in inputs:
        name = fields.get(key(c))
        if name is not None:
            cols.append(F.col(f"{tmp}.{name}").alias(name))
        elif key(c) != key(tmp):
            cols.append(F.col("`" + c.replace("`", "``") + "`"))
    taken = {key(c) for c in inputs}
    cols += [F.col(f"{tmp}.{n}").alias(n) for n in names if key(n) not in taken]
    return df.withColumn(tmp, struct).select(cols)


def extract_turns(
    df: DataFrame,
    text_col: str = "text",
    use_dictionary: bool = True,
    use_spelling: bool = True,
    fuzzy: bool = False,
    extra_kamus: frozenset | None = None,
) -> DataFrame:
    """Apply the fused extraction UDF and flatten the result struct into the
    output columns (SURVEY.md §1.2). Narrow, no shuffle. ``extra_kamus`` is
    the epoch snapshot of approved learned words (affects unknown-word
    tracking, dictionary-match scoring, and the fuzzy candidate set)."""
    udf = make_extract_udf(use_dictionary, use_spelling, fuzzy, extra_kamus)
    return _with_fields(df, "_x", udf(F.col(text_col)), OUTPUT_COLUMNS)


#: columns added by extract_content_turns (fused pipeline)
CONTENT_EXTRACT_COLUMNS = CONTENT_EXTRACT_SCHEMA.fieldNames()


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
    return _with_fields(df, "_cx", udf(F.col(text_col)), CONTENT_EXTRACT_COLUMNS)


def page_header(idx: Column) -> Column:
    """'--- Halaman {i+1} ---' header (reference ocr_service.py:598-601)."""
    return F.concat(F.lit("--- Halaman "), (idx + 1).cast("string"), F.lit(" ---"))


def assemble_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "normalized_text",
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
    (tested). The default (``max_turns=None``) builds one document per
    conversation — segmenting is opt-in for corpora with pathological
    conversation lengths."""
    unit = F.concat(page_header(F.col(idx_col)), F.lit("\n"), F.col(text_col))
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
