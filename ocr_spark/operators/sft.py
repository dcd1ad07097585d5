"""SFT / instruction-tuning example preparation over multi-turn transcripts.

Beyond-reference surface (SURVEY.md §2.8 X56–X58): the engine's input
contract is a table of role-tagged conversation turns
``(conv_id, turn_idx, role, text, tool, ts)`` — the north rule's transcript
shape. After extraction and structural audit (``dialogue.dialogue_audit``),
a training-data pipeline turns those conversations into supervised
examples. The three standard constructions, each fixed by the public
chat-ML/SFT recipes (every open instruction-tuning corpus — Alpaca,
OpenAssistant, UltraChat — ships one of these shapes):

- **context assembly** (:func:`assemble_context`): for every assistant
  turn, render the preceding up-to-``k`` turns as a role-prefixed context
  string and pair it with the assistant text as the target — the
  (prompt-context, completion) example used for multi-turn SFT;
- **response-pair mining** (:func:`response_pairs`): the degenerate but
  dominant ``k=1`` case — (user turn, immediately-following assistant
  turn) pairs, the single-turn instruction/response corpus;
- **conversation-prefix dedup** (:func:`conversation_prefix_dedup`):
  conversations opening with the same canonicalized first-``k`` user turns
  are near-certainly re-asks of one prompt (template traffic, retries,
  eval-set leakage into logs); group them by an exact prefix key and elect
  a keeper, the conversation-grain analog of
  ``dedup.normalized_dedup`` (X55), whose canonical form
  (:func:`ocr_spark.operators.dedup.normalized_text`) is reused verbatim.

Reference parity: the reference has no conversation surface — its unit of
work is one uploaded document (main.py:83-142). These operators are the
transcript-payload counterpart of its per-document pairing of raw input
with corrected output (ocr_service.py's original/corrected text pair),
lifted to the conversation grain.

Determinism: every output column is an exact string/integer derived from
frame-ordered window folds (``collect_list`` over a ``ROWS`` frame is
emitted in the window's sort order; the oracle's ``list()`` /
``string_agg(... ORDER BY)`` replay the same order), so the DuckDB oracles
hash-match with no tolerance.

Scale profile at 10^12 turns:
- :func:`assemble_context` is ONE window over ``(conv_id, turn_idx)`` with
  an O(k)-row frame — per-row state is k rendered turns, never the whole
  conversation, so a 10^5-turn agent loop costs O(k) memory per row. The
  count and list aggregates share one Window node (same partition / order
  / frame → a single Exchange).
- :func:`response_pairs` is the same single window with O(1) ``lead``
  state.
- :func:`conversation_prefix_dedup` runs one running-count window plus a
  ``groupBy(conv_id)`` that REUSES the window's hash partitioning (the
  subset-key clustering trick of ``dialogue.dialogue_audit``), so the
  turn-grain data crosses the wire once; the class-statistics window runs
  over the conversation-grain frame (~10^7 rows at 10^12 turns), five
  orders of magnitude smaller.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import normalized_text

#: separator for joined canonical prefixes — the canonical form's alphabet
#: is [a-z0-9 ] (see dedup.normalized_text), so '|' can never occur inside
#: a segment and the join is injective.
PREFIX_SEP = "|"


def assemble_context(
    df: DataFrame,
    k: int = 4,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    assistant_role: str = "assistant",
    sep: str = "\n",
) -> DataFrame:
    """Multi-turn SFT example construction: one row per assistant turn with
    the previous up-to-``k`` turns rendered ``role: text`` and joined by
    ``sep`` as the training context.

    Returns ``(conv_id, turn_idx, n_context, context, target)`` where
    ``n_context`` is the number of turns actually present in the frame
    (< k at the head of a conversation) and ``target`` is the assistant
    turn's text. NULL roles and texts render as empty strings (the
    extraction contract upstream may emit empty turns; they still occupy a
    context slot), so ``n_context`` is the number of joined segments. An assistant turn at ``turn_idx`` head position gets
    ``n_context = 0`` and ``context = ''`` — explicitly, on both engines,
    so the empty-frame ``collect_list``/``list()`` divergence (Spark
    ``[]`` vs DuckDB ``NULL``) never reaches the output.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = (
        Window.partitionBy(conv_col)
        .orderBy(idx_col)
        .rowsBetween(-k, -1)
    )
    rendered = F.concat(
        F.coalesce(F.col(role_col), F.lit("")),
        F.lit(": "),
        F.coalesce(F.col(text_col), F.lit("")),
    )
    n_ctx = F.count(F.lit(1)).over(w)
    ctx = F.when(n_ctx == 0, F.lit("")).otherwise(
        F.array_join(F.collect_list(rendered).over(w), sep)
    )
    return (
        df.select(
            F.col(conv_col).alias("conv_id"),
            F.col(idx_col).alias("turn_idx"),
            F.col(role_col).alias("_role"),
            n_ctx.alias("n_context"),
            ctx.alias("context"),
            F.coalesce(F.col(text_col), F.lit("")).alias("target"),
        )
        .filter(F.col("_role") == assistant_role)
        .drop("_role")
    )


def response_pairs(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    user_role: str = "user",
    assistant_role: str = "assistant",
) -> DataFrame:
    """Single-turn instruction/response pair mining: every (user turn,
    immediately-following assistant turn) adjacency becomes one example.

    Returns ``(conv_id, prompt_idx, response_idx, prompt, response)``.
    Pairs are strict adjacencies — a user turn followed by another user
    turn, a tool result, or nothing yields no example (those are the
    structural defects ``dialogue_audit`` counts; miners that skip over
    them silently manufacture misaligned pairs). NULL texts become empty
    strings per the extraction contract.
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    out = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("prompt_idx"),
        F.col(role_col).alias("_role"),
        F.lead(role_col).over(w).alias("_next_role"),
        F.lead(idx_col).over(w).alias("response_idx"),
        F.coalesce(F.col(text_col), F.lit("")).alias("prompt"),
        F.coalesce(F.lead(text_col).over(w), F.lit("")).alias("response"),
    )
    return out.filter(
        (F.col("_role") == user_role)
        & (F.col("_next_role") == assistant_role)
    ).select("conv_id", "prompt_idx", "response_idx", "prompt", "response")


def conversation_prefix_dedup(
    df: DataFrame,
    k: int = 2,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    user_role: str = "user",
) -> DataFrame:
    """Conversation-grain near-dedup on the canonicalized first-``k`` user
    turns.

    Two conversations whose opening ``k`` user prompts are equal under
    :func:`~ocr_spark.operators.dedup.normalized_text` (lowercase,
    non-alphanumeric runs collapsed, trimmed) are one duplicate class —
    the conversation analog of X55's normalized document dedup, aimed at
    template traffic and retried prompts. Returns one row per
    conversation::

        (conv_id, n_turns, n_prefix_turns, prefix_key,
         class_size, keeper, is_keeper)

    ``prefix_key`` is ``md5`` of the ``'|'``-joined canonical prefix
    (injective: the canonical alphabet excludes ``'|'``).  Conversations
    with NO user turns carry ``prefix_key = NULL`` and NULL class columns
    — no evidence is never treated as "all identical" (the X54 NULL
    rule).  ``keeper`` is the class minimum ``conv_id`` (the corpus-wide
    first-winner rule of X29/X38/X55).

    Shuffle shape: the running user-turn count window and the
    ``groupBy(conv_id)`` share one Exchange (subset-key clustering); the
    class window runs over the conversation-grain frame only.  The NULL
    key never partitions the class window into a skew hazard because the
    class columns are computed under ``prefix_key IS NOT NULL`` guards
    and no-user-turn conversations are rare by the audit gate upstream —
    at worst they cost one degenerate window partition of small rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w_run = (
        Window.partitionBy(conv_col)
        .orderBy(idx_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_user = (F.col(role_col) == user_role).cast("long")
    rn_user = F.sum(is_user).over(w_run)
    # coalesce BEFORE canonicalizing: a NULL-text prefix turn must
    # contribute an (empty) segment to the joined key — array_join and
    # string_agg both silently skip NULL elements, which would make
    # 'hi'+NULL and plain 'hi' prefixes collide.
    turns = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("_idx"),
        ((F.col(role_col) == user_role) & (rn_user <= k))
        .alias("_is_pfx"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    ).select(
        "conv_id",
        "_idx",
        "_is_pfx",
        normalized_text("_t").alias("_canon"),
    )
    convs = turns.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("_is_pfx").cast("long")).alias("n_prefix_turns"),
        # collect_list drops the NULL branch rows, so only prefix turns
        # enter; sort_array restores turn order deterministically.
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("_is_pfx"),
                            F.struct(
                                F.col("_idx").alias("i"),
                                F.col("_canon").alias("c"),
                            ),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
            PREFIX_SEP,
        ).alias("_joined"),
    )
    keyed = convs.select(
        "conv_id",
        "n_turns",
        "n_prefix_turns",
        F.when(
            F.col("n_prefix_turns") > 0, F.md5(F.col("_joined"))
        ).alias("prefix_key"),
    )
    w_cls = Window.partitionBy("prefix_key")
    has_key = F.col("prefix_key").isNotNull()
    return keyed.select(
        "conv_id",
        "n_turns",
        "n_prefix_turns",
        "prefix_key",
        F.when(has_key, F.count(F.lit(1)).over(w_cls)).alias("class_size"),
        F.when(has_key, F.min("conv_id").over(w_cls)).alias("keeper"),
        F.when(has_key, F.min("conv_id").over(w_cls) == F.col("conv_id"))
        .alias("is_keeper"),
    )


def truncate_to_budget(
    df: DataFrame,
    budget: int = 2048,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Context-window left-truncation (SURVEY §2.8 X62): mark the suffix
    of each conversation that fits a whitespace-token budget.

    SFT packing truncates from the LEFT (oldest turns drop first; the
    most recent context and the target survive — the rule every public
    chat fine-tune recipe uses). Per turn::

        (conv_id, turn_idx, n_tok, cum_from_end, kept)

    ``cum_from_end`` is the running token total from the conversation's
    END back to this turn; ``kept`` is true when that suffix still fits
    the budget — with one carve-out: the FINAL turn is always kept even
    if it alone busts the budget (a truncation that deletes the training
    target produces an empty example, strictly worse than an over-long
    one; flagged by its ``cum_from_end > budget``).

    Tokens are whitespace runs (``\\S+``) — the deterministic
    tokenizer-agnostic budget proxy; exact BPE budgeting composes by
    swapping ``n_tok`` for X5's counts upstream.

    Scale shape at 10^12 turns: ONE window over ``(conv_id, turn_idx
    DESC)`` with O(1) running-sum/row-number state — the same
    single-Exchange class as the rest of the transcript family; no
    conversation ever materializes.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    w = (
        Window.partitionBy(conv_col)
        .orderBy(F.col(idx_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n_tok = F.size(
        F.regexp_extract_all(
            F.coalesce(F.col(text_col), F.lit("")), F.lit(r"\S+"), F.lit(0)
        )
    ).cast("long")
    out = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("turn_idx"),
        n_tok.alias("n_tok"),
        F.sum(n_tok).over(w).alias("cum_from_end"),
        F.row_number()
        .over(Window.partitionBy(conv_col).orderBy(F.col(idx_col).desc()))
        .alias("_rn_end"),
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "n_tok",
        "cum_from_end",
        (
            (F.col("cum_from_end") <= F.lit(budget))
            | (F.col("_rn_end") == 1)
        ).alias("kept"),
    )


def curate_conversations(
    df: DataFrame,
    prefix_k: int = 2,
    min_turns: int = 2,
    max_turns: int = 500,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    tool_col: str = "tool",
    user_role: str = "user",
    assistant_role: str = "assistant",
    tool_role: str = "tool",
) -> DataFrame:
    """Composed conversation-curation verdict (SURVEY §2.8 X65) — the
    transcript-grain analog of ``curation.curate_corpus``: one keep/drop
    decision per conversation from the family's own gates, with
    per-reason flags so the drop funnel reads directly off the output.

    Keep = structurally valid (X49's audit verdict) AND the keeper of
    its prefix-dedup class (X58; a NULL no-evidence key does NOT drop —
    such conversations already fail the audit's starts-with-user rule)
    AND at least one strict user→assistant pair exists (X57 — a
    conversation yielding zero examples trains nothing) AND
    ``min_turns ≤ n_turns ≤ max_turns`` (degenerate one-liners and
    runaway agent loops out). Role labels are parameters like the column
    names, so corpora with non-default tags ('human'/'gpt') curate
    instead of silently dropping wholesale.

    Note the audit gate inherits X49's STRICT chat-ML validity: a
    multi-result tool fan-out (two consecutive ``tool`` turns after one
    call) counts as a role repeat + orphan and fails ``valid`` — by
    design, since the contract expects one result per call. A pipeline
    that wants to KEEP fan-outs should repair them first
    (:func:`~ocr_spark.operators.dialogue.merge_role_runs` collapses the
    run into one result turn) and curate the repaired table; X59's
    ``tool_run_stats`` measures exactly how much of the corpus that
    decision touches. Returns::

        (conv_id, n_turns, n_pairs, valid, is_keeper, keep,
         drop_invalid, drop_dup, drop_no_pairs, drop_len)

    Scale shape at 10^12 turns: the three component passes each reduce
    the turn grain to the conversation grain in one Exchange (their own
    documented shapes); the composition then joins three
    conversation-grain frames (~10^7 rows at 10^12 turns) on
    ``conv_id`` — AQE turns these into local joins when the frames
    co-partition, and nothing at the turn grain is read twice beyond
    the component passes themselves.
    """
    from ocr_spark.operators.dialogue import dialogue_audit

    audit = dialogue_audit(
        df,
        conv_col=conv_col,
        idx_col=idx_col,
        role_col=role_col,
        text_col=text_col,
        tool_col=tool_col,
        user_role=user_role,
        assistant_role=assistant_role,
        tool_role=tool_role,
    ).select("conv_id", "n_turns", "valid")
    dedup = conversation_prefix_dedup(
        df,
        k=prefix_k,
        conv_col=conv_col,
        idx_col=idx_col,
        role_col=role_col,
        text_col=text_col,
        user_role=user_role,
    ).select("conv_id", "is_keeper")
    pairs = (
        response_pairs(
            df,
            conv_col=conv_col,
            idx_col=idx_col,
            role_col=role_col,
            text_col=text_col,
            user_role=user_role,
            assistant_role=assistant_role,
        )
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    j = (
        audit.join(dedup, "conv_id", "left")
        .join(pairs, "conv_id", "left")
        .select(
            "conv_id",
            "n_turns",
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            "valid",
            "is_keeper",
        )
    )
    drop_invalid = ~F.col("valid")
    drop_dup = F.col("is_keeper").isNotNull() & ~F.col("is_keeper")
    drop_no_pairs = F.col("n_pairs") == 0
    drop_len = (F.col("n_turns") < min_turns) | (
        F.col("n_turns") > max_turns
    )
    return j.select(
        "conv_id",
        "n_turns",
        "n_pairs",
        "valid",
        "is_keeper",
        (~drop_invalid & ~drop_dup & ~drop_no_pairs & ~drop_len).alias(
            "keep"
        ),
        drop_invalid.alias("drop_invalid"),
        drop_dup.alias("drop_dup"),
        drop_no_pairs.alias("drop_no_pairs"),
        drop_len.alias("drop_len"),
    )
