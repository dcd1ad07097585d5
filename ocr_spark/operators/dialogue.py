"""Dialogue-structure audit over multi-turn transcripts.

Beyond-reference surface (SURVEY.md §2.8 X49): the engine's input contract
is an Iceberg/Parquet table of multi-turn agent transcripts
``(conv_id, turn_idx, role, text, tool, ts)``. Before any extraction or
training-mix decision, a production pipeline validates the STRUCTURE of
those conversations — the transcript analog of the reference's
upload-validation gate (main.py:83-101 rejects malformed inputs before OCR
ever runs). The standard audit questions are fixed by the chat-ML shape
every public conversation format shares (role-tagged ordered turns):

- does the conversation open with a user turn?
- do two consecutive turns ever carry the same role (a dropped turn or a
  concatenation bug upstream)?
- does every ``tool`` turn follow an assistant turn that actually issued a
  tool call (orphan tool results indicate truncation/reordering)?
- how many turns are empty after whitespace normalization?

``dialogue_audit`` answers all of them in one pass and emits one row per
conversation plus a ``valid`` verdict, so the keep/drop decision is a plain
filter downstream.

Determinism: every output is an exact integer count or a boolean derived
from integer comparisons — no floats anywhere — so the DuckDB oracle
hash-matches with no tolerance.

Scale profile at 10^12 turns:
- ONE hash exchange on ``conv_id`` carries the whole audit: the lag()
  window sorts within each conversation, and the subsequent
  groupBy(conv_id) reuses the window's hash partitioning (subset-key
  clustering — same trick as behavior.py's daily_anomalies), so Catalyst
  plans a single Exchange.
- Per-turn state is O(1): lag(role), lag(tool) — no collect_list, no
  per-conversation buffering, so a 10^5-turn agent-loop conversation
  costs memory proportional to one row, not one conversation.
- The output is one row per conversation (~10^7 rows at 10^12 turns with
  10^5-turn convs) — small enough to join back against any downstream
  keep-list broadcast.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dialogue_audit(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    tool_col: str = "tool",
    user_role: str = "user",
    assistant_role: str = "assistant",
    tool_role: str = "tool",
) -> DataFrame:
    """Per-conversation structural audit of a role-tagged transcript table.

    Returns one row per conversation::

        (conv_id, n_turns, n_user, n_assistant, n_tool,
         n_tool_calls, n_role_repeats, n_orphan_tool, n_empty,
         starts_with_user, valid)

    - ``n_tool_calls``: assistant turns with a non-null ``tool`` (the turn
      ISSUED a call);
    - ``n_role_repeats``: adjacent turn pairs with the same role;
    - ``n_orphan_tool``: ``tool``-role turns whose predecessor is not an
      assistant turn that issued a call (or that have no predecessor);
    - ``n_empty``: turns whose text is NULL or whitespace-only;
    - ``valid``: starts with a user turn AND no role repeats AND no orphan
      tool results. Empty turns are reported but do not invalidate — they
      are an extraction concern, not a structural one.

    Ordering is the contract's stable (conv_id, turn_idx); ties on
    turn_idx are impossible by the table's grain.
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    role = F.col(role_col)
    prev_role = F.lag(role_col).over(w)
    prev_tool = F.lag(tool_col).over(w)
    is_blank = F.col(text_col).isNull() | (
        F.trim(F.col(text_col)) == F.lit("")
    )
    turns = df.select(
        F.col(conv_col).alias("conv_id"),
        role.alias("_role"),
        # first turn by index, resolved inside the agg (no extra window)
        F.col(idx_col).alias("_idx"),
        (role == user_role).cast("long").alias("_is_user"),
        (role == assistant_role).cast("long").alias("_is_assistant"),
        (role == tool_role).cast("long").alias("_is_tool"),
        ((role == assistant_role) & F.col(tool_col).isNotNull())
        .cast("long")
        .alias("_is_call"),
        (prev_role.isNotNull() & (prev_role == role))
        .cast("long")
        .alias("_repeat"),
        (
            (role == tool_role)
            & ~(
                prev_role.isNotNull()
                & (prev_role == assistant_role)
                & prev_tool.isNotNull()
            )
        )
        .cast("long")
        .alias("_orphan"),
        is_blank.cast("long").alias("_empty"),
    )
    out = turns.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("_is_user").alias("n_user"),
        F.sum("_is_assistant").alias("n_assistant"),
        F.sum("_is_tool").alias("n_tool"),
        F.sum("_is_call").alias("n_tool_calls"),
        F.sum("_repeat").alias("n_role_repeats"),
        F.sum("_orphan").alias("n_orphan_tool"),
        F.sum("_empty").alias("n_empty"),
        (F.min(F.struct("_idx", "_role"))["_role"] == user_role).alias(
            "starts_with_user"
        ),
    )
    return out.withColumn(
        "valid",
        F.col("starts_with_user")
        & (F.col("n_role_repeats") == 0)
        & (F.col("n_orphan_tool") == 0),
    )


def tool_run_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    tool_role: str = "tool",
) -> DataFrame:
    """Gaps-and-islands statistics over consecutive ``tool``-role runs
    (SURVEY §2.8 X59): per conversation, how long do uninterrupted
    tool-result chains get?

    Agent transcripts interleave assistant turns with runs of tool
    results; run length is the standard agent-loop depth signal — long
    runs mark multi-call tool loops (retry storms, search fan-outs) that
    SFT curation typically caps or down-samples, the conversation analog
    of X13's Gopher repetition signals. Returns one row per conversation
    that has at least one tool turn::

        (conv_id, n_tool_turns, n_runs, longest_run, first_run_start)

    Construction is the classic two-row-number island id: within a
    conversation ordered by ``turn_idx``, ``row_number()`` over ALL turns
    minus the running count of tool turns is constant exactly on each
    maximal consecutive tool run (both counters advance together inside a
    run; only the global one advances outside), so grouping on it splits
    runs with no self-join and no per-conversation buffering.

    Scale shape at 10^12 turns: ONE Exchange end to end — the window
    hash-partitions on ``conv_id``, and both downstream aggregates
    (``(conv_id, island)`` then ``conv_id``) cluster on subsets of keys
    already co-located by that partitioning, so Catalyst plans no further
    shuffle (plan-pinned in tests). Per-turn window state is O(1); a
    10^5-turn conversation never materializes in memory.
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    # ROWS, not the default RANGE frame: under RANGE, turns that tie on
    # turn_idx all see the whole peer group's sum, which splits one run
    # (the DuckDB oracle pins ROWS UNBOUNDED PRECEDING as well)
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    is_tool = (F.col(role_col) == tool_role).cast("long")
    turns = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("_idx"),
        (F.col(role_col) == tool_role).alias("_is_tool"),
        (F.row_number().over(w) - F.sum(is_tool).over(running)).alias("_island"),
    )
    runs = (
        turns.filter(F.col("_is_tool"))
        .groupBy("conv_id", "_island")
        .agg(
            F.count(F.lit(1)).alias("_len"),
            F.min("_idx").alias("_start"),
        )
    )
    return runs.groupBy("conv_id").agg(
        F.sum("_len").alias("n_tool_turns"),
        F.count(F.lit(1)).alias("n_runs"),
        F.max("_len").alias("longest_run"),
        F.min("_start").alias("first_run_start"),
    )


def merge_role_runs(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Repair of the role-repeat defect (SURVEY §2.8 X63): consecutive
    turns carrying the SAME role merge into one turn.

    :func:`dialogue_audit` counts adjacent same-role turns
    (``n_role_repeats``) as a structural defect — usually an upstream
    message split (streaming chunks, length-limited inserts). This
    operator is the repair: each maximal same-role run collapses to a
    single turn keeping the run's first ``turn_idx``, with texts joined
    in turn order by ``sep`` (NULLs as empty segments — slot-preserving,
    the X56 rendering rule) and an ``n_merged`` counter so the repair is
    auditable. Already-valid conversations pass through byte-identical
    with ``n_merged = 1`` everywhere.

    Construction: change-point islands — a run boundary is
    ``role != lag(role)`` (or the first turn); the running boundary
    count is constant exactly on each run. Unlike X59's two-row-number
    form this handles EVERY role symmetrically in one pass.

    Scale shape at 10^12 turns: one window over ``(conv_id, turn_idx)``
    with O(1) lag/sum state, then a ``groupBy(conv_id, island)`` that
    reuses the window's hash partitioning (subset-key clustering) —
    ONE Exchange end to end, plan-pinned. The ordered in-run reassembly
    is bounded by the run length, not the conversation (the
    ``extraction.assemble_docs`` segmenting-guard argument applies if a
    pathological single-role conversation ever exceeds task memory).
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    # ROWS frame, as in tool_run_stats: RANGE would put tied turns of
    # different roles into one island
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    # null-safe inequality: a NULL-role turn must OPEN a new island (and
    # a run of NULL roles stays one island) — the naive `!=` yields NULL
    # against a non-NULL predecessor, which the running sum would skip,
    # absorbing the bad turn into the previous speaker's run and making
    # first(role) over the then-mixed group order-dependent
    boundary = (
        F.row_number().over(w) == 1
    ) | ~F.lag(role_col).over(w).eqNullSafe(F.col(role_col))
    boundary = boundary.cast("long")
    turns = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("_idx"),
        F.col(role_col).alias("_role"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
        F.sum(boundary).over(running).alias("_island"),
    )
    return (
        turns.groupBy("conv_id", "_island")
        .agg(
            F.min("_idx").alias("turn_idx"),
            F.first("_role").alias("role"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("_idx").alias("i"),
                                F.col("_t").alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                sep,
            ).alias("text"),
            F.count(F.lit(1)).cast("long").alias("n_merged"),
        )
        .select("conv_id", "turn_idx", "role", "text", "n_merged")
    )


def turn_latency(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    user_role: str = "user",
    assistant_role: str = "assistant",
) -> DataFrame:
    """Assistant response-latency stats per conversation (SURVEY §2.8
    X66): over every strict (user turn, immediately-following assistant
    turn) adjacency — the X57 pair rule — the microsecond gap between the
    two timestamps, aggregated per conversation::

        (conv_id, n_responses, total_latency_us, min_latency_us,
         max_latency_us)

    The latency signal drives two curation decisions: sub-second
    "assistant" responses in scraped logs are frequently cached/templated
    (drop candidates), and extreme gaps mark resumed sessions that
    sessionization (T8) should have split. Latencies are EXACT integer
    microsecond differences (``unix_micros`` ≡ DuckDB ``epoch_us``) — no
    float seconds, no truncation ambiguity between engines. Only
    conversations with ≥1 strict pair emit; means are left to the caller
    (total/n) so every shipped column stays exact.

    Scale shape: the X57 single window (O(1) lead state) plus a
    ``groupBy(conv_id)`` that reuses its hash partitioning — ONE Exchange
    end to end, plan-pinned.
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    # the ts column may arrive as TIMESTAMP_NTZ (parquet naive); the cast
    # applies the session zone, but only DIFFERENCES ship, so the offset
    # cancels (run pipelines with a fixed session zone — UTC — as usual)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    out = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(role_col).alias("_role"),
        F.lead(role_col).over(w).alias("_next_role"),
        (F.lead(us).over(w) - us).alias("_lat"),
    ).filter(
        (F.col("_role") == user_role)
        & (F.col("_next_role") == assistant_role)
        # only TIMED pairs count: a NULL timestamp on either side would
        # otherwise inflate n_responses while sum/min/max skip it,
        # silently biasing the caller's total/n mean
        & F.col("_lat").isNotNull()
    )
    return out.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_responses"),
        F.sum("_lat").alias("total_latency_us"),
        F.min("_lat").alias("min_latency_us"),
        F.max("_lat").alias("max_latency_us"),
    )


def role_transitions(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Corpus-wide role-transition matrix (SURVEY §2.8 X67): counts of
    every adjacent ``(from_role, to_role)`` pair plus ``(NULL, role)``
    rows for conversation openings — the first-order Markov structure of
    the transcript corpus, the one-page answer to "what does a typical
    conversation here look like" before any per-conversation audit. The
    X49 defect counters are specific cells of this matrix (role repeats
    = the diagonal; orphan tool results live in the non-assistant→tool
    cells), so the matrix is also the corpus-level triage view for them.

    Scale shape: one window over (conv_id, turn_idx) with O(1) lag
    state, then a hash-aggregate on the ≤ (R+1)·R role-pair grid (R =
    distinct roles, ~4) — map-side combine absorbs everything; the
    output is grid-sized regardless of corpus size.
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    pairs = df.select(
        F.lag(role_col).over(w).alias("from_role"),
        F.col(role_col).alias("to_role"),
    )
    return pairs.groupBy("from_role", "to_role").agg(
        F.count(F.lit(1)).alias("n")
    )
