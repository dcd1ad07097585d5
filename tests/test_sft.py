"""SFT example-preparation tests (SURVEY §2.8 X56–X59).

Hand-computable micro-fixtures pin every construction against an inline
Python reference; edge cases pin the NULL/empty contracts (head-of-
conversation empty context, NULL-text prefix segments, zero-user-turn
conversations); partitioning-invariance tests pin the repo's determinism
rule; plan tests pin the shuffle shapes (a single Window Exchange for the
turn-grain operators, subset-key aggregate reuse for the island stats).
The sf0.01/sf0.1 extended gate (``check_oracles --extended``:
``sft_context`` / ``sft_pairs`` / ``conv_prefix_dedup`` / ``tool_runs``)
pins the exact DuckDB hashes on real data.
"""
from __future__ import annotations

import datetime as dt
import io
import contextlib

import pytest

from ocr_spark.operators.dialogue import tool_run_stats
from ocr_spark.operators.sft import (
    assemble_context,
    conversation_prefix_dedup,
    response_pairs,
)

T0 = dt.datetime(2024, 1, 1)

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _turn(conv, idx, role, text="hello", tool=None):
    return (conv, idx, role, text, tool, T0 + dt.timedelta(seconds=idx))


ROWS = [
    # c1: the canonical valid shape
    _turn("c1", 0, "user", "Hi there!"),
    _turn("c1", 1, "assistant", "Hello.", tool="search"),
    _turn("c1", 2, "tool", "result A"),
    _turn("c1", 3, "assistant", "Answer."),
    # c2: assistant-first (head-of-conv empty context); NULL user text;
    # same canonical first user prompt as c1 but an extra NULL second one
    _turn("c2", 0, "assistant", "opening"),
    _turn("c2", 1, "user", "hi, THERE"),
    _turn("c2", 2, "user", None),
    _turn("c2", 3, "assistant", "resp"),
    # c3: two user turns then a 3-long tool run
    _turn("c3", 0, "user", "Hi there"),
    _turn("c3", 1, "user", "second q"),
    _turn("c3", 2, "tool", "r1"),
    _turn("c3", 3, "tool", "r2"),
    _turn("c3", 4, "tool", "r3"),
    _turn("c3", 5, "assistant", "done"),
    # c4: no user turns at all; two separated tool runs
    _turn("c4", 0, "tool", "orphan"),
    _turn("c4", 1, "system", "sys"),
    _turn("c4", 2, "tool", "t2"),
    # c5: byte-different but canonically identical prefix to c3
    _turn("c5", 0, "user", "  HI//there  "),
    _turn("c5", 1, "user", "SECOND?? q!!"),
    _turn("c5", 2, "assistant", "other"),
]


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.createDataFrame(ROWS, COLS)


def _n_exchanges(df) -> int:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    # formatted mode prints each operator once in the tree and once in
    # the details section
    return buf.getvalue().count("Exchange") // 2


# --- X56 assemble_context -------------------------------------------------


def test_context_rows_and_rendering(transcripts):
    out = {
        (r["conv_id"], r["turn_idx"]): r
        for r in assemble_context(transcripts, k=2).collect()
    }
    # one row per assistant turn
    assert set(out) == {
        ("c1", 1),
        ("c1", 3),
        ("c2", 0),
        ("c2", 3),
        ("c3", 5),
        ("c5", 2),
    }
    assert out[("c1", 1)]["context"] == "user: Hi there!"
    assert out[("c1", 1)]["n_context"] == 1
    assert out[("c1", 1)]["target"] == "Hello."
    # frame is the k=2 turns immediately preceding, in turn order
    assert out[("c1", 3)]["context"] == "assistant: Hello.\ntool: result A"
    # head-of-conversation: explicit empty context on both engines
    assert out[("c2", 0)]["n_context"] == 0
    assert out[("c2", 0)]["context"] == ""
    # NULL text renders as an empty segment, still occupying a slot
    assert out[("c2", 3)]["context"] == "user: hi, THERE\nuser: "
    # only the last k turns enter, not the whole conversation
    assert out[("c3", 5)]["context"] == "tool: r2\ntool: r3"


def test_context_null_role_is_a_segment(spark):
    rows = [
        _turn("n1", 0, "user", "q"),
        _turn("n1", 1, None, "lost role"),
        _turn("n1", 2, "assistant", "a"),
    ]
    (out,) = assemble_context(spark.createDataFrame(rows, SCHEMA), k=4).collect()
    assert out["context"] == "user: q\n: lost role"
    assert out["n_context"] == len(out["context"].split("\n")) == 2


def test_context_k_validation(transcripts):
    with pytest.raises(ValueError, match="k must be >= 1"):
        assemble_context(transcripts, k=0)


def test_context_single_exchange(transcripts):
    assert _n_exchanges(assemble_context(transcripts, k=4)) == 1


# --- X57 response_pairs ---------------------------------------------------


def test_pairs_strict_adjacency(transcripts):
    got = {
        (r["conv_id"], r["prompt_idx"]): r
        for r in response_pairs(transcripts).collect()
    }
    # c1: user@0 -> assistant@1. c2: user@2(NULL) -> assistant@3.
    # c3: user@1 is followed by a tool turn — NOT a pair; c4 has none;
    # c5: user@1 -> assistant@2.
    assert set(got) == {("c1", 0), ("c2", 2), ("c5", 1)}
    assert got[("c1", 0)]["response_idx"] == 1
    assert got[("c1", 0)]["prompt"] == "Hi there!"
    assert got[("c1", 0)]["response"] == "Hello."
    # NULL prompt text becomes ''
    assert got[("c2", 2)]["prompt"] == ""
    assert got[("c2", 2)]["response"] == "resp"


def test_pairs_single_exchange(transcripts):
    assert _n_exchanges(response_pairs(transcripts)) == 1


# --- X58 conversation_prefix_dedup ---------------------------------------


def test_prefix_classes_and_keeper(transcripts):
    out = {
        r["conv_id"]: r
        for r in conversation_prefix_dedup(transcripts, k=2).collect()
    }
    assert set(out) == {"c1", "c2", "c3", "c4", "c5"}
    # c3 and c5 are byte-different but canonically identical
    # ("hi there" | "second q" — punctuation collapsed, case folded)
    assert out["c3"]["prefix_key"] == out["c5"]["prefix_key"]
    assert out["c3"]["class_size"] == 2 and out["c5"]["class_size"] == 2
    assert out["c3"]["keeper"] == "c3" and out["c5"]["keeper"] == "c3"
    assert out["c3"]["is_keeper"] is True
    assert out["c5"]["is_keeper"] is False
    # c1 ("hi there", 1 prefix turn) must NOT collide with c2
    # ("hi there" + NULL second user turn → "hi there|"): the NULL
    # segment contributes to the key
    assert out["c1"]["n_prefix_turns"] == 1
    assert out["c2"]["n_prefix_turns"] == 2
    assert out["c1"]["prefix_key"] != out["c2"]["prefix_key"]
    assert out["c1"]["class_size"] == 1 and out["c1"]["is_keeper"] is True
    # no user turns → no evidence → NULL key and NULL class columns
    c4 = out["c4"]
    assert c4["n_prefix_turns"] == 0
    assert c4["prefix_key"] is None
    assert c4["class_size"] is None
    assert c4["keeper"] is None
    assert c4["is_keeper"] is None
    # n_turns counts ALL turns, not just the prefix
    assert out["c1"]["n_turns"] == 4 and out["c4"]["n_turns"] == 3


def test_prefix_k_widens_classes(transcripts):
    # at k=1 c1, c2, c3, c5 all share the canonical first prompt
    # "hi there" — one class of 4
    out = {
        r["conv_id"]: r
        for r in conversation_prefix_dedup(transcripts, k=1).collect()
    }
    keys = {out[c]["prefix_key"] for c in ("c1", "c2", "c3", "c5")}
    assert len(keys) == 1
    assert out["c1"]["class_size"] == 4
    assert out["c1"]["keeper"] == "c1"
    with pytest.raises(ValueError, match="k must be >= 1"):
        conversation_prefix_dedup(transcripts, k=0)


def test_prefix_partitioning_invariance(spark, transcripts):
    a = {
        tuple(r)
        for r in conversation_prefix_dedup(transcripts, k=2).collect()
    }
    b = {
        tuple(r)
        for r in conversation_prefix_dedup(
            transcripts.repartition(7, "turn_idx"), k=2
        ).collect()
    }
    assert a == b


def test_prefix_two_exchanges(transcripts):
    # one turn-grain Exchange (window + reused groupBy) + one over the
    # conversation-grain class window
    assert _n_exchanges(conversation_prefix_dedup(transcripts, k=2)) == 2


# --- X59 tool_run_stats ---------------------------------------------------


def test_tool_runs(transcripts):
    out = {r["conv_id"]: r for r in tool_run_stats(transcripts).collect()}
    # convs with zero tool turns don't appear
    assert set(out) == {"c1", "c3", "c4"}
    c1 = out["c1"]
    assert (c1["n_tool_turns"], c1["n_runs"], c1["longest_run"]) == (1, 1, 1)
    assert c1["first_run_start"] == 2
    c3 = out["c3"]
    assert (c3["n_tool_turns"], c3["n_runs"], c3["longest_run"]) == (3, 1, 3)
    assert c3["first_run_start"] == 2
    # c4: two runs separated by the system turn — islands split correctly
    c4 = out["c4"]
    assert (c4["n_tool_turns"], c4["n_runs"], c4["longest_run"]) == (2, 2, 1)
    assert c4["first_run_start"] == 0


def test_tool_runs_partitioning_invariance(transcripts):
    a = {tuple(r) for r in tool_run_stats(transcripts).collect()}
    b = {
        tuple(r)
        for r in tool_run_stats(
            transcripts.repartition(5, "text")
        ).collect()
    }
    assert a == b


def test_tool_runs_single_exchange(transcripts):
    # the window's hash partitioning on conv_id is reused by BOTH
    # downstream aggregates ((conv_id, island) and conv_id — subset-key
    # clustering), so the whole operator is one Exchange
    assert _n_exchanges(tool_run_stats(transcripts)) == 1


# --- X62 truncate_to_budget ----------------------------------------------


def test_truncate_keeps_suffix_within_budget(spark):
    from ocr_spark.operators.sft import truncate_to_budget

    rows = [
        # texts with 4, 3, 2, 1 whitespace tokens (oldest -> newest)
        _turn("c", 0, "user", "a b c d"),
        _turn("c", 1, "assistant", "e f g"),
        _turn("c", 2, "user", "h i"),
        _turn("c", 3, "assistant", "j"),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {
        r["turn_idx"]: r for r in truncate_to_budget(df, budget=6).collect()
    }
    # from the end: cum = 1, 3, 6, 10
    assert [out[i]["cum_from_end"] for i in (3, 2, 1, 0)] == [1, 3, 6, 10]
    assert [out[i]["kept"] for i in (3, 2, 1, 0)] == [
        True,
        True,
        True,
        False,
    ]
    assert out[0]["n_tok"] == 4


def test_truncate_final_turn_always_kept(spark):
    from ocr_spark.operators.sft import truncate_to_budget

    rows = [
        _turn("c", 0, "user", "one two"),
        _turn("c", 1, "assistant", " ".join(f"w{i}" for i in range(50))),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {
        r["turn_idx"]: r for r in truncate_to_budget(df, budget=5).collect()
    }
    # the final turn busts the budget alone but survives, flagged by cum
    assert out[1]["kept"] is True and out[1]["cum_from_end"] == 50
    assert out[0]["kept"] is False
    # NULL/empty texts count zero tokens
    df2 = spark.createDataFrame([_turn("c", 0, "user", None)], SCHEMA)
    r = truncate_to_budget(df2, budget=1).collect()[0]
    assert r["n_tok"] == 0 and r["kept"] is True
    import pytest as _pytest

    with _pytest.raises(ValueError, match="budget must be >= 1"):
        truncate_to_budget(df, budget=0)


def test_truncate_single_exchange(transcripts):
    from ocr_spark.operators.sft import truncate_to_budget

    assert _n_exchanges(truncate_to_budget(transcripts, budget=8)) == 1


# --- X63 merge_role_runs --------------------------------------------------


def test_merge_role_runs_repairs_repeats(spark):
    from ocr_spark.operators.dialogue import merge_role_runs

    rows = [
        _turn("c", 0, "user", "part one"),
        _turn("c", 1, "user", "part two"),
        _turn("c", 2, "user", None),
        _turn("c", 3, "assistant", "reply"),
        _turn("c", 4, "user", "again"),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = sorted(
        merge_role_runs(df).collect(), key=lambda r: r["turn_idx"]
    )
    assert [(r["turn_idx"], r["role"], r["n_merged"]) for r in out] == [
        (0, "user", 3),
        (3, "assistant", 1),
        (4, "user", 1),
    ]
    # texts join in turn order; NULL becomes an empty slot
    assert out[0]["text"] == "part one\npart two\n"
    assert out[2]["text"] == "again"


def test_merge_role_runs_valid_conv_passthrough(transcripts):
    from ocr_spark.operators.dialogue import merge_role_runs

    # c1 has no role repeats: merge is the identity (n_merged = 1)
    out = [
        r
        for r in merge_role_runs(transcripts).collect()
        if r["conv_id"] == "c1"
    ]
    assert len(out) == 4
    assert all(r["n_merged"] == 1 for r in out)
    src = {
        r["turn_idx"]: (r["role"], r["text"] or "")
        for r in transcripts.filter("conv_id = 'c1'").collect()
    }
    for r in out:
        assert (r["role"], r["text"]) == src[r["turn_idx"]]


def test_merge_role_runs_single_exchange(transcripts):
    from ocr_spark.operators.dialogue import merge_role_runs

    assert _n_exchanges(merge_role_runs(transcripts)) == 1


# --- X65 curate_conversations --------------------------------------------


def test_curate_conversations_verdicts(transcripts):
    from ocr_spark.operators.sft import curate_conversations

    out = {
        r["conv_id"]: r
        for r in curate_conversations(transcripts, prefix_k=2).collect()
    }
    # c1: valid, keeper, 1 pair, 4 turns -> keep
    c1 = out["c1"]
    assert c1["keep"] is True
    assert not any(
        c1[f] for f in
        ("drop_invalid", "drop_dup", "drop_no_pairs", "drop_len")
    )
    # c2: starts with assistant (invalid) though it HAS a pair
    assert out["c2"]["keep"] is False
    assert out["c2"]["drop_invalid"] is True
    assert out["c2"]["drop_no_pairs"] is False
    # c5: duplicate of c3 under the prefix key -> drop_dup (and also
    # pairless is False: user@1 -> assistant@2 is a pair)
    assert out["c5"]["drop_dup"] is True and out["c5"]["keep"] is False
    # c3: keeper of its class but its only user turns are followed by
    # user/tool turns... user@1 -> tool => 0 pairs -> drop_no_pairs
    assert out["c3"]["n_pairs"] == 0
    assert out["c3"]["drop_no_pairs"] is True
    # c4: no user turns -> NULL dedup evidence doesn't drop it, the
    # audit does
    assert out["c4"]["is_keeper"] is None
    assert out["c4"]["drop_dup"] is False
    assert out["c4"]["drop_invalid"] is True


def test_curate_conversations_length_gate(spark):
    from ocr_spark.operators.sft import curate_conversations

    rows = [
        _turn("short", 0, "user", "hi"),
        _turn("long", 0, "user", "hi"),
    ] + [
        _turn("long", i, "assistant" if i % 2 else "user", f"t{i}")
        for i in range(1, 12)
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {
        r["conv_id"]: r
        for r in curate_conversations(
            df, min_turns=2, max_turns=10
        ).collect()
    }
    assert out["short"]["drop_len"] is True  # 1 turn < 2
    assert out["long"]["drop_len"] is True   # 12 turns > 10
    assert not out["short"]["keep"] and not out["long"]["keep"]


def test_curate_conversations_invariance(transcripts):
    from ocr_spark.operators.sft import curate_conversations

    a = {tuple(r) for r in curate_conversations(transcripts).collect()}
    b = {
        tuple(r)
        for r in curate_conversations(
            transcripts.repartition(9, "text")
        ).collect()
    }
    assert a == b
