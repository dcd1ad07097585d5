"""Dialogue-structure audit tests (SURVEY §2.8 X49).

Hand-computable micro-fixtures pin every counter and the validity verdict;
a partitioning-invariance test pins the repo's determinism rule; a plan
test pins the one-Exchange shape (the window's hash partitioning AND sort
order are reused by the per-conversation aggregate). The sf0.01 gate
(check_oracles --extended: ``dialogue_audit``) pins the exact DuckDB hash
on real data.
"""
from __future__ import annotations

import datetime as dt

import pytest

from ocr_spark.operators.dialogue import dialogue_audit

T0 = dt.datetime(2024, 1, 1)

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _turn(conv, idx, role, text="hello", tool=None):
    return (conv, idx, role, text, tool, T0 + dt.timedelta(seconds=idx))


@pytest.fixture(scope="module")
def transcripts(spark):
    rows = [
        # c1: perfectly valid — user / assistant(call) / tool / assistant
        _turn("c1", 0, "user"),
        _turn("c1", 1, "assistant", tool="search"),
        _turn("c1", 2, "tool"),
        _turn("c1", 3, "assistant"),
        # c2: starts with assistant; two consecutive user turns; one
        # whitespace-only and one NULL text
        _turn("c2", 0, "assistant"),
        _turn("c2", 1, "user", text="   "),
        _turn("c2", 2, "user", text=None),
        # c3: orphan tool turns — opens with one (no predecessor), and a
        # second follows an assistant turn that issued NO call
        _turn("c3", 0, "tool"),
        _turn("c3", 1, "assistant"),
        _turn("c3", 2, "tool"),
    ]
    return spark.createDataFrame(rows, COLS)


def test_audit_counts_and_verdict(transcripts):
    out = {r["conv_id"]: r for r in dialogue_audit(transcripts).collect()}
    c1 = out["c1"]
    assert (c1["n_turns"], c1["n_user"], c1["n_assistant"], c1["n_tool"]) == (
        4,
        1,
        2,
        1,
    )
    assert c1["n_tool_calls"] == 1
    assert c1["n_role_repeats"] == 0
    assert c1["n_orphan_tool"] == 0
    assert c1["n_empty"] == 0
    assert c1["starts_with_user"] and c1["valid"]

    c2 = out["c2"]
    assert c2["n_role_repeats"] == 1  # user,user
    assert c2["n_empty"] == 2  # "   " and NULL
    assert not c2["starts_with_user"] and not c2["valid"]

    c3 = out["c3"]
    # both tool turns are orphans: first has no predecessor, second
    # follows an assistant turn whose tool is NULL
    assert c3["n_orphan_tool"] == 2
    assert c3["n_tool_calls"] == 0
    assert not c3["valid"]


def test_empty_turns_do_not_invalidate(spark):
    rows = [
        _turn("c", 0, "user", text=""),
        _turn("c", 1, "assistant"),
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    out = dialogue_audit(spark.createDataFrame(rows, schema)).collect()[0]
    assert out["n_empty"] == 1
    assert out["valid"]  # structure is fine; emptiness is reported only


def test_partitioning_invariance(transcripts):
    a = sorted(map(tuple, dialogue_audit(transcripts).collect()))
    b = sorted(
        map(tuple, dialogue_audit(transcripts.repartition(7)).collect())
    )
    assert a == b


def test_one_exchange_plan(transcripts):
    plan = (
        dialogue_audit(transcripts)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the groupBy must reuse the window's hash partitioning: exactly one
    # shuffle in the whole audit
    assert plan.count("Exchange hashpartitioning") == 1


# --- X66 turn_latency -----------------------------------------------------


def test_turn_latency_exact_micros(spark):
    from ocr_spark.operators.dialogue import turn_latency

    rows = [
        # user@t=0 -> assistant@t=3s; user@t=10 -> assistant@t=10.5s
        ("c", 0, "user", "q1", None, T0),
        ("c", 1, "assistant", "a1", None, T0 + dt.timedelta(seconds=3)),
        ("c", 2, "user", "q2", None, T0 + dt.timedelta(seconds=10)),
        (
            "c",
            3,
            "assistant",
            "a2",
            None,
            T0 + dt.timedelta(seconds=10, microseconds=500_000),
        ),
        # user followed by tool: NOT a response pair
        ("c", 4, "user", "q3", None, T0 + dt.timedelta(seconds=20)),
        ("c", 5, "tool", "r", None, T0 + dt.timedelta(seconds=21)),
        # d: no pairs at all -> absent from output
        ("d", 0, "assistant", "a", None, T0),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = {r["conv_id"]: r for r in turn_latency(df).collect()}
    assert set(out) == {"c"}
    c = out["c"]
    assert c["n_responses"] == 2
    assert c["total_latency_us"] == 3_000_000 + 500_000
    assert c["min_latency_us"] == 500_000
    assert c["max_latency_us"] == 3_000_000


# --- X67 role_transitions -------------------------------------------------


def test_role_transitions_matrix(transcripts):
    from ocr_spark.operators.dialogue import role_transitions

    got = {
        (r["from_role"], r["to_role"]): r["n"]
        for r in role_transitions(transcripts).collect()
    }
    # openings: one per conversation (c1, c2, c3)
    assert got[(None, "user")] == 1       # c1 opens with user
    assert got[(None, "assistant")] == 1  # c2
    assert got[(None, "tool")] == 1       # c3
    # the diagonal is the audit's n_role_repeats: c2 has user,user
    assert got[("user", "user")] == 1
    # every turn appears exactly once as a to_role
    total = sum(got.values())
    assert total == transcripts.count()


def test_turn_latency_null_ts_pairs_excluded(spark):
    from ocr_spark.operators.dialogue import turn_latency

    rows = [
        ("c", 0, "user", "q1", None, T0),
        ("c", 1, "assistant", "a1", None, T0 + dt.timedelta(seconds=2)),
        ("c", 2, "user", "q2", None, T0 + dt.timedelta(seconds=5)),
        ("c", 3, "assistant", "a2", None, None),  # untimed response
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = turn_latency(df).collect()
    # only the TIMED pair counts, so total/n stays an honest mean
    assert len(out) == 1
    r = out[0]
    assert r["n_responses"] == 1
    assert r["total_latency_us"] == 2_000_000


def test_merge_role_runs_null_role_opens_island(spark):
    from ocr_spark.operators.dialogue import merge_role_runs

    rows = [
        ("c", 0, "user", "hi", None, T0),
        ("c", 1, None, "stray", None, T0 + dt.timedelta(seconds=1)),
        ("c", 2, None, "stray2", None, T0 + dt.timedelta(seconds=2)),
        ("c", 3, "user", "again", None, T0 + dt.timedelta(seconds=3)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = sorted(
        merge_role_runs(df).collect(), key=lambda r: r["turn_idx"]
    )
    # the NULL-role turns form their OWN island (never absorbed into the
    # previous speaker), and a run of NULLs merges deterministically
    assert [(r["turn_idx"], r["role"], r["n_merged"]) for r in out] == [
        (0, "user", 1),
        (1, None, 2),
        (3, "user", 1),
    ]
    assert out[1]["text"] == "stray\nstray2"


# --- tied turn_idx: the running sums take a ROWS frame ---------------------


def _tied(spark, turns):
    rows = [
        ("c", idx, role, f"{role}{n}", None, T0)
        for n, (idx, role) in enumerate(turns)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def test_tool_run_stats_tied_turn_idx(spark):
    from ocr_spark.operators.dialogue import tool_run_stats

    df = _tied(spark, [(0, "tool"), (1, "tool"), (1, "tool"), (2, "user")])
    (r,) = tool_run_stats(df).collect()
    # one run of three: under the default RANGE frame both turn 1s saw
    # the peer group's full sum and the run split in two
    assert (r["n_tool_turns"], r["n_runs"], r["longest_run"]) == (3, 1, 3)
    assert r["first_run_start"] == 0


def test_merge_role_runs_tied_turn_idx_keeps_roles_apart(spark):
    from ocr_spark.operators.dialogue import merge_role_runs

    df = _tied(spark, [(0, "user"), (1, "assistant"), (1, "user")])
    out = merge_role_runs(df).collect()
    # which tied turn sorts first is up to Spark, but no merged turn may
    # hold text from two roles
    assert sum(r["n_merged"] for r in out) == 3
    for r in out:
        assert all(s.startswith(r["role"]) for s in r["text"].split("\n"))


def test_curate_conversations_custom_role_labels(spark):
    from ocr_spark.operators.sft import curate_conversations

    rows = [
        ("c", 0, "human", "hello", None, T0),
        ("c", 1, "gpt", "hi there", None, T0 + dt.timedelta(seconds=1)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = curate_conversations(
        df, user_role="human", assistant_role="gpt", tool_role="fn"
    ).collect()
    assert len(out) == 1 and out[0]["keep"] is True
    # default labels on the same data would have dropped everything
    dropped = curate_conversations(df).collect()
    assert dropped[0]["keep"] is False
