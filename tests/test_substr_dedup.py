"""ExactSubstr span-level dedup (Lee et al. 2022) vs a direct Python
brute-force reference, plus the paper-semantics edge cases and the plan
shape the operator claims (pure JVM, partial-agg gram count, no
cartesian)."""
from __future__ import annotations

import random
from collections import Counter

import pytest

from ocr_spark.operators.dedup import (
    EXACT_SUBSTR_MIN_LEN,
    exact_substring_spans,
    strip_duplicate_substrings,
)


def _ref(docs: list[tuple[int, str | None]], L: int):
    """Brute-force ExactSubstr: count every L-gram corpus-wide, cover the
    positions whose gram occurs >= 2 times, merge intervals, strip."""
    cnt = Counter()
    for _, t in docs:
        if t is None:
            continue
        for i in range(len(t) - L + 1):
            cnt[t[i : i + L]] += 1
    out = {}
    for did, t in docs:
        if t is None:
            out[did] = (0, 0, None)
            continue
        covered = [i for i in range(len(t) - L + 1) if cnt[t[i : i + L]] >= 2]
        spans: list[list[int]] = []
        for p in covered:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = p + L
            else:
                spans.append([p, p + L])
        kept, nxt = "", 0
        for s, e in spans:
            kept += t[nxt:s]
            nxt = e
        kept += t[nxt:]
        out[did] = (len(spans), sum(e - s for s, e in spans), kept)
    return out


def _run(spark, docs, L):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = strip_duplicate_substrings(df, min_len=L).collect()
    return {
        r["doc_id"]: (r["n_dup_spans"], r["dup_chars"], r["kept_text"])
        for r in rows
    }


def test_matches_brute_force_on_random_corpus(spark):
    rng = random.Random(93)
    shared = [
        "".join(rng.choice("abcdefg ") for _ in range(rng.randint(25, 60)))
        for _ in range(6)
    ]
    docs = []
    for did in range(40):
        parts = []
        for _ in range(rng.randint(1, 5)):
            if rng.random() < 0.5:
                parts.append(rng.choice(shared))
            else:
                parts.append(
                    "".join(
                        rng.choice("hijklmnop ")
                        for _ in range(rng.randint(10, 80))
                    )
                )
        docs.append((did, "".join(parts)))
    L = 20
    assert _run(spark, docs, L) == _ref(docs, L)


def test_whole_doc_twins_strip_to_empty(spark):
    t = "x" * 10 + "identical twin documents long enough to clear the bar"
    docs = [(1, t), (2, t), (3, "a completely different unique text body")]
    got = _run(spark, docs, 30)
    assert got[1] == (1, len(t), "")
    assert got[2] == (1, len(t), "")
    assert got[3] == (0, 0, docs[2][1])


def test_self_repeat_within_one_doc_counts(spark):
    # the same 30-char run twice in ONE document: both occurrences are
    # duplicated (corpus occurrence count, not distinct-doc count)
    run = "abcdefghijklmnopqrstuvwxyz0123"
    t = run + "-- middle filler --" + run
    got = _run(spark, [(1, t), (2, "unrelated other content here")], 30)
    assert got[1][0] == 2 and got[1][1] == 60
    assert got[1][2] == "-- middle filler --"


def test_overlapping_covered_grams_merge_to_one_span(spark):
    # shared substring longer than L: every interior gram is duplicated,
    # coverage must merge into ONE span of exactly the shared run (the
    # contexts differ on both boundaries and the run never self-repeats,
    # so no boundary-crossing gram is duplicated)
    shared = "shared run spanning well beyond gram length kqz918 extra pad"
    docs = [(1, "A1-" + shared + "_tail-one"), (2, "B22=" + shared + "#t2")]
    spans = {
        r["id"]: r
        for r in exact_substring_spans(
            spark.createDataFrame(docs, "doc_id long, text string"),
            min_len=40,
        ).collect()
    }
    assert spans[1]["n_dup_spans"] == 1
    assert spans[1]["dup_chars"] == len(shared)
    (sp,) = spans[1]["dup_spans"]
    assert (sp["s"], sp["e"]) == (4, 4 + len(shared))
    (sp2,) = spans[2]["dup_spans"]
    assert (sp2["s"], sp2["e"]) == (5, 5 + len(shared))


def test_short_and_null_docs_pass_through(spark):
    docs = [(1, "short"), (2, None), (3, "short")]
    got = _run(spark, docs, EXACT_SUBSTR_MIN_LEN)
    assert got[1] == (0, 0, "short")
    assert got[2] == (0, 0, None)


def test_min_len_validation():
    with pytest.raises(ValueError):
        exact_substring_spans(None, min_len=0)


def test_plan_is_jvm_side_with_partial_gram_count(spark, tmp_path):
    # written+read parquet so the plan roots at a scan like production
    t = "some document body long enough to produce grams " * 3
    df = spark.createDataFrame(
        [(i, t + str(i)) for i in range(10)], "doc_id long, text string"
    )
    p = str(tmp_path / "docs.parquet")
    df.write.parquet(p)
    out = strip_duplicate_substrings(spark.read.parquet(p))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # pure JVM: no Arrow/row UDF crossing
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # duplicated-gram dictionary is a partial-agg count (map-side combine
    # absorbs hot boilerplate grams before the exchange)
    assert "partial_count" in plan
