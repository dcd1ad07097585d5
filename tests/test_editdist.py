"""Edit-distance near-dup: banded DP vs a textbook full-matrix reference,
PassJoin candidates vs brute force, completeness on planted pairs,
tiny-string channel, and plan shape (candidate generation is an
equi-join, never a cartesian)."""
import random

import pytest

from ocr_spark.operators.editdist import (
    banded_levenshtein,
    edit_distance_near_dup,
)


def full_levenshtein(a: str, b: str) -> int:
    """Textbook O(n·m) reference DP."""
    la, lb = len(a), len(b)
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j - 1] + (0 if a[i - 1] == b[j - 1] else 1),
                prev[j] + 1,
                cur[j - 1] + 1,
            )
        prev = cur
    return prev[lb]


def _mutate(rng, s: str, n_edits: int) -> str:
    alpha = "abcdefgh "
    for _ in range(n_edits):
        op = rng.choice("ids")
        pos = rng.randrange(len(s) + (op == "i"))
        if op == "i":
            s = s[:pos] + rng.choice(alpha) + s[pos:]
        elif op == "d" and s:
            s = s[:pos] + s[pos + 1 :]
        else:
            s = s[:pos] + rng.choice(alpha) + s[pos + 1 :]
    return s


def test_banded_matches_full_dp_fuzz():
    rng = random.Random(7)
    alpha = "abcde"
    for _ in range(300):
        a = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 30)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 30)))
        for d in (0, 1, 2, 4):
            ref = full_levenshtein(a, b)
            got = banded_levenshtein(a, b, d)
            assert got == (ref if ref <= d else None), (a, b, d, ref, got)


def test_banded_edge_cases():
    assert banded_levenshtein("", "", 0) == 0
    assert banded_levenshtein("", "abc", 3) == 3
    assert banded_levenshtein("", "abc", 2) is None
    assert banded_levenshtein("kitten", "sitting", 3) == 3
    assert banded_levenshtein("kitten", "sitting", 2) is None


def _corpus(rng, n_base=40, max_d=3):
    """Base docs + planted near-dups at known distances + tiny strings."""
    alpha = "abcdefghijklmnop qrstuvwxyz"
    docs = []
    for i in range(n_base):
        docs.append((i, "".join(rng.choice(alpha) for _ in range(rng.randrange(20, 60)))))
    nid = n_base
    for i in range(0, n_base, 4):
        docs.append((nid, _mutate(rng, docs[i][1], rng.randrange(1, max_d + 1))))
        nid += 1
    # tiny-length channel: strings shorter than max_dist+1
    for s in ("", "a", "ab", "ba", "xy"):
        docs.append((nid, s))
        nid += 1
    return docs


def _brute(docs, d):
    out = set()
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            dist = full_levenshtein(docs[i][1], docs[j][1])
            if dist <= d:
                a, b = sorted((docs[i][0], docs[j][0]))
                out.add((a, b, dist))
    return out


@pytest.mark.parametrize("d", [0, 1, 2, 3])
def test_exact_vs_bruteforce_both_strategies(spark, d):
    rng = random.Random(d * 31 + 1)
    docs = _corpus(rng, max_d=max(d, 1))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    expect = _brute(docs, d)
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_near_dup(df, max_dist=d).collect()
    }
    assert got == expect, (d, got ^ expect)
    assert expect, "corpus must plant at least one pair for the test to bite"


def test_null_text_excluded(spark):
    df = spark.createDataFrame(
        [(1, "hello"), (2, None), (3, "hello")], "doc_id int, text string"
    )
    got = edit_distance_near_dup(df, max_dist=1).collect()
    assert [(r.id_a, r.id_b, r.dist) for r in got] == [(1, 3, 0)]


def test_candidate_plan_has_no_cartesian(spark):
    df = spark.createDataFrame(
        [(i, f"document number {i} content") for i in range(30)],
        "doc_id int, text string",
    )
    plan = (
        edit_distance_near_dup(df, max_dist=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_validation():
    with pytest.raises(ValueError):
        edit_distance_near_dup(None, max_dist=-1)
