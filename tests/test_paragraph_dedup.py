"""Corpus-global keep-first-occurrence paragraph dedup
(curation.paragraph_dedup): exact semantics vs a direct Python
reference (first = smallest (doc_id, pos)), edge segments (empties,
trailing delimiters, NULL text, all-duplicate docs), partitioning
invariance of the winner choice, and the skew-safe plan shape (the
winner is a map-combinable aggregate, never a window over the
segment key)."""
from __future__ import annotations

import pytest

from ocr_spark.operators.curation import paragraph_dedup

#: cross-doc repeats (license header in 1/2/3), a within-doc repeat
#: (doc 4), a doc that is entirely earlier paragraphs (doc 5), empties
#: mid-doc and via trailing delimiter, empty text, NULL text
DOCS = [
    (1, "mit license header\nalpha body one\n\nshared footer\n"),
    (2, "mit license header\nbeta body two\nshared footer"),
    (3, "mit license header\ngamma body three"),
    (4, "repeat me\nrepeat me\nunique four"),
    (5, "mit license header\nshared footer"),
    (6, ""),
    (7, None),
]


def _ref(docs, delim="\n"):
    split = {i: (t.split(delim) if t is not None else []) for i, t in docs}
    seen = set()
    out = {}
    for i in sorted(split):  # first = smallest (doc_id, pos)
        kept = []
        for seg in split[i]:
            if seg == "":
                kept.append(seg)
            elif seg not in seen:
                seen.add(seg)
                kept.append(seg)
        out[i] = (
            delim.join(kept),
            len(split[i]),
            len(split[i]) - len(kept),
        )
    return out


def _run(spark, docs, **kw):
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    rows = paragraph_dedup(sdf, **kw).collect()
    return {
        r["doc_id"]: (r["clean_text"], r["n_paras"], r["n_removed"])
        for r in rows
    }


def test_matches_python_reference(spark):
    assert _run(spark, DOCS) == _ref(DOCS)


def test_all_unique_is_identity(spark):
    docs = [(1, "aaa\nbbb"), (2, "ccc"), (3, "ddd\neee\nfff")]
    got = _run(spark, docs)
    for did, text in docs:
        assert got[did] == (text, text.count("\n") + 1, 0)


def test_within_doc_repeat_keeps_first(spark):
    got = _run(spark, [(9, "same para\nsame para\nsame para")])
    assert got[9] == ("same para", 3, 2)


def test_all_duplicate_doc_survives_empty(spark):
    got = _run(spark, DOCS)
    assert got[5] == ("", 2, 2)


def test_null_and_empty_text(spark):
    got = _run(spark, DOCS)
    assert got[7] == ("", 0, 0)  # NULL text
    assert got[6] == ("", 1, 0)  # "" splits to one empty segment, kept


def test_custom_delimiter(spark):
    docs = [(1, "x the y the x"), (2, "x the z")]
    # segments: doc1 = [x, y, x] -> x kept at (1,0), dup at (1,2) removed;
    # doc2 = [x, z] -> x removed (first occurrence is doc 1), z kept
    got = _run(spark, docs, delimiter=" the ")
    assert got[1] == ("x the y", 3, 1)
    assert got[2] == ("z", 2, 1)


def test_winner_is_partitioning_invariant(spark):
    sdf = spark.createDataFrame(DOCS, "doc_id long, text string")
    base = {
        r["doc_id"]: r["clean_text"]
        for r in paragraph_dedup(sdf).collect()
    }
    for n in (1, 7):
        got = {
            r["doc_id"]: r["clean_text"]
            for r in paragraph_dedup(sdf.repartition(n)).collect()
        }
        assert got == base


def test_empty_delimiter_raises(spark):
    sdf = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError, match="delimiter"):
        paragraph_dedup(sdf, delimiter="")


def test_plan_has_no_window_over_segments(spark):
    """The first-occurrence winner must be the map-combinable
    min(struct) AGGREGATE, not a row_number window partitioned by the
    segment key — a window would collapse a billion-occurrence
    boilerplate paragraph onto one task."""
    sdf = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = paragraph_dedup(sdf)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan
