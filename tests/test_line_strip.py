"""Corpus-level line-frequency boilerplate strip (curation.line_strip):
exact semantics vs a direct Python reference, edge segments (empties,
trailing delimiters, NULL text, all-boilerplate docs), the strictly-
greater threshold boundary, and the identity property at an
unreachable threshold."""
from __future__ import annotations

from contextlib import contextmanager

import pytest

from ocr_spark.operators.curation import line_strip

#: three docs share the cookie-banner and nav lines; one doc is pure
#: boilerplate; empties appear mid-doc and via trailing newline
DOCS = [
    (1, "accept all cookies\nreal content one\n\nnav home about\n"),
    (2, "accept all cookies\nreal content two\nnav home about"),
    (3, "accept all cookies\nnav home about"),
    (4, "unique document\nonly here"),
    (5, ""),
    (6, None),
    (7, "shared twice\nbody seven"),
    (8, "shared twice\nbody eight"),
]


def _ref(docs, max_doc_freq, delim="\n"):
    split = {
        i: (t.split(delim) if t is not None else []) for i, t in docs
    }
    df = {}
    for i, lines in split.items():
        for ln in set(lines):
            if ln != "":
                df[ln] = df.get(ln, 0) + 1
    out = {}
    for i, lines in split.items():
        kept = [ln for ln in lines if ln == "" or df[ln] <= max_doc_freq]
        out[i] = (
            delim.join(kept),
            len(lines),
            len(lines) - len(kept),
        )
    return out


def _strip_plan(spark, docs, **kw):
    """(rows, executed plan string) of one line_strip call."""
    out = line_strip(
        spark.createDataFrame(docs, "doc_id long, text string"), **kw
    )
    rows = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
        for r in out.collect()
    }
    return rows, out._jdf.queryExecution().executedPlan().toString()


def _run(spark, docs, **kw):
    return _strip_plan(spark, docs, **kw)[0]


def test_matches_python_reference(spark):
    got = _run(spark, DOCS, max_doc_freq=2)
    want = _ref(DOCS, 2)
    assert got == want


def test_boilerplate_stripped_everywhere(spark):
    got = _run(spark, DOCS, max_doc_freq=2)
    # 'accept all cookies' and 'nav home about' have df=3 > 2: gone from
    # every doc, including doc 3 which becomes empty (one empty segment
    # per removed line collapses to the bare delimiter join of nothing)
    assert "accept all cookies" not in got[1][0]
    assert got[3] == ("", 2, 2)
    # doc 1 keeps its empty segment and trailing-newline empty verbatim
    assert got[1] == ("real content one\n\n", 5, 2)


def test_threshold_is_strictly_greater(spark):
    got = _run(spark, DOCS, max_doc_freq=2)
    # 'shared twice' has df=2 == cap: kept
    assert got[7] == ("shared twice\nbody seven", 2, 0)
    # cap=1 removes it
    got1 = _run(spark, DOCS, max_doc_freq=1)
    assert got1[7] == ("body seven", 2, 1)


def test_null_and_empty_text(spark):
    got = _run(spark, DOCS, max_doc_freq=2)
    assert got[6] == ("", 0, 0)  # NULL text
    assert got[5] == ("", 1, 0)  # '' splits to one empty segment, kept


def test_identity_at_unreachable_threshold(spark):
    got = _run(spark, DOCS, max_doc_freq=10_000)
    for doc_id, text in DOCS:
        want = text if text is not None else ""
        assert got[doc_id][0] == want
        assert got[doc_id][2] == 0


def test_custom_delimiter(spark):
    docs = [(1, "a | b | c"), (2, "x | b | y"), (3, "b")]
    got = _run(spark, docs, max_doc_freq=2, delimiter=" | ")
    want = _ref(docs, 2, delim=" | ")
    assert got == want
    got1 = _run(spark, docs, max_doc_freq=2, delimiter="|")
    # '|' delimiter leaves the padding spaces on each segment, so 'b'
    # (doc 3) no longer matches ' b ' (docs 1-2): nothing removed
    assert all(v[2] == 0 for v in got1.values())


def test_delimiter_is_literal_not_regex(spark):
    docs = [(1, "one.two.three"), (2, "axb")]
    got = _run(spark, docs, max_doc_freq=10, delimiter=".")
    assert got[1] == ("one.two.three", 3, 0)
    assert got[2] == ("axb", 1, 0)  # '.' must not match every char


def test_validations(spark):
    sdf = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError, match="max_doc_freq"):
        line_strip(sdf, max_doc_freq=0)
    with pytest.raises(ValueError, match="delimiter"):
        line_strip(sdf, delimiter="")


@contextmanager
def _broadcast_threshold(spark, value):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", value)
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_auto_strategy_size_guard(spark):
    """The strip join follows the session's broadcast threshold: at -1
    it is the shuffle anti-join, at 1g the broadcast, and both plans
    return identical rows at an aggressive cap."""
    from ocr_spark.operators.curation import (
        _parse_byte_conf,
        _should_broadcast_boiler,
    )

    # aggressive cap: every shared line is boilerplate
    with _broadcast_threshold(spark, "-1"):
        assert not _should_broadcast_boiler(0, spark)
        shuffled, plan = _strip_plan(spark, DOCS, max_doc_freq=1)
        assert "LeftAnti" in plan
        assert "BroadcastHashJoin" not in plan
    with _broadcast_threshold(spark, "1g"):
        broadcast, plan = _strip_plan(spark, DOCS, max_doc_freq=1)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert shuffled == broadcast == _ref(DOCS, 1)

    assert _parse_byte_conf("10485760") == 10 << 20
    assert _parse_byte_conf("10MB") == 10 << 20
    assert _parse_byte_conf("1g") == 1 << 30
    assert _parse_byte_conf("512b") == 512
    assert _parse_byte_conf("-1") == -1
    with _broadcast_threshold(spark, "64b"):
        assert not _should_broadcast_boiler(64, spark)  # 2x headroom
        assert _should_broadcast_boiler(32, spark)


def test_plan_shape(spark):
    """The strip join is a broadcast anti-join (no shuffle on the corpus
    side of the strip) while the boilerplate set fits the session's
    threshold, and a shuffle anti-join once broadcasting is off."""
    with _broadcast_threshold(spark, "1g"):
        _, plan = _strip_plan(spark, DOCS)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    with _broadcast_threshold(spark, "-1"):
        _, plan = _strip_plan(spark, DOCS)
    assert "LeftAnti" in plan and "BroadcastHashJoin" not in plan


# ---------------------------------------------------------------------------
# collapse_repeats (within-doc consecutive-repeat collapse)
# ---------------------------------------------------------------------------


def test_collapse_repeats_basic(spark):
    from ocr_spark.operators.curation import collapse_repeats

    docs = spark.createDataFrame(
        [
            (1, "a a a b b a"),
            (2, "x\n\n\ny\ny\nx"),
            (3, None),
            (4, ""),
            (5, "no repeats here"),
        ],
        ["doc_id", "text"],
    )
    words = {
        r["doc_id"]: r
        for r in collapse_repeats(docs, delimiter=" ").collect()
    }
    assert words[1]["clean_text"] == "a b a"
    assert (words[1]["n_parts"], words[1]["n_collapsed"]) == (6, 3)
    assert words[3]["clean_text"] == "" and words[3]["n_parts"] == 0
    assert words[4]["clean_text"] == "" and words[4]["n_parts"] == 1
    assert words[5]["n_collapsed"] == 0

    lines = {
        r["doc_id"]: r for r in collapse_repeats(docs).collect()
    }
    # "x,'','',y,y,x" -> blank-line run squeezes, adjacent y's collapse,
    # the non-adjacent x's both survive
    assert lines[2]["clean_text"] == "x\n\ny\nx"
    assert (lines[2]["n_parts"], lines[2]["n_collapsed"]) == (6, 2)


def test_collapse_repeats_narrow_plan_and_validation(spark):
    from ocr_spark.operators.curation import collapse_repeats

    docs = spark.createDataFrame([(1, "a a b")], ["doc_id", "text"])
    plan = (
        collapse_repeats(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Python" not in plan
    with pytest.raises(ValueError):
        collapse_repeats(docs, delimiter="")
