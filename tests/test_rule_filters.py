"""C4 heuristic rule gate (curation.c4_rule_filters) and encoding
repair (curation.mojibake_repair): exact semantics vs direct Python
references, every rule exercised both ways (firing and toggled off),
edge segments (NULL text, empty text, trailing delimiters, all-dropped
docs), the derived mojibake table's round-trip property, the
one-level-entity-decode contract, and the narrow zero-shuffle plan
shape both operators promise."""
from __future__ import annotations

import re

import pytest

from ocr_spark.operators.curation import (
    ENTITY_REPAIRS,
    MOJIBAKE_REPAIRS,
    c4_rule_filters,
    mojibake_repair,
)

DOCS = [
    (1, "Hello world this is fine.\nshort line\nNo terminal punct here "
        "at all\nAnother good long sentence right here!"),
    (2, "One two three four five.\nJavaScript is required to view this."),
    (3, "lorem ipsum dolor sit amet consectetur.\nreal content line here."),
    (4, "var x = {a: 1};\nA perfectly fine sentence with many words."),
    (5, 'He said "stop."\nShort.\nEnds with quote she said."'),
    (6, "trailing delimiter line one ok.\n"),
    (7, ""),
    (8, None),
    (9, "This is a fine sentence one. This is a fine sentence two! "
        "Surely this is a fine sentence three?"),
]


def _ref(
    docs,
    delim="\n",
    min_words=5,
    punct=True,
    min_sentences=3,
    line_block=("javascript",),
    doc_block=("{", "lorem ipsum"),
):
    out = {}
    for i, t in docs:
        if t is None:
            out[i] = ("", 0, 0, 0, 0, 0, 0, False)
            continue
        lines = t.split(delim)
        kept, d_short, d_punct, d_term = [], 0, 0, 0
        for l in lines:
            ok_p = (not punct) or bool(re.search(r'[.!?"]$', l.rstrip()))
            ok_w = len(re.findall(r"\S+", l)) >= min_words
            hit = any(b.lower() in l.lower() for b in line_block)
            if not ok_p:
                d_punct += 1
            if not ok_w:
                d_short += 1
            if hit:
                d_term += 1
            if ok_p and ok_w and not hit:
                kept.append(l)
        clean = delim.join(kept)
        n_sent = len(re.findall(r"[.!?]+", clean))
        keep = n_sent >= min_sentences and not any(
            b.lower() in t.lower() for b in doc_block
        )
        out[i] = (
            clean,
            len(lines),
            len(kept),
            d_short,
            d_punct,
            d_term,
            n_sent,
            keep,
        )
    return out


def _run(spark, docs, **kw):
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    rows = c4_rule_filters(sdf, **kw).collect()
    return {
        r["doc_id"]: (
            r["clean_text"],
            r["n_lines"],
            r["n_kept"],
            r["drop_short"],
            r["drop_nopunct"],
            r["drop_term"],
            r["n_sentences"],
            r["keep_doc"],
        )
        for r in rows
    }


def test_c4_matches_python_reference(spark):
    assert _run(spark, DOCS) == _ref(DOCS)


def test_c4_punct_rule_off(spark):
    got = _run(spark, DOCS, require_terminal_punct=False)
    assert got == _ref(DOCS, punct=False)
    # with the rule off, nothing ever counts as a punct violation
    assert all(v[4] == 0 for v in got.values())


def test_c4_min_words_and_blocklists(spark):
    kw = dict(
        min_words=2,
        min_sentences=1,
        line_blocklist=("required",),
        doc_blocklist=("var x",),
    )
    got = _run(spark, DOCS, **kw)
    ref = _ref(
        DOCS,
        min_words=2,
        min_sentences=1,
        line_block=("required",),
        doc_block=("var x",),
    )
    assert got == ref
    # the JavaScript line now drops via the custom term, doc 4 via doc rule
    assert got[2][5] == 1 and got[4][7] is False


def test_c4_rule_bites_observed(spark):
    """Every counter fires somewhere in the fixture corpus — the rules
    are live, not vacuously green."""
    got = _run(spark, DOCS)
    assert sum(v[3] for v in got.values()) > 0  # drop_short
    assert sum(v[4] for v in got.values()) > 0  # drop_nopunct
    assert sum(v[5] for v in got.values()) > 0  # drop_term
    kept_flags = {v[7] for v in got.values()}
    assert kept_flags == {True, False}


def test_c4_validation(spark):
    sdf = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError):
        c4_rule_filters(sdf, min_words=-1)
    with pytest.raises(ValueError):
        c4_rule_filters(sdf, delimiter="")


def test_c4_plan_is_narrow(spark):
    sdf = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = (
        c4_rule_filters(sdf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


# --- mojibake_repair -------------------------------------------------------

MOJI_DOCS = [
    (1, "cafÃ© naÃ¯ve? no: cafÃ© rÃ©sumÃ©"),          # Ã© twice + Ã© again
    (2, "It doesnâ€™t â€œquoteâ€\x9d well â€” dashes â€“ too â€¦"),
    (3, "&amp;lt; stays one level; &quot;hi&quot; &nbsp;&gt; &amp;"),
    (4, "plain ascii untouched"),
    (5, ""),
    (6, None),
]


def _moji_ref(docs):
    out = {}
    table = MOJIBAKE_REPAIRS + ENTITY_REPAIRS
    for i, t in docs:
        if t is None:
            out[i] = ("", 0, 0)
            continue
        n_enc = sum(t.count(b) for b, _ in MOJIBAKE_REPAIRS)
        n_ent = sum(t.count(b) for b, _ in ENTITY_REPAIRS)
        clean = t
        for b, g in table:
            clean = clean.replace(b, g)
        out[i] = (clean, n_enc, n_ent)
    return out


def _moji_run(spark, docs):
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    rows = mojibake_repair(sdf).collect()
    return {
        r["id"]: (r["clean_text"], r["n_encoding"], r["n_entities"])
        for r in rows
    }


def test_mojibake_matches_python_reference(spark):
    assert _moji_run(spark, MOJI_DOCS) == _moji_ref(MOJI_DOCS)


def test_mojibake_table_is_a_true_round_trip():
    """Every table entry really is the cp1252 corruption of its repair —
    the derived-table invariant (bad == good.encode(utf8).decode(cp1252)),
    and the repair direction inverts it."""
    assert len(MOJIBAKE_REPAIRS) >= 25
    for bad, good in MOJIBAKE_REPAIRS:
        assert bad == good.encode("utf-8").decode("cp1252")
        assert len(good) == 1 and bad != good


def test_mojibake_repairs_planted_corruption(spark):
    """Corrupt a clean string through the real encode path, then check
    the operator restores it byte-for-byte."""
    clean = "l’été — «déjà vu» … naïve café™"
    # drop chars we don't repair (™ has a cp1252 hole-free form though —
    # keep only chars present in the table)
    goods = {g for _, g in MOJIBAKE_REPAIRS}
    clean = "".join(c for c in clean if c in goods or ord(c) < 128)
    corrupted = clean.encode("utf-8").decode("cp1252")
    got = _moji_run(spark, [(1, corrupted)])
    assert got[1][0] == clean
    assert got[1][1] == sum(1 for c in clean if c in goods)


def test_entity_decode_is_single_level(spark):
    import html

    src = "&amp;lt;b&amp;gt; &amp;amp; &lt;i&gt;"
    got = _moji_run(spark, [(1, src)])
    # one html.unescape level: &amp;lt; -> &lt; (not <), &lt;i&gt; -> <i>
    assert got[1][0] == html.unescape(src) == "&lt;b&gt; &amp; <i>"


def test_mojibake_plan_is_narrow(spark):
    sdf = spark.createDataFrame(MOJI_DOCS, "doc_id long, text string")
    plan = (
        mojibake_repair(sdf)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
