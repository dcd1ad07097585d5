"""Main-content extraction + layout parsing tests (pure core and Spark)."""
from __future__ import annotations

from ocr_spark.functions.blocks import extract_main_content, parse_blocks
from ocr_spark.functions.layout import cluster_lines, detect_columns, layout_text

HTML = """<html><head><title>t</title><style>.x{color:red}</style></head><body>
<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>
<h1>The Article Headline</h1>
<p>This is the main article body and it has more than sixteen words in it so
the classifier keeps it as content for sure, with the usual function words.</p>
<p>A second long paragraph of the article continues the argument with many
more words than the threshold needs, and it is also kept as content here.</p>
<div><a href="/a">related link one</a> <a href="/b">related link two</a></div>
<footer>Copyright notice</footer>
</body></html>"""

PLAIN = (
    "First paragraph of plain text that is long enough to count as content "
    "for the classifier with the usual words in it and some more padding.\n\n"
    "nav | home | about\n\n"
    "Second real paragraph, also long enough to be kept as content by word "
    "count rules since it has plenty of words to pass the threshold easily."
)


def test_parse_blocks_html_offsets():
    blocks = parse_blocks(HTML)
    for b in blocks:
        assert 0 <= b.start < b.end <= len(HTML)
        # offsets point at the region containing the block's (raw) text
        first_word = b.text.split()[0].rstrip(".,")
        assert first_word in HTML[b.start : b.end]
    texts = [b.text for b in blocks]
    assert not any("color:red" in t for t in texts)  # style dropped
    assert any(t.startswith("This is the main article") for t in texts)


def test_classifier_keeps_content_drops_nav():
    out = extract_main_content(HTML)
    assert "main article body" in out["content_text"]
    assert "second long paragraph" in out["content_text"]
    assert "Home" not in out["content_text"]  # link-dense nav dropped
    assert "Copyright" not in out["content_text"]  # short footer dropped
    assert out["n_content_blocks"] >= 2
    assert out["n_boilerplate_blocks"] >= 2
    # headline rescue: the h1 adjacent to content is kept
    assert "The Article Headline" in out["content_text"]


def test_plaintext_paragraph_path():
    out = extract_main_content(PLAIN)
    assert "First paragraph" in out["content_text"]
    assert "Second real paragraph" in out["content_text"]
    assert "nav | home" not in out["content_text"]
    # spans index into the ORIGINAL text
    for s, e in out["content_spans"]:
        assert PLAIN[s:e].strip() in PLAIN


def test_self_closing_tags_do_not_leak_state():
    # <a/> must not mark everything after it as linked; <script/> must not
    # swallow the rest of the document
    html = (
        "<p><a/>This long paragraph has plainly more than sixteen words of "
        "real content and none of them are inside an anchor element at "
        "all.</p><script src='x'/>"
        "<p>A second paragraph with enough words to be classified content "
        "too, after the self-closing script tag, still fully visible.</p>"
    )
    blocks = parse_blocks(html)
    assert len(blocks) == 2
    assert all(b.n_linked_words == 0 for b in blocks)
    out = extract_main_content(html)
    assert "second paragraph" in out["content_text"]


def test_empty_and_degenerate():
    assert extract_main_content(None)["n_blocks"] == 0
    assert extract_main_content("")["content_text"] == ""
    assert extract_main_content("<div></div>")["n_blocks"] == 0
    out = extract_main_content("just a few words")
    assert out["n_blocks"] == 1  # short lone paragraph -> boilerplate


def test_spark_strip_boilerplate(spark):
    from ocr_spark.operators.boilerplate import strip_boilerplate

    df = spark.createDataFrame(
        [(0, HTML), (1, PLAIN), (2, ""), (3, None)], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in strip_boilerplate(df).collect()}
    ref = extract_main_content(HTML)
    assert rows[0]["content_text"] == ref["content_text"]
    assert [
        (s["start"], s["end"]) for s in rows[0]["content_spans"]
    ] == ref["content_spans"]
    assert rows[2]["n_blocks"] == 0 and rows[3]["n_blocks"] == 0
    plan = strip_boilerplate(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow


def test_fused_content_extract_matches_composition(spark):
    """extract_content_turns (one fused Arrow UDF) must equal the two-stage
    strip_boilerplate → extract_turns composition column-for-column."""
    from ocr_spark.operators.boilerplate import strip_boilerplate
    from ocr_spark.operators.extraction import (
        extract_content_turns,
        extract_turns,
    )

    df = spark.createDataFrame(
        [(0, HTML), (1, PLAIN), (2, ""), (3, None)], ["doc_id", "text"]
    )
    fused = {r["doc_id"]: r for r in extract_content_turns(df).collect()}
    composed = {
        r["doc_id"]: r
        for r in extract_turns(
            strip_boilerplate(df), text_col="content_text"
        ).collect()
    }
    assert fused.keys() == composed.keys()
    for doc_id, f in fused.items():
        c = composed[doc_id]
        for col in (
            "content_text", "content_spans", "n_blocks", "n_content_blocks",
            "n_boilerplate_blocks", "content_words", "extracted_text",
            "normalized_text", "dictionary_corrections", "spelling_changes",
            "quality", "unknown_words", "spans",
        ):
            assert f[col] == c[col], (doc_id, col)


# ---------------------------------------------------------------------------
# Layout
# ---------------------------------------------------------------------------


def _two_column_tokens():
    # 6 lines, 2 columns: left at x in [0, 20), right at x in [40, 60)
    toks = []
    words_l = ["left", "column", "text"]
    words_r = ["right", "column", "words"]
    for line in range(6):
        y = line * 10.0
        for i, w in enumerate(words_l):
            toks.append((i * 7.0, y, 6.0, 8.0, f"{w}{line}"))
        for i, w in enumerate(words_r):
            toks.append((40.0 + i * 7.0, y, 6.0, 8.0, f"{w}{line}"))
    return toks


def test_line_clustering_with_jitter():
    toks = [(x, y + (0.2 if x > 10 else -0.2), 6.0, 8.0, f"t{x}_{y}")
            for y in (0.0, 10.0) for x in (0.0, 7.0, 14.0)]
    lines = cluster_lines(toks, y_tol=1.0)
    assert len(lines) == 2
    assert all(len(l) == 3 for l in lines)
    xs = [t[0] for t in lines[0]]
    assert xs == sorted(xs)


def test_column_detection_and_reading_order():
    toks = _two_column_tokens()
    lines = cluster_lines(toks, y_tol=1.0)
    assert len(lines) == 6
    cols = detect_columns(lines, gap_min=5.0)
    assert len(cols) == 2
    out = layout_text(toks, y_tol=1.0, gap_min=5.0)
    assert out["n_columns"] == 2 and out["n_lines"] == 6
    left, right = out["text"].split("\n\n")
    assert left.splitlines()[0] == "left0 column0 text0"
    assert right.splitlines()[0] == "right0 column0 words0"
    # full left column precedes the right column (reading order)
    assert "left5" in left and "right5" in right


def test_single_column_no_false_split():
    # one column with a wide word gap inside lines but bridged by long lines
    toks = []
    for line in range(4):
        y = line * 10.0
        toks.append((0.0, y, 30.0, 8.0, f"long{line}"))
        toks.append((35.0, y, 6.0, 8.0, f"tail{line}"))
    out = layout_text(toks, y_tol=1.0, gap_min=3.0)
    assert out["n_columns"] == 1


def test_spark_parse_layout(spark):
    from ocr_spark.operators.boilerplate import parse_layout

    toks = _two_column_tokens()
    rows = [(0, [{"x": x, "y": y, "w": w, "h": h, "text": t}
                 for (x, y, w, h, t) in toks]),
            (1, [])]
    df = spark.createDataFrame(
        rows,
        "doc_id long, layout_tokens array<struct<x:double,y:double,w:double,h:double,text:string>>",
    )
    got = {r["doc_id"]: r for r in parse_layout(df, y_tol=1.0, gap_min=5.0).collect()}
    ref = layout_text(toks, y_tol=1.0, gap_min=5.0)
    assert got[0]["layout_text"] == ref["text"]
    assert got[0]["n_columns"] == 2
    assert got[1]["n_tokens"] == 0 and got[1]["layout_text"] == ""
