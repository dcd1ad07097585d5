"""Property-based tests (hypothesis) for the extraction core invariants.

SURVEY.md §5.2: idempotence where applicable, lossless tokenization
round-trips, span-offset validity — properties that hold for ALL inputs,
not just fixtures.
"""
from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.functions.blocks import extract_main_content
from ocr_spark.functions.layout import cluster_lines, layout_text
from ocr_spark.functions.textops import (
    extract_turn,
    normalize_currency,
    normalize_spelling,
)

# text alphabets: printable-ish mixes that exercise the tokenizer branches
_texts = st.text(
    alphabet=st.characters(
        whitelist_categories=("L", "N", "P", "Z"), max_codepoint=0x2FF
    ),
    max_size=300,
)
_settings = settings(max_examples=150, deadline=None)


@_settings
@given(_texts)
def test_extract_turn_total_and_spans_valid(text):
    out = extract_turn(text)
    final = out["normalized_text"]
    assert isinstance(final, str)
    for s in out["spans"]:
        start, end, kind = s
        assert 0 <= start < end <= len(final), (s, final)
        assert kind in ("phrase", "word", "currency", "spelling")
    assert out["dictionary_corrections"] >= 0
    assert out["spelling_changes"] >= 0
    assert 0 <= out["quality"]["overall"] <= 100


@_settings
@given(_texts)
def test_spelling_single_pass_fixed_point(text):
    """Digraph normalization is a fixed point UNLESS the first pass itself
    manufactured a new digraph (e.g. 'ddj' -> 'dj' -> 'j') — single-pass
    semantics inherited from the reference (verified identical there)."""
    once, _, _ = normalize_spelling(text)
    lower = once.lower()
    if not any(d in lower for d in ("oe", "dj", "tj", "nj", "sj", "ch")):
        twice, changes2, _ = normalize_spelling(once)
        assert twice == once
        assert changes2 == 0


# ---------------------------------------------------------------------------
# Differential fuzzing vs the live reference implementation: random inputs,
# byte-for-byte output equality — the strongest form of the golden contract.
# ---------------------------------------------------------------------------

import pathlib  # noqa: E402
import sys  # noqa: E402

import pytest  # noqa: E402

_REF = pathlib.Path("/root/reference")


@pytest.mark.skipif(not _REF.exists(), reason="reference not present")
@settings(max_examples=300, deadline=None)
@given(
    _texts,
    st.booleans(),
    st.booleans(),
    st.sampled_from([[], [0.92, 0.88, 0.95], [88.0, 95.0, 40.0]]),
)
def test_differential_vs_reference(text, use_dict, use_spell, confs):
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))
    from make_fixtures import reference_pipeline

    ref = reference_pipeline(text, use_dict, use_spell, confs)
    got = extract_turn(
        text,
        use_dictionary=use_dict,
        use_spelling=use_spell,
        confidences=confs or None,
    )
    assert got["extracted_text"] == ref["extracted_text"]
    assert got["normalized_text"] == ref["normalized_text"]
    assert got["dictionary_corrections"] == ref["dictionary_corrections"]
    assert got["spelling_changes"] == ref["spelling_changes"]
    assert got["unknown_words"] == ref["unknown_words"]
    assert got["quality"] == ref["quality"]


def _rule_fragments():
    """Fragments drawn from the ACTUAL rule tables, so generated inputs hit
    the correction branches densely (random unicode almost never does):
    kamus words, phrase-typo keys, multi-word keys, old-spelling forms,
    currency shapes, digit-glue and lookalike shapes."""
    from ocr_spark.functions import dictionaries as D

    frags = (
        sorted(D.KAMUS)[:80]
        + sorted(D.PHRASE_MAP)[:60]
        + [k for k in sorted(D.MULTI_WORD_MAP)[:40]]
        + sorted(D.J_TO_Y)
        + ["djalan", "tjinta", "njonja", "sjarat", "chusus", "oetama"]
        + ["Rp 5OO.000", "Rp l2.345", "rp 1O0", "5OO rupiah", "tahun l985",
           "Rp.2S0,-", "USD 1O0"]
        + ["12menit", "jam3", "l00unit", "tahunl99O"]
        + ["—", "...", "«", "»", "\t", "  ", "\n", ",", ".", "!", "?", "(", ")"]
    )
    return frags


_adversarial = st.lists(
    st.sampled_from(_rule_fragments()), min_size=1, max_size=12
).map(lambda parts: " ".join(parts))


@pytest.mark.skipif(not _REF.exists(), reason="reference not present")
@settings(max_examples=300, deadline=None)
@given(_adversarial, st.booleans(), st.booleans())
def test_differential_vs_reference_rule_dense(text, use_dict, use_spell):
    """Differential fuzz biased INTO the rule tables: every example drives
    multiple correction/normalization branches; byte-equality must hold."""
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))
    from make_fixtures import reference_pipeline

    ref = reference_pipeline(text, use_dict, use_spell, [])
    got = extract_turn(text, use_dictionary=use_dict, use_spelling=use_spell)
    assert got["extracted_text"] == ref["extracted_text"]
    assert got["normalized_text"] == ref["normalized_text"]
    assert got["dictionary_corrections"] == ref["dictionary_corrections"]
    assert got["spelling_changes"] == ref["spelling_changes"]
    assert got["unknown_words"] == ref["unknown_words"]
    assert got["quality"] == ref["quality"]


@_settings
@given(_texts)
def test_currency_normalization_total(text):
    out, spans = normalize_currency(text)
    assert isinstance(out, str)
    for s, e, k in spans:
        assert 0 <= s < e <= len(out)


@_settings
@given(_texts)
def test_boilerplate_spans_index_original(text):
    out = extract_main_content(text)
    last = 0
    for s, e in out["content_spans"]:
        assert 0 <= s < e <= len(text)
        assert s >= last  # blocks are ordered, non-overlapping
        last = e
    assert out["n_blocks"] == out["n_content_blocks"] + out["n_boilerplate_blocks"]


@_settings
@given(
    st.lists(
        st.tuples(
            st.floats(0, 500, allow_nan=False),
            st.floats(0, 500, allow_nan=False),
            st.floats(1, 30, allow_nan=False),
            st.floats(5, 12, allow_nan=False),
            st.text(alphabet="abcx", min_size=1, max_size=5),
        ),
        max_size=60,
    )
)
def test_layout_total_and_loses_no_tokens(tokens):
    lines = cluster_lines(tokens, y_tol=2.0)
    assert sum(len(l) for l in lines) == len(tokens)
    out = layout_text(tokens, y_tol=2.0, gap_min=5.0)
    # every token's text appears in the reconstruction
    for t in tokens:
        assert t[4] in out["text"]
    assert out["n_tokens"] == len(tokens)


# ---------------------------------------------------------------------------
# Regression pins for the sre IGNORECASE equivalence folds (LONG S U+017F,
# DOTLESS I U+0131): the reference's IGNORECASE rules match these where
# str.lower() does not, so our substring fast-path probes must fold them
# (textops._probe_fold). Each case was a live differential-fuzz miss.
# ---------------------------------------------------------------------------


@pytest.mark.skipif(not _REF.exists(), reason="reference not present")
@pytest.mark.parametrize(
    "text",
    [
        "ſj",          # spelling digraph sj -> sy through LONG S
        "Aſj",         # mid-token, capitalized head
        "ſice",        # multi-word rule key 'sic' through LONG S
        "sıc",         # same key through DOTLESS I
        "Jsıci",       # embedded, mixed
        "ſjarat oeſ",  # digraph plus trailing long-s
    ],
)
def test_sre_equivalence_fold_parity(text):
    sys.path.insert(
        0, str(pathlib.Path(__file__).resolve().parent.parent / "tools")
    )
    from make_fixtures import reference_pipeline

    for use_dict in (False, True):
        for use_spell in (False, True):
            ref = reference_pipeline(text, use_dict, use_spell, [])
            got = extract_turn(
                text,
                use_dictionary=use_dict,
                use_spelling=use_spell,
                confidences=None,
            )
            for k in (
                "extracted_text",
                "normalized_text",
                "dictionary_corrections",
                "spelling_changes",
                "unknown_words",
                "quality",
            ):
                assert got[k] == ref[k], (text, use_dict, use_spell, k)
