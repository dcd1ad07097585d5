"""Reference-free parity for the extraction core's fast paths.

Every probe in ``ocr_spark.functions.textops`` (the T1 probe scan and the
rules it names, the T3 candidate tokens, the T4 per-rule currency probes,
the T5 candidate-token scan and digraph probe) only decides where a rule may
run, and every rule stage scans the ``_probe_fold`` of its text with
case-sensitive ``fold_pattern``s in place of IGNORECASE scans of the text.
``extract_turn_probe_free`` below runs the same pipeline with every rule
applied to the text itself, every token corrected and no probe, so any probe
that is not a true necessary condition, and any place where the fold is not
exact, shows up as a difference — without the reference implementation.
"""
from __future__ import annotations

import re
from unittest import mock

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.functions import dictionaries as D
from ocr_spark.functions import textops as T

# ---------------------------------------------------------------------------
# The probe-free pipeline (test-only).
# ---------------------------------------------------------------------------


def _multiword_all(text, spans=None):
    spans = spans if spans is not None else []
    for rule in D.MULTI_WORD_RULES:
        edits = T._edits(
            text,
            rule.pattern.finditer(text),
            lambda m, _r=rule.replacement: T._preserve_case_phrase(m.group(0), _r),
            "phrase",
        )
        text, spans = T._splice(text, edits, spans)
    return text, spans


def _currency_all(text, spans=None):
    spans = spans if spans is not None else []
    for rule in D.CURRENCY_RULES:
        edits = T._edits(text, rule.pattern.finditer(text), rule.repl, "currency")
        text, spans = T._splice(text, edits, spans)
    return text, spans


def _token_spelling_all(token):
    lower = token.lower()
    if lower in D.FOREIGN_WORDS:
        return token
    if lower in D.J_TO_Y:
        repl = D.J_TO_Y[lower]
        return repl.capitalize() if token[0].isupper() else repl
    for pattern, repl in D.SPELLING_PATTERNS:
        token = pattern.sub(lambda m, _r=repl: T._preserve_case_single(m.group(0), _r), token)
    return token


def _spelling_all(text, spans=None):
    """T5 token by token: every token through ``_token_spelling_all``, one
    offset-map segment per token, and the change count as the reference
    computes it, the differing pairs of the positional ``split()`` zip."""
    if not text:
        return text, 0, spans or []
    pmap = T.PiecewiseMap()
    pieces, new_spans = [], []
    old = out = 0
    for token in D.TOKEN_SPLIT.findall(text):
        fixed = _token_spelling_all(token) if token.strip() else token
        if fixed != token:
            new_spans.append((out, out + len(fixed), "spelling"))
        pmap.add(old, old + len(token), out, out + len(fixed), fixed != token)
        pieces.append(fixed)
        old += len(token)
        out += len(fixed)
    normalized = "".join(pieces)
    changes = sum(1 for o, n in zip(text.split(), normalized.split()) if o != n)
    return normalized, changes, pmap.remap(spans or []) + new_spans


def _correct_all(text, fuzzy=False, extra_kamus=None):
    """T1, then T3 token by token: every token and whitespace run through
    the word correction, one offset-map segment each."""
    if not text:
        return text, 0, []
    text, mw_spans = _multiword_all(text)
    pmap = T.PiecewiseMap()
    pieces, spans = [], []
    corrections = old = out = 0
    for token in D.TOKEN_SPLIT.findall(text):
        if token.strip():
            fixed, token_spans = T._correct_token(token, fuzzy, extra_kamus)
        else:
            fixed, token_spans = token, []
        corrections += len(token_spans)
        spans += [(out + a, out + b, kind) for a, b, kind in token_spans]
        pmap.add(old, old + len(token), out, out + len(fixed), fixed != token)
        pieces.append(fixed)
        old += len(token)
        out += len(fixed)
    return "".join(pieces), corrections, pmap.remap(mw_spans) + spans


def extract_turn_probe_free(text, **kwargs):
    """``extract_turn`` with T1, T3, T4 and T5 applying every rule to every
    token, with no probe and no fold."""
    with mock.patch.multiple(
        T,
        correct_with_stats=_correct_all,
        normalize_currency=_currency_all,
        normalize_spelling=_spelling_all,
    ):
        return T.extract_turn(text, **kwargs)


# ---------------------------------------------------------------------------
# Inputs: rule-dense fragments with the sre IGNORECASE fold characters.
# ---------------------------------------------------------------------------

_FRAGMENTS = (
    ["Rp", "rp", "RP", "Ru", "Rpy", "RPy", "Rp.", "Rp ", ".", ":", ",", "-", "--", ",-"]
    + list(D.MONTH_NAMES)
    + ["ll", "lI", "II", "25,z00", "25.Z00", "p1h", "PIN", "plb", "soratus", "s0ratus",
       "ke lima", "kelima ribu", "ratus", "Kasm.nem", "Kasm , nem", "sukatil", "Maineh"]
    + ["12", "962", "97l", "19", "20", "71", "1g8O", "20lO", "5OO", "l2", "0", "8", "9", "\u0663"]
    + ["sic", "pembagian", "djalan", "tjinta", "njonja", "sjarat", "chusus", "oetama", "jang"]
    + sorted(D.MULTI_WORD_MAP)[:20]
    + sorted(D.PHRASE_MAP)[:20]
    # phrase keys behind punctuation that PUNCT_PEEL peels off a token's front
    + [p + k for p in ("-", "'", "(-", "\"'") for k in ("departntn", *sorted(D.PHRASE_MAP)[:3])]
    + ["\u0130", "\u0131", "\u017f", "\u212a", "\u0307", "\t", "\n", " ", "  ", "x"]
    # real OCR mojibake and other non-ASCII text
    + ["\u00e2\u20ac", "\u00e2\u20ac\u0153", "\u201c", "\u00e2\u20ac\u02dci", "\u00c3\u00a9"]
    + ["\u00fcn\u00efcode \u2713", "\u2014", "\u00a0", "\u2003", "\u03a3\u0391\u03a3", "\u00e9"]
)

#: characters an IGNORECASE rule matches as an ASCII letter
_FOLD_VARIANTS = {"i": "\u0130\u0131", "s": "\u017f", "k": "\u212a"}


def _mutate(fragment: str, bits: int) -> str:
    """Swap letters for their upper case or sre fold variant, one bit pair
    of ``bits`` per letter."""
    out = []
    for i, ch in enumerate(fragment):
        op = (bits >> (2 * (i % 8))) & 3
        variants = _FOLD_VARIANTS.get(ch.lower(), "")
        if op == 1:
            ch = ch.upper()
        elif op >= 2 and variants:
            ch = variants[(op - 2) % len(variants)]
        out.append(ch)
    return "".join(out)


_fragment = st.builds(
    _mutate, st.sampled_from(_FRAGMENTS), st.integers(0, 2**16 - 1)
) | st.sampled_from(_FRAGMENTS)
_dense_texts = st.lists(
    st.tuples(_fragment, st.sampled_from(["", " ", "\n", "\t", ". "])), min_size=1, max_size=10
).map(lambda parts: "".join(f + sep for f, sep in parts))

#: derandomized with a fixed example count: the same inputs every run
_parity_settings = settings(derandomize=True, database=None, max_examples=600, deadline=None)


@_parity_settings
@given(_dense_texts, st.booleans(), st.booleans())
def test_extract_turn_matches_probe_free(text, use_dict, use_spell):
    got = T.extract_turn(text, use_dictionary=use_dict, use_spelling=use_spell)
    assert got == extract_turn_probe_free(text, use_dictionary=use_dict, use_spelling=use_spell)


@_parity_settings
@given(_dense_texts)
def test_probes_are_necessary_conditions(text):
    """Per rule: wherever the pattern matches, its probe passes; the T1
    probe scan names exactly the rules whose probe occurs; the trie gates
    agree with the probes they stand for."""
    low = T._probe_fold(text)
    digit = D.HAS_DIGIT.search(text) is not None
    for rule in D.CURRENCY_RULES:
        if rule.pattern.search(text):
            assert rule.probe(text, low, digit), rule.pattern.pattern
    named = T._multiword_candidates(low)
    assert named == {i for i, rule in enumerate(D.MULTI_WORD_RULES) if rule.probe in low}
    for rule in D.MULTI_WORD_RULES:
        if rule.pattern.search(text):
            assert rule.probe in low, rule.key
    # the T1 gate: one trie scan finds a probe exactly when some probe occurs
    gate = D.MULTI_WORD_PROBE.search(low) is not None
    assert gate == any(rule.probe in low for rule in D.MULTI_WORD_RULES)
    if not gate:
        assert not any(rule.pattern.search(text) for rule in D.MULTI_WORD_RULES)
    assert _same_phrase_key_hit(text)


# ---------------------------------------------------------------------------
# The T3 phrase-key probe: trie-factored, same matches as a flat alternation.
# ---------------------------------------------------------------------------

#: the probe as a flat, longest-first alternation of the escaped keys
_FLAT_PHRASE_KEY_PROBE = re.compile(
    r"(?<!\w)(?:"
    + "|".join(sorted(map(re.escape, D.PHRASE_MAP), key=len, reverse=True))
    + r")(?![\w\-'])"
)

#: what may stand before or after a key in a token: PUNCT_PEEL's prefix
#: punctuation, word characters, and the key's own boundary characters
_KEY_NEIGHBOURS = ["", " ", "-", "'", "x", "1", "_", ".", "(-", "\"'"]


def _same_phrase_key_hit(text):
    low = text.lower()
    return (D.PHRASE_KEY_PROBE.search(low) is None) == (
        _FLAT_PHRASE_KEY_PROBE.search(low) is None
    )


def test_phrase_key_probe_matches_flat_alternation_on_every_key():
    for key in D.PHRASE_MAP:
        for variant in (key, key[:-1], key[1:], key + "a", key.upper()):
            for before in _KEY_NEIGHBOURS:
                for after in _KEY_NEIGHBOURS:
                    assert _same_phrase_key_hit(before + variant + after), (before, variant, after)


@pytest.mark.parametrize(
    "text, want",
    [
        ("-departntn", "-departemen"),
        ("x 'departntn", "x 'departemen"),
        ("(-departntn", "(-departemen"),
        ("\"'Departntn.", "\"'Departemen."),
        ("x-departntn", "x-departntn"),
    ],
)
def test_phrase_key_after_peeled_punctuation(text, want):
    """A phrase key after a leading ``-`` or ``'`` is corrected: the token
    loop peels them off as prefix punctuation, so the identity shortcut
    must not skip the text."""
    assert T.extract_turn(text)["extracted_text"] == want
    assert T.extract_turn(text) == extract_turn_probe_free(text)


_NEVER = re.compile("(?!)")


@pytest.mark.parametrize(
    "text",
    ["12departntn", "departntn12", "agraria di jasa", "Agar 4tas"],
)
def test_probe_free_bypasses_every_gate(text):
    """With the T1 gate and the T3 digit probe patched to skip everything,
    ``extract_turn`` changes but the probe-free pipeline does not: no gate
    decides anything there (``HAS_DIGIT`` only guards the digit probe)."""
    want = extract_turn_probe_free(text)
    with mock.patch.multiple(D, MULTI_WORD_PROBE=_NEVER, DIGIT_GLUE_PROBE=_NEVER):
        assert extract_turn_probe_free(text) == want
        assert T.extract_turn(text) != want


def test_probe_free_bypasses_the_spelling_candidates():
    text = "djalan oetama"
    want = extract_turn_probe_free(text)
    with mock.patch.object(D, "SPELLING_HIT", _NEVER):
        assert extract_turn_probe_free(text) == want
        assert T.extract_turn(text) != want


# ---------------------------------------------------------------------------
# T5 candidate dispatch: on ASCII text only tokens with j, oe or ch run.
# ---------------------------------------------------------------------------


def test_spelling_tables_allow_candidate_dispatch():
    """The conditions ``normalize_spelling`` relies on: a J_TO_Y key holds
    ``j``, a digraph rule is one of ``?j``, ``oe`` or ``ch``, and no replacement
    is empty or holds whitespace (each token stays exactly one token)."""
    assert all("j" in key for key in D.J_TO_Y)
    for rule, _ in D.SPELLING_RULES:
        assert re.fullmatch("[a-z]j|oe|ch", rule), rule  # a literal: its own probe
    for repl in [r for _, r in D.SPELLING_RULES] + list(D.J_TO_Y.values()):
        assert repl and not any(c.isspace() for c in repl), repl


_MW_KEY = sorted(D.MULTI_WORD_MAP)[0]
_PHRASE_KEY = sorted(D.PHRASE_MAP)[0]


@pytest.mark.parametrize(
    "text",
    [
        "djalan,", "(tjara)", "Djalan, (TJARA) njonja.", "x,djalan", "sjarat;chusus",
        # a rule that fires can make a later one match: dj -> j, then nj
        "ndjalan", "NDJOEANG",
        # whole-token lookups: a trailing comma defeats both
        "project", "project,", "Project,", "PROJECT", "subject: reject!",
        "jang", "jang,", "Jang,", "JANG", "ja, Ja ja,", "jaitoe,", "Jangan JANGAN",
        # every ASCII separator str.split() knows
        "djalan\ttjara\nnjonja\x1csjarat\x1dchusus\x1eoetama\x1fjang",
        "\x1cjang\x1f", "\x0bdjalan\x0c\r oe ",
        # non-ASCII text takes the every-token loop
        "djalan \u017fjarat", "tjinta \u00f1oe", "\u00e9 djalan", "\u017fch",
        "djalan\u00a0tjara", "oetama\u2003jang\x85ja", "\u0130JANG dj\u0130",
        # spans from T1, T3 and T4 carried across T5
        f"{_MW_KEY} djalan", f"djalan {_PHRASE_KEY} tjara", "Rp 5OO,-- djalan",
        f"{_MW_KEY.upper()}, jang {_PHRASE_KEY}. djalan 4 juni 962",
        "",
    ],
)
def test_spelling_cases_match_probe_free(text):
    for use_dict in (False, True):
        for use_spell in (False, True):
            kw = {"use_dictionary": use_dict, "use_spelling": use_spell}
            assert T.extract_turn(text, **kw) == extract_turn_probe_free(text, **kw)


def test_spelling_carries_spans_from_earlier_stages():
    got = T.extract_turn(f"{_MW_KEY} djalan Rp 5OO,-- {_PHRASE_KEY} tjara")
    kinds = {kind for _, _, kind in got["spans"]}
    assert {"phrase", "word", "currency", "spelling"} <= kinds
    for s, e, _ in got["spans"]:
        assert 0 <= s < e <= len(got["normalized_text"])


_T5_FRAGMENTS = (
    ["djalan", "tjinta", "njonja", "sjarat", "chusus", "oetama", "OE", "Ch", "dj", "x"]
    + sorted(D.J_TO_Y) + sorted(D.FOREIGN_WORDS)[:8]
    + [",", "(", ")", ".", "\u017f", "\u0130", "\u00e9"]
)
_T5_SEPARATORS = ["", " ", "  ", "\t", "\n", "\x1c", "\x1d", "\x1e", "\x1f", "\u00a0"]
_t5_texts = st.lists(
    st.tuples(
        st.builds(_mutate, st.sampled_from(_T5_FRAGMENTS), st.integers(0, 2**16 - 1)),
        st.sampled_from(_T5_SEPARATORS),
    ),
    max_size=12,
).map(lambda parts: "".join(f + sep for f, sep in parts))


@_parity_settings
@given(_t5_texts, st.data())
def test_spelling_matches_token_loop(text, data):
    """Same text, spans and change count as the every-token loop, whose
    count is the reference's ``split()`` zip; that count is the number of
    changed tokens."""
    bounds = st.integers(0, len(text))
    spans = [
        (min(a, b), max(a, b), "x") for a, b in data.draw(st.lists(st.tuples(bounds, bounds)))
    ]
    got = T.normalize_spelling(text, spans)
    assert got == _spelling_all(text, spans)
    changed = sum(1 for o, n in zip(text.split(), got[0].split()) if o != n)
    assert got[1] == changed == sum(1 for *_, kind in got[2] if kind == "spelling")


def test_hit_tokens_are_whole_tokens():
    text = "ab  cd\tef\n\x1cgh ij"
    tokens = [m.span() for m in D.TOKEN.finditer(text)]
    assert list(T._hit_tokens(text, re.compile(""))) == tokens
    assert list(T._hit_tokens(text, re.compile(r"\s"))) == []
    assert list(T._hit_tokens(text, re.compile("d|e|f|h"))) == [(4, 6), (7, 9), (11, 13)]


_segments = st.lists(st.tuples(st.integers(1, 5), st.integers(0, 5), st.booleans()), max_size=8)


@_parity_settings
@given(_segments, st.data())
def test_remap_maps_each_offset(segments, data):
    """``remap``'s shortcuts before the first and after the last rewritten
    segment give what ``map`` gives."""
    pmap = T.PiecewiseMap()
    old = new = 0
    for old_len, new_len, changed in segments:
        new_len = new_len if changed else old_len
        pmap.add(old, old + old_len, new, new + new_len, changed)
        old, new = old + old_len, new + new_len
    bounds = st.integers(0, old)
    ends = data.draw(st.lists(st.tuples(bounds, bounds)))
    spans = [(min(a, b), max(a, b), "x") for a, b in ends]
    want = [(pmap.map(a), pmap.map(b), k) for a, b, k in spans if pmap.map(a) < pmap.map(b)]
    assert pmap.remap(spans) == want


# ---------------------------------------------------------------------------
# The İ fold: sre IGNORECASE matches İ (U+0130) as i, while str.lower()
# turns it into i + U+0307.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "text, needle",
    [
        ("SİC", "sic"),
        ("junİ", "juni"),
        ("PEMBAGİAN", "pembagian"),
        ("ſıİ", "sii"),
        ("\u212aasm", "kasm"),
    ],
)
def test_probe_fold_covers_sre_folds(text, needle):
    assert re.search(needle, text, re.IGNORECASE)
    assert needle in T._probe_fold(text)


@pytest.mark.parametrize(
    "text",
    [
        "SİC", "ſic", "sıc", "4 junİ 962", "ll Junİ", "Rp 5OO,--",
        "deſember 19 71", "\u212aasm.nem",
        # i + COMBINING DOT ABOVE is not an i to sre
        "si\u0307c", "juni\u0307 962", "S\u0130\u0307C",
    ],
)
def test_fold_cases_match_probe_free(text):
    for use_dict in (False, True):
        for use_spell in (False, True):
            kw = {"use_dictionary": use_dict, "use_spelling": use_spell}
            assert T.extract_turn(text, **kw) == extract_turn_probe_free(text, **kw)


# ---------------------------------------------------------------------------
# The fold is exact for ASCII patterns: checked over every code point, and
# rule by rule over the golden corpus and adversarial texts.
# ---------------------------------------------------------------------------

def test_probe_fold_is_exact_on_every_code_point():
    code_points = [chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    folds = [T._probe_fold(x) for x in code_points]
    assert all(len(f) == 1 for f in folds)
    text, folded = "".join(code_points), "".join(folds)
    for cls in (r"\w", r"\s", r"\d"):
        at = [m.start() for m in re.finditer(cls, text)]
        assert at == [m.start() for m in re.finditer(cls, folded)], cls
    for c in "abcdefghijklmnopqrstuvwxyz":
        matched = [m.start() for m in re.finditer(c, text, re.IGNORECASE)]
        assert matched == [m.start() for m in re.finditer(c, folded)], c
    # and no other character folds into ASCII
    to_ascii = {x for x, f in zip(code_points, folds) if f.isascii() and not x.isascii()}
    assert to_ascii == {"\u0130", "\u0131", "\u017f", "\u212a"}


def _golden_inputs():
    import json
    import pathlib

    path = pathlib.Path(__file__).parent / "fixtures" / "golden.json"
    return sorted({fx["input"] for fx in json.loads(path.read_text()) if fx["input"]})


_ADVERSARIAL = [
    "S\u0130C \u017fic s\u0131c \u212aasm.nem si\u0307c jun\u0130 962",
    "\u00e2\u20ac\u201dSC\u00e2\u20ac\u0153 DEPARTEMEN/WTA d\u0130 \u212aEMUDIAN Rp.5OO,--",
    "\u0130I \u017fEPTEMBER 9 7l, \u0131l Maret, ll Jun\u0130, 19 71 oktober",
    "\u03a3\u0391\u03a3 ke  lima  ribu s\u00f8ratus \u1e9e \u00df \u0149 \ufb01",
    # orphan amounts at the start, after whitespace, in runs and back to back
    "..277 x :12,5 y\n.:9 .5.6 x.7 ::8- \u0663",
    ".5",
    " :1 :2 ..3",
    # lookalikes after Rp at the start and end
    "Rp lO Rp.5S Rp\tzZ, Rp",
]


def _fold_corpus():
    texts = _golden_inputs() + _ADVERSARIAL
    folds = str.maketrans({"s": "\u017f", "i": "\u0131", "k": "\u212a", "I": "\u0130"})
    return texts + [t.upper() for t in texts] + [t.title() for t in texts] + [
        t.translate(folds) for t in texts
    ]


def test_fold_patterns_find_the_same_matches():
    """Each IGNORECASE rule's lowered pattern (``D.fold_pattern``) on the
    fold finds the spans and group spans of the rule's pattern on the text;
    a T1 match contains its probe; a currency rule's scan finds each of its
    matches; no rule matches the empty string."""
    folded = [(r.pattern, r.fold_pattern) for r in D.MULTI_WORD_RULES] + [
        (r.pattern, D.fold_pattern(r.pattern)) for r in D.CURRENCY_RULES if r.on_fold
    ]
    assert len(folded) == 277 + 16
    for text in _fold_corpus():
        fold = T._probe_fold(text)
        for pattern, lowered in folded:
            want = [m.regs for m in pattern.finditer(text)]
            assert [m.regs for m in lowered.finditer(fold)] == want
        for rule in D.MULTI_WORD_RULES:
            for m in rule.pattern.finditer(text):
                assert rule.probe in fold[m.start() : m.end()]
        for rule in D.CURRENCY_RULES:
            haystack = fold if rule.on_fold else text
            for m in rule.pattern.finditer(text):
                assert m.start() < m.end()
            got = [m.regs for m in T._scan_matches(rule, text, haystack)]
            assert got == [m.regs for m in rule.pattern.finditer(text)]


# T1 chains: a rule's edit makes a later rule's match, whose probe was not
# in the text before; the probes are looked for again around the edit
_CHAINS = [
    "ujang tertanda tunyangan",  # a replacement completes a later key
    "di kebudayaan",
    "kepu tsuaaptaadausan",  # a deletion joins a later key's probe
    "dsuaaptaadaisampikan",
    # edits before it in the same rule move the join past the rescan window
    "suaaptaada suaaptaada suaaptaada suaaptaada " + "x" * 60 + " kepu tsuaaptaadausan",
]


def test_probe_scan_names_probes_across_a_found_one():
    """Every probe that can start inside a probe the scan finds and run
    past its end is named too: each such pair in the probe table."""
    probes = D.MULTI_WORD_BY_PROBE
    pairs = 0
    for q in probes:
        for k in range(1, len(q)):
            for p in probes:
                if len(p) > len(q) - k and p.startswith(q[k:]):
                    text = q[:k] + p
                    want = {i for i, r in enumerate(D.MULTI_WORD_RULES) if r.probe in text}
                    assert T._multiword_candidates(text) == want, (q, p)
                    pairs += 1
    assert pairs


def test_fold_pattern_lowers_letters_not_escapes():
    lowered = D.fold_pattern(re.compile(r"Rp\S\W\D\B\b[A-Z]x\.", re.IGNORECASE))
    assert lowered.pattern == r"rp\S\W\D\B\b[a-z]x\."
    assert not lowered.flags & re.IGNORECASE


@pytest.mark.parametrize("chain", _CHAINS)
@pytest.mark.parametrize("pad", ["", "x" * 40 + " ", "agraria " * 6])
def test_multiword_chains_match_probe_free(chain, pad):
    for text in (chain, chain.upper(), pad + chain + " " + pad):
        assert T.extract_turn(text) == extract_turn_probe_free(text)
    assert T.apply_multiword(chain) == _multiword_all(chain)
    assert T.apply_multiword(chain)[0] != chain


# ---------------------------------------------------------------------------
# The currency rule table: every rule carries a probe, in the pinned order.
# ---------------------------------------------------------------------------

_M = "(" + "|".join(D.MONTH_NAMES) + ")"
_CURRENCY_ORDER = [
    (r"Rp\.?\s*(\d+(?:[.,]\d+)*)\s*[-.,]+\s*[-]+", re.I),
    (r"Rp\.?\s*(\d+(?:[.,]\d+)*)", re.I),
    (r"Ru\.?\s*(\d+(?:[.,]\d+)*)", re.I),
    (r"R[Pp]y\.?\s*(\d+(?:[.,]\d+)*)", re.I),
    (r"(^|\s)[.:]+(\d+(?:[.,]\d+)*)(?=\s|$|[-.,])", re.I),
    (_M + r"\s*[,.]*\s*([98]\d{2})(?!\d)", re.I),
    (_M + r"\s*[,.]*\s*([98]\d)[lI1](?!\d)", re.I),
    (r"\b([lI]{2})\s+" + _M, re.I),
    (_M + r"\s*[,.]*\s*(19|20)\s+(\d{2})(?!\d)", re.I),
    (r"25\s*[,.]\s*[zZ]00", re.I),
    (r"\b[Pp][lI1][hbn]\b", re.I),
    (r"\b(ke\s*lima|kelima)\s+(ribu|ratus)", re.I),
    (r"\bs[o0a]ratus\b", re.I),
    (r"\b[Kk]asm\s*[.,]\s*nem\b", re.I),
    (r"\b[Ss]ukati[l1I]\b", re.I),
    (r"\b[Mm]aineh\b", re.I),
    (r"(?<=Rp\s)[lOoIzZsS0-9.,]+", 0),
    (r"(?<=Rp\.)[lOoIzZsS0-9.,]+", 0),
    (r"\b1[9g][0-9lOog]{2}\b", 0),
    (r"\b20[0-9lOo]{2}\b", 0),
]


def test_currency_rules_carry_probes_in_order():
    got = [(r.pattern.pattern, r.pattern.flags & re.IGNORECASE) for r in D.CURRENCY_RULES]
    assert got == _CURRENCY_ORDER
    for rule in D.CURRENCY_RULES:
        assert callable(rule.probe)
        assert rule.repl is not None
    assert not hasattr(D, "CURRENCY_PROBE")


# ---------------------------------------------------------------------------
# The batch gate: one RE2 scan stands for the T1, T3 and T4 probes.
# ---------------------------------------------------------------------------


def _gate_hits(texts):
    folds = pa.array([T._probe_fold(t) for t in texts], pa.string())
    return pc.match_substring_regex(folds, D.CORRECTION_GATE).to_pylist()


def _dictionary_probes_pass(text):
    """Whether any probe of T1, non-fuzzy T3 or T4 passes ``text``."""
    low = T._probe_fold(text)
    digit = D.HAS_DIGIT.search(text) is not None
    return (
        D.MULTI_WORD_PROBE.search(low) is not None
        or D.PHRASE_KEY_PROBE.search(low) is not None
        or D.DIGIT_GLUE_PROBE.search(low) is not None
        or any(rule.probe(text, low, digit) for rule in D.CURRENCY_RULES)
    )


def test_gate_digit_arm_covers_every_sre_digit():
    code_points = [chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    digits = [x for x in code_points if D.HAS_DIGIT.match(x)]
    assert "\u0663" in digits and "\uff11" in digits
    assert all(pc.match_substring_regex(pa.array(digits), r"\p{Nd}").to_pylist())
    assert all(_gate_hits(digits))


#: characters, ASCII and not, that may stand next to a phrase key
_KEY_SIDES = ["", " ", "x", "_", "1", "-", "'", ".", "\u00e9", "\u00df", "\u0130", "\u0131",
              "\u017f", "\u212a", "\u0663", "\uff11"]


def _gate_corpus():
    from test_core_digest import core_inputs

    texts = _fold_corpus() + core_inputs() + [
        "\u0130\u0131\u017f\u212a", "\u0663\u0664\u0665", "\uff11\uff19\uff17\uff11",
        "x\u0663abc", "abc\uff12", "\u212aasm , nem", "\u017fukati\u0131",
        "ma\u0130neh", "R\u0131bu", "\u0131I maret", "P\u0131H",
    ]
    # every rule fragment alone, so the digit-free probes are each tried
    texts += [_mutate(f, bits) for f in _FRAGMENTS for bits in (0, 0x5555, 0xAAAA, 0xFFFF)]
    for key in D.PHRASE_MAP:
        for before in _KEY_SIDES:
            texts += [before + key + after for after in _KEY_SIDES]
            texts.append(before + key.upper())
    return texts


def test_gate_passes_wherever_a_dictionary_probe_does():
    texts = _gate_corpus()
    hits = _gate_hits(texts)
    probed = [_dictionary_probes_pass(t) for t in texts]
    assert [t for t, hit, p in zip(texts, hits, probed) if p and not hit] == []
    # and it does skip text: most clean documents hold no probe hit
    assert 0 < hits.count(False) < len(texts)


# ---------------------------------------------------------------------------
# extract_batch is extract_turn over a batch.
# ---------------------------------------------------------------------------

_BATCH_TEXTS = [None, "", "   ", "Dokumen arsip nasional tahun anggaran berjalan.",
                "The quick brown fox jumps over the lazy dog."] + _ADVERSARIAL + _golden_inputs()
_CONFIDENCES = [None, [], [0.91, 0.8], [85.0, 70.5, 99.0]]


@pytest.mark.parametrize(
    "kwargs",
    [
        {},
        {"use_spelling": False},
        {"use_dictionary": False},
        {"use_dictionary": False, "use_spelling": False},
        {"fuzzy": True},
        {"extra_kamus": frozenset({"arsip", "dokumen", "hasil", "the"})},
    ],
)
@pytest.mark.parametrize("with_confidences", [False, True])
def test_extract_batch_matches_extract_turn(kwargs, with_confidences):
    texts = _BATCH_TEXTS
    confs = [_CONFIDENCES[i % 4] for i in range(len(texts))] if with_confidences else None
    got = T.extract_batch(texts, confs, **kwargs)
    want = [
        T.extract_turn(t, confidences=confs[i] if confs else None, **kwargs)
        for i, t in enumerate(texts)
    ]
    assert got == want
    # the batch holds turns the gate skips and turns it passes
    hits = _gate_hits([t or "" for t in texts])
    assert True in hits and False in hits


def test_extract_batch_without_utf8_runs_every_turn():
    texts = ["a\ud800 Rp.5OO,-- djalan", "Dokumen arsip", "\udfff"]
    assert T._gate([T._probe_fold(t) for t in texts]) is None
    assert T.extract_batch(texts) == [T.extract_turn(t) for t in texts]


def _udf_rows(udf, *columns):
    """The rows the UDF body returns for one batch of ``columns``."""
    batch = columns[0] if len(columns) == 1 else columns
    out = list(udf.func(iter([batch])))
    assert len(out) == 1 and isinstance(out[0], pa.StructArray)
    return out[0].to_pylist()


def _as_rows(out):
    return {**out, "spans": [dict(zip(("start", "end", "kind"), s)) for s in out["spans"]]}


def test_udf_body_matches_extract_turn():
    from ocr_spark.functions.udfs import make_extract_udf

    texts = _BATCH_TEXTS
    confs = [_CONFIDENCES[i % 4] for i in range(len(texts))]
    want = [_as_rows(T.extract_turn(t)) for t in texts]
    udf = make_extract_udf()
    assert _udf_rows(udf, pa.array(texts, pa.string())) == want
    # a pandas Series, as in-process profiling passes it
    assert _udf_rows(udf, pd.Series(texts, dtype=object)) == want
    want = [_as_rows(T.extract_turn(t, confidences=c or None)) for t, c in zip(texts, confs)]
    got = _udf_rows(udf, pa.array(texts, pa.string()), pa.array(confs, pa.list_(pa.float64())))
    assert got == want


def test_content_udf_body_gates_the_stripped_content():
    from ocr_spark.functions.blocks import extract_main_content
    from ocr_spark.functions.udfs import make_extract_udf

    nav = "Home | About | Contact\n\nCopyright 2024 All rights reserved\n\n"
    texts = _BATCH_TEXTS + [nav + (t or "") for t in _BATCH_TEXTS]
    want = []
    for t in texts:
        block = extract_main_content(t)
        row = _as_rows(T.extract_turn(block["content_text"]))
        row.update(block, content_spans=[{"start": s, "end": e} for s, e in block["content_spans"]])
        want.append(row)
    assert _udf_rows(make_extract_udf(content=True), pa.array(texts, pa.string())) == want
