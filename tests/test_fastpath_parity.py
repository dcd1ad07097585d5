"""Reference-free parity for the extraction core's fast paths.

Every probe in ``ocr_spark.functions.textops`` (the T1 multi-word gate and
rule probes, the T3 identity shortcut, the T4 per-rule currency probes, the T5
candidate-token scan and digraph probe, and the ``_probe_fold`` haystack they
share) only decides whether a regex scan may be skipped. ``extract_turn_probe_free`` below runs
the same pipeline with every rule applied and no probe, so any probe that
is not a true necessary condition shows up as a difference — without the
reference implementation.
"""
from __future__ import annotations

import re
from unittest import mock

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
        text, spans, _ = T._sub_tracked(
            rule.pattern,
            lambda m, _r=rule.replacement: T._preserve_case_phrase(m.group(0), _r),
            text,
            spans,
            kind="phrase",
        )
    return text, spans


def _currency_all(text, spans=None):
    spans = spans if spans is not None else []
    for rule in D.CURRENCY_RULES:
        text, spans, _ = T._sub_tracked(rule.pattern, rule.repl, text, spans, kind="currency")
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


#: matches every text, so the T3 identity shortcut is never taken
_ALWAYS = re.compile("")


def extract_turn_probe_free(text, **kwargs):
    """``extract_turn`` with T1, T3, T4 and T5 applying every rule."""
    with mock.patch.multiple(
        T,
        apply_multiword=_multiword_all,
        normalize_currency=_currency_all,
        normalize_spelling=_spelling_all,
    ), mock.patch.object(D, "PHRASE_KEY_PROBE", _ALWAYS):
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
    """Per rule: wherever the pattern matches, its probe passes; the trie
    gates agree with the probes they stand for."""
    low = T._probe_fold(text)
    digit = D.HAS_DIGIT.search(text) is not None
    for rule in D.CURRENCY_RULES:
        if rule.pattern.search(text):
            assert rule.probe(text, low, digit), rule.pattern.pattern
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
    ],
)
def test_fold_cases_match_probe_free(text):
    for use_dict in (False, True):
        for use_spell in (False, True):
            kw = {"use_dictionary": use_dict, "use_spelling": use_spell}
            assert T.extract_turn(text, **kw) == extract_turn_probe_free(text, **kw)


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
