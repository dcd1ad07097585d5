"""Correction dictionaries and precompiled rule tables.

Loads the DATA extracted from the reference (alfalaq12/OCR) out of
``ocr_spark/data/corrections.json`` (see ``tools/extract_ref_data.py`` for
provenance) and builds the runtime structures the text operators need. All
regexes are compiled ONCE at module import — i.e. once per Python worker
process on the executors — which fixes the reference's
compile-277-regexes-per-document hazard (reference
``dictionary_corrector.py:1140-1151``) without changing output.

Counts asserted by tests/test_dictionaries.py: 585 kamus words, 324 phrase
corrections, 277 multi-word corrections, 27 foreign words, 6 spelling rules,
5 j->y entries.
"""
from __future__ import annotations

import json
import re
from importlib import resources
from typing import Callable

# importlib.resources, not pathlib: the package must load from a --py-files
# zip on executors, where __file__-relative paths are not real directories.
_D = json.loads(
    resources.files("ocr_spark").joinpath("data/corrections.json").read_text("utf-8")
)

#: Known-word dictionary (already includes the Indonesian-name set, matching
#: the reference's merge at dictionary_corrector.py:196). Membership probes
#: only — this is the broadcast-style small side of the semantic semi-join
#: (SURVEY.md §2.4 J1): a frozenset probe inside the UDF instead of a
#: relational join, because 585 entries never justify a shuffle.
KAMUS: frozenset[str] = frozenset(_D["kamus"])

#: Single-token exact correction map (reference dictionary_corrector.py:244-648).
PHRASE_MAP: dict[str, str] = dict(_D["phrase_corrections"])

#: Multi-word correction map in original insertion order. Order matters:
#: rules are applied longest-key-first and Python's sort is stable, so
#: equal-length keys keep insertion order (reference :1140).
MULTI_WORD_MAP: dict[str, str] = dict(_D["multi_word_corrections"])

#: Foreign-word whitelist + old-spelling rules (reference spelling_normalizer.py:16-51).
FOREIGN_WORDS: frozenset[str] = frozenset(_D["foreign_words"])
SPELLING_RULES: list[tuple[str, str]] = [tuple(r) for r in _D["spelling_rules"]]
J_TO_Y: dict[str, str] = dict(_D["j_to_y"])


def _multiword_pattern(key: str) -> re.Pattern:
    # Same pattern construction as the reference (:1148): escape the key,
    # then let every space match any whitespace run (newlines included).
    return re.compile(re.escape(key).replace(r"\ ", " ").replace(" ", r"\s+"), re.IGNORECASE)


def trie_pattern(words) -> str:
    """A regex matching exactly the strings in ``words``, factored as a trie.

    Shared prefixes become one literal and the alternatives after them a
    non-capturing group with branches in sorted order, so at each character
    sre tries at most the one branch that starts with it, where a flat
    alternation would try every word. The pattern string depends only on
    the set of words, not on their order. A word that is a prefix of
    another makes the rest optional; an empty word makes the whole pattern
    match the empty string, so a ``search`` then passes every text.
    """
    trie: dict = {}
    for word in words:
        node = trie
        for ch in word:
            node = node.setdefault(ch, {})
        node[""] = {}  # end-of-word marker

    def emit(node: dict) -> str:
        branches = [re.escape(ch) + emit(node[ch]) for ch in sorted(node) if ch]
        if not branches:
            return ""
        if "" in node:
            return "(?:" + "|".join(branches) + ")?"
        return branches[0] if len(branches) == 1 else "(?:" + "|".join(branches) + ")"

    return emit(trie) if trie else "(?!)"


class MultiWordRule:
    """One precompiled multi-word correction rule.

    ``probe`` is the longest space-free chunk of the key, lowercased: a rule
    can only match a string whose ``_probe_fold`` contains that chunk (the
    pattern's non-whitespace parts are literal and IGNORECASE folds them to
    what ``_probe_fold`` produces). ``MULTI_WORD_PROBE`` below scans for all
    probes at once; a rule's own probe is tested only when that scan finds
    one, and its regex runs only when its probe is present.
    """

    __slots__ = ("key", "replacement", "pattern", "probe")

    def __init__(self, key: str, replacement: str):
        self.key = key
        self.replacement = replacement
        self.pattern = _multiword_pattern(key)
        self.probe = max(key.lower().split(" "), key=len) if key else ""


#: Rules sorted longest-key-first, ties in insertion order (stable sort) —
#: the application order is part of the equality contract.
MULTI_WORD_RULES: list[MultiWordRule] = [
    MultiWordRule(k, MULTI_WORD_MAP[k])
    for k in sorted(MULTI_WORD_MAP.keys(), key=len, reverse=True)
]

#: Finds a rule probe in a ``_probe_fold`` text: a necessary condition for
#: any multi-word rule to match, since each rule needs its own probe there.
#: Passes every text if some rule has an empty probe.
MULTI_WORD_PROBE: re.Pattern = re.compile(trie_pattern({r.probe for r in MULTI_WORD_RULES}))

#: Spelling digraph rules, precompiled case-insensitive.
SPELLING_PATTERNS: list[tuple[re.Pattern, str]] = [
    (re.compile(p, re.IGNORECASE), r) for p, r in SPELLING_RULES
]

# ---------------------------------------------------------------------------
# Currency / number normalization rule table.
# Semantics mirror reference dictionary_corrector.py:1304-1408; the table
# below is an original re-expression of those published substitution rules.
# ---------------------------------------------------------------------------

_DIGIT_LOOKALIKES = str.maketrans("lOoIzZsSb", "100122556")
_HAS_LOOKALIKE = re.compile(r"[lOoIzZsS]")
#: Unicode ``\d`` (any decimal digit, not just 0-9)
HAS_DIGIT = re.compile(r"\d")


def fix_digit_lookalikes(m: re.Match) -> str:
    """Translate letter-digit lookalikes inside a matched mixed
    letters+digits run (post-``Rp`` amounts): l/I->1, O/o->0, z/Z->2,
    s/S->5, b->6."""
    num = m.group(0)
    if _HAS_LOOKALIKE.search(num) and HAS_DIGIT.search(num):
        return num.translate(_DIGIT_LOOKALIKES)
    return num


def fix_year_lookalikes(m: re.Match) -> str:
    """g->9, l->1, O->0 inside a matched 4-char year-shaped token."""
    return m.group(0).replace("g", "9").replace("l", "1").replace("O", "0")


#: ``probe(text, low, digit)``: ``text`` is the current text, ``low`` its
#: ``textops._probe_fold`` and ``digit`` whether it holds a Unicode ``\d``.
Probe = Callable[[str, str, bool], bool]
Replacement = str | Callable[[re.Match], str]


class CurrencyRule:
    r"""One currency/number rule and the probe that gates its regex scan.

    The probe is a necessary condition: it may pass text the pattern does
    not match, but never fails text it does. It tests literals the pattern
    cannot match without:

    - ``\d`` in a pattern is Unicode, so ``digit`` comes from a ``\d``
      search, not from ASCII digits;
    - an IGNORECASE pattern matches every sre case variant of its ASCII
      letters (the Kelvin sign for k, ſ for s, ı and İ for i), which
      ``_probe_fold`` maps back to ASCII, so its literals are tested on
      ``low``;
    - a case-sensitive pattern's literals are tested on ``text`` as is.
    """

    __slots__ = ("pattern", "repl", "probe")

    def __init__(self, pattern: str, repl: Replacement, probe: Probe, flags=re.IGNORECASE):
        self.pattern = re.compile(pattern, flags)
        self.repl = repl
        self.probe = probe


MONTH_NAMES = (
    "januari", "februari", "maret", "april", "mei", "juni", "juli",
    "agustus", "september", "oktober", "november", "desember",
)
_MONTHS = "(" + "|".join(MONTH_NAMES) + ")"


def _has_month(low: str) -> bool:
    return any(m in low for m in MONTH_NAMES)


#: the pattern of the p1h rule below, lowered: IGNORECASE folds the rule's
#: classes onto these letters, which ``low`` already holds in lowercase
_P1H_LOW = re.compile(r"p[li1][hbn]")


def _rp(text: str, low: str, digit: bool) -> bool:
    return digit and "rp" in low


def _month_year(text: str, low: str, digit: bool) -> bool:
    return digit and _has_month(low)


#: Rules in application order (the order is part of the output contract).
#: IGNORECASE unless ``flags=0``; a template or callable replacement.
CURRENCY_RULES: list[CurrencyRule] = [
    # Rp.XXX.-- / Rp.XXX,-- -> "Rp XXX,-"
    CurrencyRule(r"Rp\.?\s*(\d+(?:[.,]\d+)*)\s*[-.,]+\s*[-]+", r"Rp \1,-", _rp),
    # Rp.XXX / RpXXX -> "Rp XXX"
    CurrencyRule(r"Rp\.?\s*(\d+(?:[.,]\d+)*)", r"Rp \1", _rp),
    # OCR misreads of the currency marker: Ru. / Rpy
    CurrencyRule(r"Ru\.?\s*(\d+(?:[.,]\d+)*)", r"Rp \1", lambda t, low, d: d and "ru" in low),
    CurrencyRule(r"R[Pp]y\.?\s*(\d+(?:[.,]\d+)*)", r"Rp \1", lambda t, low, d: d and "rpy" in low),
    # Orphan amount where the marker was lost to noise: "..277" -> "Rp 277"
    CurrencyRule(
        r"(^|\s)[.:]+(\d+(?:[.,]\d+)*)(?=\s|$|[-.,])",
        r"\1Rp \2",
        lambda t, low, d: d and ("." in t or ":" in t),
    ),
    # Year repair, month context: "september 962" -> "september 1962"
    CurrencyRule(_MONTHS + r"\s*[,.]*\s*([98]\d{2})(?!\d)", r"\1 1\2", _month_year),
    # "97l" -> "1971" (trailing l/I/1 read as the last digit)
    CurrencyRule(_MONTHS + r"\s*[,.]*\s*([98]\d)[lI1](?!\d)", r"\1 1\g<2>1", _month_year),
    # "ll Maret" -> "11 Maret" (the only month rule that needs no digit)
    CurrencyRule(r"\b([lI]{2})\s+" + _MONTHS, r"11 \2", lambda t, low, d: _has_month(low)),
    # Split year "19 71" -> "1971", month context only
    CurrencyRule(_MONTHS + r"\s*[,.]*\s*(19|20)\s+(\d{2})(?!\d)", r"\1 \2\3", _month_year),
    # Specific amount misread
    CurrencyRule(r"25\s*[,.]\s*[zZ]00", r"25.100", lambda t, low, d: "25" in t and "00" in t),
    # Spelled-number repairs
    CurrencyRule(
        r"\b[Pp][lI1][hbn]\b", r"puluh", lambda t, low, d: _P1H_LOW.search(low) is not None
    ),
    CurrencyRule(
        r"\b(ke\s*lima|kelima)\s+(ribu|ratus)",
        r"lima \2",
        lambda t, low, d: "lima" in low and ("ribu" in low or "ratus" in low),
    ),
    CurrencyRule(r"\bs[o0a]ratus\b", r"seratus", lambda t, low, d: "ratus" in low),
    # Specific name repairs
    CurrencyRule(
        r"\b[Kk]asm\s*[.,]\s*nem\b", r"Kasminem", lambda t, low, d: "kasm" in low and "nem" in low
    ),
    CurrencyRule(r"\b[Ss]ukati[l1I]\b", r"Sukati", lambda t, low, d: "sukati" in low),
    CurrencyRule(r"\b[Mm]aineh\b", r"Mainah", lambda t, low, d: "maineh" in low),
    # Lookalike letters in the amount after "Rp " / "Rp." (case-sensitive)
    CurrencyRule(
        r"(?<=Rp\s)[lOoIzZsS0-9.,]+", fix_digit_lookalikes, lambda t, low, d: "Rp" in t, flags=0
    ),
    CurrencyRule(
        r"(?<=Rp\.)[lOoIzZsS0-9.,]+", fix_digit_lookalikes, lambda t, low, d: "Rp." in t, flags=0
    ),
    # Year-shaped tokens with lookalike letters (case-sensitive)
    CurrencyRule(
        r"\b1[9g][0-9lOog]{2}\b",
        fix_year_lookalikes,
        lambda t, low, d: "19" in t or "1g" in t,
        flags=0,
    ),
    CurrencyRule(r"\b20[0-9lOo]{2}\b", fix_year_lookalikes, lambda t, low, d: "20" in t, flags=0),
]

# ---------------------------------------------------------------------------
# Tokenizer / validator patterns shared by the text operators.
# ---------------------------------------------------------------------------

#: Lossless token/whitespace splitter (round-trips via "".join).
TOKEN_SPLIT = re.compile(r"\S+|\s+")
#: prefix-punct / word-core / suffix-punct peel.
PUNCT_PEEL = re.compile(r"^([^\w]*)([\w\-\']+)([^\w]*)$")
#: digits glued to a >=3-letter word, both orders.
NUM_THEN_WORD = re.compile(r"^(\d+)([a-zA-Z]{3,})$")
WORD_THEN_NUM = re.compile(r"^([a-zA-Z]{3,})(\d+)$")

#: fast-path probes for the correction pass, each a necessary condition for
#: the (non-fuzzy) word-correction loop to change a text. The loop edits a
#: token only where a digit run is glued to a >=3-letter word
#: (``DIGIT_GLUE_PROBE``; it needs a Unicode ``\d``, so ``HAS_DIGIT`` is the
#: cheaper first test) or where a word it looks up is a phrase-map key
#: (``PHRASE_KEY_PROBE``, on ``text.lower()``: keys are lowercase). Outside
#: digit-glued tokens, a looked-up word never ends before a ``[\w\-']``
#: character and never starts right after a word character; it can start
#: right after a ``-`` or ``'``, which ``PUNCT_PEEL`` peels off a token's
#: front as prefix punctuation.
DIGIT_GLUE_PROBE = re.compile(r"\d[a-zA-Z]{3}|[a-zA-Z]{3}\d")
PHRASE_KEY_PROBE = re.compile(r"(?<!\w)(?:" + trie_pattern(PHRASE_MAP) + r")(?![\w\-'])")
#: mid-token symbol splitter (keeps delimiters).
SYMBOL_SPLIT = re.compile(r"([^\w\-\']+)")
WORD_CORE = re.compile(r"^[\w\-\']+$")
#: >=3-letter runs, the unit of scoring and unknown-word tracking.
LETTER_RUN = re.compile(r"[a-zA-Z]{3,}")
