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

import functools
import json
import re
from bisect import bisect_right
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


def fold_pattern(pattern: re.Pattern) -> re.Pattern:
    r"""``pattern`` case-sensitive, with the letters of its source lowered
    (escape sequences such as ``\S`` kept as they are).

    For a pattern whose literals and classes are ASCII, an IGNORECASE match
    on a text and a match of this pattern on the text's
    ``textops._probe_fold`` have the same span and group spans: the fold
    maps exactly the characters sre folds onto an ASCII letter to that
    letter, keeps every other character's ``\w``, ``\s`` and ``\d`` class,
    and maps no character to a different position.
    """
    source = re.sub(
        r"\\.|[A-Z]", lambda m: m[0] if len(m[0]) == 2 else m[0].lower(), pattern.pattern
    )
    return re.compile(source, pattern.flags & ~re.IGNORECASE)


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

    Two invariants let T1 scan the fold instead of the text, both checked by
    ``tests/test_fastpath_parity.py``:

    - ``fold_pattern`` (see ``fold_pattern``) finds, case-sensitively in
      the text's ``textops._probe_fold``, the spans ``pattern`` (the
      reference's IGNORECASE pattern) finds in the text: every key is
      ASCII;
    - a T1 match contains its probe. ``probe`` is the longest space-free
      chunk of the key, lowercased, and the pattern's non-whitespace parts
      are the key's literal chunks, so the fold of the matched text holds
      ``probe``. ``MULTI_WORD_PROBE`` below finds the probes in a fold, and
      a rule runs only when its probe occurs there.
    """

    __slots__ = ("key", "replacement", "pattern", "fold_pattern", "probe")

    def __init__(self, key: str, replacement: str):
        self.key = key
        self.replacement = replacement
        self.pattern = _multiword_pattern(key)
        self.fold_pattern = fold_pattern(self.pattern)
        self.probe = max(key.lower().split(" "), key=len) if key else ""


#: Rules sorted longest-key-first, ties in insertion order (stable sort) —
#: the application order is part of the equality contract.
MULTI_WORD_RULES: list[MultiWordRule] = [
    MultiWordRule(k, MULTI_WORD_MAP[k])
    for k in sorted(MULTI_WORD_MAP.keys(), key=len, reverse=True)
]

#: Finds a rule probe in a ``_probe_fold`` text: a necessary condition for
#: any multi-word rule to match, since each rule needs its own probe there.
#: At each position it matches the longest probe that starts there.
#: Passes every text if some rule has an empty probe.
MULTI_WORD_PROBE: re.Pattern = re.compile(trie_pattern({r.probe for r in MULTI_WORD_RULES}))


#: the rules of each probe, as indices into ``MULTI_WORD_RULES``
MULTI_WORD_BY_PROBE: dict[str, list[int]] = {}
for _i, _rule in enumerate(MULTI_WORD_RULES):
    MULTI_WORD_BY_PROBE.setdefault(_rule.probe, []).append(_i)


def _probe_overlaps(probes: dict[str, list[int]]):
    # A scan for MULTI_WORD_PROBE matches, at each position it tries, the
    # longest probe q starting there, and skips the positions q covers. A
    # probe that starts within q either ends within q (a substring of q:
    # present wherever q is) or runs past q's end (it starts with a suffix
    # q[k:] of q: present only if the text goes on as it does).
    ordered = sorted(probes)
    within, across = {}, {}
    for q in probes:
        inside = {q[a:b] for a in range(len(q)) for b in range(a + 1, len(q) + 1)}
        within[q] = frozenset(i for p in inside.intersection(probes) for i in probes[p])
        offsets = []
        for k in range(1, len(q)):
            i = bisect_right(ordered, q[k:])
            if i < len(ordered) and ordered[i].startswith(q[k:]):
                offsets.append(k)
        across[q] = tuple(offsets)
    return within, across


#: For each probe ``q`` that ``MULTI_WORD_PROBE`` can match: the rules
#: whose probe is a substring of ``q`` (``WITHIN``, indices into
#: ``MULTI_WORD_RULES``: present wherever ``q`` is), and the offsets into
#: ``q`` at which a longer probe may start (``ACROSS``). A scan for the
#: probes and a probe match at those offsets of each probe it finds name
#: every probe in a text: each position the scan skips lies inside a probe
#: it found.
MULTI_WORD_WITHIN, MULTI_WORD_ACROSS = _probe_overlaps(MULTI_WORD_BY_PROBE)

#: the longest probe: an edit can make or break a probe occurrence only
#: within this many characters, less one, on either side
MULTI_WORD_PROBE_MAX: int = max(map(len, MULTI_WORD_BY_PROBE))

#: Spelling digraph rules, precompiled case-insensitive.
SPELLING_PATTERNS: list[tuple[re.Pattern, str]] = [
    (re.compile(p, re.IGNORECASE), r) for p, r in SPELLING_RULES
]

#: In the ``_probe_fold`` of a text, marks a token the spelling stage may
#: change: every J_TO_Y key contains ``j`` and every digraph rule is ``oe``,
#: ``ch`` or a ``?j``.
SPELLING_HIT: re.Pattern = re.compile(r"j|oe|ch")

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
    r"""One currency/number rule, the probe that gates it, and the scan that
    finds where its pattern may match. Both are necessary conditions, so
    T4 gives the pattern's own matches (checked by
    ``tests/test_fastpath_parity.py``).

    The probe is a necessary condition: it may pass text the pattern does
    not match, but never fails text it does. It tests literals the pattern
    cannot match without:

    - ``\d`` in a pattern is Unicode, so ``digit`` comes from a ``\d``
      search, not from ASCII digits;
    - an IGNORECASE pattern's literals are tested on the fold ``low``,
      which maps every sre case variant of an ASCII letter (the Kelvin
      sign for k, ſ for s, ı and İ for i) to that letter;
    - a case-sensitive pattern's literals are tested on ``text`` as is.

    ``scan`` finds where a match of ``pattern`` may start, and is cheap to
    search for: sre finds its first character or literal prefix at C speed.
    It runs case-sensitively on the fold for an IGNORECASE rule
    (``on_fold``) and on the text for a case-sensitive one (``flags=0``).
    Every match starts ``offset`` characters after a scan hit (at 0 if that
    is before the text). By default the scan is the pattern (for an
    IGNORECASE rule its ``fold_pattern``, whose matches on the fold are the
    pattern's matches on the text, since its literals and classes are
    ASCII) less a leading ``\b``, which would make sre try a match at
    every position; ``scan=`` gives a lowercase pattern in its place.
    ``pattern.match(text, start)`` at each such start then decides, seeing
    the whole text for ``^``, ``\b`` and lookbehind. No rule matches the
    empty string.
    """

    __slots__ = ("pattern", "scan", "offset", "on_fold", "repl", "probe")

    def __init__(
        self,
        pattern: str,
        repl: Replacement,
        probe: Probe,
        flags=re.IGNORECASE,
        scan: str = "",
        offset: int = 0,
    ):
        self.pattern = re.compile(pattern, flags)
        self.on_fold = bool(flags & re.IGNORECASE)
        lead = fold_pattern(self.pattern) if self.on_fold else self.pattern
        self.scan = re.compile(scan or lead.pattern.removeprefix(r"\b"), lead.flags)
        self.offset = offset
        self.repl = repl
        self.probe = probe


MONTH_NAMES = (
    "januari", "februari", "maret", "april", "mei", "juni", "juli",
    "agustus", "september", "oktober", "november", "desember",
)
_MONTHS = "(" + "|".join(MONTH_NAMES) + ")"
#: the scan of a rule whose matches start with a month name
_MONTH_SCAN = trie_pattern(MONTH_NAMES)


@functools.lru_cache(maxsize=1)  # the month rules probe one fold in turn
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
        # a run of dots before a digit, at the start or after whitespace
        scan=r"[.:](?<!\S[.:])[.:]*\d",
        offset=-1,
    ),
    # Year repair, month context: "september 962" -> "september 1962"
    CurrencyRule(
        _MONTHS + r"\s*[,.]*\s*([98]\d{2})(?!\d)", r"\1 1\2", _month_year, scan=_MONTH_SCAN
    ),
    # "97l" -> "1971" (trailing l/I/1 read as the last digit)
    CurrencyRule(
        _MONTHS + r"\s*[,.]*\s*([98]\d)[lI1](?!\d)", r"\1 1\g<2>1", _month_year, scan=_MONTH_SCAN
    ),
    # "ll Maret" -> "11 Maret" (the only month rule that needs no digit)
    CurrencyRule(r"\b([lI]{2})\s+" + _MONTHS, r"11 \2", lambda t, low, d: _has_month(low)),
    # Split year "19 71" -> "1971", month context only
    CurrencyRule(
        _MONTHS + r"\s*[,.]*\s*(19|20)\s+(\d{2})(?!\d)", r"\1 \2\3", _month_year, scan=_MONTH_SCAN
    ),
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
        r"(?<=Rp\s)[lOoIzZsS0-9.,]+",
        fix_digit_lookalikes,
        lambda t, low, d: "Rp" in t,
        flags=0,
        scan=r"Rp\s",
        offset=3,
    ),
    CurrencyRule(
        r"(?<=Rp\.)[lOoIzZsS0-9.,]+",
        fix_digit_lookalikes,
        lambda t, low, d: "Rp." in t,
        flags=0,
        scan=r"Rp\.",
        offset=3,
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
#: one whitespace-delimited token (``str.split()``'s unit).
TOKEN = re.compile(r"\S+")
#: prefix-punct / word-core / suffix-punct peel.
PUNCT_PEEL = re.compile(r"^([^\w]*)([\w\-\']+)([^\w]*)$")
#: digits glued to a >=3-letter word, both orders.
NUM_THEN_WORD = re.compile(r"^(\d+)([a-zA-Z]{3,})$")
WORD_THEN_NUM = re.compile(r"^([a-zA-Z]{3,})(\d+)$")

#: the probes of the correction pass, both run on the ``_probe_fold``: the
#: (non-fuzzy) word-correction loop changes only a token that holds a hit
#: of one of them. The loop edits a token only where a digit run is glued
#: to a >=3-letter word (``DIGIT_GLUE_PROBE``; ASCII letters stay letters
#: in the fold, and it needs a Unicode ``\d``, so ``HAS_DIGIT`` is the
#: cheaper first test) or where a word it looks up is a phrase-map key
#: (``PHRASE_KEY_PROBE``: keys are lowercase ASCII, and a word that
#: lowercases to one folds to it at the same offsets). Outside digit-glued
#: tokens, a looked-up word never ends before a ``[\w\-']`` character and
#: never starts right after a word character; it can start right after a
#: ``-`` or ``'``, which ``PUNCT_PEEL`` peels off a token's front as prefix
#: punctuation. A glue hit starts at the digit, so sre tries only the digits.
DIGIT_GLUE_PROBE = re.compile(r"\d(?:[a-zA-Z]{3}|(?<=[a-zA-Z]{3}\d))")
PHRASE_KEY_PROBE = re.compile(r"(?<!\w)(?:" + trie_pattern(PHRASE_MAP) + r")(?![\w\-'])")
#: mid-token symbol splitter (keeps delimiters).
SYMBOL_SPLIT = re.compile(r"([^\w\-\']+)")
WORD_CORE = re.compile(r"^[\w\-\']+$")
#: >=3-letter runs, the unit of scoring and unknown-word tracking.
LETTER_RUN = re.compile(r"[a-zA-Z]{3,}")

#: One RE2 pattern (``pyarrow.compute.match_substring_regex``) that matches
#: a text's ``textops._probe_fold`` whenever T1, non-fuzzy T3 or T4 can
#: change the text: a necessary condition for all three, built from the
#: probes above. RE2 is a DFA, so a batch pays one scan for all five arms,
#: however many alternatives they hold. The arms:
#:
#: - every ``MULTI_WORD_RULES`` probe (``MULTI_WORD_PROBE``);
#: - a ``PHRASE_MAP`` key between ``PHRASE_KEY_PROBE``'s boundaries, with
#:   RE2's ASCII ``[0-9A-Za-z_]`` for sre's Unicode ``\w``: a character
#:   outside the Unicode class is outside the ASCII one too, so the arm
#:   passes wherever the probe does;
#: - ``\p{Nd}``, sre's Unicode ``\d`` (``HAS_DIGIT``): ``DIGIT_GLUE_PROBE``
#:   and every currency rule whose probe needs a digit, a ``25``, ``19``,
#:   ``1g`` or ``20``;
#: - the literals the other currency probes test on the fold: ``rp`` (the
#:   case-sensitive ``Rp``), the month names, ``ribu``/``ratus``, ``kasm``,
#:   ``sukati`` and ``maineh``;
#: - ``_P1H_LOW``.
#:
#: When it misses, T1 and T3 return their text as it is, so T4 probes the
#: same fold, and misses too.
CORRECTION_GATE: str = "|".join(
    "(?:" + arm + ")"
    for arm in (
        MULTI_WORD_PROBE.pattern,
        r"(?:^|[^0-9A-Za-z_])(?:" + trie_pattern(PHRASE_MAP) + r")(?:$|[^0-9A-Za-z_\-'])",
        r"\p{Nd}",
        trie_pattern(("rp", *MONTH_NAMES, "ribu", "ratus", "kasm", "sukati", "maineh")),
        _P1H_LOW.pattern,
    )
)
