"""Pure-Python per-turn text operators (the extraction core).

Spark-independent single-row semantics for the reference's text pipeline
(alfalaq12/OCR ``routers/ocr.py:203-232``): multi-word phrase correction ->
token-level dictionary correction -> currency/number normalization ->
old-spelling (EYD) normalization -> quality scoring -> unknown-word
extraction. These functions are the vectorization unit: ``ocr_spark.
functions.udfs`` hands each Arrow batch to ``extract_batch`` inside an
Arrow UDF.

Everything here matches the reference's observable output byte-for-byte
(golden tests in ``tests/test_golden.py`` pin this against fixtures produced
by running the reference directly). On top of the reference's outputs we
additionally emit character-offset ``spans`` for every edit (the reference
only reports counts) — a documented superset.

Reference semantics citations (into /root/reference/):
  multi-word rules      app/services/dictionary_corrector.py:1132-1174
  tokenization/counts   app/services/dictionary_corrector.py:1220-1297
  word correction       app/services/dictionary_corrector.py:651-741
  currency/number       app/services/dictionary_corrector.py:1304-1408
  spelling (EYD)        app/services/spelling_normalizer.py:54-153
  quality scoring       app/services/scoring_service.py:43-177
  unknown words         app/services/dictionary_corrector.py:217-235
"""
from __future__ import annotations

import re
import sys
from bisect import bisect_right
from typing import Optional

import pyarrow as pa
import pyarrow.compute as pc

from ocr_spark.functions import dictionaries as D

Span = tuple[int, int, str]  # (start, end, kind) — [start, end) char offsets


# ---------------------------------------------------------------------------
# The case fold every rule stage scans in place of IGNORECASE scans.
# ---------------------------------------------------------------------------

#: (text, fold) for the last ``_probe_fold`` call
_fold_memo: tuple[str, str] = ("", "")


def _probe_fold(s: str) -> str:
    r"""The case fold every rule stage scans: ``s`` lowercased, except that
    the letters sre's IGNORECASE matches as an ASCII letter that ``lower()``
    does not give map to that letter (DOTTED CAPITAL I U+0130 and DOTLESS I
    U+0131 to i, LONG S U+017F to s; the Kelvin sign lowercases to k).

    It is exact for a pattern whose literals and classes are ASCII. U+0130
    is the only character whose ``lower()`` is longer than one character,
    and it is mapped first, so the fold has one character per character of
    ``s``, each of the same ``\w``, ``\s`` and ``\d`` class; and a
    character folds to an ASCII letter exactly when IGNORECASE matches it
    as that letter. So such a pattern's IGNORECASE matches in ``s`` are its
    ``D.fold_pattern``'s matches in the fold, at the same offsets, and a
    token of the fold bounds the same characters in ``s``.
    ``tests/test_fastpath_parity.py`` checks the three properties over every
    code point.

    The last fold is kept with its string: a stage that leaves its text as
    it is hands the next stage the same string, whose fold is then not
    taken again.
    """
    global _fold_memo
    if _fold_memo[0] is s:
        return _fold_memo[1]
    fold = s.replace("\u0130", "i").lower().replace("\u017f", "s").replace("\u0131", "i")
    _fold_memo = (s, fold)
    return fold


# ---------------------------------------------------------------------------
# Offset bookkeeping: keep spans valid while the text mutates underneath them.
# ---------------------------------------------------------------------------

class PiecewiseMap:
    """Monotone old-offset -> new-offset map built from contiguous segments.

    Unchanged segments shift positions exactly; positions falling inside a
    rewritten segment clamp into the rewritten segment's new extent. Used to
    carry spans across regex substitutions and token-loop rebuilds.
    """

    __slots__ = ("old_starts", "segs")

    def __init__(self):
        self.old_starts: list[int] = []
        self.segs: list[tuple[int, int, int, int, bool]] = []

    def add(self, old_s: int, old_e: int, new_s: int, new_e: int, changed: bool) -> None:
        self.old_starts.append(old_s)
        self.segs.append((old_s, old_e, new_s, new_e, changed))

    def map(self, p: int) -> int:
        i = bisect_right(self.old_starts, p) - 1
        if i < 0:
            return p
        old_s, old_e, new_s, new_e, changed = self.segs[i]
        if not changed:
            return min(new_e, new_s + (p - old_s))
        return new_s if p < old_e else new_e

    def remap(self, spans: list[Span]) -> list[Span]:
        """``map`` both ends of each span, dropping spans that map empty.
        An offset up to the first rewritten segment keeps its value and
        one from the end of the last shifts by the change in length, so
        only offsets between them are looked up."""
        changed = [seg for seg in self.segs if seg[4]]
        if changed:
            lo, hi = changed[0][0], changed[-1][1]
            shift = self.segs[-1][3] - self.segs[-1][1]
        else:
            lo = hi = sys.maxsize
            shift = 0
        out = []
        for s, e, kind in spans:
            ns = s if s <= lo else s + shift if s >= hi else self.map(s)
            ne = e if e <= lo else e + shift if e >= hi else self.map(e)
            if ns < ne:
                out.append((ns, ne, kind))
        return out


def _edits(text: str, matches, repl, kind: str) -> list:
    """The edits ``_splice`` takes for each of ``matches`` (their spans
    offsets into ``text``) whose replacement differs from what it matched:
    (start, end, replacement, [a ``kind`` span over the replacement, unless
    it is empty]). ``repl`` is a template string (``Match.expand``) or a
    callable taking the match."""
    edits = []
    for m in matches:
        s, e = m.span()
        rep = repl(m) if callable(repl) else m.expand(repl)
        if rep != text[s:e]:
            edits.append((s, e, rep, [(0, len(rep), kind)] if rep else []))
    return edits


def _splice(text: str, edits: list, spans: list[Span]):
    """Apply ``edits``, ascending and disjoint (start, end, replacement,
    spans relative to the replacement), to ``text``.

    Returns (new_text, ``spans`` remapped into it + the edits' spans). Only
    the edits and the unchanged text between them enter the offset map; one
    unchanged segment maps every offset as the per-token or per-match
    segments it stands for would.
    """
    pmap = PiecewiseMap() if spans else None
    pieces: list[str] = []
    new_spans: list[Span] = []
    pos = 0  # end of the last edit, in text
    out = 0  # the same position in the result
    for s, e, rep, rep_spans in edits:
        if s > pos:
            pieces.append(text[pos:s])
            if pmap is not None:
                pmap.add(pos, s, out, out + (s - pos), False)
            out += s - pos
        pieces.append(rep)
        if pmap is not None:
            pmap.add(s, e, out, out + len(rep), True)
        for a, b, kind in rep_spans:
            new_spans.append((out + a, out + b, kind))
        out += len(rep)
        pos = e
    if pmap is None:
        spans = new_spans
    else:
        pmap.add(pos, len(text), out, out + (len(text) - pos), False)
        spans = pmap.remap(spans) + new_spans
    if not pieces:
        return text, spans
    pieces.append(text[pos:])
    return "".join(pieces), spans


#: whitespace other than the space character; the rest of a token
_SPACE_NOT_BLANK = re.compile(r"[^\S ]")
_TOKEN_REST = re.compile(r"\S*")


def _hit_tokens(fold: str, hit: re.Pattern):
    """(start, end) of each whitespace-delimited token of ``fold`` in which
    a match of ``hit`` starts, in order: one C-speed search for a hit, a
    token boundary search around it, and the next search from the token's
    end."""
    pos = 0
    while pos <= len(fold) and (m := hit.search(fold, pos)) is not None:
        at = m.start()
        start = max(fold.rfind(" ", pos, at) + 1, pos)
        while (ws := _SPACE_NOT_BLANK.search(fold, start, at)) is not None:
            start = ws.end()
        pos = _TOKEN_REST.match(fold, at).end()
        if pos == at:  # a hit at whitespace starts in no token
            pos += 1
        else:
            yield start, pos


# ---------------------------------------------------------------------------
# T1: multi-word phrase correction.
# ---------------------------------------------------------------------------

def _preserve_case_phrase(matched: str, replacement: str) -> str:
    # ALLCAPS match -> upper; leading-cap match -> Title Case; else verbatim.
    if matched.isupper():
        return replacement.upper()
    if matched[0].isupper():
        return replacement.title()
    return replacement


def _multiword_candidates(fold: str, start: int = 0, end: Optional[int] = None) -> set[int]:
    """Indices into ``D.MULTI_WORD_RULES`` of the rules whose probe occurs
    within ``fold[start:end]``: one scan for the probes, and a probe match
    at each offset into a found probe where another may start and run past
    its end (``D.MULTI_WORD_ACROSS``)."""
    end = len(fold) if end is None else end
    probe = D.MULTI_WORD_PROBE
    found = set()
    for m in probe.finditer(fold, start, end):
        found.add(m.group())
        for k in D.MULTI_WORD_ACROSS[m.group()]:
            if (n := probe.match(fold, m.start() + k, end)) is not None:
                found.add(n.group())
    return set().union(*[D.MULTI_WORD_WITHIN[q] for q in found])


def apply_multiword(text: str, spans: Optional[list[Span]] = None) -> tuple[str, list[Span]]:
    """Apply the 277 multi-word rules longest-key-first, sequentially on the
    mutated string (chained corrections compound), case-insensitively with
    case-style-preserving replacement. 9 keys delete garbage (map to "").

    A rule can only match where the fold holds its probe, so only the rules
    one probe scan of the fold names run, in rule order, each scanning the
    fold with its ``fold_pattern``. After a rule fires, the fold is taken
    again and the probes are looked for only within
    ``D.MULTI_WORD_PROBE_MAX - 1`` characters of its edits: anywhere else a
    probe occurrence was there before, and its rules are already named.
    """
    spans = spans if spans is not None else []
    fold = _probe_fold(text)
    # most clean text holds no probe: one search, which stops at the first
    if D.MULTI_WORD_PROBE.search(fold) is None:
        return text, spans
    todo = sorted(_multiword_candidates(fold))
    reach = D.MULTI_WORD_PROBE_MAX - 1
    k = 0
    while k < len(todo):
        i = todo[k]
        k += 1
        rule = D.MULTI_WORD_RULES[i]

        def repl(m: re.Match, _text=text, _to=rule.replacement) -> str:
            return _preserve_case_phrase(_text[m.start() : m.end()], _to)

        edits = _edits(text, rule.fold_pattern.finditer(fold), repl, "phrase")
        if edits:
            text, spans = _splice(text, edits, spans)
            fold = _probe_fold(text)
            new = set()
            shift = 0  # where the text after an edit has moved to
            for s, e, rep, _ in edits:
                at = s + shift
                new |= _multiword_candidates(fold, max(0, at - reach), at + len(rep) + reach)
                shift += len(rep) - (e - s)
            new = {j for j in new if j > i}.difference(todo[k:])
            if new:
                todo = sorted(new.union(todo[k:]))
                k = 0
    return text, spans


# ---------------------------------------------------------------------------
# T3: single-word correction (exact map + optional deterministic fuzzy).
# ---------------------------------------------------------------------------

def is_valid_word(word: str) -> bool:
    """Correctable / trackable word: >=3 chars, no digits, alphabetic modulo
    ``-`` and ``'``."""
    if not word or len(word) < 3:
        return False
    if any(c.isdigit() for c in word):
        return False
    return word.replace("-", "").replace("'", "").isalpha()


def _indel_ratio(a: str, b: str) -> float:
    """Normalized indel similarity in [0,100]: (|a|+|b|-dist)/(|a|+|b|)*100
    where dist is insert/delete edit distance (= |a|+|b| - 2*LCS). Public
    algorithm (same definition rapidfuzz's fuzz.ratio documents)."""
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 100.0
    # LCS length, two-row DP
    prev = [0] * (lb + 1)
    for i in range(1, la + 1):
        cur = [0] * (lb + 1)
        ca = a[i - 1]
        for j in range(1, lb + 1):
            if ca == b[j - 1]:
                cur[j] = prev[j - 1] + 1
            else:
                cur[j] = cur[j - 1] if cur[j - 1] >= prev[j] else prev[j]
        prev = cur
    lcs = prev[lb]
    return (2.0 * lcs) / (la + lb) * 100.0


#: fuzzy-lookup state: sorted candidate list + memo cache, invalidated when
#: the effective kamus (base ∪ epoch extra) changes
_UNSET = object()
_fuzzy_state: dict = {"key": _UNSET, "sorted": None, "cache": {}}


#: (extra, KAMUS | extra) for the last learned-word set seen
_kamus_memo: tuple = (None, D.KAMUS)


def _effective_kamus(extra: Optional[frozenset] = None) -> frozenset:
    """The epoch dictionary: base kamus ∪ approved learned words (SURVEY.md
    §7.4 epoch-snapshot semantics — frozen for a whole job). Memoized on
    the identity of ``extra``, which one job passes to every turn."""
    global _kamus_memo
    if not extra:
        return D.KAMUS
    if _kamus_memo[0] is not extra:
        _kamus_memo = (extra, D.KAMUS | extra)
    return _kamus_memo[1]


def fuzzy_best_match(
    word_lower: str, threshold: int = 65, extra: Optional[frozenset] = None
) -> Optional[str]:
    """Deterministic fuzzy lookup: best indel-ratio >= threshold over the
    kamus iterated in sorted order, first-max tie-break (the reference
    iterates a Python set, so its ties are hash-seed-dependent — we pin a
    reproducible order; see SURVEY.md §7.4). Memoized per process; the memo
    resets when the epoch kamus changes."""
    key = extra if extra else None
    if _fuzzy_state["key"] != key:
        _fuzzy_state["key"] = key
        _fuzzy_state["sorted"] = sorted(_effective_kamus(extra))
        _fuzzy_state["cache"] = {}
    cache = _fuzzy_state["cache"]
    if word_lower in cache:
        return cache[word_lower]
    best, best_score = None, -1.0
    lw = len(word_lower)
    for cand in _fuzzy_state["sorted"]:
        # score >= t requires 2*min(la,lb) >= t*(la+lb)/100
        lc = len(cand)
        if 200 * min(lw, lc) < threshold * (lw + lc):
            continue
        score = _indel_ratio(word_lower, cand)
        # INCLUSIVE cutoff (reference: extractOne(score_cutoff=65) keeps
        # scores >= 65); strict > against the running best keeps the
        # first-max (sorted-order) tie-break deterministic
        if score >= threshold and score > best_score:
            best, best_score = cand, score
    cache[word_lower] = best
    return best


def correct_word(
    word: str, fuzzy: bool = False, extra_kamus: Optional[frozenset] = None
) -> str:
    """Correct one word: exact phrase-map hit first (case-style preserved:
    ALLCAPS -> upper, leading-cap -> capitalize), then — only when the fuzzy
    stage is enabled — a kamus fuzzy match for valid unknown words. Words in
    the epoch kamus (base or learned) are never touched."""
    if not word:
        return word
    lower = word.lower()
    hit = D.PHRASE_MAP.get(lower)
    if hit is not None:
        if word.isupper():
            return hit.upper()
        if word[0].isupper():
            return hit.capitalize()
        return hit
    if (
        not fuzzy
        or not is_valid_word(word)
        or lower in D.KAMUS
        or (extra_kamus is not None and lower in extra_kamus)
    ):
        return word
    match = fuzzy_best_match(lower, extra=extra_kamus)
    if match is None:
        return word
    if word.isupper():
        return match.upper()
    if word[0].isupper():
        return match.capitalize()
    return match


# ---------------------------------------------------------------------------
# T2+T3+T6: tokenize, correct, count, emit spans.
# ---------------------------------------------------------------------------

def _correct_token(
    token: str, fuzzy: bool, extra_kamus: Optional[frozenset]
) -> tuple[str, list[Span]]:
    """One whitespace-delimited token through word correction: split glued
    digits+word / word+digits (>=3-letter word part), else peel punctuation
    around the word core, else fall back to a symbol-preserving sub-split.
    Returns (result, ``word`` spans relative to the result), one span per
    corrected word."""
    m = D.NUM_THEN_WORD.match(token)
    if m:
        num, word = m.groups()
        head, tail = num + " ", ""
    elif m := D.WORD_THEN_NUM.match(token):
        word, num = m.groups()
        head, tail = "", " " + num
    elif m := D.PUNCT_PEEL.match(token):
        head, word, tail = m.groups()
    if m:
        fixed = correct_word(word, fuzzy, extra_kamus)
        if fixed == word:
            return head + fixed + tail, []
        return head + fixed + tail, [(len(head), len(head) + len(fixed), "word")]
    # mid-token symbols (e.g. "Dopartoron/wta"): split, correct the word
    # sub-tokens, keep delimiters verbatim
    pieces: list[str] = []
    spans: list[Span] = []
    at = 0
    for sub in D.SYMBOL_SPLIT.split(token):
        if D.WORD_CORE.match(sub):
            fixed = correct_word(sub, fuzzy, extra_kamus)
            if fixed != sub:
                spans.append((at, at + len(fixed), "word"))
            sub = fixed
        pieces.append(sub)
        at += len(sub)
    return "".join(pieces), spans


def correct_with_stats(
    text: str, fuzzy: bool = False, extra_kamus: Optional[frozenset] = None
) -> tuple[str, int, list[Span]]:
    """Full dictionary-correction pass over one turn's text.

    Multi-word rules run first. Then each whitespace-delimited token goes
    through ``_correct_token``; every changed word increments the
    correction count and yields a ``word`` span in output coordinates.

    Without fuzzy matching a token can change only where it holds a hit of
    ``D.PHRASE_KEY_PROBE`` (on the fold) or ``D.DIGIT_GLUE_PROBE`` (see
    there), so only the tokens around those hits run; every other token
    would come back as it is. Fuzzy matching can touch any unknown word, so
    then every token runs.
    """
    if not text:
        return text, 0, []

    text, mw_spans = apply_multiword(text)
    if fuzzy:
        tokens = map(re.Match.span, D.TOKEN.finditer(text))
    else:
        fold = _probe_fold(text)
        tokens = _hit_tokens(fold, D.PHRASE_KEY_PROBE)
        if D.HAS_DIGIT.search(text) is not None:
            tokens = sorted({*tokens, *_hit_tokens(fold, D.DIGIT_GLUE_PROBE)})
    edits = []
    corrections = 0
    for s, e in tokens:
        token = text[s:e]
        fixed, word_spans = _correct_token(token, fuzzy, extra_kamus)
        if fixed != token:
            edits.append((s, e, fixed, word_spans))
            corrections += len(word_spans)
    if not edits:
        return text, 0, mw_spans
    text, spans = _splice(text, edits, mw_spans)
    return text, corrections, spans


# ---------------------------------------------------------------------------
# T4: currency / number normalization.
# ---------------------------------------------------------------------------

def _scan_matches(rule: D.CurrencyRule, text: str, haystack: str):
    """``rule.pattern.finditer(text)``, tried only ``rule.offset`` after
    where ``rule.scan`` hits ``haystack`` (the text or its fold): every
    match starts there, so no other position can start one."""
    pos = 0
    while (hit := rule.scan.search(haystack, pos)) is not None:
        m = rule.pattern.match(text, max(hit.start() + rule.offset, 0))
        if m is None:
            pos = hit.start() + 1
        else:
            yield m
            # the next match starts at or after this one's end
            pos = max(hit.start() + 1, m.end() - rule.offset)


def normalize_currency(
    text: str, spans: Optional[list[Span]] = None
) -> tuple[str, list[Span]]:
    r"""Ordered currency/number repairs: Rp-format canonicalization, orphan
    amounts, month-context year repair, digit-lookalike translation after
    ``Rp``, year-token lookalike fixes. Spans of kind ``currency`` are added
    per effective edit; incoming spans are offset-remapped.

    A rule runs only when its probe passes, and then only where its scan
    hits (see ``D.CurrencyRule`` and ``_scan_matches``). The fold and the
    probes' inputs change only when a rule fires.
    """
    if not text:
        return text, spans or []
    spans = spans if spans is not None else []
    low = None
    for rule in D.CURRENCY_RULES:
        if low is None:
            low = _probe_fold(text)
            digit = D.HAS_DIGIT.search(text) is not None
        if not rule.probe(text, low, digit):
            continue
        matches = _scan_matches(rule, text, low if rule.on_fold else text)
        edits = _edits(text, matches, rule.repl, "currency")
        if edits:
            text, spans = _splice(text, edits, spans)
            low = None
    return text, spans


# ---------------------------------------------------------------------------
# T5: old-spelling (EYD) normalization.
# ---------------------------------------------------------------------------

def _preserve_case_single(matched: str, replacement: str) -> str:
    if matched.isupper():
        return replacement.upper()
    if matched[0].isupper():
        return replacement.capitalize()
    return replacement


def normalize_token_spelling(token: str, fold: Optional[str] = None) -> str:
    """Modernize one whitespace-delimited token: whole-token foreign-word
    whitelist and j->y map first (both compare the full token, punctuation
    included — a trailing comma defeats them, matching the reference), then
    the 6 digraph rules in order with case-preserving replacement. ``fold``
    is the token's ``_probe_fold``, when the caller has it."""
    lower = token.lower()
    if lower in D.FOREIGN_WORDS:
        return token
    if lower in D.J_TO_Y:
        repl = D.J_TO_Y[lower]
        if token[0].isupper():
            repl = repl.capitalize()
        return repl
    # each rule is a two-letter literal, so its probe is a necessary
    # condition, refreshed after a rule fires (``dj`` -> ``j`` can make an
    # ``nj``). Probing the plain-lowered token is NOT exact (the sre
    # equivalence folds — see _probe_fold; 'ſj' must probe as 'sj')
    probe = _probe_fold(token) if fold is None else fold
    out = token
    for (digraph, repl), (pattern, _) in zip(D.SPELLING_RULES, D.SPELLING_PATTERNS):
        if digraph in probe:
            fixed = pattern.sub(lambda m, _r=repl: _preserve_case_single(m.group(0), _r), out)
            if fixed != out:
                out = fixed
                # the fold of ``out``: the rule replaced each ``digraph`` of
                # the fold with a case variant of the lowercase ``repl``
                probe = probe.replace(digraph, repl)
    return out


def normalize_spelling(
    text: str, spans: Optional[list[Span]] = None
) -> tuple[str, int, list[Span]]:
    """Token-wise spelling modernization: ``normalize_token_spelling`` on
    every whitespace-delimited token, with a ``spelling`` span per changed
    token and incoming spans remapped.

    Only a token whose fold contains ``j``, ``oe`` or ``ch`` can change:
    every ``J_TO_Y`` key contains ``j``, every digraph rule needs ``oe``,
    ``dj``, ``tj``, ``nj``, ``sj`` or ``ch`` in the token's fold, and a
    ``FOREIGN_WORDS`` hit is returned unchanged. One scan of the text's fold
    for ``D.SPELLING_HIT`` finds those tokens, at the same offsets and with
    the same bounds as in the text, and only they run. The changed tokens
    are spliced here as ``_splice`` would splice them, without an edit
    tuple per token: on clean text, where changes are dense, those cost.

    The change count is the number of changed tokens. The reference counts
    the differing pairs of ``text.split()`` zipped positionally against the
    result's split (spelling_normalizer.py:148-151); the two agree because
    no replacement in ``SPELLING_RULES`` or ``J_TO_Y`` is empty or contains
    whitespace, so each token becomes exactly one token.
    """
    if not text:
        return text, 0, spans or []
    fold = _probe_fold(text)
    pmap = PiecewiseMap() if spans else None
    pieces: list[str] = []
    new_spans: list[Span] = []
    pos = 0  # end of the last changed token, in text
    out = 0  # the same position in the result
    for s, e in _hit_tokens(fold, D.SPELLING_HIT):
        token = text[s:e]
        fixed = normalize_token_spelling(token, fold[s:e])
        if fixed == token:
            continue
        if s > pos:
            pieces.append(text[pos:s])
            if pmap is not None:
                pmap.add(pos, s, out, out + (s - pos), False)
            out += s - pos
        pieces.append(fixed)
        new_spans.append((out, out + len(fixed), "spelling"))
        if pmap is not None:
            pmap.add(s, e, out, out + len(fixed), True)
        out += len(fixed)
        pos = e
    if pmap is not None:
        pmap.add(pos, len(text), out, out + (len(text) - pos), False)
        spans = pmap.remap(spans) + new_spans
    else:
        spans = new_spans
    if not pieces:
        return text, 0, spans
    pieces.append(text[pos:])
    return "".join(pieces), len(new_spans), spans


# ---------------------------------------------------------------------------
# A6: quality scoring.
# ---------------------------------------------------------------------------

def quality_score(
    text: str,
    confidences: Optional[list[float]] = None,
    corrections: int = 0,
    extra_kamus: Optional[frozenset] = None,
) -> dict:
    """Composite 0-100 score: 0.40*confidence + 0.30*dictionary-match +
    0.30*(100 - correction rate), int-TRUNCATED (not rounded) then clamped;
    labels Excellent>=85 / Good>=70 / Fair>=50 / else Poor. Empty confidence
    list defaults to 75; 0-1-range means are rescaled to 0-100."""
    return _quality(_words(text), confidences, corrections, _effective_kamus(extra_kamus))


def _words(text: str) -> list[str]:
    """The lowercased >=3-letter runs that A6 scores and T7 tracks."""
    return D.LETTER_RUN.findall(text.lower()) if text else []


def _quality(
    words: list[str], confidences: Optional[list[float]], corrections: int, kamus: frozenset
) -> dict:
    total = len(words)

    if confidences:
        conf = sum(confidences) / len(confidences)
        if conf <= 1.0:
            conf *= 100
        conf = min(100.0, max(0.0, conf))
    else:
        conf = 75.0

    if total > 0:
        matched = sum(map(kamus.__contains__, words))
        dict_match = matched / total * 100
    else:
        matched, dict_match = 0, 100.0

    corr_score = 100.0 if total == 0 else max(0, 100 - corrections / total * 100)

    overall = int(conf * 0.40 + dict_match * 0.30 + corr_score * 0.30)
    overall = min(100, max(0, overall))

    if overall >= 85:
        label = "Excellent"
    elif overall >= 70:
        label = "Good"
    elif overall >= 50:
        label = "Fair"
    else:
        label = "Poor"

    return {
        "overall": overall,
        "label": label,
        "confidence": round(conf, 1),
        "dictionary_match": round(dict_match, 1),
        "correction_rate": round(corr_score, 1),
        "total_words": total,
        "matched_words": matched,
        "corrected_words": corrections,
    }


# ---------------------------------------------------------------------------
# T7: unknown-word extraction.
# ---------------------------------------------------------------------------

def unknown_words(text: str, extra_kamus: Optional[frozenset] = None) -> list[str]:
    """Lowercased >=3-letter runs not in the epoch kamus, deduplicated.
    Returned sorted (the reference returns set order, which is
    hash-seed-dependent; downstream is a groupBy so order is immaterial —
    we pin a stable one)."""
    return _unknown(_words(text), _effective_kamus(extra_kamus))


def _unknown(words: list[str], kamus: frozenset) -> list[str]:
    return sorted(set(words).difference(kamus))


# ---------------------------------------------------------------------------
# The fused per-turn pipeline (the contract of routers/ocr.py:203-260).
# ---------------------------------------------------------------------------

def extract_turn(
    text: Optional[str],
    use_dictionary: bool = True,
    use_spelling: bool = True,
    confidences: Optional[list[float]] = None,
    fuzzy: bool = False,
    extra_kamus: Optional[frozenset] = None,
) -> dict:
    """Run the full per-turn pipeline and return every output column.

    Order is load-bearing: dictionary correction (multi-word -> word-level ->
    currency) runs first, spelling modernization runs on ITS output, scoring
    and unknown-word tracking run on the final text (falling back to the raw
    text when the final text is empty — the reference's exact fallback).
    """
    raw = text or ""
    if use_dictionary and raw:
        corrected, n_corr, spans = correct_with_stats(raw, fuzzy=fuzzy, extra_kamus=extra_kamus)
        corrected, spans = normalize_currency(corrected, spans)
        return _finish(raw, corrected, n_corr, spans, use_spelling, confidences, extra_kamus)
    return _finish(raw, raw, 0, [], use_spelling, confidences, extra_kamus)


def _finish(
    raw: str,
    corrected: str,
    n_corr: int,
    spans: list[Span],
    use_spelling: bool,
    confidences: Optional[list[float]],
    extra_kamus: Optional[frozenset],
) -> dict:
    """T5, A6 and T7 on the dictionary stages' output ``corrected``."""
    if use_spelling and corrected:
        normalized, n_spell, spans = normalize_spelling(corrected, spans)
    else:
        normalized, n_spell = corrected, 0

    final = normalized if normalized else corrected
    # A6 and T7 share one word pass and one kamus
    words = _words(final if final else raw)
    kamus = _effective_kamus(extra_kamus)

    return {
        "extracted_text": corrected,
        "normalized_text": normalized,
        "dictionary_corrections": n_corr,
        "spelling_changes": n_spell,
        "quality": _quality(words, confidences, n_corr, kamus),
        "unknown_words": _unknown(words, kamus),
        "spans": spans,
    }


def _gate(folds: list[str]) -> Optional[list[bool]]:
    """Whether ``D.CORRECTION_GATE`` matches each of ``folds``: one RE2 scan
    of the batch. None when a fold does not encode to UTF-8 (a lone
    surrogate), so no turn can be skipped."""
    try:
        folded = pa.array(folds, pa.string())
    except UnicodeEncodeError:
        return None
    return pc.match_substring_regex(folded, D.CORRECTION_GATE).to_pylist()


def extract_batch(
    texts: list[Optional[str]],
    confidences: Optional[list[Optional[list[float]]]] = None,
    use_dictionary: bool = True,
    use_spelling: bool = True,
    fuzzy: bool = False,
    extra_kamus: Optional[frozenset] = None,
) -> list[dict]:
    """``[extract_turn(t, ..., c, ...) for t, c in zip(texts, confidences)]``.

    One scan of the batch's folds for ``D.CORRECTION_GATE`` finds the turns
    that T1, T3 or T4 may change. The rest skip the three stages: for them
    the stages return the text as it is, with no correction and no span.
    Fuzzy matching can change any unknown word, so then every turn runs
    every stage.
    """
    global _fold_memo
    raws = [t or "" for t in texts]
    confs = [None] * len(raws) if confidences is None else confidences
    gate = None
    if use_dictionary and not fuzzy:
        folds = [_probe_fold(r) for r in raws]
        gate = _gate(folds)
    if gate is None:
        return [
            extract_turn(r, use_dictionary, use_spelling, c, fuzzy, extra_kamus)
            for r, c in zip(raws, confs)
        ]
    out = []
    for raw, fold, hit, conf in zip(raws, folds, gate, confs):
        _fold_memo = (raw, fold)  # the stages take this fold, not a new one
        if hit:
            out.append(extract_turn(raw, use_dictionary, use_spelling, conf, fuzzy, extra_kamus))
        else:
            out.append(_finish(raw, raw, 0, [], use_spelling, conf, extra_kamus))
    return out
