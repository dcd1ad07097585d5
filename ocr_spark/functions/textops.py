"""Pure-Python per-turn text operators (the extraction core).

Spark-independent single-row semantics for the reference's text pipeline
(alfalaq12/OCR ``routers/ocr.py:203-232``): multi-word phrase correction ->
token-level dictionary correction -> currency/number normalization ->
old-spelling (EYD) normalization -> quality scoring -> unknown-word
extraction. These functions are the vectorization unit: ``ocr_spark.
functions.udfs`` maps them over Arrow record batches inside a pandas UDF.

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
from bisect import bisect_right
from typing import Optional

from ocr_spark.functions import dictionaries as D

Span = tuple[int, int, str]  # (start, end, kind) — [start, end) char offsets


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
        out = []
        for s, e, kind in spans:
            ns, ne = self.map(s), self.map(e)
            if ns < ne:
                out.append((ns, ne, kind))
        return out


def _sub_tracked(
    pattern: re.Pattern,
    repl,
    text: str,
    spans: list[Span],
    kind: Optional[str] = None,
) -> tuple[str, list[Span], bool]:
    """``pattern.sub(repl, text)`` that also remaps ``spans`` into the result
    and (when ``kind`` is given) records a new span per effective edit.

    ``repl`` is a template string (``Match.expand``) or a callable.
    Returns (new_text, new_spans, changed). Zero-match inputs return the
    originals untouched (one C-speed scan, same cost as ``re.sub``).
    """
    matches = list(pattern.finditer(text))
    if not matches:
        return text, spans, False

    pieces: list[str] = []
    pmap = PiecewiseMap()
    new_spans: list[Span] = []
    pos = 0
    out = 0
    changed = False
    for m in matches:
        s, e = m.span()
        if s > pos:
            pieces.append(text[pos:s])
            pmap.add(pos, s, out, out + (s - pos), False)
            out += s - pos
        rep = repl(m) if callable(repl) else m.expand(repl)
        original = text[s:e]
        pieces.append(rep)
        if rep != original:
            changed = True
            pmap.add(s, e, out, out + len(rep), True)
            if kind is not None and rep:  # deletions have no output extent
                new_spans.append((out, out + len(rep), kind))
        else:
            pmap.add(s, e, out, out + len(rep), False)
        out += len(rep)
        pos = e
    if pos < len(text):
        pieces.append(text[pos:])
        pmap.add(pos, len(text), out, out + (len(text) - pos), False)

    if not changed:
        return text, spans, False
    return "".join(pieces), pmap.remap(spans) + new_spans, True


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


#: re.IGNORECASE folds by CPython sre's equivalence table, which pairs
#: these non-ASCII letters with ASCII ones that str.lower() does NOT
#: produce (LONG S U+017F ↔ s, DOTLESS I U+0131 ↔ i). The Kelvin sign
#: U+212A already lowercases to k; DOTTED CAPITAL I U+0130 lowercases to
#: i + COMBINING DOT ABOVE U+0307, collapsed to i below.
_SRE_EXTRA_FOLDS = str.maketrans({"ſ": "s", "ı": "i"})


def _probe_fold(s: str) -> str:
    """Lowercase plus the sre equivalence folds: a haystack in which every
    ASCII literal an IGNORECASE rule matches in ``s`` occurs as a substring.
    A necessary condition only — the folds may also join substrings the
    rule would not match (a real i + U+0307 collapses to i too). ASCII
    text, the hot path, returns after one lower() and an O(1) check."""
    low = s.lower()
    if low.isascii():
        return low
    if "ſ" in low or "ı" in low:
        low = low.translate(_SRE_EXTRA_FOLDS)
    if "\u0307" in low:
        low = low.replace("i\u0307", "i")
    return low


def apply_multiword(text: str, spans: Optional[list[Span]] = None) -> tuple[str, list[Span]]:
    """Apply the 277 multi-word rules longest-key-first, sequentially on the
    mutated string (chained corrections compound), case-insensitively with
    case-style-preserving replacement. 9 keys delete garbage (map to "")."""
    spans = spans if spans is not None else []
    # one scan for every rule's probe: if none occurs, no rule can match
    lower = _probe_fold(text)
    if D.MULTI_WORD_PROBE.search(lower) is None:
        return text, spans
    result = text
    for rule in D.MULTI_WORD_RULES:
        if lower is None:
            lower = _probe_fold(result)
        # cheap necessary-condition probe before the regex scan
        if rule.probe and rule.probe not in lower:
            continue
        result, spans, fired = _sub_tracked(
            rule.pattern,
            lambda m, _r=rule.replacement: _preserve_case_phrase(m.group(0), _r),
            result,
            spans,
            kind="phrase",
        )
        if fired:
            lower = None
    return result, spans


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

def correct_with_stats(
    text: str, fuzzy: bool = False, extra_kamus: Optional[frozenset] = None
) -> tuple[str, int, list[Span]]:
    """Full dictionary-correction pass over one turn's text.

    Lossless token/whitespace split; per word token: split glued
    digits+word / word+digits (>=3-letter word part), else peel punctuation
    around the word core, else fall back to a symbol-preserving sub-split.
    Every changed word increments the correction count and yields a
    ``word`` span in output coordinates. Multi-word rules run first.
    """
    if not text:
        return text, 0, []

    text, mw_spans = apply_multiword(text)

    # fast identity path: when neither correction probe (see
    # D.PHRASE_KEY_PROBE) fires, the token loop below provably reproduces
    # the input verbatim with zero corrections (the tokenizer is lossless
    # and every mutation site needs a digit-glued run or a phrase-map key
    # word). Fuzzy mode can touch any unknown word, so it never takes the
    # shortcut.
    if (
        not fuzzy
        and (D.HAS_DIGIT.search(text) is None or D.DIGIT_GLUE_PROBE.search(text) is None)
        and D.PHRASE_KEY_PROBE.search(text.lower()) is None
    ):
        return text, 0, mw_spans

    pieces: list[str] = []
    spans: list[Span] = []
    # the offset map exists only to carry multiword spans across the token
    # rebuild; with none to carry (the common case) its bookkeeping is waste
    track = bool(mw_spans)
    pmap = PiecewiseMap() if track else None
    corrections = 0
    old = 0
    out = 0

    if track:
        def emit(old_len: int, piece: str, changed: bool) -> None:
            nonlocal old, out
            pieces.append(piece)
            pmap.add(old, old + old_len, out, out + len(piece), changed)
            old += old_len
            out += len(piece)
    else:
        def emit(old_len: int, piece: str, changed: bool) -> None:
            nonlocal out
            pieces.append(piece)
            out += len(piece)

    for token in D.TOKEN_SPLIT.findall(text):
        if not token.strip():
            emit(len(token), token, False)
            continue
        m = D.NUM_THEN_WORD.match(token)
        if m:
            num, word = m.groups()
            fixed = correct_word(word, fuzzy, extra_kamus)
            if fixed != word:
                corrections += 1
                spans.append((out + len(num) + 1, out + len(num) + 1 + len(fixed), "word"))
            emit(len(token), num + " " + fixed, True)
            continue
        m = D.WORD_THEN_NUM.match(token)
        if m:
            word, num = m.groups()
            fixed = correct_word(word, fuzzy, extra_kamus)
            if fixed != word:
                corrections += 1
                spans.append((out, out + len(fixed), "word"))
            emit(len(token), fixed + " " + num, True)
            continue
        m = D.PUNCT_PEEL.match(token)
        if m:
            prefix, word, suffix = m.groups()
            fixed = correct_word(word, fuzzy, extra_kamus)
            if fixed != word:
                corrections += 1
                spans.append((out + len(prefix), out + len(prefix) + len(fixed), "word"))
            emit(len(token), prefix + fixed + suffix, fixed != word)
            continue
        # mid-token symbols (e.g. "Dopartoron/wta"): split, correct the word
        # sub-tokens, keep delimiters verbatim
        rebuilt: list[str] = []
        sub_out = out
        token_changed = False
        for sub in D.SYMBOL_SPLIT.split(token):
            if not sub:
                continue
            if D.WORD_CORE.match(sub):
                fixed = correct_word(sub, fuzzy, extra_kamus)
                if fixed != sub:
                    corrections += 1
                    token_changed = True
                    spans.append((sub_out, sub_out + len(fixed), "word"))
                rebuilt.append(fixed)
                sub_out += len(fixed)
            else:
                rebuilt.append(sub)
                sub_out += len(sub)
        emit(len(token), "".join(rebuilt), token_changed)

    if track:
        return "".join(pieces), corrections, pmap.remap(mw_spans) + spans
    return "".join(pieces), corrections, spans


# ---------------------------------------------------------------------------
# T4: currency / number normalization.
# ---------------------------------------------------------------------------

def normalize_currency(
    text: str, spans: Optional[list[Span]] = None
) -> tuple[str, list[Span]]:
    """Ordered currency/number repairs: Rp-format canonicalization, orphan
    amounts, month-context year repair, digit-lookalike translation after
    ``Rp``, year-token lookalike fixes. Spans of kind ``currency`` are added
    per effective edit; incoming spans are offset-remapped."""
    if not text:
        return text, spans or []
    spans = spans if spans is not None else []
    # each rule's regex scan runs only when its probe passes (see
    # D.CurrencyRule); the probe haystacks change only when a rule fires
    low = None
    for rule in D.CURRENCY_RULES:
        if low is None:
            low = _probe_fold(text)
            digit = D.HAS_DIGIT.search(text) is not None
        if not rule.probe(text, low, digit):
            continue
        text, spans, fired = _sub_tracked(rule.pattern, rule.repl, text, spans, kind="currency")
        if fired:
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


def normalize_token_spelling(token: str) -> str:
    """Modernize one whitespace-delimited token: whole-token foreign-word
    whitelist and j->y map first (both compare the full token, punctuation
    included — a trailing comma defeats them, matching the reference), then
    the 6 digraph rules in order with case-preserving replacement."""
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
    probe = _probe_fold(token)
    out = token
    for (digraph, repl), (pattern, _) in zip(D.SPELLING_RULES, D.SPELLING_PATTERNS):
        if digraph in probe:
            fixed = pattern.sub(lambda m, _r=repl: _preserve_case_single(m.group(0), _r), out)
            if fixed != out:
                out = fixed
                probe = _probe_fold(out)
    return out


#: whitespace other than the space character; the rest of a token
_SPACE_NOT_BLANK = re.compile(r"[^\S ]")
_TOKEN_REST = re.compile(r"\S*")


def _spelling_candidates(low: str):
    """(start, end) of each token of the lowercased ASCII text ``low`` that
    holds a ``D.SPELLING_HIT``: one C-speed scan for the hits, and a token
    boundary search around each."""
    pos = 0
    while (m := D.SPELLING_HIT.search(low, pos)) is not None:
        hit = m.start()
        start = max(low.rfind(" ", pos, hit) + 1, pos)
        while (ws := _SPACE_NOT_BLANK.search(low, start, hit)) is not None:
            start = ws.end()
        pos = _TOKEN_REST.match(low, hit).end()
        yield start, pos


def normalize_spelling(
    text: str, spans: Optional[list[Span]] = None
) -> tuple[str, int, list[Span]]:
    """Token-wise spelling modernization: ``normalize_token_spelling`` on
    every whitespace-delimited token, with a ``spelling`` span per changed
    token and incoming spans remapped.

    Only a token whose lowercase form contains ``j``, ``oe`` or ``ch`` can
    change: every ``J_TO_Y`` key contains ``j``, every digraph rule needs
    ``oe``, ``dj``, ``tj``, ``nj``, ``sj`` or ``ch``, and a
    ``FOREIGN_WORDS`` hit is returned unchanged. For ASCII text one scan of
    ``text.lower()`` finds those tokens (``_spelling_candidates``), and only
    they run. Other text runs every token: its lowercase form need not line
    up with it (``İ`` lowercases to two characters). Unchanged text between
    changed tokens is one offset-map segment, which maps every offset as
    the per-token segments it stands for would.

    The change count is the number of changed tokens. The reference counts
    the differing pairs of ``text.split()`` zipped positionally against the
    result's split (spelling_normalizer.py:148-151); the two agree because
    no replacement in ``SPELLING_RULES`` or ``J_TO_Y`` is empty or contains
    whitespace, so each token becomes exactly one token.
    """
    if not text:
        return text, 0, spans or []
    if text.isascii():
        tokens = _spelling_candidates(text.lower())
    else:
        tokens = (m.span() for m in D.TOKEN.finditer(text))
    pmap = PiecewiseMap() if spans else None
    pieces: list[str] = []
    new_spans: list[Span] = []
    pos = 0  # end of the last changed token, in text
    out = 0  # the same position in the result
    for s, e in tokens:
        token = text[s:e]
        fixed = normalize_token_spelling(token)
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
    if pos < len(text):
        pieces.append(text[pos:])
        if pmap is not None:
            pmap.add(pos, len(text), out, out + (len(text) - pos), False)
    normalized = "".join(pieces)
    if pmap is not None:
        return normalized, len(new_spans), pmap.remap(spans) + new_spans
    return normalized, len(new_spans), new_spans


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
    corrected = raw
    n_corr = 0
    spans: list[Span] = []

    if use_dictionary and raw:
        corrected, n_corr, spans = correct_with_stats(raw, fuzzy=fuzzy, extra_kamus=extra_kamus)
        corrected, spans = normalize_currency(corrected, spans)

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
