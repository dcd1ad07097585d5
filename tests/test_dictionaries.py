"""Provenance checks on the extracted dictionary data (SURVEY.md §7.1), and
the ``trie_pattern`` builder the rule-table gates use."""
import random
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.functions import dictionaries as D


def test_counts():
    assert len(D.KAMUS) == 585
    assert len(D.PHRASE_MAP) == 324
    assert len(D.MULTI_WORD_MAP) == 277
    assert len(D.FOREIGN_WORDS) == 27
    assert len(D.SPELLING_RULES) == 6
    assert len(D.J_TO_Y) == 5


def test_multiword_rule_order():
    # longest-first, stable for ties — application order is part of the contract
    lengths = [len(r.key) for r in D.MULTI_WORD_RULES]
    assert lengths == sorted(lengths, reverse=True)
    # garbage-deletion keys map to empty string
    assert sum(1 for r in D.MULTI_WORD_RULES if r.replacement == "") == 9


def test_probe_soundness():
    # every probe is a literal space-free chunk of its key
    for r in D.MULTI_WORD_RULES:
        assert r.probe in r.key.lower()
        assert " " not in r.probe


def test_spelling_rules():
    assert D.SPELLING_RULES == [
        ("oe", "u"), ("dj", "j"), ("tj", "c"),
        ("nj", "ny"), ("sj", "sy"), ("ch", "kh"),
    ]
    assert D.J_TO_Y["jang"] == "yang"
    assert D.J_TO_Y["jangan"] == "jangan"  # identity entry, stays j


# ---------------------------------------------------------------------------
# trie_pattern: a regex for exactly a set of literals.
# ---------------------------------------------------------------------------

#: regex metacharacters included, so escaping is exercised
_ALPHABET = "ab.-\\|(?"


def _check_trie(words):
    words = set(words)
    pattern = re.compile(D.trie_pattern(words))
    for w in words:
        assert pattern.fullmatch(w), w
        for i in range(len(w)):
            if w[:i] not in words:
                assert not pattern.fullmatch(w[:i]), (w, i)
        for ch in _ALPHABET:
            if w + ch not in words:
                assert not pattern.fullmatch(w + ch), (w, ch)
    shuffled = sorted(words)
    random.Random(len(words)).shuffle(shuffled)
    assert D.trie_pattern(shuffled) == D.trie_pattern(sorted(words, reverse=True))


@settings(derandomize=True, database=None, max_examples=150, deadline=None)
@given(st.sets(st.text(_ALPHABET, max_size=5), max_size=8))
def test_trie_pattern_matches_exactly_its_words(words):
    _check_trie(words)


def test_trie_pattern_on_the_rule_tables():
    _check_trie(D.PHRASE_MAP)
    _check_trie({r.probe for r in D.MULTI_WORD_RULES})
    assert not re.search(D.trie_pattern([]), "abc")
    # an empty word matches everywhere: a gate built from it passes every text
    assert re.search(D.trie_pattern(["", "xyz"]), "abc")
