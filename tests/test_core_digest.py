"""Byte-identity gate for the extraction core: one SHA-256 over the
``extract_turn`` outputs of a fixed input set, pinned in
``tests/fixtures/core_digest.json``.

The inputs are the first 2,000 rows of seeds 1-3 of the learning workload's
transcript synthesis (``data/synth.py``, ``make_rows(600, 10,
skew_convs=2, skew_turns=1200)``), OCR-noisy and partly non-ASCII, plus
1,000 clean ``tools/synth_sf1.py`` documents. Each runs with no learned
kamus and with ``KAMUS_5``. Every output column and span is hashed, so any
change to what the core emits moves the digest; a change that means to
move it must say so and re-pin it (``python tests/test_core_digest.py``
prints the digest of the working tree).
"""
from __future__ import annotations

import hashlib
import json
import pathlib
import random
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
FIXTURE = ROOT / "tests" / "fixtures" / "core_digest.json"

#: a fixed learned kamus: words that occur in both input families
KAMUS_5 = frozenset({"arsip", "dokumen", "hasil", "spark", "the"})


def core_inputs() -> list[str]:
    for sub in ("data", "tools"):
        if str(ROOT / sub) not in sys.path:
            sys.path.insert(0, str(ROOT / sub))
    import synth
    import synth_sf1

    texts = []
    for seed in (1, 2, 3):
        rows = synth.make_rows(600, 10, seed=seed, skew_convs=2, skew_turns=1200)
        texts += [r["text"] for r in rows[:2000]]
    n_docs = synth_sf1.N_DOCS
    try:
        synth_sf1.N_DOCS = 1000  # make_documents sizes its table from it
        texts += list(synth_sf1.make_documents(random.Random(1))["text"])
    finally:
        synth_sf1.N_DOCS = n_docs
    return texts


def core_digest(texts: list[str]) -> str:
    from ocr_spark.functions.textops import extract_turn

    h = hashlib.sha256()
    for kamus in (None, KAMUS_5):
        for text in texts:
            out = extract_turn(text, extra_kamus=kamus)
            h.update(json.dumps(out, sort_keys=True, ensure_ascii=False).encode("utf-8"))
            h.update(b"\n")
    return h.hexdigest()


def test_core_outputs_match_pinned_digest():
    pinned = json.loads(FIXTURE.read_text())
    texts = core_inputs()
    assert len(texts) == pinned["texts"]
    assert core_digest(texts) == pinned["sha256"]


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    inputs = core_inputs()
    print(json.dumps({"texts": len(inputs), "sha256": core_digest(inputs)}))
