"""Train the shipped quality-classifier weights: logistic regression over
hashed-TF features, distilling the repo's heuristic quality score into a
model — the standard model-based quality-filter construction (CCNet trains
a linear fastText classifier the same way: cheap features, labels from a
trusted signal; Wenzek et al., LREC 2020).

Deterministic end to end: zero init, full-batch gradient descent, fixed
iteration count, float64 — re-running this script reproduces
``ocr_spark/data/quality_weights.json`` byte-for-byte (the BPE/IVF shipped-
artifact precedent: oracle SQL must be SF-independent, so weights are
pretrained literals, never derived per-run inside a query).

Labels: quality_score >= corpus median, computed with the SAME arithmetic
as operators/textstats.with_quality (alpha/stop/length signals, floor to
int). Features: the repo's md5-bucket hashed-TF (functions/hashing.md5_mod
semantics), L2-normalized — exactly what operators/curation.classify_quality
rebuilds in Spark at inference, so train/serve skew is zero by construction.

  python tools/train_quality.py [--sf /root/testdata/sf0.1] [--dim 64]
"""
from __future__ import annotations

import argparse
import hashlib
import json
import math
import pathlib
import re
import sys

import numpy as np

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from ocr_spark.operators import textstats  # noqa: E402

WORD_RE = re.compile(textstats.WORD_RE)


def _stopwords() -> tuple[str, ...]:
    from ocr_spark.operators.textstats import EN_STOPWORDS, ID_STOPWORDS

    return EN_STOPWORDS + ID_STOPWORDS


def heuristic_score(text: str | None, stops: frozenset[str]) -> int:
    """Mirror of with_quality's composite (textstats.py): 100 * (0.4*stop
    + 0.3*alpha + 0.3*len_signal), floored."""
    if text is None:
        text = ""
    nc = len(text)
    na = sum(c.isascii() and c.isalpha() for c in text)
    toks = WORD_RE.findall(text.lower())
    nt = len(toks)
    ns = sum(t in stops for t in toks)
    alpha = na / nc if nc else 0.0
    stop = ns / nt if nt else 0.0
    len_sig = min(nc / 200.0, 1.0)
    return math.floor(100 * (0.4 * stop + 0.3 * alpha + 0.3 * len_sig))


def hashed_tf(text: str | None, dim: int) -> np.ndarray:
    """functions/hashing.md5_mod bucket counts, L2-normalized (the
    classify_quality inference features)."""
    v = np.zeros(dim)
    if text:
        for t in WORD_RE.findall(text.lower()):
            b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % dim
            v[b] += 1.0
    n = math.sqrt(float(v @ v))
    return v / n if n else v


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--iters", type=int, default=400)
    ap.add_argument("--lr", type=float, default=2.0)
    ap.add_argument(
        "--out", default=str(REPO / "ocr_spark" / "data" / "quality_weights.json")
    )
    args = ap.parse_args()

    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{args.sf}/documents.parquet') "
        "ORDER BY doc_id"
    ).fetchall()
    stops = frozenset(_stopwords())
    scores = np.array([heuristic_score(t, stops) for _, t in rows])
    median = float(np.median(scores))
    y = (scores >= median).astype(np.float64)
    X = np.stack([hashed_tf(t, args.dim) for _, t in rows])

    w = np.zeros(args.dim)
    b = 0.0
    n = len(y)
    for _ in range(args.iters):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= args.lr * (X.T @ g) / n
        b -= args.lr * float(g.sum()) / n
    acc = float(((X @ w + b >= 0) == (y == 1.0)).mean())

    payload = {
        "dim": args.dim,
        "bias": b,
        "weights": [float(x) for x in w],
        "trained_on": f"{args.sf}/documents.parquet ({n} docs)",
        "label_rule": f"with_quality heuristic score >= corpus median ({median:g})",
        "iterations": args.iters,
        "lr": args.lr,
        "train_accuracy": round(acc, 4),
    }
    pathlib.Path(args.out).write_text(json.dumps(payload, indent=1))
    print(f"wrote {args.out}: n={n}, median={median:g}, train_acc={acc:.4f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
