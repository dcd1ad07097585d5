"""Micro-bench: literal-centroid vs arrow assignment engines across k.

Evidence for the round-4 verdict's design-margin item: the literal engine
builds O(k·dim) plan literals, so its cost grows with k even when the
DATA is fixed — Catalyst analysis/optimization walks every Literal node
and codegen emits a score expression per centroid. The arrow engine
(ocr_spark.operators.similarity._arrow_assign) carries the centroid
matrix as task data: plan size O(1) in k, per-row cost a numpy matmul.
Each engine is forced by moving the k·dim boundary
(``similarity._AUTO_ARROW_LITERALS``: 0 for arrow, unreachable for
literal), restored after each point.

Fixed corpus (20k vectors, dim 64), sweep k ∈ {16, 64, 256, 1024}; each
point is wall time of ivf_assign(...).groupBy(cell).count() end-to-end
(plan build + analyze + optimize + codegen + execute) in a warm session,
median of --reps. Writes BENCH/assign_engines.json.

  python tools/bench_assign_engines.py [--reps 3] [--rows 20000]
"""
from __future__ import annotations

import argparse
import json
import pathlib
import statistics
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

DIM = 64


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--rows", type=int, default=20_000)
    ap.add_argument("--ks", default="16,64,256,1024")
    args = ap.parse_args()

    import numpy as np

    from ocr_spark.operators import similarity
    from ocr_spark.operators.similarity import ivf_assign
    from ocr_spark.session import get_spark

    spark = get_spark("bench-assign-engines", master="local[8]",
                      shuffle_partitions=8)
    rng = np.random.default_rng(42)
    vecs = rng.standard_normal((args.rows, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(args.rows)],
        "vec_id: long, embedding: array<double>",
    ).localCheckpoint(eager=True)  # fixed data, no re-derive per rep

    ks = [int(k) for k in args.ks.split(",")]
    out = {"rows": args.rows, "dim": DIM, "reps": args.reps, "points": []}
    for k in ks:
        cents = [[float(x) for x in row] for row in vecs[:k]]
        point = {"k": k}
        for engine, boundary in (("literal", 1 << 62), ("arrow", 0)):
            times = []
            saved = similarity._AUTO_ARROW_LITERALS
            similarity._AUTO_ARROW_LITERALS = boundary
            try:
                for _ in range(args.reps + 1):  # rep 0 = warmup, discarded
                    t0 = time.monotonic()
                    n = ivf_assign(df, cents).groupBy("cell").count().count()
                    times.append(time.monotonic() - t0)
                    assert n >= 1
            finally:
                similarity._AUTO_ARROW_LITERALS = saved
            point[engine + "_sec"] = round(statistics.median(times[1:]), 2)
            print(f"k={k} {engine}: {point[engine + '_sec']} s "
                  f"(reps {[round(t, 2) for t in times]})", flush=True)
        point["literal_over_arrow"] = round(
            point["literal_sec"] / point["arrow_sec"], 2
        )
        out["points"].append(point)
    spark.stop()

    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    path = bench_dir / "assign_engines.json"
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(out, indent=1))
    tmp.rename(path)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
