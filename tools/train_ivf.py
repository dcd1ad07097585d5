"""Train the shipped IVF coarse quantizer.

Runs :func:`ocr_spark.operators.similarity.train_ivf_centroids` (spherical
k-means on a deterministic id-ordered sample) over the driver-generated
synthetic embeddings tier and writes
``ocr_spark/data/ivf_centroids.json``. The shipped centroids are the
"pretrained quantizer" of the standard IVF recipe: trained offline on a
sample, applied to the full corpus at query time, and embedded as literals
in both the Spark plans and the DuckDB oracles (same pattern as the BPE
merges table — derived data, not external data). Deterministic: same tier
+ same params => byte-identical JSON.

Hyperparameters default to :func:`derive_ivf_params` over the training
tier's row count (n_cells ≈ √N, sample_n = 64·n_cells) — pass --cells /
--sample only to override the derivation.

  python tools/train_ivf.py [--sf /root/testdata/sf0.001] [--cells N]
"""
from __future__ import annotations

import argparse
import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--cells", type=int, default=None,
                    help="override derive_ivf_params n_cells")
    ap.add_argument("--sample", type=int, default=None,
                    help="override derive_ivf_params sample_n")
    ap.add_argument("--iters", type=int, default=8)
    ap.add_argument(
        "--out",
        default=str(
            pathlib.Path(__file__).resolve().parent.parent
            / "ocr_spark" / "data" / "ivf_centroids.json"
        ),
    )
    args = ap.parse_args()

    from ocr_spark.operators.similarity import (
        derive_ivf_params,
        train_ivf_centroids,
    )
    from ocr_spark.session import get_spark, read_parquet

    spark = get_spark(app_name="train_ivf")
    emb = read_parquet(spark, f"{args.sf}/embeddings.parquet")
    n_rows = emb.count()
    derived = derive_ivf_params(n_rows)
    n_cells = args.cells if args.cells is not None else derived["n_cells"]
    sample_n = args.sample if args.sample is not None else derived["sample_n"]
    centroids = train_ivf_centroids(
        emb, n_cells, sample_n=sample_n, iters=args.iters
    )
    spark.stop()

    payload = {
        "n_cells": n_cells,
        "dim": len(centroids[0]),
        "trained_on": args.sf,
        "n_rows": n_rows,
        "sample_n": sample_n,
        "iters": args.iters,
        "centroids": centroids,
    }
    pathlib.Path(args.out).write_text(json.dumps(payload, indent=1))
    print(f"wrote {args.out}: {n_cells} cells x dim {len(centroids[0])}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
