"""The routine sf1-tier sweep: every registry query flagged ``sf1`` in
``__spark_entry__.py`` (they read only documents/embeddings) — dedup,
curation, text-stats, winnow, AND the similarity family — oracle-checked
at ``data/sf1`` (50k docs / 20k×64 vecs, the 10× tier where the
hot-key caps actually fire), with the cap-drop counters recorded so the
recall loss is observable per run.

Round 3 ran the similarity family at sf1 once, off-harness; this script
makes the whole sweep one reproducible command whose result artifact
(``BENCH/sf1.json``) rounds can diff.

  python tools/sf1_tier.py [--sf data/sf1] [--skip-heavy]
"""
from __future__ import annotations

import argparse
import json
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

#: ~3 min at sf1; --skip-heavy drops it
HEAVY = "embedding_near_dup"


def cap_counters(sf_dir: str) -> dict:
    """The tier's hot-key drop counts, in a session of their own."""
    import __spark_entry__ as entrymod
    from ocr_spark.session import get_spark

    spark = get_spark("sf1-cap-counters")
    spark.sparkContext.setLogLevel("ERROR")
    out = entrymod.cap_counters(spark, sf_dir)
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=str(REPO / "data" / "sf1"))
    ap.add_argument("--skip-heavy", action="store_true")
    ap.add_argument("--out", default=str(REPO / "BENCH" / "sf1.json"))
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from check_oracles import run

    names = [
        n for n, q in entrymod.REGISTRY.items()
        if q.sf1 and not (args.skip_heavy and n == HEAVY)
    ]
    t0 = time.monotonic()
    results = run(args.sf, names, extended=True, engine_time=True)
    wall = round(time.monotonic() - t0, 1)
    failed = [n for n, r in results.items() if r["failure"] is not None]
    rc = 1 if failed else 0

    caps = cap_counters(args.sf)
    payload = {
        "sf_dir": args.sf,
        "rc": rc,
        "wall_seconds": wall,
        "queries": {n: r for n, r in results.items() if n not in failed},
        "missing_or_failed": failed,
        "cap_counters": caps,
    }
    pathlib.Path(args.out).write_text(json.dumps(payload, indent=1))
    print(f"\nwrote {args.out}: rc={rc}, "
          f"{len(results) - len(failed)}/{len(names)} recorded, caps={caps}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
