"""Dump formatted physical plans of the headline queries to BENCH/plans.md.

The queries are the registry entries flagged ``plan`` in
``__spark_entry__.py``.

Evidence artifact for plan-shape review: PushedFilters / ReadSchema on
scans, broadcast joins, TakeOrderedAndProject top-k, ArrowEvalPython (not
BatchEvalPython) for the UDF stages, and the absence of shuffles in narrow
operators. tests/test_plans.py asserts these properties; this file lets a
reviewer read them.

  python tools/dump_plans.py [--sf /root/testdata/sf0.001]
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from ocr_spark.session import get_spark

    spark = get_spark("plan-dump", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    parts = [
        "# Physical plans of the headline queries\n",
        "Generated by `python tools/dump_plans.py` — the plan shapes",
        "tests/test_plans.py asserts (pushdown, pruning, broadcast, no",
        "spurious shuffles, Arrow-vectorized Python exchange).\n",
    ]
    for name, q in entrymod.REGISTRY.items():
        if not q.plan:
            continue
        df = q.build(spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        parts.append(f"\n## {name}\n\n```\n{plan.strip()}\n```\n")
    spark.stop()
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "plans.md")
    with open(out, "w") as f:
        f.write("\n".join(parts))
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
