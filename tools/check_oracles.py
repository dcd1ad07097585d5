"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark against ``$SF_DIR`` (default
sf0.01) and, when an ``oracle_sql()`` entry exists, the oracle on DuckDB
with the same tables registered as views. Compares row count, column names,
and an order-insensitive value hash (rows sorted by their string repr,
columns sorted by name). Exit code 1 on any mismatch. ``run`` returns the
per-query results to in-process callers such as ``tools/sf1_tier.py``.

  python tools/check_oracles.py [--sf /root/testdata/sf0.01] [--only name,...]
"""
from __future__ import annotations

import argparse
import gc
import hashlib
import os
import sys
import tempfile
import time

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _describe(e: Exception) -> str:
    """The exception type and its message on one line: a Python-worker
    error's message starts with a newline, so its first line is empty."""
    msg = str(e).strip()
    return f"{type(e).__name__}: {msg}" if msg else type(e).__name__


def run(
    sf: str,
    names: list[str] | None = None,
    extended: bool = False,
    engine_time: bool = False,
) -> dict[str, dict]:
    """Check the gate queries (plus the extras when ``extended``) named in
    ``names`` (all when None) at ``sf``, printing one line per query.

    Returns ``{name: {"rows", "hash", "sec", "engine_sec", "oracle_sec",
    "oracle", "failure"}}``: ``hash`` is None for a rows-only query,
    ``sec`` times the comparison collect(), ``engine_sec`` a count() of the
    same plan (None unless ``engine_time``), ``oracle_sec`` the DuckDB
    oracle's execute and fetch (None for a rows-only query or when it
    raised), and ``failure`` is None on a pass.
    """
    import duckdb

    import __spark_entry__ as entrymod
    from ocr_spark.session import get_spark, visible_memory_bytes

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # DuckDB shares the process with the Spark driver, whose heap takes a
    # third of the visible memory; a third more for DuckDB's buffer pool
    # lets both fit. A pool sized past the machine lets one large oracle
    # grow the process until the kernel OOM-kills it, and a swollen pool
    # stalls the next Spark query's executors in page faults. Larger
    # intermediates spill to a temporary directory, not to DuckDB's
    # default ``.tmp`` under the working directory.
    mem = visible_memory_bytes()
    limit = f"{mem // 3 >> 20}MiB" if mem else "24GB"
    spill = tempfile.TemporaryDirectory(prefix="oracle-spill-")
    con.execute(f"SET memory_limit='{limit}'")
    con.execute(f"SET temp_directory='{spill.name}'")
    for t in TABLES:
        # partial tiers (data/sf1 ships documents+embeddings only) register
        # what exists; queries over missing tables fail loudly at run time
        if os.path.exists(f"{sf}/{t}.parquet"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
            )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if extended:
        qs = {**qs, **entrymod.extra_queries()}
        oracles = {**oracles, **entrymod.extra_oracle_sql()}
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if names is not None and name not in names:
            continue
        res = results[name] = {
            "rows": None, "hash": None, "sec": None, "engine_sec": None,
            "oracle_sec": None, "oracle": name in oracles, "failure": None,
        }
        t0 = time.monotonic()
        try:
            if engine_time:
                # separate ENGINE cost from the harness's row
                # serialization: a count() drives the identical plan but
                # collects nothing, so array-heavy outputs (winnow sets,
                # signatures — multi-M elements) don't book their driver
                # pickle time as engine time. The comparison collect below
                # then re-executes; the sweep pays ~2x for the split.
                te = time.monotonic()
                fn(spark, sf).count()
                res["engine_sec"] = time.monotonic() - te
                t0 = time.monotonic()
            sdf = fn(spark, sf)
            cols = sdf.columns
            rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            res["failure"] = f"spark error: {_describe(e)}"
            print(f"FAIL {name}: {res['failure']}")
            continue
        res["sec"] = time.monotonic() - t0
        res["rows"] = len(rows)
        suffix = (
            f", engine {res['engine_sec']:.1f}s"
            if res["engine_sec"] is not None else ""
        )
        # between-query hygiene (same fix bench.py carries): operators
        # that build eager localCheckpoints (surrogate-id dictionaries,
        # cluster resolution) leave blocks persisted until a driver GC
        # that may never come — across a 35-query sweep the leaked blocks
        # shrink executor memory and progressively degrade later queries
        gc.collect()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(rows)} rows "
                  f"({res['sec']:.1f}s{suffix})")
            if not rows and name != "jaccard_near_dup":
                print(f"     WARNING {name} returned 0 rows")
            continue
        try:
            to = time.monotonic()
            out = con.execute(oracles[name])
            ocols = [d[0] for d in out.description]
            orows = out.fetchall()
        except Exception as e:
            res["failure"] = f"duckdb error: {_describe(e)}"
            print(f"FAIL {name}: {res['failure']}")
            continue
        res["oracle_sec"] = time.monotonic() - to
        suffix += f", oracle {res['oracle_sec']:.1f}s"
        sh, oh = value_hash(cols, rows), value_hash(ocols, orows)
        res["hash"] = sh
        if sorted(cols) != sorted(ocols):
            res["failure"] = f"cols {sorted(cols)} vs {sorted(ocols)}"
        elif len(rows) != len(orows):
            res["failure"] = f"rowcount {len(rows)} vs {len(orows)}"
        elif sh != oh:
            res["failure"] = f"value hash {sh} vs {oh} ({len(rows)} rows)"
        if res["failure"] is None:
            print(f"PASS {name}: {len(rows)} rows, hash {sh} "
                  f"({res['sec']:.1f}s{suffix})")
            continue
        print(f"FAIL {name}: {res['failure']} ({res['sec']:.1f}s{suffix})")
        if res["failure"].startswith("value hash"):
            o = sorted(range(len(cols)), key=lambda i: cols[i])
            srepr = sorted("\x1f".join(_canon(r[i]) for i in o) for r in rows)
            oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
            orepr = sorted("\x1f".join(_canon(r[i]) for i in oo) for r in orows)
            for a, b in zip(srepr, orepr):
                if a != b:
                    print(f"     spark : {a[:200]}")
                    print(f"     oracle: {b[:200]}")
                    break
    spark.stop()
    con.close()
    spill.cleanup()
    return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--engine-time",
        action="store_true",
        help="also time each query as a count() action so engine cost is "
        "reported separately from the comparison collect()'s row "
        "serialization (roughly doubles the Spark side)",
    )
    ap.add_argument(
        "--extended",
        action="store_true",
        help="also run extra_queries() (oracle-backed physical variants "
        "kept out of the driver's 50-row gate)",
    )
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    names = args.only.split(",") if args.only else None
    results = run(args.sf, names, args.extended, args.engine_time)
    failed = [n for n, r in results.items() if r["failure"] is not None]
    if failed:
        print(f"\n{len(failed)} FAILED: {failed}")
        return 1
    print("\nall queries passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
