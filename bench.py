"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR in a local
session sized by ``get_spark`` (one slot per usable CPU unless
``SPARK_GRAFT_CPUS`` says otherwise); prints ONE JSON line.

Headline set = the registry entries flagged ``bench`` in
``__spark_entry__.py``: the flagship fused-extraction pipeline (the north
metric is its turns/sec) plus one representative per operator family
(dedup, similarity, text analysis, aggregates, reassembly, joins). Each
query is forced end-to-end with a noop sink (full computation, no driver
collect overhead); one warmup pass absorbs JVM/codegen compilation so the
numbers measure steady-state executor throughput, which is what scales.

SELF-DEFENSE against shared-VM noise (two rounds of ambiguous flagship
numbers forced this): every query runs ``SPARK_GRAFT_BENCH_REPS`` times
(default 3) and reports the MEDIAN; per-query spread (max−min) ships in
the JSON so a reader can tell signal from contention. The flagship gets
extra reps (up to 3 more) whenever its relative spread exceeds
``_STABLE_SPREAD`` — and if it STILL exceeds the bound, the JSON carries
``"flagship_unstable": true`` so the docs/sec headline is explicitly
marked untrustworthy rather than silently wrong.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

#: flagship reps whose (max−min)/median exceeds this are re-run; still
#: above the bound after the extra reps → flagged unstable in the JSON
_STABLE_SPREAD = 0.25


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> int:
    import __spark_entry__ as entrymod
    from ocr_spark.session import DEFAULT_CPUS, get_spark, read_parquet

    spark = get_spark("ocr-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {n: q.build for n, q in entrymod.REGISTRY.items()}
    headline = [n for n, q in entrymod.REGISTRY.items() if q.bench]

    # warmup: one full flagship pass spins up all Python workers, compiles
    # the rule tables per worker, and JITs the codegen'd stages — the timed
    # runs then measure steady-state throughput (what scales on a cluster)
    _force(qs["flagship_extract"](spark, SF_DIR))

    def _clean_session() -> None:
        """Between-query hygiene: operators that RETURN checkpoint-backed
        results (curate_corpus, dedup_clusters) leave their final blocks
        persisted — the caller owns their lifetime, and this caller has
        consumed them (noop write). Drop them and collect the py4j refs so
        the ContextCleaner isn't waiting on a driver GC that may never
        come. Without this the suite degrades progressively as leaked
        blocks accumulate (measured: curate_corpus 8.1 → 19.2 → 29.1 s
        over three consecutive reps — the round-3 bench regression)."""
        import gc

        gc.collect()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)

    def _timed(name: str) -> float:
        t0 = time.monotonic()
        _force(qs[name](spark, SF_DIR))
        dt = time.monotonic() - t0
        _clean_session()
        return dt

    reps: dict[str, list[float]] = {}
    for name in headline:
        reps[name] = [_timed(name) for _ in range(REPS)]

    # per-query self-defense (same rationale as the flagship's below, at
    # lower cost): a shared-VM contention burst hitting 1-2 of 3 reps
    # still inflates the MEDIAN, so any query whose spread exceeds its
    # median gets up to 2 extra reps — an intermittent burst then leaves
    # >=3 clean reps for the median while a genuine regression (all reps
    # agreeing) spends nothing. Capped so a fully-contended box cannot
    # stretch the suite unboundedly.
    for name in headline:
        r = reps[name]
        if (max(r) - min(r)) > max(0.5, statistics.median(r)):
            r.extend(_timed(name) for _ in range(2))

    # flagship self-defense: the north metric must not be a noise artifact.
    # Stability is judged over the LAST 3 reps: early-session reps measure
    # JVM heap growth and page-cache warm-up (stage forensics: the same
    # shuffle stage shows 4355 s task runtime / 1550 s CPU cold vs
    # 224 s / 218 s warm), not the plan, so a monotone warm-up ramp must
    # extend the series instead of poisoning the headline. All reps are
    # reported so a reader can see the ramp.
    flag = reps["flagship_extract"]

    def _tail_spread(r: list[float]) -> float:
        tail = r[-3:]
        return (
            (max(tail) - min(tail)) / statistics.median(tail)
            if len(tail) > 1
            else 0.0
        )

    extra = 0
    while len(flag) > 1 and _tail_spread(flag) > _STABLE_SPREAD and extra < 3:
        flag.append(_timed("flagship_extract"))
        extra += 1
    flagship_spread = round(_tail_spread(flag), 3)
    flagship_unstable = flagship_spread > _STABLE_SPREAD

    times = {n: round(statistics.median(r), 3) for n, r in reps.items()}
    spread = {n: round(max(r) - min(r), 3) for n, r in reps.items()}
    # headline flagship time = steady-state median (last 3 reps)
    times["flagship_extract"] = round(statistics.median(flag[-3:]), 3)

    # the north metric: end-to-end turns/sec of the flagship extraction
    n_docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").count()
    turns_per_sec = round(n_docs / times["flagship_extract"], 1)

    # cap-drop counters: the hot-key caps trade recall for bounded fan-out
    caps = entrymod.cap_counters(spark, SF_DIR)
    spark.stop()

    total = round(sum(times.values()), 3)
    record = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "rep_spread": spread,
        "reps": REPS,
        "sf": _sf_from_dir(SF_DIR),
        "cpus": DEFAULT_CPUS,
        "flagship_docs": n_docs,
        "flagship_docs_per_sec": turns_per_sec,
        "flagship_reps": [round(t, 3) for t in flag],
        "flagship_spread_pct": flagship_spread,
        "flagship_unstable": flagship_unstable,
        "cap_counters": caps,
    }
    # persist the round record ourselves: the driver captures stdout, and
    # BENCH_r04.json shipped with "parsed": null + a truncated tail — the
    # official record must never depend on a pipe surviving intact.
    # Atomic (tmp+rename) so a killed bench never leaves a half-written
    # artifact shadowing the previous good one.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    tmp = os.path.join(bench_dir, "bench_latest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(record, fh, indent=1)
    os.replace(tmp, os.path.join(bench_dir, "bench_latest.json"))
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
