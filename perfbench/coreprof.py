"""In-process, single-thread timing of the extraction core and the UDF body.

Each stage function of ``ocr_spark.functions.textops`` runs over every
sampled turn in ``extract_turn``'s order, one stage at a time, so one clock
pair brackets a whole stage. T1 (``apply_multiword``) also runs inside
``correct_with_stats``; T3 is reported as the difference.
"""
from __future__ import annotations

import time

import pandas as pd

#: rows per pandas batch handed to the UDF body: the session's
#: spark.sql.execution.arrow.maxRecordsPerBatch
UDF_BATCH_ROWS = 2048


def profile_core(texts: list, extra_kamus: frozenset | None = None) -> dict[str, float]:
    from ocr_spark.functions import textops as T

    clock = time.perf_counter
    n = len(texts)
    raws = [t or "" for t in texts]
    for r in raws[:8]:  # first calls pay lazy set-up, not per-turn cost
        T.extract_turn(r, extra_kamus=extra_kamus)

    t0 = clock()
    t1 = [T.apply_multiword(r)[0] if r else r for r in raws]
    t1_s = clock() - t0

    t0 = clock()
    cws = [T.correct_with_stats(r, extra_kamus=extra_kamus) if r else (r, 0, []) for r in raws]
    cws_s = clock() - t0

    t0 = clock()
    t4 = [T.normalize_currency(text, spans) if text else (text, spans) for text, _, spans in cws]
    t4_s = clock() - t0

    t0 = clock()
    t5 = [T.normalize_spelling(text, spans) if text else (text, 0, spans) for text, spans in t4]
    t5_s = clock() - t0

    final = [
        (norm or cur) or raw
        for raw, (cur, _), (norm, _, _) in zip(raws, t4, t5)
    ]
    t0 = clock()
    a6 = [
        T.quality_score(text, None, n_corr, extra_kamus)
        for text, (_, n_corr, _) in zip(final, cws)
    ]
    a6_s = clock() - t0

    t0 = clock()
    t7 = [T.unknown_words(text, extra_kamus) for text in final]
    t7_s = clock() - t0

    whole = [T.extract_turn(t, extra_kamus=extra_kamus) for t in texts]

    # the stage-by-stage replay must be the pipeline it claims to time
    for i, out in enumerate(whole):
        if (
            out["extracted_text"] != t4[i][0]
            or out["normalized_text"] != t5[i][0]
            or out["quality"] != a6[i]
            or out["unknown_words"] != t7[i]
        ):
            raise RuntimeError(f"stage replay differs from extract_turn on turn {i}")

    def us(s: float) -> float:
        return s / n * 1e6

    def share(flags) -> float:
        return sum(1 for f in flags if f) / n

    return {
        "core.t1_us": us(t1_s),
        "core.t3_us": us(cws_s - t1_s),
        "core.t4_us": us(t4_s),
        "core.t5_us": us(t5_s),
        "core.a6_us": us(a6_s),
        "core.t7_us": us(t7_s),
        "core.t1_hit": share(a != r for a, r in zip(t1, raws)),
        "core.t3_hit": share(c[0] != a for c, a in zip(cws, t1)),
        "core.t4_hit": share(b[0] != c[0] for b, c in zip(t4, cws)),
        "core.t5_hit": share(s[0] != b[0] for s, b in zip(t5, t4)),
    }


def profile_turn_and_udf(
    texts: list, extra_kamus: frozenset | None = None, reps: int = 3
) -> dict[str, float]:
    """Microseconds per turn of ``extract_turn`` alone and of the fused
    UDF's Python function over pandas batches of the session's Arrow batch
    size; their difference is the cost of assembling the batch result.
    The two alternate ``reps`` times and each keeps its fastest run, so a
    stall in one run does not land in the difference."""
    from ocr_spark.functions.textops import extract_turn
    from ocr_spark.functions.udfs import make_extract_udf

    body = make_extract_udf(extra_kamus=extra_kamus).func
    batches = [
        pd.Series(texts[i : i + UDF_BATCH_ROWS], dtype=object)
        for i in range(0, len(texts), UDF_BATCH_ROWS)
    ]
    for _ in body(iter([batches[0][:8]])):  # lazy imports inside the body
        pass
    turn_s, body_s = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        for t in texts:
            extract_turn(t, extra_kamus=extra_kamus)
        turn_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        rows = sum(len(out) for out in body(iter(batches)))
        body_s.append(time.perf_counter() - t0)
        if rows != len(texts):
            raise RuntimeError(f"UDF body returned {rows} rows for {len(texts)} turns")
    turn_us = min(turn_s) / len(texts) * 1e6
    body_us = min(body_s) / len(texts) * 1e6
    return {"core.turn_us": turn_us, "udf.body_us": body_us, "udf.assemble_us": body_us - turn_us}
