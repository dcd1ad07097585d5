"""spark-submit entry point for the batch extraction job.

  spark-submit --py-files ocr_spark.zip ocr_spark/plans/run_extract.py \
      --input /path/to/transcripts --output /path/to/extracted \
      [--groups 8] [--no-dictionary] [--no-spelling] [--no-resume] \
      [--master local[4]] [--shuffle-partitions 8]

Also runnable as plain ``python`` (creates its own local session). Prints a
one-line JSON job summary (the _SUMMARY.json content) on success.
"""
from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys

if __name__ == "__main__" and importlib.util.find_spec("ocr_spark") is None:
    # run as a script, sys.path[0] is this file's directory, not the
    # checkout's root that holds the package
    sys.path.insert(1, os.path.abspath(os.path.join(os.path.dirname(__file__), "..", "..")))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="OCR-spark batch extraction job")
    ap.add_argument("--input", required=True, help="transcript table (parquet dir)")
    ap.add_argument("--output", required=True, help="output dir (parquet + _manifests)")
    ap.add_argument("--groups", type=int, default=8, help="checkpoint groups")
    ap.add_argument("--no-dictionary", action="store_true")
    ap.add_argument("--no-spelling", action="store_true")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--salt-buckets", type=int, default=16)
    ap.add_argument("--sink", default="parquet", choices=["parquet", "noop"])
    ap.add_argument(
        "--repeat", type=int, default=1,
        help="bench mode: run the whole job N times in this one JVM and "
        "print one summary line per repetition (later reps are JIT-warm "
        "steady state; discard rep 0 when estimating throughput)",
    )
    ap.add_argument(
        "--learned-words",
        default=None,
        help="parquet learned_words table; approved words join the kamus "
        "for this epoch (SURVEY.md §7.4 epoch-snapshot semantics)",
    )
    ap.add_argument(
        "--conf", action="append", default=[], metavar="K=V",
        help="extra SparkSession conf (repeatable), e.g. "
        "--conf spark.sql.parquet.compression.codec=lz4",
    )
    args = ap.parse_args(argv)
    for kv in args.conf:
        if "=" not in kv:
            ap.error(f"--conf {kv!r}: expected K=V")
    extra_conf = dict(kv.split("=", 1) for kv in args.conf)

    from ocr_spark.plans.job import ExtractionJob
    from ocr_spark.session import get_spark

    spark = get_spark(
        "ocr-spark-extract", master=args.master,
        shuffle_partitions=args.shuffle_partitions, extra_conf=extra_conf
    )
    try:
        summaries = []
        for rep in range(max(1, args.repeat)):
            job = ExtractionJob(
                spark,
                args.input,
                args.output,
                groups=args.groups,
                use_dictionary=not args.no_dictionary,
                use_spelling=not args.no_spelling,
                salt_buckets=args.salt_buckets,
                learned_words_path=args.learned_words,
                sink=args.sink,
            )
            resume = (not args.no_resume) and args.repeat == 1
            if args.repeat > 1:
                import shutil

                shutil.rmtree(args.output, ignore_errors=True)
            summaries.append(job.run(resume=resume))
    except FileNotFoundError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    finally:
        spark.stop()
    for s_ in summaries:
        print(json.dumps(s_))
    return 0


if __name__ == "__main__":
    sys.exit(main())
