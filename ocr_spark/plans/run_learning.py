"""Learning-table admin CLI — the batch rendition of the reference's
learning endpoints (routers/learning.py: stats/pending/approve/reject/
export/import) over a versioned learned-words table.

  spark-submit run_learning.py stats   --table /path/learned
  spark-submit run_learning.py pending --table /path/learned --limit 20
  spark-submit run_learning.py approve --table /path/learned --words kata,lain
  spark-submit run_learning.py reject  --table /path/learned --words salah
  spark-submit run_learning.py export  --table /path/learned --out /path/export [--approved-only]
  spark-submit run_learning.py import  --table /path/learned --src /path/export

Mutations commit through the same snapshot commit the streaming accrual
hook uses (extract_stream.commit_snapshot), so a concurrent reader never
sees a half-written table and a concurrent writer's commit is never
overwritten. Prints one JSON line per command.
"""
from __future__ import annotations

import argparse
import datetime
import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("command", choices=[
        "stats", "pending", "approve", "reject", "export", "import",
    ])
    ap.add_argument("--table", required=True, help="learned table root (versioned)")
    ap.add_argument("--words", default="", help="comma-separated words")
    ap.add_argument("--limit", type=int, default=50)
    ap.add_argument("--out", default=None, help="export destination dir")
    ap.add_argument("--src", default=None, help="import source dir")
    ap.add_argument("--approved-only", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if args.command == "export" and not args.out:
        ap.error("export requires --out")
    if args.command == "import" and not args.src:
        ap.error("import requires --src")
    if args.command in ("approve", "reject") and not args.words.strip():
        ap.error(f"{args.command} requires --words")

    from ocr_spark.operators.learning import (
        approve_words,
        learning_stats,
        merge_import,
        pending_top_k,
        read_learned_export,
        reject_words,
        write_learned_export,
    )
    from ocr_spark.session import get_spark
    from ocr_spark.streaming.extract_stream import (
        SnapshotConflict,
        read_learned_table,
        update_learned_table,
    )

    spark = get_spark("learning-admin", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    learned = read_learned_table(spark, args.table)
    if learned is None:
        print(json.dumps({"error": "no committed snapshot", "table": args.table}))
        return 1

    def commit(derive) -> int:
        # applied to the live table; a concurrent commit (e.g. a live
        # stream's) makes the mutation re-apply to the fresh snapshot
        try:
            return update_learned_table(spark, args.table, derive)
        except SnapshotConflict as e:
            print(json.dumps({"error": "conflict", "detail": str(e)}))
            raise SystemExit(2)

    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    words = [w for w in args.words.split(",") if w.strip()]

    if args.command == "stats":
        row = learning_stats(learned).first().asDict()
        print(json.dumps(row))
    elif args.command == "pending":
        rows = [
            {"word": r["word"], "frequency": r["frequency"]}
            for r in pending_top_k(learned, args.limit).collect()
        ]
        print(json.dumps({"pending": rows}))
    elif args.command == "approve":
        version = commit(lambda t: approve_words(t, words, now))
        print(json.dumps({"approved": words, "version": version}))
    elif args.command == "reject":
        version = commit(lambda t: reject_words(t, words))
        print(json.dumps({"rejected": words, "version": version}))
    elif args.command == "export":
        meta = write_learned_export(
            learned, args.out, export_date=now.isoformat(),
            approved_only=args.approved_only,
        )
        print(json.dumps(meta))
    elif args.command == "import":
        imported = read_learned_export(spark, args.src)
        version = commit(lambda t: merge_import(t, imported))
        print(json.dumps({"imported_from": args.src, "version": version}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
