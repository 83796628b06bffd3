"""spark-submit entrypoint for the extraction pipeline (north rule:
"runs via spark-submit --py-files on multi-executor clusters").

Usage on a cluster (N or 4N executors — the plan is identical; only
``--num-executors`` / dynamic allocation changes):

    spark-submit --py-files dist/docling_plus_spark.zip \\
        docling_plus_spark/job.py \\
        --input  s3://bucket/pages/            \\
        --output /table/results                \\
        --epochs 0 --limit 200000

Locally (what tests/test_spark_submit.py drives for real):

    spark-submit --master local[2] --py-files dist/docling_plus_spark.zip \\
        docling_plus_spark/job.py --input pages.parquet --output out/

The job is an incremental-batch loop over `plans.incremental.run_epoch`:
each epoch anti-joins the input against the committed results snapshot,
extracts the remainder with `plans.extract_pipeline` (the plan the
benchmark times), and commits metrics-then-results (the results
manifest is the sole completion point — kill the job anywhere and the
next invocation resumes from the last committed snapshot with zero loss
and zero re-processing). One JSON summary line is printed per epoch.

An epoch shuffles only after ``--limit`` (a global limit gathers its rows
onto one partition, so they are scattered on ``xxhash64(url)``); master
and shuffle width come from the submit command line.

Reference analog: the CLI conversion loop (docling/cli/main.py) +
_convert orchestration (document_converter.py:234-281), restated as a
resumable Spark batch job.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Optional

from pyspark.sql import SparkSession

from docling_plus_spark.operators.extract import OPTIONAL_SURFACES, check_include


def parse_args(argv: Optional[list] = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="docling-plus-spark extraction job")
    p.add_argument("--input", required=True, help="pages parquet/table path "
                   "(url:string, warc_ts:timestamp, html:binary, ...)")
    p.add_argument("--output", required=True, help="results snapshot dir")
    p.add_argument("--metrics", default=None,
                   help="metrics snapshot dir (default: <output>/_metrics)")
    p.add_argument("--epochs", type=int, default=0,
                   help="max epochs to run; 0 = run until drained")
    p.add_argument("--limit", type=int, default=None,
                   help="max docs per epoch (bounds epoch commit size)")
    p.add_argument("--include", type=_surfaces, default=(),
                   help="optional surfaces to build besides text/md/itxt, "
                   "comma-separated from {%s}" % ",".join(OPTIONAL_SURFACES))
    return p.parse_args(argv)


def _surfaces(arg: str) -> tuple:
    """``--include`` value → surface tuple; unknown names are a usage error."""
    try:
        return check_include(s for s in arg.split(",") if s)
    except ValueError as exc:
        raise argparse.ArgumentTypeError(str(exc)) from None


def run(spark: SparkSession, args: argparse.Namespace) -> int:
    from docling_plus_spark.plans.incremental import run_epoch
    from docling_plus_spark.sources.snapshot import SnapshotTable
    from docling_plus_spark.sources.web_pages import read_split

    pages = read_split(spark, args.input)
    results = SnapshotTable(spark, args.output)
    metrics = SnapshotTable(spark, args.metrics or args.output.rstrip("/") + "/_metrics")

    epoch_budget = args.epochs if args.epochs > 0 else sys.maxsize
    total = 0
    for _ in range(epoch_budget):
        summary = run_epoch(
            pages, results, metrics, limit=args.limit, include=args.include,
        )
        print(json.dumps(summary), flush=True)
        total += summary["processed"]
        if summary["processed"] == 0:
            break
    print(json.dumps({"done": True, "total_processed": total}), flush=True)
    return 0


def main() -> int:
    from docling_plus_spark.plans import build_session

    args = parse_args()
    spark = build_session()
    try:
        return run(spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
