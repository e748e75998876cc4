"""spark-submit entrypoint for the full quality pipeline.

Usage (cluster or local):
    spark-submit --py-files dist/dataprof_spark.zip \
        -m dataprof_spark.pipeline.run  # or path to this file
        --input  <pages parquet/iceberg dir>
        --output <decisions+manifest dir>
        --buckets 64 --run-id backfill-2026-08

Resumable by construction: re-running with the same --output skips
partitions whose manifest row is `done` (pipeline/checkpoint.py).

Build the deployable zip with:  python -m dataprof_spark.pipeline.run --make-zip dist/
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def make_zip(dest_dir: str) -> str:
    """Package the library for --py-files (zipimport-compatible)."""
    import zipfile

    import dataprof_spark

    pkg_root = os.path.dirname(os.path.dirname(dataprof_spark.__file__))
    os.makedirs(dest_dir, exist_ok=True)
    out = os.path.join(dest_dir, "dataprof_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(
            os.path.join(pkg_root, "dataprof_spark")
        ):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, pkg_root))
    return out


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--make-zip", metavar="DIR")
    parser.add_argument("--input")
    parser.add_argument("--output")
    parser.add_argument("--buckets", type=int, default=64)
    parser.add_argument("--run-id", default=None)
    parser.add_argument("--master", default=None)
    parser.add_argument(
        "--compact", action="store_true",
        help="after processing, rewrite partition dirs into "
             "size-targeted files (checkpoint.compact)",
    )
    parser.add_argument(
        "--target-records-per-file", type=int, default=1_000_000,
    )
    parser.add_argument(
        "--dedup", choices=("none", "exact", "near"), default="none",
        help="corpus-wide dedup pass over the checkpointed decisions "
             "(exact = md5 text groups; near = exact + MinHash-LSH "
             "near-duplicates). Runs AFTER the per-partition phase — "
             "dedup needs the corpus-wide view — and writes "
             "<output>_deduped",
    )
    parser.add_argument("--near-threshold", type=float, default=0.7)
    args = parser.parse_args(argv)

    if args.make_zip:
        print(make_zip(args.make_zip))
        return 0
    if not (args.input and args.output):
        parser.error("--input and --output are required")

    from pyspark.sql import SparkSession

    from dataprof_spark.pipeline import checkpoint
    from dataprof_spark.session import get_spark

    # only stop the session if we created it (embedding callers — and
    # tests — own their session; spark-submit owns none yet)
    existing = SparkSession.getActiveSession()
    spark = existing or get_spark(
        app_name="dataprof_pipeline", master=args.master
    )
    pages = spark.read.parquet(args.input)
    rows = checkpoint.run(
        pages,
        args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
    )
    summary = {
        "partitions_processed": len(rows),
        "docs_in": sum(r["docs_in"] for r in rows),
        "docs_out": sum(r["docs_out"] for r in rows),
        "output": args.output,
        "master": spark.sparkContext.master,
    }
    if args.compact:
        summary["files_after_compaction"] = checkpoint.compact(
            spark, args.output, args.target_records_per_file
        )
    if args.dedup != "none":
        from pyspark.sql import functions as F

        from dataprof_spark.pipeline import dedup_stage

        # read the decisions TABLE, not the output root: root-level
        # partition discovery only works while decisions/ is the sole
        # non-underscore entry under the output dir
        dec = checkpoint.read_decisions(spark, args.output)
        dec = dedup_stage.mark_exact_duplicates(dec)
        if args.dedup == "near":
            dec = dedup_stage.mark_near_duplicates(
                dec, threshold=args.near_threshold
            )
        dedup_out = args.output.rstrip("/") + "_deduped"
        # phase 2 keeps the decisions table's write order, so the rows
        # its dedup demotes cluster by their new drop reason too
        (
            dec.sortWithinPartitions(*checkpoint.WRITE_ORDER)
            .write.mode("overwrite")
            .parquet(dedup_out)
        )
        final = spark.read.parquet(dedup_out)
        summary["dedup"] = {
            "mode": args.dedup,
            "output": dedup_out,
            "docs_kept_after_dedup": final.filter(F.col("keep")).count(),
        }
    print(json.dumps(summary))
    if existing is None:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
