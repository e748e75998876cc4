"""Gated page stream: the checkpoint pipeline, one micro-batch at a time.

A micro-batch is one more chunk of the batch pipeline, not a second
system: ``foreachBatch`` hands each batch to ``checkpoint.run``, which
writes it under ``<out_dir>/batches/<batch_id>/`` as the same decisions
table (one file per ``part_key``, rows in ``WRITE_ORDER``) and the
same per-partition manifests (docs in/out, drop-reason histogram,
scrub counts) as a batch run. There is no stream-only schema; the
readers below union the per-batch outputs.

This is the package's only module. No state store: the gate is
stateless per document. The windowed event counts and sessions are
batch driver queries (``queries.events_hourly``,
``queries.sessionize_events_batch``).
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame

from dataprof_spark.pipeline import checkpoint

PAGE_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, "
    "lang string"
)


def read_page_stream(spark, src_dir: str, max_files: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )


def run_gated_stream(
    stream: DataFrame,
    out_dir: str,
    run_id: str = "stream",
    timeout_s: int = 300,
) -> None:
    """availableNow gated run: each micro-batch is one
    ``checkpoint.run`` into ``<out_dir>/batches/<batch_id>``.

    foreachBatch is at-least-once: a crash after a write but before
    Spark's stream checkpoint commits replays the batch, and a lost
    stream checkpoint replays every batch. A replay is safe when
    Spark's file source hands the same files to the same batch id,
    which it does for an unchanged input directory: the replayed
    ``checkpoint.run`` finds that batch's manifests, skips its done
    partitions and overwrites the rest with identical bytes.
    ``checkpoint.input_fingerprint`` is None for a micro-batch frame
    (``inputFiles()`` is empty), so ``InputMismatch`` does not guard
    a batch directory against different input."""

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        checkpoint.run(
            batch_df,
            os.path.join(out_dir, "batches", str(batch_id)),
            run_id=run_id,
        )

    q = (
        stream.writeStream.foreachBatch(emit)
        .option("checkpointLocation",
                os.path.join(out_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        # a timed-out drain must not look like success: trailing
        # batches are missing and the query keeps writing into
        # directories the caller is about to read
        q.stop()
        raise TimeoutError(
            f"gated stream drain did not finish within {timeout_s}s"
        )


def batch_dirs(out_dir: str) -> dict[int, str]:
    """``checkpoint.run`` output directory of each micro-batch."""
    root = os.path.join(out_dir, "batches")
    if not os.path.isdir(root):
        return {}
    return {int(b): os.path.join(root, b) for b in os.listdir(root)}


def read_stream_metrics(spark, out_dir: str) -> DataFrame:
    """Every batch's manifest rows, each with its ``batch_id``."""
    rows = [
        json.dumps({**r, "batch_id": b})
        for b, d in sorted(batch_dirs(out_dir).items())
        for r in checkpoint._read_manifests(d)
    ]
    return spark.read.json(spark.sparkContext.parallelize(rows))


def read_stream_decisions(spark, out_dir: str) -> DataFrame:
    """The union of every batch's decisions table. Spark cannot read
    the batch tables as one path: a glob or a path list over the
    per-batch ``decisions`` roots fails partition discovery with
    CONFLICTING_DIRECTORY_STRUCTURES. A batch of zero rows wrote no
    data file and is skipped."""
    frames = [
        checkpoint.read_decisions(spark, d)
        for _, d in sorted(batch_dirs(out_dir).items())
        if any(r["docs_in"] for r in checkpoint._read_manifests(d))
    ]
    if not frames:
        raise FileNotFoundError(f"no stream decisions under {out_dir}")
    return reduce(DataFrame.unionByName, frames)
