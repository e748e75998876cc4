"""Structured Streaming over the events table.

The reference's streaming engine is a bounded-memory fold over byte
chunks (async_reader.rs:97-210) with stop conditions; Spark's model is
readStream → transform → writeStream with watermarks handling late
data (the reference has no event-time semantics at all — SURVEY.md
§2.9 — so this is a capability superset).

Batch/stream parity contract: `hourly_agg` on a stream with
`availableNow` must equal `queries.events_hourly` on the same files
(tested in tests/test_streaming.py) — the streaming twin of the
reference's cross-engine-consistency oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_event_stream(
    spark: SparkSession, src_dir: str, max_files: int = 1
) -> DataFrame:
    """File-source stream (one file per microbatch by default —
    deterministic microbatching for tests; on a cluster this is a
    Kafka source with the same downstream plan)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )


def hourly_agg(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1h window per event_type with late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_to_memory(
    agg: DataFrame, table_name: str, timeout_s: int = 120
) -> None:
    """Drain the stream with availableNow into an in-memory sink
    (complete mode: windowed aggs re-emit final values)."""
    q = (
        agg.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        # a timed-out drain must not look like success: the sink is
        # missing trailing batches and the query keeps writing
        q.stop()
        raise TimeoutError(
            f"stream drain into '{table_name}' did not finish within "
            f"{timeout_s}s"
        )


def stream_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with WATERMARK-BOUNDED state — the
    streaming twin of operators/dedup.exact (and the op a 100 TB
    continuous-ingest pipeline needs: re-crawled URLs inside the
    watermark horizon are dropped, state older than the horizon is
    evicted, so the state store cannot grow with the corpus).
    dropDuplicatesWithinWatermark keeps the FIRST arrival of each key
    and, unlike plain dropDuplicates on a stream, bounds state by the
    watermark instead of retaining every key forever."""
    return stream.withWatermark(ts_col, watermark)\
        .dropDuplicatesWithinWatermark(key_cols)
