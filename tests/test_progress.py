"""Progress-event surface (reference progress.rs / progress_tracker.rs
/ memory_sampler.rs): lifecycle ordering through facade.profile, rate
limiting, and live chunk events from the StatusTracker poller while a
Spark job runs."""

from __future__ import annotations

import pyspark.sql.functions as F

from dataprof_spark import progress


def test_profile_emits_lifecycle(spark):
    """facade.profile(on_progress=) drives the sink: started first,
    schema once with the column names, finished last with the row
    total, no truncation and a peak-RSS sample."""
    from dataprof_spark import facade

    events = []
    facade.profile(spark.range(200).toDF("v"), on_progress=events.append)
    kinds = [e.kind for e in events]
    assert kinds[0] == "started"
    assert kinds.count("schema") == 1
    assert events[kinds.index("schema")].column_names == ["v"]
    assert kinds[-1] == "finished"
    fin = events[-1]
    assert fin.rows_processed == 200
    assert fin.truncated is False
    # memory-sampler twin: peak RSS recorded on Finished
    assert fin.peak_memory_mb and fin.peak_memory_mb > 0


def test_chunk_rate_limit_preserves_lifecycle_events():
    sink = progress.ProgressSink(min_interval_s=3600.0)
    sink.started()
    for i in range(10):
        sink.chunk(rows_processed=i)
    sink.warning("w")
    sink.finished(total_rows=10)
    kinds = [e.kind for e in sink.events]
    # only the first chunk survives the interval, lifecycle all pass
    assert kinds == ["started", "chunk", "warning", "finished"]


def test_poller_emits_during_live_job(spark):
    """JobProgressPoller sees task completion from SparkStatusTracker
    while an action runs (chunk events with a percentage)."""
    sink = progress.ProgressSink(min_interval_s=0.0)
    df = (
        spark.range(0, 2_000_000, 1, 32)
        .withColumn("x", F.sha2(F.col("id").cast("string"), 256))
        .groupBy(F.substring("x", 1, 2)).count()
    )
    with progress.JobProgressPoller(spark, sink, interval_s=0.05):
        df.write.format("noop").mode("overwrite").save()
    chunks = [e for e in sink.events if e.kind == "chunk"]
    assert chunks, "poller saw no active stages during a 32-task job"
    assert all(0 <= c.percentage <= 100 for c in chunks)
