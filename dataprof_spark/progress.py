"""Progress-event surface for long batch runs — the reference's
ProgressEvent/ProgressSink contract (`crates/dataprof-core/src/
progress.rs:7-47`, engines/progress_tracker.rs, memory_sampler.rs)
recast for Spark.

Reference semantics kept: Started (once, with estimates) → optional
SchemaDetected (once, after the first chunk) → ChunkProcessed (rows,
bytes, elapsed, speed, percentage) → Finished (totals + truncated
flag) + Warning; a synchronous callback sink; a peak-memory sample on
Finished (memory_sampler.rs ru_maxrss).

Spark-first part: a distributed job has no "chunk loop" to hook, so
per-job progress comes from SparkStatusTracker — the public
monitoring API the Spark UI itself uses — polled from a daemon
thread while the job runs (JobProgressPoller). That is the PySpark
idiom for listener-style progress (a JVM SparkListener subclass is
not implementable from Python). A batch run's durable counters are
its checkpoint manifests (pipeline/checkpoint.py); these events
serve a live caller, ``facade.profile(on_progress=)``.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass
from typing import Callable


@dataclass
class ProgressEvent:
    kind: str  # started | schema | chunk | finished | warning
    rows_processed: int = 0
    bytes_consumed: int = 0
    elapsed_s: float = 0.0
    speed_rows_per_s: float | None = None
    percentage: float | None = None
    estimated_total_rows: int | None = None
    column_names: list[str] | None = None
    truncated: bool = False
    peak_memory_mb: float | None = None
    message: str | None = None


def _peak_rss_mb() -> float | None:
    """Driver peak RSS — the PeakMemorySampler twin
    (memory_sampler.rs:11-50; ru_maxrss is KiB on Linux)."""
    try:
        import resource

        return round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, 1
        )
    except Exception:
        return None


class ProgressSink:
    """Synchronous callback sink (progress.rs ProgressSink::Callback).
    Also records every event, so tests and callers can replay them.
    ``min_interval_s`` rate-limits chunk events (reference
    progress_interval, default 500 ms); started/schema/finished/
    warning always pass through."""

    def __init__(
        self,
        callback: Callable[[ProgressEvent], None] | None = None,
        min_interval_s: float = 0.5,
    ):
        self.callback = callback
        self.min_interval_s = min_interval_s
        self.events: list[ProgressEvent] = []
        self._t0 = time.perf_counter()
        self._last_chunk = -1e9
        # emits arrive from two threads (JobProgressPoller's daemon
        # thread + the main thread's lifecycle events); the callback
        # runs under the lock, and an RLock lets it emit in turn
        self._lock = threading.RLock()

    def emit(self, ev: ProgressEvent) -> None:
        with self._lock:
            now = time.perf_counter()
            if ev.kind == "chunk":
                if now - self._last_chunk < self.min_interval_s:
                    return
                self._last_chunk = now
            if not ev.elapsed_s:
                ev.elapsed_s = round(now - self._t0, 3)
            if (
                ev.kind == "chunk"
                and ev.speed_rows_per_s is None
                and ev.elapsed_s > 0
            ):
                ev.speed_rows_per_s = round(
                    ev.rows_processed / ev.elapsed_s, 1
                )
            if ev.kind == "finished" and ev.peak_memory_mb is None:
                ev.peak_memory_mb = _peak_rss_mb()
            self.events.append(ev)
            if self.callback:
                self.callback(ev)

    # convenience constructors -----------------------------------------
    def started(
        self,
        estimated_total_rows: int | None = None,
        bytes_consumed: int = 0,
    ) -> None:
        self._t0 = time.perf_counter()
        self.emit(ProgressEvent(
            "started", estimated_total_rows=estimated_total_rows,
            bytes_consumed=bytes_consumed,
        ))

    def schema(self, column_names: list[str]) -> None:
        self.emit(ProgressEvent("schema", column_names=list(column_names)))

    def chunk(
        self,
        rows_processed: int,
        bytes_consumed: int = 0,
        percentage: float | None = None,
    ) -> None:
        self.emit(ProgressEvent(
            "chunk", rows_processed=rows_processed,
            bytes_consumed=bytes_consumed, percentage=percentage,
        ))

    def finished(
        self, total_rows: int, total_bytes: int = 0,
        truncated: bool = False,
    ) -> None:
        self.emit(ProgressEvent(
            "finished", rows_processed=total_rows,
            bytes_consumed=total_bytes, truncated=truncated,
        ))

    def warning(self, message: str) -> None:
        self.emit(ProgressEvent("warning", message=message))


class JobProgressPoller:
    """Context manager emitting chunk events WHILE a Spark job runs,
    from SparkStatusTracker (public monitoring API) in a daemon
    thread: percentage = completed/total tasks over the stages active
    during the window. Use around a single long action:

        with JobProgressPoller(spark, sink):
            df.write.parquet(dest)
    """

    def __init__(self, spark, sink: ProgressSink,
                 interval_s: float = 0.25):
        self.sc = spark.sparkContext
        self.sink = sink
        self.interval_s = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _poll(self) -> None:
        tracker = self.sc.statusTracker()
        while not self._stop.wait(self.interval_s):
            done = total = 0
            try:
                for sid in tracker.getActiveStageIds():
                    info = tracker.getStageInfo(sid)
                    if info:
                        done += info.numCompletedTasks
                        total += info.numTasks
            except Exception:
                continue  # tracker race at job boundaries — benign
            if total:
                self.sink.chunk(
                    rows_processed=0,
                    percentage=round(100.0 * done / total, 1),
                )

    def __enter__(self):
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=2)
        return False
