"""Spans around layer calls, and Spark's event log attributed to them.

A `Tracer` records one span per layer call made from the benchmark's
files: name, start, end, parent and the op id shared by all spans of one
op. While a span is open, every Spark job it submits carries the span
and op ids as local properties (and a readable job description), so the
task and SQL metrics in the event log can be attributed to the
innermost enclosing span. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
OP_PROP = "perfbench.op"


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float          # epoch seconds (comparable with the event log)
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when `enabled`; otherwise every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Tag the jobs of `spark`'s context from now on."""
        self._sc = spark.sparkContext if self.enabled else None

    def _tag(self, span: Span | None) -> None:
        if self._sc is None:
            return
        self._sc.setLocalProperty(SPAN_PROP, str(span.id) if span else None)
        self._sc.setLocalProperty(OP_PROP, span.op if span else None)
        self._sc.setJobDescription(f"{span.op}/{span.name}" if span else None)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), name=name,
            op=op if op is not None else (parent.op if parent else "-"),
            parent=parent.id if parent else None, start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it its child spans cover."""
        return span.dur - covered(
            [(c.start, c.end) for c in self.children(span)]
        )

    def dump(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ------------------------------------------------------------ event log
@dataclass
class Stage:
    span: int | None
    op: str | None
    tasks: int = 0
    failures: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_disk_bytes: int = 0
    spill_memory_bytes: int = 0
    peak_execution_memory: int = 0
    accum: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    sql: dict[int, dict] = field(default_factory=dict)

    def stages_of(self, span_ids) -> list[Stage]:
        ids = set(span_ids)
        return [s for s in self.stages.values() if s.span in ids]

    def jobs_of(self, span_ids) -> list[dict]:
        ids = set(span_ids)
        return [j for j in self.jobs.values() if j["span"] in ids]


def _span_of(props: dict | None) -> tuple[int | None, str | None]:
    props = props or {}
    sid = props.get(SPAN_PROP)
    return (int(sid) if sid not in (None, "") else None), props.get(OP_PROP)


def parse_event_log(path: str) -> EventLog:
    """Jobs, stage-attempt task totals and SQL executions from an
    uncompressed, non-rolling Spark event log."""
    log = EventLog()
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                sid, op = _span_of(e.get("Properties"))
                exec_id = (e.get("Properties") or {}).get(
                    "spark.sql.execution.id"
                )
                log.jobs[e["Job ID"]] = {
                    "span": sid, "op": op,
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "sql": int(exec_id) if exec_id else None,
                }
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(e["Job ID"])
                if job is not None:
                    job["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                sid, op = _span_of(e.get("Properties"))
                key = (info["Stage ID"], info["Stage Attempt ID"])
                log.stages[key] = Stage(span=sid, op=op)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = log.stages.get(
                    (info["Stage ID"], info["Stage Attempt ID"])
                )
                if st is not None:
                    for a in info.get("Accumulables", []):
                        name = a.get("Name") or ""
                        if name.startswith("internal."):
                            continue
                        try:
                            st.accum[name] = st.accum.get(name, 0) + float(
                                a["Value"]
                            )
                        except (KeyError, TypeError, ValueError):
                            pass
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.get((e["Stage ID"], e["Stage Attempt ID"]))
                if st is None:
                    continue
                st.tasks += 1
                if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                    st.failures += 1
                m = e.get("Task Metrics") or {}
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.input_bytes += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st.shuffle_write_bytes += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                st.spill_disk_bytes += m.get("Disk Bytes Spilled", 0)
                st.spill_memory_bytes += m.get("Memory Bytes Spilled", 0)
                st.peak_execution_memory = max(
                    st.peak_execution_memory,
                    m.get("Peak Execution Memory", 0),
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                log.sql[e["executionId"]] = {
                    "start": e["time"] / 1000.0, "end": None,
                    "writes": "InsertIntoHadoopFsRelationCommand"
                    in (e.get("physicalPlanDescription") or ""),
                }
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                ex = log.sql.get(e["executionId"])
                if ex is not None:
                    ex["end"] = e["time"] / 1000.0
    return log


# Spark's display names of the Arrow Python-UDF node's SQL metrics. The
# three times are declared as nanosecond timings, but the values are the
# differences of the millisecond timestamps the Python worker reports,
# so they are milliseconds. A reused worker reports the time it was
# forked as its boot time, so start + initialize time is only the
# workers' start-up cost on the first op of a context.
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_TOTAL = "time to run Python workers"


def engine_totals(stages: list[Stage]) -> dict[str, float]:
    """Spark engine metrics summed over `stages` (peak memory: max)."""
    return {
        "spark.executor_run_s": sum(s.run_ms for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "spark.gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "spark.input_bytes": sum(s.input_bytes for s in stages),
        "spark.shuffle_write_bytes": sum(
            s.shuffle_write_bytes for s in stages
        ),
        "spark.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
        "spark.spill_disk_bytes": sum(s.spill_disk_bytes for s in stages),
        "spark.peak_execution_memory_bytes": max(
            (s.peak_execution_memory for s in stages), default=0
        ),
        "spark.tasks": sum(s.tasks for s in stages),
        "spark.task_failures": sum(s.failures for s in stages),
    }


def accum_total(stages: list[Stage], name: str) -> float:
    return sum(s.accum.get(name, 0.0) for s in stages)


def median_of(dicts: list[dict]) -> dict:
    """Key-wise median over a list of metric dicts with equal keys."""
    if not dicts:
        return {}
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}
