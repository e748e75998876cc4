"""Structured Streaming: stream/batch parity on windowed aggregation,
stateful sessionization."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from dataprof_spark import queries
from dataprof_spark.streaming import events as sev

SF_DIR = "/root/testdata/sf0.001"


def test_stream_batch_parity_hourly(spark, tmp_path):
    # stage the events parquet as a one-file stream source
    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "events.parquet")

    stream = sev.read_event_stream(spark, str(src))
    agg = sev.hourly_agg(stream)
    sev.run_to_memory(agg, "hourly_stream")

    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("hourly_stream").collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in queries.events_hourly(spark, SF_DIR).collect()
    }
    assert got == want


def test_sessionize(spark, tmp_path):
    import datetime as dt

    from dataprof_spark.streaming import sessionize as ss

    base = dt.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        # user 1: two sessions separated by 2h
        (1, base, 1.0),
        (1, base + dt.timedelta(minutes=10), 2.0),
        (1, base + dt.timedelta(hours=3), 5.0),
        # user 2: one session
        (2, base, 10.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = tmp_path / "sess_src"
    df.write.parquet(str(src))
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(str(src))
    q = (
        ss.sessionize(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("sessions").collect()
    # within one batch, user 1's first session closes (gap exceeded);
    # open sessions are held in state until timeout, so exactly one
    # closed session is emitted
    closed = {(r["user_id"], r["n_events"], r["total_value"]) for r in got}
    assert (1, 2, 3.0) in closed


def test_sessionize_custom_gap(spark, tmp_path):
    """ADVICE r1: gap_seconds must reach the stateful kernel — a 5-min
    gap splits events 10 minutes apart into separate sessions, which
    the 30-min default would merge."""
    import datetime as dt

    from dataprof_spark.streaming import sessionize as ss

    base = dt.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        (1, base, 1.0),
        (1, base + dt.timedelta(minutes=10), 2.0),
        (1, base + dt.timedelta(minutes=20), 4.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = tmp_path / "sess_gap_src"
    df.write.parquet(str(src))
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(str(src))
    q = (
        ss.sessionize(stream, gap_seconds=300)
        .writeStream.format("memory")
        .queryName("sessions_gap")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("sessions_gap").collect()
    closed = {(r["user_id"], r["n_events"], r["total_value"]) for r in got}
    # with a 5-min gap, the first two closed sessions are singletons
    assert (1, 1, 1.0) in closed
    assert (1, 1, 2.0) in closed


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate keys arriving across micro-batches inside the
    watermark horizon are dropped; state is watermark-bounded."""
    import datetime as dt

    from dataprof_spark.streaming import events as ev

    base = dt.datetime(2026, 1, 1, 10, 0, 0)
    b0 = [
        (1, base, 10, "click", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=1), 11, "view", 2.0, "{}"),
    ]
    b1 = [
        (1, base + dt.timedelta(minutes=5), 10, "click", 1.0, "{}"),  # dup id
        (3, base + dt.timedelta(minutes=6), 12, "click", 3.0, "{}"),
    ]
    src = tmp_path / "dedup_src"
    schema = ev.EVENT_SCHEMA
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(
        str(src / "b0")
    )
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        ev.stream_dedup(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("deduped_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("deduped_stream").collect()
    ids = sorted(r["event_id"] for r in got)
    assert ids == [1, 2, 3]  # the re-arrived event_id=1 was dropped


def test_sessionize_stream_batch_parity(spark, tmp_path):
    """Every session the stateful streaming operator CLOSES must match
    a session in the batch lag/cumsum twin on the same events — the
    stream==batch parity oracle for the custom stateful op."""
    import datetime as dt

    from dataprof_spark import queries as q
    from dataprof_spark.streaming import sessionize as ss

    base = dt.datetime(2026, 1, 1, 8, 0, 0)
    rows = []
    eid = 0
    for user in (1, 2, 3):
        t = base
        for s in range(3):              # 3 sessions per user
            for i in range(4):          # 4 events each, 5 min apart
                rows.append((eid, t, user, "click", float(user * 100 + s * 10 + i), "{}"))
                eid += 1
                t += dt.timedelta(minutes=5)
            t += dt.timedelta(hours=2)  # gap closes the session
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    src = tmp_path / "parity_src"
    df.write.parquet(str(src))

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(str(src))
    qy = (
        ss.sessionize(stream)
        .writeStream.format("memory")
        .queryName("parity_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination(120)
    streamed = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.table("parity_sessions").collect()
    }
    df.createOrReplaceTempView("events")
    batch = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in q.sessionize_events_batch(
            spark, str(tmp_path)
        ).collect()
    } if False else {
        (r["user_id"], r["n_events"], round(r["total_value"], 6))
        for r in spark.sql(q.SESSIONIZE_SQL.replace(
            "strftime(min(ts), '%Y-%m-%d %H:%M:%S')",
            "date_format(min(ts), 'yyyy-MM-dd HH:mm:ss')"
        ).replace(
            "strftime(max(ts), '%Y-%m-%d %H:%M:%S')",
            "date_format(max(ts), 'yyyy-MM-dd HH:mm:ss')"
        ).replace("epoch(ts)", "unix_timestamp(ts)")
        .replace("::BIGINT", "")).collect()
    }
    # streaming closes the first 2 sessions per user within the batch
    # (the last stays open in state); every closed one matches batch
    assert streamed, "streaming emitted no closed sessions"
    assert streamed <= batch
    assert len(streamed) >= 6


def test_sessionize_kernel_late_event_never_splits():
    """A late (within-watermark) event arriving in a later micro-batch
    must only WIDEN the session bounds: before r5 it dragged `last`
    backwards and the next on-time event false-split the session."""
    import pandas as pd

    from dataprof_spark.streaming import sessionize as ss

    class FakeState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

        def getCurrentWatermarkMs(self):
            return 0

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

    state = FakeState()

    def batch(*ts):
        return [pd.DataFrame({
            "ts": pd.to_datetime(list(ts), unit="s"),
            "value": [1.0] * len(ts),
        })]

    t0 = 1_700_000_000
    # batch 1: one event at t0+3600
    out1 = list(ss._sessionize_group(
        (7,), batch(t0 + 3600), state, gap_seconds=1800))
    assert sum(len(p) for p in out1) == 0
    # batch 2: late event at t0 (gap>1800 BEFORE the session) plus an
    # on-time event at t0+4800 (20 min after the last on-time one)
    out2 = list(ss._sessionize_group(
        (7,), batch(t0, t0 + 4800), state, gap_seconds=1800))
    # the late event may close ITS OWN earlier pseudo-session, but the
    # 20-min-later on-time event must NOT be split from t0+3600
    start, last, n, total = state.get
    assert last == t0 + 4800
    for p in out2:
        for _, r in p.iterrows():
            assert int(r["session_end"].timestamp()) != t0, (
                "on-time event was split off because a late event "
                "dragged `last` backwards"
            )
    # timeout is event-time anchored: last + gap
    assert state.timeout_ms == (last + 1800) * 1000


def test_sessionize_late_threshold_clamped_to_gap(spark, tmp_path):
    """ADVICE r5: with gap_seconds=300 the default 10-minute watermark
    would admit late events >gap older than `last`, which the
    bounds-only-widen kernel then merges into a session batch
    semantics would split. sessionize() must clamp the watermark to
    the gap; callers asking for a tighter threshold keep theirs."""
    from dataprof_spark.streaming import sessionize as ss

    src = tmp_path / "sess_clamp_src"
    src.mkdir()
    spark.createDataFrame(
        [("u", "2024-01-01 00:00:00", 1.0)],
        "user_id string, ts string, value double",
    ).selectExpr(
        "user_id", "cast(ts as timestamp) ts", "value"
    ).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(
        "user_id string, ts timestamp, value double"
    ).parquet(str(src))

    clamped = ss.sessionize(stream, gap_seconds=300)
    plan = clamped._jdf.queryExecution().analyzed().toString()
    # watermark delay renders as -T<ms>ms on the event-time column
    assert "-T300000ms" in plan and "-T600000ms" not in plan

    kept = ss.sessionize(stream, gap_seconds=300,
                         late_threshold="2 minutes")
    plan2 = kept._jdf.queryExecution().analyzed().toString()
    assert "-T120000ms" in plan2

    # parser sanity
    assert ss._duration_seconds("10 minutes") == 600.0
    assert ss._duration_seconds("1 hour") == 3600.0
    # compound CalendarInterval specs — Spark's own grammar accepts
    # these, so the clamp parser must too (ADVICE r6 regression)
    assert ss._duration_seconds("1 hour 30 minutes") == 5400.0
    assert ss._duration_seconds("interval 2 minutes 15 seconds") == 135.0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        ss._duration_seconds("ten minutes")
    with _pytest.raises(ValueError):
        ss._duration_seconds("1 hour 30")  # dangling quantity
