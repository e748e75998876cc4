"""dataprof_spark benchmark runner.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One Python process drives one
``local[nproc]`` Spark session in a closed loop: one client, one op at
a time, and an output check after every op. Set-up runs ``SETUPS``
times: the first launches the JVM and runs the workload's preparation
(dedup's phase 1), the others stop the Spark context and start a fresh
one in the same JVM. Each set-up ends with one untimed warm-up op, the
first op of its context, and ``setup_s`` is the median of the set-ups'
CPU seconds.
The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; metric names and units come
from ``BENCHMARK.json``.

``--trace 0`` reports the end-to-end metrics. Times are CPU seconds the
machine spends while an op or a set-up runs (read from /proc/stat, so
Spark's JVM threads, the Python workers and the driver all count, and
time stolen by the hypervisor does not): ``op_cpu_s`` per op and
``setup_s`` per set-up. Wall times of both are printed and recorded too;
on a shared host, neighbour load moves wall time about twice as much as
CPU time. ``--trace 1`` reports the
per-layer metrics: the session runs with Spark's event log on, timed ops
alternate between traced (layer spans, jobs tagged with their span) and
untraced, the workload's trace-only layer probes run after them, and
the event log's task and SQL metrics are attributed to the spans. The
lines above the JSON name every reported metric with its unit; the full
record (spans included) goes to ``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from perfbench.host import busy_seconds  # noqa: E402

C_START = busy_seconds()
WORK = os.path.join(ROOT, "perfbench", ".work")
DRIVER_MEM = "2g"
# set-ups per run; setup_s is their median
SETUPS = 2
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
# accounted share of an op's wall time the traced run accepts
ACCOUNTED_TOLERANCE = 0.1


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def start_spark(n: int, extra: dict):
    from dataprof_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -Xms{DRIVER_MEM} -XX:CompileThresholdScaling=0.05",
        **extra,
    }
    return get_spark(app_name="perfbench", master=f"local[{n}]",
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end its JVM and wait until every process this
    one started has exited."""
    from pyspark import SparkContext

    from perfbench import host

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while len(host.descendants(os.getpid())) > 1:
        if time.monotonic() > deadline:
            for pid in host.descendants(os.getpid())[1:]:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.1)


class Loop:
    """Closed-loop ops with an output check after each. Timed ops are
    counted in `attempted`/`failed`; warm-up ops are not."""

    def __init__(self, wl, tr, run_dir):
        from perfbench.trace import Tracer

        self.wl, self.tr, self.run_dir = wl, tr, run_dir
        self.off = Tracer(enabled=False)
        self.spark = None
        self.times: list[float] = []   # untraced timed ops, seconds
        self.cpu: list[float] = []     # their CPU seconds
        self.traced: list[float] = []  # traced timed ops, seconds
        self.out_bytes: list[int] = []
        self.ops: list = []  # (op span, seconds, output bytes) per traced op
        self.last_span = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def one(self, op_id: str, timed: bool = True,
            traced: bool = False) -> float | None:
        """Run, check and clean up one op; its seconds, or None if it
        raised. The time is taken outside the op's span."""
        tr = self.tr if traced else self.off
        out = os.path.join(self.run_dir, op_id)
        res = dt = span = None
        try:
            c0, t0 = busy_seconds(), time.perf_counter()
            with tr.span("op", op=op_id) as span:
                res = self.wl.op(self.spark, tr, out)
            dt = time.perf_counter() - t0
            cpu = busy_seconds() - c0
            problems = self.wl.check(res)
        except Exception as e:  # an op that raises is a failed op
            problems = [f"{type(e).__name__}: {e}"]
        self.problems += [f"{op_id}: {p}" for p in problems]
        self.last_span = span
        if timed:
            self.attempted += 1
            self.failed += bool(problems)
        if res is not None:
            nbytes = self.wl.out_bytes(res)
            self.wl.cleanup(res)
            if timed:
                (self.traced if traced else self.times).append(dt)
                if not traced:
                    self.cpu.append(cpu)
                self.out_bytes.append(nbytes)
                if traced:
                    self.ops.append((span, dt, nbytes))
        return dt

    def run(self, seconds: float, alternate: bool = False) -> None:
        """Timed ops until their total time reaches `seconds`; with
        `alternate`, every other op is traced (at least one of each)."""
        spent, i = 0.0, 0
        while spent < seconds or (alternate and i < 2):
            traced = alternate and i % 2 == 0
            dt = self.one(f"{'traced' if traced else 'op'}{i}", traced=traced)
            if dt is None:
                break
            spent += dt
            i += 1


def set_up(wl, n, run_dir, loop, conf, excluded_s, excluded_cpu):
    """`SETUPS` set-ups, each a session and one warm-up op. The first
    counts from process start (less the `excluded_s` of corpus and
    reference building), launches the JVM and runs the workload's
    preparation, which later contexts reuse; each later one stops the
    Spark context and starts a fresh one in the same JVM. Returns
    (session, lists of each set-up's CPU seconds and of its wall seconds:
    in all, for the session, the preparation and the warm-up op); the
    last warm-up op is traced when the loop's tracer is on."""
    parts = {k: [] for k in ("setup_s", "setup_wall_s", "session_s",
                             "prepare_s", "warmup_s")}
    for i in range(SETUPS):
        t0 = T_START + excluded_s if i == 0 else time.perf_counter()
        c0 = C_START + excluded_cpu if i == 0 else busy_seconds()
        t1 = time.perf_counter()
        spark = start_spark(n, conf)
        t2 = time.perf_counter()
        loop.spark = spark
        if i == 0:
            wl.prepare(spark, loop.off, run_dir)
        t3 = time.perf_counter()
        last = i == SETUPS - 1
        if last:
            loop.tr.bind(spark)
        loop.one(f"warmup{i}", timed=False, traced=last and loop.tr.enabled)
        t4 = time.perf_counter()
        for k, v in zip(parts, (busy_seconds() - c0, t4 - t0, t2 - t1,
                                t3 - t2, t4 - t3)):
            parts[k].append(v)
        if not last:
            spark.stop()
    return spark, parts


def quartiles(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"n": len(xs), "median": statistics.median(xs), "q1": q[0],
            "q3": q[2], "max": max(xs), "all": xs}


def layer_report(wl, tr, log, loop, warm_span) -> dict:
    """Per-layer metrics: per traced op, then the median over ops. Each
    span name below the op also gets its self time, `self.<name>_s`."""
    from perfbench.trace import covered, engine_totals, median_of

    per_op = []
    for span, wall, nbytes in loop.ops:
        below = [s for s in tr.spans if s.op == span.op and s is not span]
        m = engine_totals([s for s in log.stages.values() if s.op == span.op])
        m["spark.jobs"] = sum(j["op"] == span.op for j in log.jobs.values())
        m["driver_other_s"] = span.dur - covered(
            (c.start, c.end) for c in tr.children(span)
        )
        for s in below:
            key = f"self.{s.name}_s"
            m[key] = m.get(key, 0.0) + tr.self_time(s)
        m["layers.self_s"] = sum(tr.self_time(s) for s in below)
        # span clock (inside the op span) against the loop's clock,
        # taken outside it
        m["trace.accounted_ratio"] = (
            m["layers.self_s"] + m["driver_other_s"]
        ) / wall
        if abs(m["trace.accounted_ratio"] - 1) > ACCOUNTED_TOLERANCE:
            loop.problems.append(
                f"{span.op}: layer self times + driver_other_s are "
                f"{m['trace.accounted_ratio']:.3f} of the op's wall time"
            )
        m.update(wl.layer_metrics(tr, log, span, nbytes))
        per_op.append(m)
    out = median_of(per_op)
    out.update(wl.warmup_metrics(log, warm_span))
    # traced and untraced ops alternate in one session, event log on
    out["trace.op_s"] = statistics.median(loop.traced)
    out["trace.untraced_op_s"] = statistics.median(loop.times)
    out["trace.overhead_s"] = out["trace.op_s"] - out["trace.untraced_op_s"]
    return out


def print_report(record: dict, units: dict) -> None:
    w = record["window"]
    print(f"# {record['workload']} seed={record['seed']} "
          f"docs={record['n_docs']} nproc={record['nproc']} "
          f"loadavg={w['loadavg_1m_before']:.2f}->{w['loadavg_1m_after']:.2f} "
          f"steal={w['steal_pct']:.2f}%")
    for key in ("op_s", "op_cpu_s", "traced_op_s", "setup_wall_s",
                "setup_s"):
        if key in record:
            s = record[key]
            print(f"# {key} n={s['n']} median={s['median']:.4f} "
                  f"q1={s['q1']:.4f} q3={s['q3']:.4f} max={s['max']:.4f} s")
    print(f"# failed_ops {record['failed_ops']:.6g} ratio "
          f"(of {record['attempted']} timed ops)")
    for p in record["problems"]:
        print(f"# check failed: {p}")
    for k in sorted(record["metrics"]):
        print(f"{k} {record['metrics'][k]:.6g} {units[k]}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        import dataprof_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        fail(f"cannot import the program under {ROOT}: {e}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench import host
    from perfbench.trace import Tracer, parse_event_log
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    n = host.nproc()
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(n))
    if cpus != str(n):
        fail(f"SPARK_GRAFT_CPUS={cpus} but nproc is {n}")
    if host.live_spark_jvms():
        fail(f"a Spark session is already live: pids {host.live_spark_jvms()}")

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    ev_dir = os.path.join(run_dir, "eventlog")
    for d in (ev_dir, os.path.join(WORK, "tmp"), os.path.join(WORK, "results")):
        os.makedirs(d, exist_ok=True)
    # Python workers import the program from the checkout; Spark's
    # scratch space stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM (launcher and driver) would otherwise keep a perf-data
    # file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # a bounded driver heap: the host's memory is shared, and an 8g heap
    # grows (and its peak wanders) with GC ergonomics, not with the op
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM

    wl = WORKLOADS[args.workload]()
    t0, c0 = time.perf_counter(), busy_seconds()
    wl.inputs(os.path.join(WORK, "cache"), args.seed, n_files=2 * n,
              traced=bool(args.trace))
    excluded_s = time.perf_counter() - t0  # corpus + reference build
    excluded_cpu = busy_seconds() - c0

    tr = Tracer(enabled=bool(args.trace))
    loop = Loop(wl, tr, run_dir)
    conf = {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + ev_dir} \
        if args.trace else {}
    metrics: dict = {}
    with host.Window() as window:
        spark, setups = set_up(wl, n, run_dir, loop, conf, excluded_s,
                               excluded_cpu)
        warm_span = loop.last_span
        if args.trace:
            app_id = spark.sparkContext.applicationId
            loop.run(args.seconds, alternate=True)
            probes = wl.probes(spark, tr) if loop.ops else {}
            stop_spark(spark)
            loop.problems += [f"probe: {p}" for p in wl.probe_problems]
            if loop.ops and loop.times:
                log = parse_event_log(os.path.join(ev_dir, app_id))
                metrics = layer_report(wl, tr, log, loop, warm_span)
                metrics.update(probes)
                metrics.update(wl.probe_metrics(tr, log))
                metrics["session.get_spark_s"] = statistics.median(
                    setups["session_s"]
                )
        else:
            with host.RssSampler() as rss:
                loop.run(args.seconds)
            stop_spark(spark)
            if loop.times:
                metrics = {
                    "op_cpu_s": statistics.median(loop.cpu),
                    "setup_s": statistics.median(setups["setup_s"]),
                    "peak_rss_mb": rss.peak / 2**20,
                    "out_bytes_per_doc":
                        statistics.median(loop.out_bytes) / wl.n_docs,
                }
    shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.trace and metrics:
        # a layer the workload never calls did no work in it
        for m in wanted:
            if m["name"].startswith(wl.idle_layers):
                metrics.setdefault(m["name"], 0.0)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if metrics:
        loop.problems += [f"metric {k} not measured" for k in missing]
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": n, "n_docs": wl.n_docs,
        "window": window.as_dict(), "metrics": metrics,
        "attempted": loop.attempted,
        "failed_ops": loop.failed / max(loop.attempted, 1),
        "setups": setups,
        "setup_s": quartiles(setups["setup_s"]),
        "setup_wall_s": quartiles(setups["setup_wall_s"]),
        "problems": loop.problems,
    }
    if loop.times:
        record["op_s"] = quartiles(loop.times)
        record["op_cpu_s"] = quartiles(loop.cpu)
    if loop.traced:
        record["traced_op_s"] = quartiles(loop.traced)
        record["spans"] = tr.dump()
    name = f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(record, f, indent=1)
    units = {m["name"]: m["unit"] for m in wanted}
    record["metrics"] = {k: v for k, v in metrics.items() if k in units}
    print_report(record, units)

    print(json.dumps({
        "correct": bool(metrics) and not loop.problems and not missing,
        "attempted": max(loop.attempted, 1),
        "failed": loop.failed if loop.attempted else 1,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in wanted if m["name"] in metrics
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
