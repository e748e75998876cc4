"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra modes (each prints one JSON line):
  python bench.py --sf1           # the headline suite on a 10x
                                  # replica of sf0.1, plus profile and
                                  # assess tiers on the big tables
  python bench.py --dedup-scale   # exact + near demotion stages at
                                  # 8k/80k/800k docs, plan shape
                                  # checked (BENCH/DEDUP_SCALE.json)
"""

from __future__ import annotations

import json
import os
import sys
import time

from dataprof_spark.session import default_cpus

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "doc_textstats",
    "doc_gates",
    "doc_langid_stopword",
    "dedup_exact",
    "doc_pii_counts",
    "events_hourly",
]


def _consume(df) -> int:
    """Force FULL execution of every output column: the noop sink
    materializes the whole plan (a bare count() would let Catalyst
    prune computed columns and time a hollow plan)."""
    df.write.format("noop").mode("overwrite").save()
    return -1


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — objective record of
    hypervisor interference across a measured window. NOTE (r4/r5
    finding): steal does NOT see co-tenant DRAM-bandwidth pressure;
    the STREAM probe covers that axis."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(v) for v in parts[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return round(100.0 * (t1[0] - t0[0]) / max(1, t1[1] - t0[1]), 2)


def run_headline() -> dict:
    """Median-of-N timing per query (N = $BENCH_TRIALS, default 5),
    after a per-query warm-up execution. Single-shot timings on a
    shared host proved noisy (r3's pipeline_decisions artifact printed
    0.851 s vs r2's 0.531 with no code change on that path), so each
    query reports the median of its trials and discloses the per-query
    [min, max] spread, making residual host noise visible in the
    artifact."""
    import statistics

    from dataprof_spark import queries as q
    from dataprof_spark.session import get_spark

    n_trials = max(1, int(os.environ.get("BENCH_TRIALS", "5")))

    # ----- window self-certification (VERDICT r5 #1) -------------------
    # BENCH_r05's 14% "regression" was a uniform shift across queries
    # whose code had not changed, timestamped ~30 min after the round's
    # measured clean window closed. The artifact must carry enough
    # host-state evidence to certify (or indict) its own window, so:
    # a STREAM DRAM probe before and after the timed suite (the axis
    # /proc/stat steal cannot see), per-query steal%, and loadavg.
    # Probes run OUTSIDE the timed windows. BENCH_SKIP_PROBE=1 skips
    # them; on a host with fewer than 32 cores the probe reports
    # itself skipped.
    skip_probe = os.environ.get("BENCH_SKIP_PROBE", "0") == "1"
    load_pre = open("/proc/loadavg").read().split()[:3]
    probe_pre = {} if skip_probe else memory_bandwidth_probe(attempts=1)

    spark = get_spark(app_name="bench", master=f"local[{CPUS}]")
    reg = q.registry()
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    steal_q: dict[str, float] = {}

    def time_df(df) -> tuple[float, list[float], float]:
        _consume(df)  # per-query JIT / Python-worker warm-up
        runs = []
        s0 = _steal_ticks()
        for _ in range(n_trials):
            t0 = time.perf_counter()
            _consume(df)
            runs.append(time.perf_counter() - t0)
        s1 = _steal_ticks()
        med = statistics.median(runs)
        return med, [round(min(runs), 3), round(max(runs), 3)], \
            _steal_pct(s0, s1)

    # warm the JVM + parquet footers once
    _consume(reg["q1_pricing_summary"][0](spark, SF_DIR))
    suite_s0 = _steal_ticks()
    suite_t0 = time.time()
    for name in HEADLINE:
        fn, _sql = reg[name]
        med, mm, stl = time_df(fn(spark, SF_DIR))
        timings[name] = round(med, 3)
        spread[name] = mm
        steal_q[name] = stl
    # full pipeline (UDF stages), reported as its own entry
    import __spark_entry__ as entry_mod

    pipe_df = entry_mod._pipeline_decisions(spark, SF_DIR)
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    pipe_s, pipe_mm, pipe_stl = time_df(pipe_df)
    timings["pipeline_decisions"] = round(pipe_s, 3)
    spread["pipeline_decisions"] = pipe_mm
    steal_q["pipeline_decisions"] = pipe_stl
    suite_s1 = _steal_ticks()
    spark.stop()
    # settle before the post-probe: JVM/py4j teardown threads linger
    # briefly after stop() and depress the probe's 1-group phase
    # (observed 7-8 GB/s prints right after stop vs ~78 settled)
    time.sleep(8)
    probe_post = {} if skip_probe else memory_bandwidth_probe(attempts=1)
    load_post = open("/proc/loadavg").read().split()[:3]

    total = round(sum(timings.values()), 3)
    sf = 0.1 if "sf0.1" in SF_DIR else SF_DIR
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "docs_per_sec": round(n_docs / pipe_s, 1) if pipe_s else None,
        "cpus": CPUS,
        "protocol": f"median of {n_trials} timed runs per query "
                    "after 1 warm-up run",
        "spread_min_max": spread,
        "window": {
            "steal_pct_suite": _steal_pct(suite_s0, suite_s1),
            "steal_pct_per_query": steal_q,
            "suite_wall_sec": round(time.time() - suite_t0, 1),
            "loadavg_pre": load_pre,
            "loadavg_post": load_post,
            "stream_probe_pre": probe_pre,
            "stream_probe_post": probe_post,
            "at_unix": round(time.time(), 1),
            "note": (
                "probes run outside the timed windows; a pre/post "
                "bw_scaling_eff far below ~0.4 or bw_1group far below "
                "~70 GB/s marks a co-tenant-loaded window (r4/r5 "
                "attribution data) — steal% alone cannot certify"
            ),
        },
    }
    return result


def ensure_sf1(base_sf: str = "/root/testdata/sf0.1") -> str:
    """Deterministic sf1-scale fixture: 10 key-offset replicas of the
    sf0.1 tables (dims nation/region kept as-is), written once to the
    gitignored bench cache. Keys are offset by replica*10^9 so join
    relationships survive replication; text/payload columns repeat,
    which is fine for throughput benchmarking (and realistic for
    dedup: web corpora are full of exact repeats)."""
    from pyspark.sql import functions as F

    from dataprof_spark.session import get_spark

    dest = os.path.join(BENCH_CACHE, "sf1")
    marker = os.path.join(dest, "_DONE")
    if os.path.exists(marker):
        return dest
    os.makedirs(dest, exist_ok=True)
    spark = get_spark(app_name="make_sf1", master=f"local[{CPUS}]")
    OFF = 10 ** 9
    key_cols = {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "customer": ["c_custkey"],
        "supplier": [],   # suppliers are shared dims in the fixture
        "part": [],
        "documents": ["doc_id"],
        "events": ["event_id", "user_id"],
        "embeddings": ["vec_id"],
        "nation": None,   # constants: copy once
        "region": None,
    }
    for table, keys in key_cols.items():
        src = spark.read.parquet(f"{base_sf}/{table}.parquet")
        if keys is None or not keys:
            out = src
        else:
            parts = []
            for i in range(10):
                rep = src
                for k in keys:
                    rep = rep.withColumn(k, F.col(k) + F.lit(i * OFF))
                parts.append(rep)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        out.coalesce(8).write.mode("overwrite").parquet(
            os.path.join(dest, f"{table}.parquet")
        )
    spark.stop()
    open(marker, "w").close()
    return dest


BENCH_DOCS = int(os.environ.get("BENCH_DOCS", "80000"))
BENCH_CACHE = os.path.join(os.path.dirname(__file__), ".bench_cache")
BENCH_FILES = 64  # parquet files → natural input-split parallelism


def ensure_bench_corpus(with_dups: bool = False) -> str:
    """Deterministic fixture corpus at bench scale (FIXTURES.md A1,
    ~100k docs), written once as 64 parquet files so Spark gets
    file-granular input splits without a repartition shuffle.
    with_dups appends 5% exact + 3% near duplicate copies (dedup-scale
    bench: demotion stages must be timed on non-empty loser sets)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    suffix = "_dup" if with_dups else ""
    dest = os.path.join(BENCH_CACHE, f"pages_{BENCH_DOCS}{suffix}")
    marker = os.path.join(dest, "_DONE")
    if os.path.exists(marker):
        return dest
    from dataprof_spark.pipeline import fixtures

    os.makedirs(dest, exist_ok=True)
    rows = fixtures.generate_pages(n=BENCH_DOCS, seed=42)
    if with_dups:
        rows = fixtures.inject_duplicates(rows, seed=42)
    per_file = (len(rows) + BENCH_FILES - 1) // BENCH_FILES
    for i in range(BENCH_FILES):
        chunk = rows[i * per_file : (i + 1) * per_file]
        if not chunk:
            break
        table = pa.table(
            {
                "url": [r["url"] for r in chunk],
                "warc_ts": pa.array(
                    [r["warc_ts"] for r in chunk],
                    type=pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.array([r["html"] for r in chunk], type=pa.binary()),
                "text": [r["text"] for r in chunk],
                "lang": [r["lang"] for r in chunk],
            }
        )
        pq.write_table(table, os.path.join(dest, f"part_{i:03d}.parquet"))
    open(marker, "w").close()
    return dest


# STREAM-add kernel (a = b + c, 24 bytes/element) per pinned group:
# 8 processes × 128 MiB arrays — far beyond LLC, so the measured rate
# is DRAM bandwidth. Pool workers allocate in an initializer, signal
# ready, and all groups measure inside one barrier-released window.
_BW_WORKER = r"""
import os, sys, time
import numpy as np
import multiprocessing as mp

bdir = sys.argv[1]
N = 1 << 24
ITERS = 10
_g = {}

def _init():
    rng = np.random.default_rng(0)
    _g["b"] = rng.random(N)
    _g["c"] = rng.random(N)
    _g["a"] = np.empty(N)

def _measure(_):
    b, c, a = _g["b"], _g["c"], _g["a"]
    t0 = time.perf_counter()
    for _i in range(ITERS):
        np.add(b, c, out=a)
    return time.perf_counter() - t0

if __name__ == "__main__":
    with mp.Pool(8, initializer=_init) as p:
        p.map(_measure, range(8))  # warm-up; also joins all inits
        open(os.path.join(bdir, f"ready_{os.getpid()}"), "w").close()
        go = os.path.join(bdir, "go")
        deadline = time.time() + 120
        while not os.path.exists(go):
            if time.time() > deadline:
                sys.exit(3)  # parent died / never released the barrier
            time.sleep(0.02)
        t0 = time.perf_counter()
        p.map(_measure, range(8))
        wall = time.perf_counter() - t0
    total_gb = 8 * ITERS * 24 * N / 1e9
    print(total_gb / wall)
"""


def memory_bandwidth_probe(attempts: int = 2) -> dict:
    """Independent hardware probe for the shared-DRAM ceiling claim:
    a STREAM-style add kernel (pure numpy, no Spark/JVM/pipeline code)
    at 1 vs 4 pinned 8-core groups. If aggregate bandwidth at 4 groups
    is < 4× the 1-group bandwidth, the box's memory subsystem itself
    cannot weak-scale at 1.0 — a bound that applies to ANY
    memory-touching workload on this VM and that real cluster
    executors on separate hosts do not share. Best of 2 attempts
    (conservative: overstates the hardware, so never inflates the
    pipeline's normalized number)."""
    import subprocess
    import tempfile

    core_sets = ["0-7", "8-15", "16-23", "24-31"]
    # the pinned groups assume cores 0-31 exist and the 4-group phase
    # allocates ~12 GiB of numpy arrays — refuse cleanly rather than
    # hang on a smaller host (ADVICE r4)
    if (os.cpu_count() or 0) < 32:
        return {
            "skipped": f"needs >=32 CPUs for pinned groups, "
                       f"host has {os.cpu_count()}",
        }

    def phase(groups):
        bdir = tempfile.mkdtemp(prefix="bwprobe_")
        procs = [
            subprocess.Popen(
                ["taskset", "-c", c, sys.executable, "-c", _BW_WORKER, bdir],
                stdout=subprocess.PIPE, text=True,
            )
            for c in groups
        ]
        # bounded wait with child-liveness checks: a dead worker (bad
        # taskset mask, OOM) must fail the probe, not hang it
        deadline = time.time() + 120
        while (
            len([f for f in os.listdir(bdir) if f.startswith("ready")])
            < len(procs)
        ):
            dead = [p for p in procs if p.poll() not in (None, 0)]
            if dead or time.time() > deadline:
                for p in procs:
                    p.kill()
                why = (
                    f"worker exited rc={dead[0].returncode}" if dead
                    else "readiness deadline (120s) passed"
                )
                raise RuntimeError(f"bandwidth probe failed: {why}")
            time.sleep(0.05)
        open(os.path.join(bdir, "go"), "w").close()
        try:
            return sum(
                float(
                    p.communicate(timeout=300)[0].strip().splitlines()[-1]
                )
                for p in procs
            )
        except Exception:
            # a stalled/garbled worker must not leave the other pinned
            # STREAM processes saturating DRAM into the NEXT measured
            # window (contamination steal_pct cannot see)
            for p in procs:
                if p.poll() is None:
                    p.kill()
                    try:
                        p.communicate(timeout=10)
                    except Exception:
                        pass
            raise

    def attempt():
        bw1 = phase(["0-7"])
        bw4 = phase(core_sets)
        return bw1, bw4, (bw4 / bw1) / 4

    try:
        tries = [attempt() for _ in range(attempts)]
    except (RuntimeError, subprocess.TimeoutExpired, ValueError) as e:
        return {"skipped": f"probe error: {e}"}
    bw1, bw4, eff = max(tries, key=lambda t: t[2])
    return {
        "bw_1group_gbs": round(bw1, 1),
        "bw_4group_gbs": round(bw4, 1),
        "bw_scaling_eff": round(min(eff, 1.0), 3),
        "kernel": "STREAM add (numpy, 8 procs x 128MiB arrays/group, "
                  f"best of {attempts} attempt(s))",
    }


def run_sf1() -> dict:
    """Headline bench at sf1 (10× the per-round sf0.1 scale): verifies
    the plans survive a 10× scale-up — exact percentile() paths stay
    viable, docs/sec holds — and exercises the approx-percentile tier
    on the big table with its provenance flag (VERDICT r2 #9)."""
    global SF_DIR
    sf1_dir = ensure_sf1()
    old = SF_DIR
    SF_DIR = sf1_dir
    try:
        result = run_headline()
        result["metric"] = "headline_queries_total_sf1"
        result["sf"] = 1
        # approx-percentile tier at scale: assess() on the 6M-row
        # lineitem with use_approx_percentiles=True must set the
        # provenance flag (the exact tier is the default and is
        # covered by the headline run's outlier query)
        from dataprof_spark.operators import profiler
        from dataprof_spark.session import get_spark

        spark = get_spark(app_name="bench_sf1_approx",
                          master=f"local[{CPUS}]")
        t0 = time.perf_counter()
        profs = profiler.profile(
            spark.read.parquet(f"{sf1_dir}/lineitem.parquet"),
            use_approx_percentiles=True,
        )
        result["profile_lineitem_approx_sec"] = round(
            time.perf_counter() - t0, 3
        )
        result["approx_provenance_flagged"] = any(
            p.stats.get("quartiles_approximate") for p in profs
        )
        # assess() on sf1 orders — the quality_report_orders shape —
        # at the exact parity tier
        from dataprof_spark.operators import quality

        orders = spark.read.parquet(f"{sf1_dir}/orders.parquet")
        t0 = time.perf_counter()
        quality.assess(
            orders, key_col="o_orderkey", with_validity=True
        )
        result["assess_orders_parity_sec"] = round(
            time.perf_counter() - t0, 3
        )
        spark.stop()
    finally:
        SF_DIR = old
    return result


def run_dedup_scale() -> dict:
    """VERDICT r4 #2: scale evidence for the corpus-wide demotion
    stages. Times mark_exact_duplicates and mark_near_duplicates over
    decisions tables at TWO corpus sizes (8k and the 80k bench corpus
    — 10x), full materialization via the noop sink, and captures the
    executed plan of each stage: the contract is ZERO Window nodes
    (the r3 NULL-fingerprint straggler stays dead) and the bounded
    exchange budget (fingerprint shuffle over kept rows + AQE-sized
    join back). Writes BENCH/DEDUP_SCALE.json."""
    import statistics

    from dataprof_spark.operators import gates
    from dataprof_spark.pipeline import dedup_stage
    from dataprof_spark.session import get_spark

    spark = get_spark(
        app_name="bench_dedup_scale", master=f"local[{CPUS}]"
    )
    out = {"metric": "dedup_demotion_scale", "cpus": CPUS, "scales": {}}
    # r6 (VERDICT r5 #3): third scale point at 800k docs (~864k rows
    # with planted dups) — the 100 TB claim wants a TREND, not two
    # points: exact stays fixed-overhead-dominated, near holds
    # wall-ratio ≲ doc-ratio.
    scales = tuple(
        int(s) for s in os.environ.get(
            "BENCH_DEDUP_SCALES", "8000,80000,800000"
        ).split(",")
    )
    for n in scales:
        dec_dir = os.path.join(BENCH_CACHE, f"decisions_{n}_dup")
        marker = os.path.join(dec_dir, "_DONE")
        if not os.path.exists(marker):
            # one-time: phase-1 decisions for an n-doc corpus, so the
            # timings below isolate the DEMOTION stages from the UDF.
            # with_dups: 5% exact + 3% near copies planted so the
            # demotion joins carry real losers, not empty sets.
            global BENCH_DOCS
            saved = BENCH_DOCS
            BENCH_DOCS = n
            try:
                src_dir = ensure_bench_corpus(with_dups=True)
            finally:
                BENCH_DOCS = saved
            pages = spark.read.parquet(src_dir)
            gates.decide(pages).write.mode("overwrite").parquet(dec_dir)
            open(marker, "w").close()
        decisions = spark.read.parquet(dec_dir)
        n_rows = decisions.count()
        row: dict = {"n_docs": n_rows}
        for stage_name, fn in (
            ("mark_exact_duplicates", dedup_stage.mark_exact_duplicates),
            ("mark_near_duplicates", dedup_stage.mark_near_duplicates),
        ):
            # end-to-end per run: plan build INCLUDING the r5
            # candidate-materialization job (persist+count inside
            # ngram_jaccard_pairs) + full demotion write, cache
            # cleared between runs so nothing rides a prior run.
            def job():
                d = fn(decisions)
                d.write.format("noop").mode("overwrite").save()
                return d

            spark.catalog.clearCache()
            df = job()  # warm-up
            times = []
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = job()
                times.append(time.perf_counter() - t0)
            plan = (
                df._jdf.queryExecution().executedPlan().toString()
            )
            demoted = df.filter(
                ~F_col("keep")
                & F_col("drop_reason").isin(
                    "exact_duplicate", "near_duplicate"
                )
            ).count()
            row[stage_name] = {
                "wall_sec": round(statistics.median(times), 3),
                "runs": [round(t, 3) for t in times],
                "demoted": demoted,
                "window_nodes": plan.count("Window"),
                "exchange_nodes": plan.count("Exchange"),
            }
            assert row[stage_name]["window_nodes"] == 0, (
                "demotion plan regressed to a Window"
            )
            assert demoted > 0, (
                f"{stage_name}: corpus carried no duplicates — the "
                "timing would measure an empty demotion"
            )
        out["scales"][str(n_rows)] = row
    spark.stop()
    s = out["scales"]
    if len(s) >= 2:
        ordered = sorted(s.items(), key=lambda kv: int(kv[0]))
        out["scaleup_note"] = {}
        for st in ("mark_exact_duplicates", "mark_near_duplicates"):
            segs = {}
            for (ak, a), (bk, b) in zip(ordered, ordered[1:]):
                ratio = int(bk) / int(ak)
                segs[
                    f"wall_ratio_{ak}_to_{bk}_docs_"
                    f"({ratio:.0f}x)"
                ] = round(b[st]["wall_sec"] / a[st]["wall_sec"], 2)
            out["scaleup_note"][st] = segs
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/DEDUP_SCALE.json", "w") as f:
        json.dump(out, f, indent=1)
    return out


def F_col(name):
    from pyspark.sql import functions as F

    return F.col(name)

if __name__ == "__main__":
    if "--dedup-scale" in sys.argv:
        print(json.dumps(run_dedup_scale()))
    elif "--sf1" in sys.argv:
        print(json.dumps(run_sf1()))
    else:
        print(json.dumps(run_headline()))
