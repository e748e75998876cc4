"""Round-8 profiling harness — SEPARATE from the frozen bench.py.

Subcommands:
  plans [outdir]   capture .explain("formatted") for every headline
                   query into plans/r08/<query>_<tag>.txt
  probe            noop-sink micro-timings isolating scan vs compute
                   for the headline queries (guide §1.4)
  buckets          embedding-LSH bucket occupancy at each SF (guard
                   default derivation evidence)

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

from bench import CPUS, HEADLINE, SF_DIR

TAG = os.environ.get("PLAN_TAG", "before")


def _spark():
    from dataprof_spark.session import get_spark

    return get_spark(app_name="bench_extra", master=f"local[{CPUS}]")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _time(df, trials=5):
    import statistics

    _noop(df)
    runs = []
    for _ in range(trials):
        t0 = time.perf_counter()
        _noop(df)
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 3), round(min(runs), 3)


def cmd_plans(outdir: str = "plans/r08") -> None:
    from dataprof_spark import queries as q
    import __spark_entry__ as entry_mod

    os.makedirs(outdir, exist_ok=True)
    spark = _spark()
    reg = q.registry()
    for name in HEADLINE:
        df = reg[name][0](spark, SF_DIR)
        p = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(f"{outdir}/{name}_{TAG}.txt", "w") as f:
            f.write(p)
    df = entry_mod._pipeline_decisions(spark, SF_DIR)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    with open(f"{outdir}/pipeline_decisions_{TAG}.txt", "w") as f:
        f.write(p)
    spark.stop()
    print(f"wrote plans to {outdir}/*_{TAG}.txt")


def cmd_probe() -> None:
    """Isolate scan cost vs compute cost for the hot queries."""
    from pyspark.sql import functions as F

    spark = _spark()
    sc = spark.sparkContext
    out: dict[str, object] = {"sf": SF_DIR, "cpus": CPUS}

    def t(label, df, trials=5):
        sc.setJobDescription(label)
        med, mn = _time(df, trials)
        out[label] = med
        print(f"{label:46s} {med:7.3f}  (min {mn})", flush=True)
        sc.setJobDescription(None)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    t("lineitem_scan_all_cols", li)
    t("lineitem_scan_q1_cols", li.select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate"))
    t("lineitem_count_rows", li.groupBy().count())
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    t("events_scan", ev)
    t("events_hour_proj", ev.select(
        F.date_format(F.date_trunc("hour", F.col("ts")),
                      "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type", "value"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t("documents_scan", docs)
    from dataprof_spark.session import rebalance

    t("documents_rebalance_only", rebalance(docs))
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    t("orders_scan", orders)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    t("customer_scan", cust)
    # scan parallelism actually achieved
    out["lineitem_scan_tasks"] = li.rdd.getNumPartitions()
    out["events_scan_tasks"] = ev.rdd.getNumPartitions()
    out["orders_scan_tasks"] = orders.rdd.getNumPartitions()
    print(json.dumps(out))
    spark.stop()


def cmd_buckets() -> None:
    """Embedding-LSH bucket occupancy per SF (n_planes=6, the declared
    query's setting) — evidence for the guard's default cap."""
    from pyspark.sql import functions as F
    from dataprof_spark.operators import similarity

    spark = _spark()
    res = {}
    for sf in ("sf0.001", "sf0.01", "sf0.1", "sf1.0"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        if not os.path.exists(path):
            continue
        emb = spark.read.parquet(path)
        planes = similarity.hyperplanes(64, 6)
        b = emb.select(
            similarity._bucket(F.col("embedding"), planes).alias("bucket")
        ).groupBy("bucket").count()
        stats = b.agg(
            F.max("count").alias("mx"), F.avg("count").alias("avg"),
            F.count("*").alias("n_buckets")
        ).collect()[0]
        n = emb.count()
        res[sf] = {"n": n, "max_bucket": stats["mx"],
                   "avg_bucket": round(stats["avg"], 1),
                   "n_buckets": stats["n_buckets"]}
        print(sf, res[sf], flush=True)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "probe"
    if cmd == "plans":
        cmd_plans(*sys.argv[2:])
    elif cmd == "probe":
        cmd_probe()
    elif cmd == "buckets":
        cmd_buckets()
    else:
        raise SystemExit(f"unknown subcommand {cmd}")
