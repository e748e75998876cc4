"""Side captures that the repo benchmark (perfbench/) does not take.

Subcommands:
  plans OUTDIR     capture .explain("formatted") for every headline
                   query and pipeline_decisions into OUTDIR/<query>.txt
  buckets          embedding-LSH bucket occupancy at each SF (guard
                   default derivation evidence)

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as bench.py.
"""

from __future__ import annotations

import json
import os
import sys

from bench import CPUS, HEADLINE, SF_DIR


def _spark():
    from dataprof_spark.session import get_spark

    return get_spark(app_name="bench_extra", master=f"local[{CPUS}]")


def cmd_plans(outdir: str) -> None:
    from dataprof_spark import queries as q
    import __spark_entry__ as entry_mod

    os.makedirs(outdir, exist_ok=True)
    spark = _spark()
    reg = q.registry()
    frames = {name: reg[name][0](spark, SF_DIR) for name in HEADLINE}
    frames["pipeline_decisions"] = entry_mod._pipeline_decisions(
        spark, SF_DIR
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name, df in frames.items():
        with open(f"{outdir}/{name}.txt", "w") as f:
            f.write(df._jdf.queryExecution().explainString(mode))
    spark.stop()
    print(f"wrote plans to {outdir}/*.txt")


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
    args = sys.argv[1:]
    if args[:1] == ["plans"] and len(args) == 2:
        cmd_plans(args[1])
    elif args == ["buckets"]:
        cmd_buckets()
    else:
        raise SystemExit("usage: bench_extra.py plans OUTDIR | buckets")
