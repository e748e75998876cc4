"""SparkSession factory with scale-appropriate defaults.

Local-mode sizing for the sandbox; on a real cluster the same builder
is used with master/memory supplied by spark-submit. AQE is on so
skewed shuffles are re-planned at runtime; Arrow is on so every pandas
UDF moves data in columnar batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> str:
    """Local-mode core count: $SPARK_GRAFT_CPUS if set, else the number
    of cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )


def get_spark(
    app_name: str = "dataprof_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cpus()
    # Under spark-submit the driver connects to the launcher's JVM
    # gateway (PythonRunner exports PYSPARK_GATEWAY_PORT): master and
    # sizing then come from the submit line / cluster defaults, and
    # forcing local[N] here would silently turn `spark-submit
    # --master yarn` into a single-node run. Only default them for
    # plain-python embedding (tests, bench, notebooks).
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submitted:
        master = f"local[{cpus}]"
    if shuffle_partitions is None and not submitted:
        shuffle_partitions = (
            int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))
        )
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r8 (guide §3.1/§9): let the planner pick shuffled-hash over
        # sort-merge when its size conditions hold (skips two sorts),
        # and let AQE rewrite SMJ→SHJ at runtime when every post-
        # shuffle partition is under 128m — scale-independent: at
        # 100 TB partitions are sized by AQE's advisory target and a
        # 128m build side per task fits executor memory comfortably.
        # Measured sf1.0: q5 1.33→1.20 s, q3/q1 unchanged-or-better.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "128m",
        )
        # Spark's generated-class cache is an LRU of 100 entries. One
        # dedup phase-2 op (exact → near → write) cycles through ~115
        # distinct generated classes, so the LRU missed on almost
        # every class: Janino recompiled 74-88 classes per op in
        # steady state and the JIT then compiled that bytecode again.
        # At 1000, repeat ops compile 0 (a few AQE plan variants
        # compile once), and a whole traced benchmark run compiles
        # ~350 classes (dedup) / ~150 (backfill), well under the cap.
        # Static conf: set once per JVM, so it lives in the builder.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # zstd is Iceberg's default data-file codec since 1.4
        # (write.parquet.compression-codec); Spark's default is
        # snappy, which compresses scrubbed_text poorly. Level 9 is
        # the twin of Iceberg's write.parquet.compression-level.
        # Every product write goes through a session built here, so
        # these two lines set codec and level for all of them.
        # Backfill decisions of 10k seeded pages, Spark's writer, 4
        # vCPU, write CPU the median of 11 warm writes:
        #   row order        zstd level  B/doc   write CPU
        #   url              3           126.56  1.76 s
        #   drop_reason,url  3           121.46  1.67 s
        #   url              9           118.34  -
        #   drop_reason,url  6           116.55  1.98 s
        #   drop_reason,url  9           113.36  2.16 s
        # (row order: checkpoint.WRITE_ORDER within a part_key.)
        # Level 12 reaches 107 B/doc at about 2x level 3's write CPU.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "9")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def rebalance(df, key: str | None = None):
    """Repartition ONLY when the source yielded fewer input splits
    than the cluster has slots (single small parquet files in the
    sandbox). At real scale (100 TB → thousands of splits) the
    condition is false and this is a no-op — the scan parallelism
    comes from the splits themselves.

    r8: when the caller names a high-cardinality ``key`` column, the
    exchange HASH-partitions on it instead of round-robin. Round-robin
    first pays a local sort of every input partition
    (sortBeforeRepartition, on since SPARK-23207, so retried tasks
    reproduce the same row placement — guide §2.5); a deterministic
    hash key needs no such sort AND is retry-safe by construction.
    Measured sf1.0 documents (50k rows, one input split): scan 0.084 s,
    round-robin rebalance 0.228 s, hash-on-doc_id rebalance ~0.17 s.
    When no key is given (heterogeneous callers), round-robin stays."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # inputFiles() is footer metadata only — no RDD conversion (the
    # old df.rdd.getNumPartitions() materialized the RDD lineage on
    # every pipeline entry, VERDICT r1 wrong-#7). A multi-split file
    # can only under-split when the file count is below the slot
    # count, which is exactly the tiny-sandbox case this targets.
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < target:
        if key is not None and key in df.columns:
            from pyspark.sql import functions as F

            return df.repartition(target, F.col(key))
        return df.repartition(target)
    return df
