"""Per-partition checkpoint / resume / lineage (FIXTURES.md A3).

Recasts the reference's ExecutionMetadata + stop-condition provenance
(/root/reference/crates/dataprof-core/src/execution.rs:19-62,
stop_condition.rs:14-117) into the thing that actually matters at
100 TB: a killed run must resume with ZERO recompute of completed
partitions and produce byte-identical final tables.

Mechanism (Iceberg-shaped, parquet-backed in this sandbox):
- the input is bucketed by a deterministic partition key;
- ALL pending partitions are processed in ONE Spark job:
  ``write.partitionBy("part_key")`` with dynamic partition overwrite
  (the parquet twin of Iceberg's overwrite-by-partition) — the input
  is scanned exactly once per resume attempt, never once per bucket;
- per-partition manifest counters (docs in/out, drop-reason histogram,
  scrub counts) come from ONE column-pruned, partition-pruned
  aggregation over the freshly WRITTEN output — not from re-scanning
  the input;
- a manifest row (JSON file per partition — the sandbox twin of an
  Iceberg snapshot/metrics table) records the counters plus the
  n_buckets the run was hashed with; resume fails fast if re-invoked
  with a different bucket count (silently mixing hash spaces would
  duplicate/lose documents);
- resume() lists partitions with no ``done`` manifest and reprocesses
  only those. Safe because decisions are pure per-document functions
  (core/gates.py) and every writer sorts rows by one write order,
  ``WRITE_ORDER`` — a retried partition rewrites identical bytes.

``run`` is the one writer of decisions and their counters: the gated
stream (streaming/metrics.py) calls it once per micro-batch.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataprof_spark.core.scrub import SCRUB_ORDER
from dataprof_spark.operators import gates

N_BUCKETS_DEFAULT = 8

# The decisions table's write order (the twin of an Iceberg table sort
# order), used by every writer of the table: checkpoint.run, compact
# and the phase-2 write in pipeline/run.py. Ascending sorts put NULL
# first, so within a partition the kept rows (drop_reason NULL) come
# first and then each drop reason's rows, each group ordered by url.
# Rows with the same gate outcome compress better side by side, and a
# reader filtering on `keep` can skip whole row groups by their stats.
WRITE_ORDER = ("part_key", "drop_reason", "url")


class BucketCountMismatch(ValueError):
    """Resume attempted with a different n_buckets than the manifests."""


class InputMismatch(ValueError):
    """Resume attempted against a different input than the manifests
    were written from — completed partitions would silently describe
    the wrong data."""


def input_fingerprint(df: DataFrame) -> str | None:
    """Identity of a file-backed input: sha256 over the sorted file
    list (None for in-memory DataFrames — nothing stable to hash)."""
    import hashlib

    try:
        files = sorted(df.inputFiles())
    except Exception:
        return None
    if not files:
        return None
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def with_part_key(df: DataFrame, n_buckets: int = N_BUCKETS_DEFAULT,
                  url_col: str = "url") -> DataFrame:
    """Deterministic partition key: xxhash64(url) mod n_buckets.

    Hash-bucketing (not domain) so heavy-domain skew cannot produce a
    straggler partition — the salting strategy from SURVEY.md §7.1
    step 7. On a real Iceberg table this is `bucket(N, url)` hidden
    partitioning composed with days(warc_ts).
    """
    return df.withColumn(
        "part_key", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets))
    )


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _manifest_path(out_dir: str, part_key: int) -> str:
    return os.path.join(_manifest_dir(out_dir), f"part_{part_key}.json")


def _read_manifests(out_dir: str) -> list[dict]:
    mdir = _manifest_dir(out_dir)
    if not os.path.isdir(mdir):
        return []
    rows = []
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                rows.append(json.load(f))
    return rows


def done_partitions(out_dir: str, n_buckets: int | None = None) -> set[int]:
    """Partition ids with a `done` manifest.

    When ``n_buckets`` is given, fail fast if any existing manifest was
    written under a different bucket count — partitions "done" under a
    different hash space are NOT done under this one.
    """
    done = set()
    for row in _read_manifests(out_dir):
        prev = row.get("n_buckets")
        if n_buckets is not None and prev is not None and prev != n_buckets:
            raise BucketCountMismatch(
                f"manifests in {out_dir} were written with n_buckets={prev}, "
                f"but this run requested n_buckets={n_buckets}; resuming "
                "across hash spaces would duplicate/lose documents. Use the "
                "original bucket count or a fresh output dir."
            )
        if row.get("status") == "done":
            done.add(int(row["partition_id"]))
    return done


def _write_manifest(out_dir: str, row: dict) -> None:
    os.makedirs(_manifest_dir(out_dir), exist_ok=True)
    path = _manifest_path(out_dir, row["partition_id"])
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(row, f)
    os.replace(tmp, path)  # atomic commit


def manifest_counters(written: DataFrame) -> dict[int, dict]:
    """Per-``part_key`` manifest counters of a decisions table in ONE
    aggregation: ``docs_in``, ``docs_out``, ``drop_reason_counts`` and
    ``scrub_counts``.

    Grouping by (part_key, drop_reason) gives the drop-reason
    histogram directly; ``docs_in`` is the groups' total count and
    ``docs_out`` the NULL-reason group's count (``keep`` is
    ``drop_reason IS NULL`` by construction). Each scrub key is summed
    per group and the groups' sums are added on the driver; as with
    SQL SUM, a key whose values are all NULL gives None."""
    out: dict[int, dict] = {}
    for r in (
        written.groupBy("part_key", "drop_reason")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *(F.sum(F.col("scrub_counts")[k]).alias(k) for k in SCRUB_ORDER),
        )
        .collect()
    ):
        c = out.setdefault(int(r["part_key"]), {
            "docs_in": 0, "docs_out": 0, "drop_reason_counts": {},
            "scrub_counts": dict.fromkeys(SCRUB_ORDER),
        })
        c["docs_in"] += r["n"]
        if r["drop_reason"] is None:
            c["docs_out"] += r["n"]
        else:
            c["drop_reason_counts"][r["drop_reason"]] = r["n"]
        sums = c["scrub_counts"]
        for k in SCRUB_ORDER:
            if r[k] is not None:
                sums[k] = (sums[k] or 0) + r[k]
    return out


def run(
    pages: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    n_buckets: int = N_BUCKETS_DEFAULT,
    ts_col: str | None = "warc_ts",
    max_partitions: int | None = None,
) -> list[dict]:
    """Process all not-yet-done partitions in ONE write job; returns
    the new manifest rows.

    The input is scanned exactly once regardless of how many
    partitions are pending (VERDICT r1 #1 — the old per-bucket loop
    amplified a 100 TB scan 64×). ``max_partitions`` processes only
    the first K pending partitions — used by tests to simulate a
    killed run mid-way; it narrows the single job's filter, it does
    not add jobs.

    Each partition is one file with its rows in ``WRITE_ORDER``. A
    manifest row's ``bytes_in`` is the size of the parquet files
    written for its partition: compressed bytes (zstd, see
    session.get_spark), not the input's bytes.
    """
    t0 = time.perf_counter()
    run_id = run_id or uuid.uuid4().hex[:12]
    fp = input_fingerprint(pages)
    for prev_row in _read_manifests(out_dir):
        prev_fp = prev_row.get("input_fingerprint")
        if fp is not None and prev_fp is not None and prev_fp != fp:
            raise InputMismatch(
                f"manifests in {out_dir} were written from input "
                f"{prev_fp}, but this run reads {fp}; partitions "
                "marked done would describe different data. Use a "
                "fresh output dir for a new input."
            )
        break  # fingerprint is run-level; one row suffices
    done = done_partitions(out_dir, n_buckets=n_buckets)
    pending = [k for k in range(n_buckets) if k not in done]
    if max_partitions is not None:
        pending = pending[:max_partitions]
    if not pending:
        return []

    keyed = with_part_key(pages, n_buckets)
    if done or max_partitions is not None:
        keyed = keyed.filter(F.col("part_key").isin(pending))
    decisions = gates.decide(keyed, ts_col=ts_col, keep_cols=("part_key",))

    # ONE write job: hash-repartition on part_key so each bucket is a
    # single task → a single deterministic file per partition dir;
    # sorting by WRITE_ORDER gives byte-identical content on retry.
    # Dynamic partition overwrite = Iceberg overwrite-by-partition:
    # only the pending part_key dirs are replaced, done ones untouched.
    dest = os.path.join(out_dir, "decisions")
    (
        decisions.repartition(len(pending), "part_key")
        .sortWithinPartitions(*WRITE_ORDER)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_key")
        .parquet(dest)
    )

    # Manifest counters: ONE aggregation over the freshly written
    # output (partition-pruned to pending buckets) — never a re-scan
    # of the input, never a per-bucket job loop.
    spark = pages.sparkSession
    # explicit schema: an EMPTY input writes no parquet files at all
    # (only _SUCCESS), and schema inference over that dir raises
    # UNABLE_TO_INFER_SCHEMA — the run must instead proceed to write
    # zero-count 'done' manifests so retries don't spin forever
    written = (
        spark.read.schema(decisions.schema).parquet(dest).filter(
            F.col("part_key").isin(pending)
        )
    )
    counters = manifest_counters(written)

    wall_ms = int((time.perf_counter() - t0) * 1000)
    rows = []
    for k in pending:
        pdir = os.path.join(dest, f"part_key={k}")
        bytes_in = (
            sum(
                os.path.getsize(os.path.join(pdir, f))
                for f in os.listdir(pdir)
                if f.endswith(".parquet")
            )
            if os.path.isdir(pdir)
            else 0
        )
        row = {
            "run_id": run_id,
            "partition_id": k,
            "n_buckets": n_buckets,
            "input_fingerprint": fp,
            **counters.get(k, {
                "docs_in": 0, "docs_out": 0,
                "drop_reason_counts": {}, "scrub_counts": {},
            }),
            "bytes_in": bytes_in,
            # run-level wall clock recorded on every row (the single
            # job processes all pending partitions together)
            "wall_ms": max(wall_ms, 1),
            "status": "done",
        }
        _write_manifest(out_dir, row)
        rows.append(row)
    return rows


def read_decisions(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "decisions"))


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """The run_metrics lineage table (FIXTURES.md A3) from manifests."""
    rows = [json.dumps(r) for r in _read_manifests(out_dir)]
    return spark.read.json(spark.sparkContext.parallelize(rows))


def compact(
    spark: SparkSession,
    out_dir: str,
    target_records_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction for the decisions table (the Iceberg
    `rewrite_data_files` twin): rewrite each part_key directory into
    about ceil(rows / target) files, each sorted by ``WRITE_ORDER`` as
    checkpoint.run writes them. Long-running ingest accumulates one
    file per resume attempt per partition; compaction restores
    large-scan-friendly file sizes. Files are sized from the
    manifests' ``docs_in``, so the table is read ONCE, by the
    dynamic-overwrite write itself; manifests are untouched (counts
    are unchanged by construction). Returns files after."""
    import glob as _glob

    dest = os.path.join(out_dir, "decisions")
    docs = [r["docs_in"] for r in _read_manifests(out_dir) if r["docs_in"]]
    n_parts = max(1, len(docs))
    per_part = max(1, sum(docs) // n_parts)
    files_per_part = max(1, -(-per_part // target_records_per_file))
    # hash-repartition BY part_key ALONE put each bucket's every row
    # into ONE task no matter how many partitions were requested (the
    # old n_parts*files_per_part multiplier was dead — a 100 GB
    # bucket compacted in one straggler task while the extra
    # partitions sat empty). A deterministic per-url slot splits each
    # bucket across ~files_per_part tasks of ~target rows each;
    # partitionBy still routes rows to their part_key dir, and
    # maxRecordsPerFile does the file sizing.
    (
        spark.read.parquet(dest)
        .withColumn(
            "__slot",
            F.pmod(F.xxhash64("url"), F.lit(files_per_part)),
        )
        .repartition(n_parts * files_per_part, "part_key", "__slot")
        .sortWithinPartitions(*WRITE_ORDER)
        .drop("__slot")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", target_records_per_file)
        .partitionBy("part_key")
        .parquet(dest)
    )
    return len(_glob.glob(os.path.join(dest, "part_key=*", "*.parquet")))
