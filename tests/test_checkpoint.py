"""Resume-without-recompute contract (BASELINE.md resumability row):
kill mid-run → resume → final tables byte-identical to a clean run."""

from __future__ import annotations

import glob
import hashlib

from dataprof_spark.pipeline import checkpoint, fixtures

ROWS = fixtures.generate_pages(n=300)


def _table_hash(spark, out_dir) -> str:
    df = checkpoint.read_decisions(spark, out_dir).orderBy("url")
    h = hashlib.sha256()
    for r in df.collect():
        h.update(repr((r["url"], r["keep"], r["drop_reason"],
                       r["scrubbed_text"])).encode())
    return h.hexdigest()


def test_kill_and_resume_byte_identical(spark, tmp_path):
    pages = fixtures.pages_df(spark, ROWS)
    clean_dir, killed_dir = str(tmp_path / "clean"), str(tmp_path / "killed")

    checkpoint.run(pages, clean_dir, run_id="clean", n_buckets=4)

    # simulate a kill after 2 of 4 partitions
    first = checkpoint.run(
        pages, killed_dir, run_id="r1", n_buckets=4, max_partitions=2
    )
    assert len(first) == 2
    assert checkpoint.done_partitions(killed_dir) == {0, 1}

    # resume: only the remaining partitions run
    second = checkpoint.run(pages, killed_dir, run_id="r2", n_buckets=4)
    assert sorted(r["partition_id"] for r in second) == [2, 3]

    assert _table_hash(spark, clean_dir) == _table_hash(spark, killed_dir)


def test_resume_is_noop_when_done(spark, tmp_path):
    pages = fixtures.pages_df(spark, ROWS)
    out = str(tmp_path / "full")
    checkpoint.run(pages, out, n_buckets=3)
    assert checkpoint.run(pages, out, n_buckets=3) == []


import itertools

_PROBE_SEQ = itertools.count()


def _n_jobs(spark, fn) -> int:
    """Spark jobs triggered by fn(), via job-group tracking."""
    sc = spark.sparkContext
    group = f"ckpt-count-{next(_PROBE_SEQ)}"
    sc.setJobGroup(group, "job-count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_input_scanned_once_job_count_independent_of_buckets(
    spark, tmp_path
):
    """VERDICT r1 #1: the old loop ran one job per bucket (64 input
    scans at the CLI default). The rewrite is ONE write job + a
    constant number of counter aggregations over the written output —
    so the Spark job count must not grow with n_buckets."""
    pages = fixtures.pages_df(spark, ROWS)
    jobs4 = _n_jobs(
        spark,
        lambda: checkpoint.run(pages, str(tmp_path / "b4"), n_buckets=4),
    )
    jobs16 = _n_jobs(
        spark,
        lambda: checkpoint.run(pages, str(tmp_path / "b16"), n_buckets=16),
    )
    assert jobs4 == jobs16, (jobs4, jobs16)
    assert jobs16 <= 12  # write + counters (+ AQE bookkeeping), not 16+

    # same decisions either way
    assert _table_hash(spark, str(tmp_path / "b4")) == _table_hash(
        spark, str(tmp_path / "b16")
    )


def test_bucket_count_mismatch_fails_fast(spark, tmp_path):
    """ADVICE r1: resuming under a different hash space must refuse,
    not silently mix partitionings (missing + duplicated documents)."""
    import pytest

    pages = fixtures.pages_df(spark, ROWS)
    out = str(tmp_path / "mix")
    checkpoint.run(pages, out, n_buckets=4, max_partitions=2)
    with pytest.raises(checkpoint.BucketCountMismatch):
        checkpoint.run(pages, out, n_buckets=8)
    # the original bucket count still resumes fine
    rows = checkpoint.run(pages, out, n_buckets=4)
    assert sorted(r["partition_id"] for r in rows) == [2, 3]


def test_metrics_lineage(spark, tmp_path):
    pages = fixtures.pages_df(spark, ROWS)
    out = str(tmp_path / "m")
    rows = checkpoint.run(pages, out, run_id="rm", n_buckets=3)
    assert sum(r["docs_in"] for r in rows) == len(ROWS)
    assert all(r["status"] == "done" for r in rows)
    assert all(r["wall_ms"] > 0 for r in rows)
    # drop-reason histogram sums to docs_in - docs_out
    for r in rows:
        assert sum(r["drop_reason_counts"].values()) == (
            r["docs_in"] - r["docs_out"]
        )
    metrics = checkpoint.read_metrics(spark, out)
    assert metrics.count() == 3
    # partition files exist per bucket
    assert len(glob.glob(f"{out}/decisions/part_key=*")) == 3


def test_input_fingerprint_mismatch_fails_fast(spark, tmp_path):
    """ADVICE r1: manifests carry an input identity — resuming a
    partially-done output dir against a DIFFERENT file-backed input
    refuses instead of mixing datasets."""
    import pytest

    a = fixtures.pages_df(spark, ROWS)
    dir_a, dir_b = str(tmp_path / "in_a"), str(tmp_path / "in_b")
    a.write.parquet(dir_a)
    fixtures.pages_df(spark, fixtures.generate_pages(n=100)).write.parquet(
        dir_b
    )
    out = str(tmp_path / "out")
    checkpoint.run(
        spark.read.parquet(dir_a), out, n_buckets=4, max_partitions=2
    )
    with pytest.raises(checkpoint.InputMismatch):
        checkpoint.run(spark.read.parquet(dir_b), out, n_buckets=4)
    # the matching input still resumes
    rows = checkpoint.run(spark.read.parquet(dir_a), out, n_buckets=4)
    assert sorted(r["partition_id"] for r in rows) == [2, 3]
    # in-memory inputs have no stable identity -> no false refusal
    out2 = str(tmp_path / "out2")
    checkpoint.run(a, out2, n_buckets=3, max_partitions=1)
    assert len(checkpoint.run(a, out2, n_buckets=3)) == 2


def test_decisions_read_is_partition_pruned(spark, tmp_path):
    """The partitionBy layout must pay off on the READ side: filtering
    on part_key prunes to one directory (PartitionFilters in the scan,
    not a full-table read)."""
    pages = fixtures.pages_df(spark, ROWS)
    out = str(tmp_path / "pruned")
    checkpoint.run(pages, out, n_buckets=4)
    df = checkpoint.read_decisions(spark, out).filter("part_key = 2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part_key" in plan.replace(
        "#", ""
    ) or "PartitionFilters: [" in plan and "part_key" in plan
    # and the row count matches exactly that bucket's manifest
    rows = {r["partition_id"]: r for r in checkpoint._read_manifests(out)}
    assert df.count() == rows[2]["docs_in"]


def test_compact_preserves_content(spark, tmp_path):
    """Compaction rewrites partition dirs into fewer files with
    byte-identical logical content (the Iceberg rewrite_data_files
    twin for long-running resumable ingest)."""
    import glob

    pages = fixtures.pages_df(spark, ROWS)
    out = str(tmp_path / "cmp")
    # several resume attempts → several files per partition dir
    checkpoint.run(pages, out, n_buckets=2, max_partitions=1)
    checkpoint.run(pages, out, n_buckets=2)
    before_hash = _table_hash(spark, out)
    checkpoint.compact(spark, out, target_records_per_file=10_000)
    files = glob.glob(f"{out}/decisions/part_key=*/*.parquet")
    assert len(files) == 2  # one compacted file per partition
    assert _table_hash(spark, out) == before_hash


def _files_in_order(out_dir) -> list[list[tuple]]:
    """(drop_reason, url) of each decisions file's rows, in file order;
    asserts each file's rows follow the table's write order."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{out_dir}/decisions/part_key=*/*.parquet"))
    assert files
    out = []
    for f in files:
        t = pq.read_table(f, columns=["drop_reason", "url"])
        rows = list(zip(t["drop_reason"].to_pylist(), t["url"].to_pylist()))
        # drop_reason NULLS FIRST (kept rows lead), then url
        assert rows == sorted(
            rows, key=lambda r: (r[0] is not None, r[0] or "", r[1])
        ), f
        out.append(rows)
    return out


def test_files_are_written_in_drop_reason_url_order(spark, tmp_path):
    """Every file that checkpoint.run writes, across a kill and a
    resume, and every file compact rewrites has its rows sorted by
    (drop_reason NULLS FIRST, url)."""
    pages = fixtures.pages_df(spark, ROWS)
    out = str(tmp_path / "order")
    checkpoint.run(pages, out, n_buckets=4, max_partitions=2)
    checkpoint.run(pages, out, n_buckets=4)
    files = _files_in_order(out)
    assert len(files) == 4
    # each file holds kept rows and more than one drop reason, so the
    # order is not trivially met
    assert all(len({r[0] for r in rows}) > 2 for rows in files)
    before = _table_hash(spark, out)
    # ~75 rows per partition at 30 per file: several files each
    checkpoint.compact(spark, out, target_records_per_file=30)
    assert len(_files_in_order(out)) > 4
    assert _table_hash(spark, out) == before


def test_at_most_one_mixed_keep_row_group_per_file(spark, tmp_path):
    """With small row groups, the write order leaves at most one row
    group per file whose `keep` statistics mix true and false: the
    kept rows lead and then only dropped rows follow, so a reader
    filtering on `keep` skips the other row groups by their stats."""
    import pyarrow.parquet as pq

    def check(out):
        files = glob.glob(f"{out}/decisions/part_key=*/*.parquet")
        assert files
        for f in files:
            md = pq.ParquetFile(f).metadata
            keep = md.schema.names.index("keep")
            stats = [
                md.row_group(g).column(keep).statistics
                for g in range(md.num_row_groups)
            ]
            assert len(stats) > 3, (f, len(stats))
            assert all(s.has_min_max for s in stats)
            assert sum(s.min != s.max for s in stats) <= 1, f

    # 4 KiB row groups, their size checked every 4 rows. Parquet
    # 1.16 (Spark 4.1) reads that bound from the page-size key; later
    # releases read the block-size key.
    small = {
        "parquet.block.size": "4096",
        "parquet.block.size.row.check.min": "4",
        "parquet.page.size.row.check.min": "4",
    }
    saved = {k: spark.conf.get(k, None) for k in small}
    for k, v in small.items():
        spark.conf.set(k, v)
    try:
        out = str(tmp_path / "rowgroups")
        checkpoint.run(fixtures.pages_df(spark, ROWS), out, n_buckets=2)
        check(out)
        checkpoint.compact(spark, out, target_records_per_file=10_000)
        check(out)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_compact_sizes_files_from_manifests(spark, tmp_path):
    """compact sizes its files from the manifests' docs_in, so the
    only jobs it runs are its rewrite's. Sizing by scans instead
    (select("part_key").distinct().count() and count()) ran 5 more
    jobs on this table under AQE: 8 in all, against 3 now."""
    pages = fixtures.pages_df(spark, ROWS)
    out = str(tmp_path / "cmp_jobs")
    checkpoint.run(pages, out, n_buckets=2, max_partitions=1)
    checkpoint.run(pages, out, n_buckets=2)
    jobs = _n_jobs(
        spark,
        lambda: checkpoint.compact(spark, out, target_records_per_file=60),
    )
    assert jobs <= 3, jobs
    # ~150 rows per partition at 60 per file
    files = glob.glob(f"{out}/decisions/part_key=*/*.parquet")
    assert len(files) >= 6, len(files)


def test_empty_input_writes_zero_count_manifests(spark, tmp_path):
    """An empty input (e.g. an empty day-partition of the crawl) must
    complete and mark every bucket done with zero counts — not die on
    UNABLE_TO_INFER_SCHEMA reading back a file-less output (r5
    review) — so retries don't spin forever."""
    import pyspark.sql.functions as F

    pages = fixtures.pages_df(spark, n=64).filter(F.lit(False))
    rows = checkpoint.run(pages, str(tmp_path / "empty"), n_buckets=4)
    assert len(rows) == 4
    assert all(r["status"] == "done" for r in rows)
    assert all(r["docs_in"] == 0 and r["docs_out"] == 0 for r in rows)
    # resume is a no-op: everything already done
    assert checkpoint.run(pages, str(tmp_path / "empty"), n_buckets=4) == []


def _old_counter_queries(written) -> dict[int, dict]:
    """The manifest counters as three separate aggregations (count and
    sum(keep); the drop-reason histogram; the exploded scrub sums) —
    the definition manifest_counters must reproduce in one pass."""
    import pyspark.sql.functions as F

    out = {
        int(r["part_key"]): {
            "docs_in": r["docs_in"], "docs_out": r["docs_out"],
            "drop_reason_counts": {}, "scrub_counts": {},
        }
        for r in written.groupBy("part_key").agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(F.col("keep").cast("long")).alias("docs_out"),
        ).collect()
    }
    for r in (
        written.filter(~F.col("keep"))
        .groupBy("part_key", "drop_reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        out[int(r["part_key"])]["drop_reason_counts"][r["drop_reason"]] = (
            r["n"]
        )
    for r in (
        written.select("part_key", F.explode("scrub_counts").alias("k", "v"))
        .groupBy("part_key", "k")
        .agg(F.sum("v").alias("n"))
        .collect()
    ):
        out[int(r["part_key"])]["scrub_counts"][r["k"]] = r["n"]
    return out


def test_manifest_counters_equal_the_three_old_queries(spark, tmp_path):
    """The one-pass manifest counters equal the three aggregations
    they replace, recomputed over the written decisions."""
    pages = fixtures.pages_df(spark, ROWS)
    out = str(tmp_path / "counters")
    rows = checkpoint.run(pages, out, n_buckets=4)
    want = _old_counter_queries(checkpoint.read_decisions(spark, out))
    got = {
        r["partition_id"]: {
            k: r[k] for k in (
                "docs_in", "docs_out", "drop_reason_counts", "scrub_counts",
            )
        }
        for r in rows
    }
    assert got == want
    # the fixture exercises every counter: drops, and PII scrubs
    assert any(v["drop_reason_counts"] for v in got.values())
    assert sum(v["scrub_counts"]["email"] for v in got.values()) > 0


def test_manifest_counters_all_null_scrub_key_is_none(spark):
    """SUM over only-NULL values is NULL: a scrub key whose values are
    all NULL in a partition counts None, as the exploded sum did, and
    a key with some values sums the non-NULL ones."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("part_key", T.LongType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("drop_reason", T.StringType()),
        T.StructField(
            "scrub_counts", T.MapType(T.StringType(), T.IntegerType())
        ),
    ])

    def counts(email, phone):
        return {"email": email, "phone": phone, "ip": None, "blocklist": 0}

    df = spark.createDataFrame(
        [
            (0, True, None, counts(1, None)),
            (0, False, "too_short", counts(None, None)),
            (0, False, "too_short", counts(2, None)),
            (1, False, "lang_mismatch", counts(None, 3)),
        ],
        schema,
    )
    got = checkpoint.manifest_counters(df)
    assert got == _old_counter_queries(df)
    assert got[0]["scrub_counts"] == {
        "email": 3, "phone": None, "ip": None, "blocklist": 0,
    }
    assert got[1]["docs_out"] == 0
