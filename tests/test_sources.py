"""Sources & sinks: delimiter and encoding autodetect,
permissive/strict policy, versioned report save/load."""

from __future__ import annotations

import pytest

from dataprof_spark.operators import profiler, quality
from dataprof_spark.sources import readers, report


def test_detect_delimiter(tmp_path):
    cases = {
        ",": "a,b,c\n1,2,3\n4,5,6\n",
        ";": "a;b;c\n1;2;3\n4;5;6\n",
        "|": "a|b|c\n1|2|3\n",
        "\t": "a\tb\tc\n1\t2\t3\n",
    }
    for want, content in cases.items():
        p = tmp_path / f"d{ord(want)}.csv"
        p.write_text(content)
        assert readers.detect_delimiter(str(p)) == want


def test_detect_encoding(tmp_path):
    p_utf8 = tmp_path / "a.csv"
    p_utf8.write_bytes("col\ncafé\n".encode("utf-8"))
    assert readers.detect_encoding(str(p_utf8)) == "UTF-8"

    p_latin = tmp_path / "b.csv"
    p_latin.write_bytes("col\ncaf\xe9\n".encode("latin-1"))
    assert readers.detect_encoding(str(p_latin)) == "ISO-8859-1"

    p_16 = tmp_path / "c.csv"
    p_16.write_bytes(b"\xff\xfe" + "col\nx\n".encode("utf-16-le"))
    assert readers.detect_encoding(str(p_16)) == "UTF-16LE"

    p_bom = tmp_path / "d.csv"
    p_bom.write_bytes(b"\xef\xbb\xbf" + "col\nx\n".encode("utf-8"))
    assert readers.detect_encoding(str(p_bom)) == "UTF-8"


def test_read_csv_latin1_autodetected(spark, tmp_path):
    p = tmp_path / "latin.csv"
    p.write_bytes("name;city\nRenée;Orléans\n".encode("latin-1"))
    res = readers.read_csv_robust(spark, str(p), encoding=None)
    row = res.df.collect()[0]
    assert row["name"] == "Renée" and row["city"] == "Orléans"
    assert res.options["encoding"] == "ISO-8859-1"


def test_csv_permissive_ragged_pad_truncate(spark, tmp_path):
    """Ragged rows are recovered by pad/truncate — the reference's P7
    normalization (incremental.rs:184-192), which Spark PERMISSIVE
    implements natively: short rows pad with NULL, long rows drop the
    trailing extras."""
    p = tmp_path / "ragged.csv"
    p.write_text("a,b,c\n1,2,3\n4,5\n6,7,8,9\n10,11,12\n")
    res = readers.read_csv_robust(spark, str(p))
    rows = {tuple(r) for r in res.df.collect()}
    assert (4, 5, None) in rows      # padded
    assert (6, 7, 8) in rows         # truncated
    assert res.df.count() == 4
    assert res.options["sep"] == ","


def test_csv_strict_raises(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\nx\n")
    res = readers.read_csv_robust(spark, str(p), strict=True)
    # FAILFAST surfaces on materialization
    import py4j

    with pytest.raises(Exception):
        res.df.collect()


def test_jsonl_skip_policy(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    p.write_text('{"a": 1}\nnot json at all\n{"a": 3}\n')
    res = readers.read_jsonl(spark, str(p))
    assert res.df.count() == 2
    assert res.corrupt_count == 1


def test_robust_readers_never_cache(spark, tmp_path):
    """VERDICT r1 #2: counting corrupt rows must not .cache() the
    input (caching a 100 TB source to derive one count). The corrupt
    count is now a lazy, cache-free aggregate: no InMemoryRelation in
    either the clean-rows plan or the count path, and counts match."""
    c = tmp_path / "ragged.csv"
    c.write_text("a,b,c\n1,2,3\nonly_one_field_and_no_commas_at_all\n4,5,6\n")
    j = tmp_path / "data.jsonl"
    j.write_text('{"a": 1}\nnope\n{"a": 3}\n{"a": 4}\n')

    res_c = readers.read_csv_robust(spark, str(c))
    res_j = readers.read_jsonl(spark, str(j))
    for res in (res_c, res_j):
        plan = res.df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan
        assert "InMemoryRelation" not in plan
    assert res_j.corrupt_count == 1
    assert res_j.df.count() == 3
    # CSV PERMISSIVE pads/truncates ragged rows, so a single-field line
    # is recovered (not corrupt) — corrupt stays 0 and rows survive
    assert res_c.corrupt_count == 0
    assert res_c.df.count() == 3
    # lazy count is memoized: second access is free and identical
    assert res_j.corrupt_count == 1


def test_report_roundtrip_and_version_gate(spark, tmp_path):
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    profs = profiler.profile(df)
    qrep = quality.assess(df, key_col="o_orderkey")
    rep = report.ProfileReport.from_profiles(
        "orders", profs, qrep, execution={"rows": df.count()},
        patterns_scanned=True,
    )
    path = str(tmp_path / "report.json")
    rep.save(path)
    loaded = report.ProfileReport.load(path)
    assert loaded.source == "orders"
    assert len(loaded.columns) == len(profs)
    assert loaded.quality["overall_score"] == pytest.approx(
        rep.quality["overall_score"]
    )
    # newer schema version is refused, not misread
    import json

    raw = json.load(open(path))
    raw["schema_version"] = 99
    json.dump(raw, open(path, "w"))
    with pytest.raises(ValueError, match="newer"):
        report.ProfileReport.load(path)


def test_remote_fs_uri_scheme_path(spark):
    """S7: the remote-FS path goes through Hadoop's FileSystem URI
    plumbing. No network exists in the sandbox, so exercise the same
    code path with the file:// scheme — scheme parsing, FS resolution,
    and globbing are identical machinery to s3a://hdfs:// reads."""
    uri = "file:///root/testdata/sf0.001/orders.parquet"
    df = spark.read.parquet(uri)
    assert df.count() > 0
    assert "o_orderkey" in df.columns
    # and with a glob through the same FS layer
    dfg = spark.read.parquet("file:///root/testdata/sf0.001/orders*.parquet")
    assert dfg.count() == df.count()
