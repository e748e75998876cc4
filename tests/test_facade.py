"""Top-level profile(source) facade — the reference's main entry
point (dp.profile, __init__.py:987-1260): source-type dispatch,
fail-fast NotFound, reject-unknown-format, truncation provenance,
quality attachment, and the JSON save/load round trip."""

from __future__ import annotations

import pandas as pd
import pytest

import dataprof_spark as dp

SF_DIR = "/root/testdata/sf0.001"


def test_parquet_path(spark):
    rep = dp.profile(f"{SF_DIR}/orders.parquet", spark=spark)
    assert rep.execution["format"] == "parquet"
    assert rep.execution["columns_detected"] == len(rep.columns) > 0
    assert rep.quality is not None
    assert rep.execution["rows_processed"] == 1500


def test_csv_path_autodetect(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_bytes("a;b\n1;x\n2;y\n".encode())
    rep = dp.profile(str(p), spark=spark)
    assert rep.execution["format"] == "csv"
    assert rep.execution["sep"] == ";"  # delimiter autodetected
    assert {c["name"] for c in rep.columns} == {"a", "b"}


def test_jsonl_path(spark, tmp_path):
    p = tmp_path / "t.jsonl"
    p.write_text('{"a": 1}\n{"a": 2}\n')
    rep = dp.profile(str(p), spark=spark, quality=False)
    assert rep.execution["format"] == "json"
    assert rep.quality is None
    assert rep.execution["rows_processed"] == 2


def test_pandas_arrow_records_dict(spark):
    pdf = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    for src in (
        pdf,
        pdf.to_dict("records"),
        {"x": [1, 2, 3], "y": ["a", "b", "c"]},
    ):
        rep = dp.profile(src, spark=spark, quality=False)
        assert rep.execution["rows_processed"] == 3
    import pyarrow as pa

    rep = dp.profile(pa.Table.from_pandas(pdf), spark=spark, quality=False)
    assert rep.execution["rows_processed"] == 3


def test_not_found_fails_fast(spark):
    with pytest.raises(FileNotFoundError):
        dp.profile("/no/such/file.csv", spark=spark)


def test_unknown_extension_rejected_not_ignored(spark, tmp_path):
    p = tmp_path / "data.xyz"
    p.write_text("a,b\n1,2\n")
    with pytest.raises(ValueError, match="unsupported source extension"):
        dp.profile(str(p), spark=spark)
    # explicit override works (the reference's format= escape hatch)
    rep = dp.profile(str(p), spark=spark, format="csv", quality=False)
    assert rep.execution["rows_processed"] == 1


def test_max_rows_truncation_provenance(spark):
    rep = dp.profile(
        f"{SF_DIR}/orders.parquet", spark=spark, max_rows=100,
        quality=False,
    )
    assert rep.execution["rows_processed"] == 100
    assert rep.execution["truncated"] is True
    assert rep.execution["truncation_reason"] == "max_rows(100)"


def test_max_rows_equal_to_source_is_not_truncation(spark):
    """A cap that exactly equals the source row count reads every row
    — claiming truncation there is a false positive (the facade used
    to infer it from total >= max_rows; now apply_row_cap reads
    max_rows+1 and only reports truncation when the extra row
    exists)."""
    import dataprof_spark.facade as facade

    df = spark.range(100).toDF("v")
    rep = facade.profile(df, spark=spark, max_rows=100, quality=False)
    assert rep.execution["rows_processed"] == 100
    assert rep.execution["truncated"] is False
    assert rep.execution["truncation_reason"] is None


def test_profile_to_arrow(spark, tmp_path):
    """Reference analyze_csv_to_arrow/analyze_parquet_to_arrow parity:
    a CSV read through the robust reader and a parquet source come
    back as pyarrow Tables through ``readers.to_arrow`` (S11)."""
    import pyarrow as pa

    from dataprof_spark.sources import readers

    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n3,\n")
    tbl = readers.to_arrow(readers.read_csv_robust(spark, str(p)).df)
    assert isinstance(tbl, pa.Table)
    assert tbl.num_rows == 3
    assert tbl.column_names == ["a", "b"]

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    tbl2 = readers.to_arrow(orders)
    assert tbl2.num_rows == orders.count() > 0
    assert tbl2.column_names == orders.columns


def test_report_exports_work_end_to_end(spark, tmp_path):
    rep = dp.profile(f"{SF_DIR}/orders.parquet", spark=spark)
    p = str(tmp_path / "r.json")
    rep.save(p)
    from dataprof_spark.sources.report import ProfileReport

    loaded = ProfileReport.load(p)
    assert loaded.source == "orders.parquet"
    assert [c["name"] for c in loaded.columns] == [
        c["name"] for c in rep.columns
    ]
