"""Report compare(): column drift and quality deltas between two
profile reports."""

from __future__ import annotations

from dataprof_spark.operators import profiler, quality
from dataprof_spark.sources import report


def test_report_compare(spark):
    a_df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    b_df = a_df.drop("o_orderpriority").withColumn(
        "new_col", a_df.o_totalprice * 0
    )
    rep_a = report.ProfileReport.from_profiles(
        "a", profiler.profile(a_df), quality.assess(a_df, "o_orderkey")
    )
    rep_b = report.ProfileReport.from_profiles(
        "b", profiler.profile(b_df), quality.assess(b_df, "o_orderkey")
    )
    diff = report.compare(rep_a, rep_b)
    assert diff["added_columns"] == ["new_col"]
    assert diff["removed_columns"] == ["o_orderpriority"]
    assert "o_orderkey" in diff["common_columns"]
    assert "overall_score" in diff["quality_deltas"]
