"""ProfileReport exports: tabular hand-off (pandas/Arrow/polars) and
HTML, plus save() dispatch by file extension."""

from __future__ import annotations


def test_tabular_exports_round_trip(spark):
    """Reference to_dataframe/to_polars/to_arrow parity
    (python/dataprof/__init__.py:1869-2275): one flat record per
    column; values must match the underlying profiles."""
    from dataprof_spark.operators import profiler
    from dataprof_spark.sources import report

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    profiles = profiler.profile(df)
    rep = report.ProfileReport.from_profiles("orders", profiles)

    pdf = rep.to_dataframe()
    assert len(pdf) == len(profiles) == len(df.columns)
    by_name = pdf.set_index("name")
    for p in profiles:
        row = by_name.loc[p.name]
        assert row["null_count"] == p.null_count
        assert row["distinct_count"] == p.distinct_count
        assert row["spark_type"] == p.spark_type
        for k, v in p.stats.items():
            if isinstance(v, float):
                assert row[f"stats.{k}"] == round(v, 4)

    tbl = rep.to_arrow()
    assert tbl.num_rows == len(profiles)
    assert "name" in tbl.schema.names

    try:
        rep.to_polars()
    except ImportError:
        pass  # polars not bundled in this environment — gate works


def test_html_export_and_save_dispatch(spark, tmp_path):
    from dataprof_spark.operators import profiler, quality
    from dataprof_spark.sources import report

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    rep = report.ProfileReport.from_profiles(
        "orders", profiler.profile(df),
        quality.assess(df, key_col="o_orderkey"),
        patterns_scanned=True,
    )
    html = rep.to_html()
    assert html.startswith("<div class='dataprof-report'>")
    assert "<td>o_orderkey</td>" in html
    assert "Overall quality:" in html
    assert rep._repr_html_() == html
    # values are escaped
    rep2 = report.ProfileReport(
        source="<script>alert(1)</script>", columns=[],
    )
    assert "<script>" not in rep2.to_html()

    p_html = str(tmp_path / "r.html")
    p_md = str(tmp_path / "r.md")
    p_json = str(tmp_path / "r.json")
    rep.save(p_html)
    rep.save(p_md)
    rep.save(p_json)
    assert open(p_html).read().startswith("<div")
    assert open(p_md).read().startswith("# Profile")
    assert report.ProfileReport.load(p_json).source == "orders"
