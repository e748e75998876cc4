"""Skew salting correctness and determinism — the explicit scale
lever of the north rule."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataprof_spark.operators import skew
from dataprof_spark.pipeline import fixtures


def test_domain_of_pathless_url(spark):
    df = spark.createDataFrame(
        [("https://example.com",), ("https://example.com/a/b",),
         ("http://x.org?q=1",)], "url string"
    )
    got = [r[0] for r in df.select(skew.domain_of(F.col("url"))).collect()]
    assert got == ["example.com", "example.com", "x.org"]


def test_salted_agg_matches_plain(spark):
    rows = fixtures.generate_pages(n=400)
    pages = fixtures.pages_df(spark, rows).withColumn(
        "domain", skew.domain_of(F.col("url"))
    ).withColumn("val", F.length("text").cast("double"))
    plain = {
        (r["domain"]): (r["cnt"], r["total"])
        for r in pages.groupBy("domain")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("val").alias("total"))
        .collect()
    }
    salted = {
        r["domain"]: (r["cnt"], r["total"])
        for r in skew.salted_count_sum(pages, "domain", "val").collect()
    }
    assert plain == salted
    # Zipf generator: the hottest domain must dominate (the skew we
    # are defending against actually exists in the fixture)
    top = max(v[0] for v in plain.values())
    assert top / sum(v[0] for v in plain.values()) > 0.15


def test_salt_is_deterministic(spark):
    rows = fixtures.generate_pages(n=100)
    pages = fixtures.pages_df(spark, rows)
    a = skew.with_salt(pages).select("url", "__salt").collect()
    b = skew.with_salt(pages.repartition(7)).select("url", "__salt").collect()
    assert {(r["url"], r["__salt"]) for r in a} == {
        (r["url"], r["__salt"]) for r in b
    }
