"""Sampling strategies: determinism across partition layouts, exact-n,
stratified-k, systematic, importance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataprof_spark.operators import sampling

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet").cache()


def test_systematic(orders):
    got = sampling.systematic(orders, 10, "o_orderkey")
    assert all(
        r["o_orderkey"] % 10 == 0 for r in got.select("o_orderkey").collect()
    )


def test_hash_sample_deterministic_across_layouts(orders):
    a = sampling.hash_sample(orders, 0.2, "o_orderkey")
    b = sampling.hash_sample(orders.repartition(7), 0.2, "o_orderkey")
    ka = sorted(r["o_orderkey"] for r in a.select("o_orderkey").collect())
    kb = sorted(r["o_orderkey"] for r in b.select("o_orderkey").collect())
    assert ka == kb  # partition-layout independence
    n = orders.count()
    assert 0.1 * n < len(ka) < 0.3 * n  # ~fraction


def test_exact_n_sample(orders):
    got = sampling.exact_n_sample(orders, 50, "o_orderkey")
    keys1 = [r["o_orderkey"] for r in got.collect()]
    keys2 = [
        r["o_orderkey"]
        for r in sampling.exact_n_sample(
            orders.repartition(5), 50, "o_orderkey"
        ).collect()
    ]
    assert len(keys1) == 50
    assert sorted(keys1) == sorted(keys2)


def test_stratified_first_k(orders):
    got = sampling.stratified_first_k(
        orders, ["o_orderstatus"], 5, "o_orderkey"
    )
    counts = got.groupBy("o_orderstatus").count().collect()
    assert all(r["count"] <= 5 for r in counts)


def test_importance_filter(orders):
    got = sampling.importance(orders, "o_totalprice", 100000.0)
    assert got.filter("o_totalprice < 100000").count() == 0


def test_multistage_filter_then_fixed(spark):
    """strategies.rs MultiStage: streaming filters in sequence, one
    terminal fixed-size stage draws from what they pass."""
    from dataprof_spark.operators import sampling

    df = spark.range(1000).withColumn("w", F.col("id") % 10)
    out = sampling.multi_stage(
        df,
        [
            ("systematic", {"interval": 2}),          # ids % 2 == 0
            ("importance", {"weight_column": "w",
                            "weight_threshold": 4.0}),
            ("reservoir", {"size": 20}),
        ],
        id_col="id",
    ).collect()
    assert len(out) == 20
    for r in out:
        assert r["id"] % 2 == 0 and r["w"] >= 4.0
    # deterministic: same stages, same rows
    again = sampling.multi_stage(
        df,
        [
            ("systematic", {"interval": 2}),
            ("importance", {"weight_column": "w",
                            "weight_threshold": 4.0}),
            ("reservoir", {"size": 20}),
        ],
        id_col="id",
    ).collect()
    assert {r["id"] for r in out} == {r["id"] for r in again}


def test_multistage_refuses_two_fixed_stages(spark):
    """sampler.rs:242-248: two fixed-size stages have no combined
    meaning — refuse, don't guess."""
    from dataprof_spark.operators import sampling

    df = spark.range(100)
    with pytest.raises(sampling.InvalidSamplingCombination,
                       match="at most one fixed-size stage"):
        sampling.multi_stage(
            df,
            [("random", {"size": 10}), ("reservoir", {"size": 5})],
            id_col="id",
        )


def test_multistage_refuses_filter_after_fixed(spark):
    """sampler.rs:258-266: a filter after the fixed-size stage would
    have nothing to act on."""
    from dataprof_spark.operators import sampling

    df = spark.range(100)
    with pytest.raises(sampling.InvalidSamplingCombination,
                       match="must be the last"):
        sampling.multi_stage(
            df,
            [("reservoir", {"size": 10}),
             ("systematic", {"interval": 2})],
            id_col="id",
        )
