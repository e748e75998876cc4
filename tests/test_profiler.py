"""Column profiler semantics vs the reference's contracts: type
inference rules, exact/approx distinct provenance, stats, flags."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataprof_spark.operators import profiler, quality

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def li_profiles(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    return {p.name: p for p in profiler.profile(df)}


def test_counts_and_distinct_exact(spark, li_profiles):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    total = df.count()
    p = li_profiles["l_quantity"]
    assert p.total_count == total
    assert p.null_count == 0
    assert not p.distinct_is_approximate  # under 10k → exact tier
    assert p.distinct_count == df.select("l_quantity").distinct().count()


def test_numeric_stats(spark, li_profiles):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    p = li_profiles["l_extendedprice"]
    row = df.agg(
        F.min("l_extendedprice"), F.max("l_extendedprice"),
        F.avg("l_extendedprice"), F.stddev_samp("l_extendedprice"),
    ).collect()[0]
    assert p.stats["min"] == pytest.approx(row[0])
    assert p.stats["max"] == pytest.approx(row[1])
    assert p.stats["mean"] == pytest.approx(row[2])
    assert p.stats["std"] == pytest.approx(row[3])
    assert p.stats["q1"] <= p.stats["median"] <= p.stats["q3"]
    assert p.stats["cv"] is not None


def test_temporal_and_string_profiles(li_profiles):
    ship = li_profiles["l_shipdate"]
    assert ship.inferred_type == "date"
    assert ship.stats["duration_days"] > 0
    rf = li_profiles["l_returnflag"]
    assert rf.inferred_type == "string"
    assert rf.distinct_count == 3
    assert len(rf.top_values) == 3
    # top-k ordered by count desc then value
    counts = [c for _, c in rf.top_values]
    assert counts == sorted(counts, reverse=True)


def test_inference_rules_on_string_columns(spark):
    rows = [
        ("1", "1.5", "true", "2024-01-02", "abc", None),
        ("2", "2.5", "false", "2024-02-03", "xyz", "null"),
        ("3", "x", "TRUE", "2024-03-04", "1", "NaN"),
        ("42", "4.25", "False", "05/06/2024", "2x", "  "),
    ]
    df = spark.createDataFrame(
        rows, "ints string, floats string, bools string, dates string, "
        "strs string, nulls string"
    )
    ps = {p.name: p for p in profiler.profile(df)}
    assert ps["ints"].inferred_type == "integer"     # 100% i64
    assert ps["floats"].inferred_type == "string"    # 75% float ≤ 0.8
    assert ps["bools"].inferred_type == "boolean"    # 100% strict bool
    assert ps["dates"].inferred_type == "date"       # 100% date shapes
    assert ps["strs"].inferred_type == "string"
    # null-like semantics (P1): None/'null'/'NaN'/whitespace all null
    assert ps["nulls"].null_count == 4
    assert "null_column" in ps["nulls"].flags


def test_inference_parity_edges(spark):
    """The Spark-side probes must agree with the reference's
    inference rules (ADVICE r4):
    i64 RANGE bounds the integer probe, the datetime shape is
    end-anchored (minutes-only is NOT a date), DD/MM/YYYY datetimes
    count, and values are trimmed before the date check."""
    rows = [
        # over_i64: 21-digit ids parse as f64 but not i64 → float
        ("99999999999999999999", "2024-01-01 10:30", "01/02/2024 10:30:05"),
        ("9223372036854775807", "2024-01-01 10:30", " 2024-01-02 "),
        ("-9223372036854775808", "2024-01-01 10:30", "2024-01-03T04:05:06.7"),
        ("+0000000000000000042", "2024-01-01 10:30", "2024-01-04 05:06:07"),
    ]
    df = spark.createDataFrame(
        rows, "edge_int string, minutes_only string, dt_shapes string"
    )
    ps = {p.name: p for p in profiler.profile(df)}
    # row 1 exceeds i64 → not 100% integer; all parse as f64 → float
    assert ps["edge_int"].inferred_type == "float"
    # end-unanchored regex used to call minutes-only a date
    assert ps["minutes_only"].inferred_type == "string"
    # DD/MM/YYYY datetime + padded date + fractional ISO all count
    assert ps["dt_shapes"].inferred_type == "date"


def test_i64_boundary_probe(spark):
    rows = [("9223372036854775807",), ("-9223372036854775808",),
            ("9223372036854775808",), ("-9223372036854775809",)]
    df = spark.createDataFrame(rows, "v string")
    got = df.select(
        profiler._fits_i64(F.trim(F.col("v"))).alias("ok")
    ).collect()
    assert [r["ok"] for r in got] == [True, True, False, False]


def test_key_name_heuristic():
    assert profiler._is_key_named("user_id")
    assert profiler._is_key_named("orderKey")
    assert profiler._is_key_named("pk")
    assert not profiler._is_key_named("identity_matrix")
    assert not profiler._is_key_named("quantity")


def test_quality_assess_on_orders(spark):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    rep = quality.assess(df, key_col="o_orderkey")
    assert rep.dimensions["completeness"] == 1.0
    assert rep.details["uniqueness"]["key_uniqueness"] == 1.0
    assert 0.0 <= rep.overall_score <= 1.0
    assert rep.confidence == "exact"


def test_quality_detects_problems(spark):
    rows = [
        (1, "a@b.com", 25.0, "2026-05-01"),
        (1, "cafÃ©", -5.0, "2031-01-01"),   # dup key, mojibake, neg, future
        (2, None, 30.0, "2015-01-01"),       # null, stale
        (3, "ok", 1000.0, "2026-02-01"),
    ]
    df = spark.createDataFrame(
        rows, "row_id int, note string, amount double, d string"
    ).withColumn("d", F.to_timestamp("d"))
    rep = quality.assess(df, key_col="row_id")
    assert rep.dimensions["completeness"] < 1.0
    assert rep.details["uniqueness"]["key_uniqueness"] == 0.75
    assert rep.details["consistency"]["encoding_issues"] == 1
    assert rep.details["timeliness"]["future_dates"] == 1
    assert rep.details["timeliness"]["stale_values"] == 1
    assert rep.details["accuracy"]["rule_violations"] >= 1  # negative amount
    assert rep.overall_score < 0.97


def test_topk_mode_single_job_independent_of_columns(spark):
    """VERDICT r1 wrong-#4: top-k/mode/temporal distributions must be
    ONE melt job, not a groupBy per column — job count may not grow
    with eligible column count."""
    import itertools

    seq = itertools.count()

    def n_jobs(fn):
        sc = spark.sparkContext
        g = f"prof-count-{next(seq)}"
        sc.setJobGroup(g, g)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(g))

    narrow = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderstatus", "o_totalprice"
    )
    wide = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    j_narrow = n_jobs(lambda: profiler.profile(narrow))
    j_wide = n_jobs(lambda: profiler.profile(wide))
    assert j_wide <= j_narrow + 1, (j_narrow, j_wide)


def test_temporal_distributions(spark):
    """A17: year/month/dow(/hour) distributions at the profiler level
    (reference stats/datetime.rs:40-70)."""
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    p = {q.name: q for q in profiler.profile(df)}["o_orderdate"]
    yd = p.stats["year_distribution"]
    md = p.stats["month_distribution"]
    dd = p.stats["dow_distribution"]
    total = df.filter(F.col("o_orderdate").isNotNull()).count()
    assert sum(yd.values()) == total
    assert sum(md.values()) == total
    assert set(md) <= set(range(1, 13))
    assert set(dd) <= set(range(0, 7))
    # timestamp column → hour distribution exists too
    assert sum(p.stats["hour_distribution"].values()) == total
    # cross-check one year against a direct count
    y, n = next(iter(sorted(yd.items())))
    assert df.filter(F.year("o_orderdate") == y).count() == n


def test_quality_consistency_submetrics(spark):
    """A20 complete: type conformance vs date-named columns, mixed
    date formats, mixed decimal separators (consistency.rs:26-210)."""
    rows = [
        ("2024-01-15", "1.50"),
        ("15/01/2024", "2.75"),
        ("2024-02-20", "3,25"),   # comma decimal (minority)
        ("not-a-date", "4.00"),
        ("2024-03-10", "1.2,5"),  # both separators in one value
    ]
    df = spark.createDataFrame(rows, "event_date string, amount string")
    rep = quality.assess(df)
    det = rep.details["consistency"]
    assert det["values_checked"] == 10
    # 1 of 5 date-named values fails every date shape
    assert det["data_type_consistency"] == pytest.approx(1.0 - 1 / 10)
    # two format classes seen (3x ISO, 1x DD/MM) → 1 violation
    assert det["mixed_date_format_violations"] == 1
    # 1 mixed-in-value + min(dot=3, comma=1) = 2
    assert det["decimal_separator_violations"] == 2
    assert det["encoding_issues"] == 0
    assert rep.dimensions["consistency"] == pytest.approx(
        0.9 - 3 / 10
    )


def test_quality_precision_dimension(spark):
    """A24 wired into assess(): modal decimal scale consistency
    (precision.rs:21-88)."""
    rows = [(1.25,), (2.50,), (3.75,), (4.0,), (5.125,)]
    df = spark.createDataFrame(rows, "amount double")
    rep = quality.assess(df)
    # scales: 2,1,2,0,3 → modal (2) has 2 of 5 → precision 0.4
    assert rep.dimensions["precision"] == pytest.approx(2 / 5)
    assert rep.details["precision"]["numeric_values_checked"] == 5
    assert rep.details["precision"]["inconsistent_precision_values"] == 3
    # precision participates in the renormalized overall score
    assert "precision" in rep.dimensions


def test_quality_validity_optin(spark):
    """Validity dimension (validity.rs:20-71): dominant-pattern share,
    assessed only when a confident pattern exists; opt-in flag."""
    rows = [(f"user{i}@example.com",) for i in range(20)] + [("nope",)]
    df = spark.createDataFrame(rows, "email string")
    rep = quality.assess(df, with_validity=True)
    assert rep.dimensions.get("validity") == pytest.approx(20 / 21)
    # without the flag the dimension is absent (renormalized away)
    rep2 = quality.assess(df)
    assert "validity" not in rep2.dimensions


def test_quality_approx_percentiles_provenance(spark):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    exact = quality.assess(df, key_col="o_orderkey")
    approx = quality.assess(
        df, key_col="o_orderkey", use_approx_percentiles=True
    )
    assert exact.confidence == "exact"
    assert approx.confidence == "approx"
    assert approx.dimensions["accuracy"] == pytest.approx(
        exact.dimensions["accuracy"], abs=0.05
    )


def test_decile_edges(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    p = {q.name: q for q in profiler.profile(df)}["l_extendedprice"]
    edges = p.stats["decile_edges"]
    assert len(edges) == 9
    assert edges == sorted(edges)
    assert p.stats["min"] <= edges[0] and edges[-1] <= p.stats["max"]
    assert p.stats["decile_edges_approximate"] is True


def test_correlations_single_job(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    corr = profiler.correlations(
        df, ["l_quantity", "l_extendedprice", "l_discount"]
    )
    assert set(corr) == {
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_discount"),
    }
    for v in corr.values():
        assert -1.0 <= v <= 1.0
    # cross-check one pair against the direct aggregate
    want = df.agg(
        F.corr("l_quantity", "l_extendedprice")
    ).collect()[0][0]
    assert corr[("l_quantity", "l_extendedprice")] == pytest.approx(want)


def test_quality_approx_distinct_provenance(spark):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    exact = quality.assess(df, key_col="o_orderkey")
    approx = quality.assess(
        df, key_col="o_orderkey", use_approx_distinct=True
    )
    assert approx.confidence == "approx"
    # precision-14 HLL (σ ≈ 0.8%) → within 3% of the exact key
    # uniqueness
    assert approx.details["uniqueness"]["key_uniqueness"] == pytest.approx(
        exact.details["uniqueness"]["key_uniqueness"], rel=0.03
    )


# ---------------------------------------------- cardinality tiers
def test_hll_distinct_matches_count_distinct(spark):
    """The sketch helper straight on a small frame, not through
    profile(): the exact follow-up there would hide a NULL-counting
    bug. Doubles (NaN, ±0.0) and timestamps with NULLs, booleans and
    binary all go in through the xxhash64 wrapper, and at this
    cardinality the estimate must equal countDistinct exactly."""
    import datetime as dt

    from dataprof_spark.functions import exprs

    t1, t2 = dt.datetime(2024, 1, 1, 10), dt.datetime(2024, 3, 5)
    rows = [
        (1.5, t1, True, bytearray(b"a")),
        (None, None, False, bytearray(b"b")),
        (-0.0, t1, None, None),
        (0.0, t2, True, bytearray(b"a")),
        (float("nan"), None, False, bytearray(b"")),
        (float("nan"), t2, None, bytearray(b"c")),
        (None, None, True, None),
    ]
    df = spark.createDataFrame(
        rows, "d double, ts timestamp, b boolean, bin binary"
    ).withColumn("all_null", F.lit(None).cast("double"))

    def counts(frame):
        aggs = []
        for n in frame.columns:
            aggs += [
                exprs.hll_distinct(F.col(n)).alias(f"{n}__hll"),
                F.countDistinct(n).alias(f"{n}__exact"),
            ]
        r = frame.agg(*aggs).collect()[0]
        return {n: (r[f"{n}__hll"], r[f"{n}__exact"]) for n in frame.columns}

    got = counts(df)
    assert got == {
        "d": (3, 3), "ts": (2, 2), "b": (2, 2), "bin": (4, 4),
        "all_null": (0, 0),
    }
    assert set(counts(df.limit(0)).values()) == {(0, 0)}


def test_hll_tier_within_3_sigma(spark):
    """Every column the parity tier leaves on the HLL estimate (above
    the 10k exact threshold) must be within 3σ of its exact count:
    σ = 1.04/√2^14 for the precision-14 sketch."""
    df = spark.read.parquet(f"{SF01_DIR}/lineitem.parquet")
    hll = [p for p in profiler.profile(df) if p.distinct_confidence == "hll"]
    assert hll, "sf0.01 lineitem has no column above the 10k threshold"
    exact = df.agg(
        *[F.countDistinct(p.name).alias(p.name) for p in hll]
    ).collect()[0]
    tol = 3 * 1.04 / 2 ** (14 / 2)
    for p in hll:
        assert p.distinct_is_approximate
        assert abs(p.distinct_count - exact[p.name]) <= tol * exact[p.name], (
            p.name, p.distinct_count, exact[p.name]
        )


_TXN = [
    ("t1", "acc1", 100.0, "2026-01-05"),
    ("t2", "acc2", 250.5, "2026-01-06"),
    ("t3", "acc3", 99.99, "2026-01-07"),
    ("t4", "acc1", 12.0, "2026-01-08"),
]


def _txn_df(spark, rows=_TXN):
    return spark.createDataFrame(
        rows,
        "transaction_id string, account string, amount_eur double, "
        "booked_at string",
    ).withColumn("booked_at", F.to_date("booked_at"))


def test_assess_cardinality_tiers(spark):
    df = _txn_df(spark)
    exact = quality.assess(df, key_col="transaction_id")
    assert exact.distinct_confidence == "exact"
    assert exact.details["uniqueness"]["distinct_confidence"] == "exact"

    approx = quality.assess(
        df, key_col="transaction_id", use_approx_distinct=True
    )
    assert approx.distinct_confidence == "hll"
    assert approx.confidence == "approx"
    assert approx.details["uniqueness"]["duplicate_rows"] == 0
    assert approx.details["uniqueness"]["key_uniqueness"] == 1.0

    off = quality.assess(
        df, key_col="transaction_id", cardinality="off"
    )
    assert off.distinct_confidence == "not_computed"
    assert off.dimensions["uniqueness"] is None
    assert off.details["uniqueness"] == {
        "distinct_confidence": "not_computed"
    }
    # None dimensions renormalize out — never counted as perfect
    assert 0.0 < off.overall_score <= 1.0

    for tier in ("bogus", "coarse"):
        with pytest.raises(ValueError, match="parity"):
            quality.assess(df, cardinality=tier)


def test_assess_positive_columns(spark):
    """positive_columns adds a negatives check to a numeric column the
    name hints miss; a string column gets no check, and
    negatives_checked_columns says so."""
    df = _txn_df(
        spark, _TXN + [("t5", "acc2", -10.0, "2026-01-09")]
    ).withColumnRenamed("amount_eur", "fee")
    plain = quality.assess(df, dimensions=["accuracy"])
    assert plain.details["accuracy"]["negatives_checked_columns"] == []
    assert plain.details["accuracy"]["negatives_by_column"] == {}

    acc = quality.assess(
        df, dimensions=["accuracy"], positive_columns=["fee", "account"]
    ).details["accuracy"]
    assert acc["negatives_by_column"] == {"fee": 1}
    assert acc["negatives_checked_columns"] == ["fee"]


def test_cardinality_off_tier(spark):
    """cardinality='off': no distinct estimates at all, and the
    cardinality-guarded melt families (string top-k, numeric mode)
    are skipped — a top-k groupBy over a column with no cardinality
    bound is a scale hazard. Temporal distributions still run."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    off = {p.name: p for p in profiler.profile(df, cardinality="off")}
    for n, p in off.items():
        assert p.distinct_count is None, n
        assert p.distinct_confidence == "not_computed"
        assert not p.distinct_is_approximate
    assert off["l_returnflag"].top_values == []
    assert "mode" not in off["l_quantity"].stats
    assert "year_distribution" in off["l_shipdate"].stats or \
        off["l_shipdate"].stats.get("duration_days") is not None
    with pytest.raises(ValueError, match="cardinality"):
        profiler.profile(df, cardinality="cheap")
    with pytest.raises(ValueError, match="cardinality"):
        profiler.profile(df, cardinality="coarse")


def test_cardinality_parity_provenance(li_profiles):
    """Parity tier provenance: exact below the 10k threshold."""
    p = li_profiles["l_quantity"]
    assert p.distinct_confidence == "exact"
    assert not p.distinct_is_approximate
