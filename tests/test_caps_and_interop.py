"""Row-cap truncation provenance, pandas/Arrow interop, profiler
mode/bottom-N additions."""

from __future__ import annotations

import pandas as pd
import pytest

from dataprof_spark.operators import profiler, sampling
from dataprof_spark.sources import readers

SF_DIR = "/root/testdata/sf0.001"


def test_row_cap_truncation_provenance(spark):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    total = df.count()
    # cap below rowcount → truncated
    res = readers.apply_row_cap(df, 100)
    assert res.truncated and res.rows == 100
    assert res.truncation_reason == "max_rows"
    # cap == rowcount is NOT truncation (reference execution_controls
    # contract: a_condition_met_on_the_last_chunk_is_not_a_truncation)
    res = readers.apply_row_cap(df, total)
    assert not res.truncated and res.rows == total
    assert res.truncation_reason is None
    # cap above rowcount → not truncation either
    res = readers.apply_row_cap(df, total + 10)
    assert not res.truncated and res.rows == total


def test_pandas_arrow_roundtrip(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    sdf = readers.from_pandas(spark, pdf)
    assert sdf.count() == 3
    tbl = readers.to_arrow(sdf.orderBy("a"))
    assert tbl.num_rows == 3
    assert tbl.column("b").to_pylist() == ["x", "y", "z"]


def test_profiler_mode_and_bottom(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    ps = {p.name: p for p in profiler.profile(df)}
    q = ps["l_quantity"]
    assert q.stats["mode"] is not None  # 50 distinct values, repeats
    rf = ps["l_returnflag"]
    assert len(rf.stats["bottom_values"]) == 3
    bottom_counts = [c for _, c in rf.stats["bottom_values"]]
    assert bottom_counts == sorted(bottom_counts)
