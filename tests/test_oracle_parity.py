"""Mimics the driver's correctness gate: every registry query runs in
Spark AND its DuckDB oracle on sf0.01; row-count and order-insensitive
values must match exactly (floats pre-rounded to 6dp on both sides)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from dataprof_spark import queries

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = (
                pd.to_datetime(df[c])
                .dt.tz_localize(None)
                .astype("datetime64[us]")
                .astype(str)
            )
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(queries.registry()))
def test_query_matches_oracle(spark, ddb, name):
    fn, sql = queries.registry()[name]
    if sql is None:
        pytest.skip("non-SQL-expressible; rows-only check")
    got = _normalize(fn(spark, SF_DIR).toPandas())
    want = _normalize(ddb.execute(sql).df())
    assert len(got) == len(want), (name, len(got), len(want))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
