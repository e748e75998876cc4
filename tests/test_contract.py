"""Guards for code removal: the `__spark_entry__` contract stays
byte-identical, and every module in the package still imports (a
deleted module that something still imports at top level fails
here)."""

from __future__ import annotations

import hashlib
import importlib
import json
import pkgutil

import dataprof_spark

# sha256 of json.dumps([[key, oracle_sql().get(key)], ...]) over the
# first 50 keys of __spark_entry__.queries(), in registry order
ENTRY_DIGEST = (
    "d1fbf62b20d4992fa63022806ae80167384c988e87d8c3d3154af94fd16435f5"
)


def test_entry_queries_and_oracle_sql_pinned():
    import __spark_entry__ as entry

    keys = list(entry.queries())[:50]
    sql = entry.oracle_sql()
    assert len(keys) == 50
    blob = json.dumps([[k, sql.get(k)] for k in keys])
    assert hashlib.sha256(blob.encode()).hexdigest() == ENTRY_DIGEST


def test_every_module_imports():
    def fail(name):
        raise ImportError(f"package {name} failed to import")

    names = [
        m.name
        for m in pkgutil.walk_packages(
            dataprof_spark.__path__, "dataprof_spark.", onerror=fail
        )
    ]
    assert "dataprof_spark.queries" in names
    for name in names:
        importlib.import_module(name)
