"""Iceberg runtime round-trip — skipif-gated on the runtime jar.

BASELINE.md's I/O target is an Iceberg table; this installation's
Spark ships no iceberg-spark-runtime jar, so the pipeline's tested
twin is dynamic-partition-overwrite parquet (pipeline/checkpoint.py).
These tests are the flip-is-free counterpart: the day the environment
carries the jar, they run the REAL Iceberg path — catalog DDL, append,
overwrite-by-partition idempotence (the exact semantics
checkpoint.py's parquet twin models) — with no code change.
"""

from __future__ import annotations

import os

import pyspark
import pytest

# the session loads the jars of SPARK_HOME, or of the pyspark package
# when SPARK_HOME is unset
_JARS = os.path.join(
    os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__),
    "jars",
)
_HAS_ICEBERG = any("iceberg-spark-runtime" in n for n in os.listdir(_JARS))

pytestmark = pytest.mark.skipif(
    not _HAS_ICEBERG,
    reason="iceberg-spark-runtime jar not on the Spark classpath (sandbox)",
)


@pytest.fixture(scope="module")
def iceberg_spark(tmp_path_factory):
    """Own session: Iceberg catalogs must be configured at session
    build time, so the shared conftest session cannot be reused."""
    from dataprof_spark.session import get_spark

    wh = str(tmp_path_factory.mktemp("iceberg_wh"))
    spark = get_spark(
        app_name="iceberg_gated_test",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.extensions": (
                "org.apache.iceberg.spark.extensions"
                ".IcebergSparkSessionExtensions"
            ),
            "spark.sql.catalog.local": "org.apache.iceberg.spark.SparkCatalog",
            "spark.sql.catalog.local.type": "hadoop",
            "spark.sql.catalog.local.warehouse": wh,
        },
    )
    yield spark
    spark.stop()


def _pages(spark, n=200):
    from dataprof_spark.pipeline import fixtures

    return fixtures.pages_df(spark, n=n)


def test_decisions_roundtrip_overwrite_partitions(iceberg_spark):
    from pyspark.sql import functions as F

    from dataprof_spark.operators import gates

    spark = iceberg_spark
    spark.sql("DROP TABLE IF EXISTS local.db.decisions")
    decisions = gates.decide(_pages(spark)).withColumn(
        "bucket", F.abs(F.hash("url")) % 8
    )
    decisions.writeTo("local.db.decisions").partitionedBy(
        "bucket"
    ).createOrReplace()
    n1 = spark.table("local.db.decisions").count()
    assert n1 == decisions.count()

    # overwrite-by-partition is idempotent — the resumability contract
    # checkpoint.py models with dynamic-partition-overwrite parquet
    decisions.writeTo("local.db.decisions").overwritePartitions()
    assert spark.table("local.db.decisions").count() == n1

    # snapshot history exists (metrics/lineage surface)
    snaps = spark.sql(
        "SELECT snapshot_id FROM local.db.decisions.snapshots"
    ).count()
    assert snaps >= 2
