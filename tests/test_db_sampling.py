"""DB sampling pushdown (S9): SQL generation contracts matching
dataprof-db/src/sampling.rs:84-157, injection validation matching
security/sql_validation.rs, and EXECUTION of the generated SQL against
DuckDB (no JDBC endpoint in the sandbox; the reference likewise tests
against an embedded DB)."""

from __future__ import annotations

import duckdb
import pytest

from dataprof_spark.sources import db


# ------------------------------------------------------ validation layer
def test_identifier_validation():
    assert db.validate_identifier("users") == "users"
    assert db.validate_identifier("schema.table") == "schema.table"
    assert db.validate_identifier('"weird name"') == '"weird name"'
    for bad in ("", "users; DROP TABLE x", "a--b", "users)", "x" * 200):
        with pytest.raises(db.SqlValidationError):
            db.validate_identifier(bad)


def test_conventional_identifiers_not_rejected():
    """Keyword matching is word-boundary, not substring: created_at
    contains CREATE and updated_at contains UPDATE, yet they are the
    canonical temporal-strategy target columns (ADVICE r2)."""
    for ident in ("created_at", "updated_at", "creation_ts",
                  "executor_id", "unions.member"):
        assert db.validate_identifier(ident) == ident
    # whole-word keywords still refused, including dotted parts
    for bad in ("drop", "schema.drop", "update"):
        with pytest.raises(db.SqlValidationError):
            db.validate_identifier(bad)
    # base queries referencing such columns pass too
    q = "SELECT created_at, updated_at FROM t WHERE created_at > '2020'"
    assert db.validate_base_query(q) == q


def test_tablesample_pct_floor():
    """{:.2f} formatting must not floor the percentage to 0.00 when
    sample_size/total_rows < 0.005% (10k rows of 10^9) — the LIMIT
    stays the authoritative size bound (ADVICE r2)."""
    cfg = db.SamplingConfig(strategy="reservoir", sample_size=10_000)
    q = cfg.generate_sample_query("events", 10_000_000_000)
    assert "TABLESAMPLE SYSTEM (0.01)" in q and "LIMIT 10000" in q


def test_base_query_validation():
    assert db.validate_base_query("SELECT a FROM t").startswith("SELECT")
    for bad in (
        "",
        "DELETE FROM t",
        "SELECT * FROM t; DROP TABLE t",
        "SELECT * FROM t UNION SELECT * FROM secrets",
        "SELECT * FROM t -- comment",
    ):
        with pytest.raises(db.SqlValidationError):
            db.validate_base_query(bad)


# --------------------------------------------------- generation contracts
def test_passthrough_when_table_fits():
    cfg = db.SamplingConfig(strategy="random", sample_size=100)
    assert (
        cfg.generate_sample_query("t", total_rows=50) == "SELECT * FROM t"
    )


def test_random_shape():
    cfg = db.SamplingConfig(strategy="random", sample_size=10, seed=7)
    q = cfg.generate_sample_query("events", 1000)
    assert q == "SELECT * FROM events ORDER BY RANDOM(7) LIMIT 10"


def test_systematic_shape():
    cfg = db.SamplingConfig(strategy="systematic", sample_size=10)
    q = cfg.generate_sample_query("events", 95)
    assert "ROW_NUMBER() OVER () AS rn" in q
    assert "rn % 10 = 1" in q  # ceil(95/10) = 10


def test_tablesample_shape_and_subquery_fallback():
    cfg = db.SamplingConfig(strategy="reservoir", sample_size=10, seed=3)
    q = cfg.generate_sample_query("events", 1000)
    assert "TABLESAMPLE SYSTEM (1.00)" in q and "LIMIT 10" in q
    q2 = cfg.generate_sample_query("SELECT * FROM events WHERE a > 0", 1000)
    assert "RANDOM(3)" in q2 and "TABLESAMPLE" not in q2


def test_stratified_and_temporal_shapes():
    cfg = db.SamplingConfig(
        strategy="stratified", sample_size=100, stratify_column="grp"
    )
    q = cfg.generate_sample_query("t", 10_000)
    assert "PARTITION BY grp ORDER BY RANDOM()" in q
    assert "stratum_rn <= 10" in q
    cfg = db.SamplingConfig(
        strategy="temporal", sample_size=10, temporal_column="ts"
    )
    q = cfg.generate_sample_query("t", 100)
    assert "ORDER BY ts" in q and "time_rn % 10 = 1" in q
    # stratified without a column degrades to seeded random
    cfg = db.SamplingConfig(strategy="stratified", sample_size=5, seed=1)
    assert "RANDOM(1)" in cfg.generate_sample_query("t", 100)


def test_injection_refused_through_config():
    cfg = db.SamplingConfig(
        strategy="temporal", sample_size=10,
        temporal_column="ts; DROP TABLE t",
    )
    with pytest.raises(db.SqlValidationError):
        cfg.generate_sample_query("t", 100)


# ----------------------------------------- execution against an actual DB
@pytest.fixture()
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE events AS "
        "SELECT range AS id, range % 7 AS grp, "
        "TIMESTAMP '2024-01-01' + INTERVAL (range) HOUR AS ts "
        "FROM range(1000)"
    )
    return c


def test_systematic_executes(con):
    cfg = db.SamplingConfig(strategy="systematic", sample_size=100)
    q = cfg.generate_sample_query("events", 1000)
    rows = con.execute(q).df()
    assert len(rows) == 100
    # every step-th row, starting at the first
    assert sorted(rows["rn"])[:3] == [1, 11, 21]


def test_temporal_executes(con):
    cfg = db.SamplingConfig(
        strategy="temporal", sample_size=50, temporal_column="ts"
    )
    q = cfg.generate_sample_query("events", 1000)
    rows = con.execute(q).df().sort_values("ts")
    assert len(rows) == 50
    # time-ordered systematic: ids are evenly spaced in time order
    ids = rows["id"].tolist()
    assert ids[0] == 0 and ids[1] == 20


def test_stratified_executes(con):
    cfg = db.SamplingConfig(
        strategy="stratified", sample_size=70, stratify_column="grp"
    )
    q = cfg.generate_sample_query("events", 1000)
    rows = con.execute(q).df()
    # 7 strata x 7 per stratum
    assert len(rows) == 49
    assert rows.groupby("grp").size().max() == 7


def test_count_query_executes(con):
    assert con.execute(db.count_query("events")).fetchone()[0] == 1000
    assert (
        con.execute(
            db.count_query("SELECT * FROM events WHERE grp = 0")
        ).fetchone()[0]
        == 143
    )


# --------------------------------------------- live JDBC (Derby) layer
@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    """In-process Apache Derby database via the JDBC driver Spark
    bundles (derby*.jar ships for the Hive metastore) — the sandbox
    equivalent of the reference's 54 database_integration.rs tests
    against embedded engines. DDL/DML go through py4j's DriverManager;
    reads go through spark.read.jdbc end-to-end."""
    dbdir = str(tmp_path_factory.mktemp("derby") / "db")
    url = f"jdbc:derby:{dbdir};create=true"
    jvm = spark._jvm
    # route derby.log into the test tmpdir (it lands in user.dir —
    # the repo root — otherwise); must be set before the engine loads
    jvm.java.lang.System.setProperty(
        "derby.stream.error.file",
        str(tmp_path_factory.mktemp("derby-logs") / "derby.log"),
    )
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE events (id INT, ts TIMESTAMP, val DOUBLE)"
    )
    ps = conn.prepareStatement("INSERT INTO events VALUES (?, ?, ?)")
    for i in range(100):
        ps.setInt(1, i)
        ps.setTimestamp(
            2, jvm.java.sql.Timestamp(1700000000000 + i * 3600_000)
        )
        ps.setDouble(3, i * 1.5)
        ps.executeUpdate()
    conn.commit()
    conn.close()
    return url


_DERBY_OPTS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def test_jdbc_live_roundtrip_and_count(spark, derby_url):
    """read_db_sample with total_rows=None drives BOTH round trips
    live: the COUNT(*) sizing query and the sample query."""
    cfg = db.SamplingConfig(
        strategy="systematic", sample_size=10, dialect="derby"
    )
    got = db.read_db_sample(
        spark, derby_url, "events", cfg, **_DERBY_OPTS
    )
    assert got.count() == 10
    assert {"ID", "TS", "VAL"} <= set(got.columns)


def test_jdbc_live_passthrough_when_small(spark, derby_url):
    cfg = db.SamplingConfig(
        strategy="systematic", sample_size=500, dialect="derby"
    )
    got = db.read_db_sample(
        spark, derby_url, "events", cfg, total_rows=100, **_DERBY_OPTS
    )
    assert got.count() == 100


def test_jdbc_live_random_and_reservoir_fallback(spark, derby_url):
    for strat in ("random", "reservoir"):
        cfg = db.SamplingConfig(
            strategy=strat, sample_size=10, seed=7, dialect="derby"
        )
        q = cfg.generate_sample_query("events", 100)
        assert "RAND(7)" in q and "FETCH FIRST 10 ROWS ONLY" in q
        assert "TABLESAMPLE" not in q  # derby has none
        got = db.read_db_sample(
            spark, derby_url, "events", cfg, total_rows=100,
            **_DERBY_OPTS,
        )
        assert got.count() == 10


def test_derby_dialect_refuses_ordered_windows():
    for cfg in (
        db.SamplingConfig(strategy="temporal", temporal_column="ts",
                          sample_size=10, dialect="derby"),
        db.SamplingConfig(strategy="stratified", stratify_column="grp",
                          sample_size=10, dialect="derby"),
    ):
        with pytest.raises(db.SqlValidationError, match="Derby"):
            cfg.generate_sample_query("events", 100)


def test_ansi_sql_unchanged_by_dialect_layer():
    """The dialect layer must not perturb the reference-parity ANSI
    strings (they are DuckDB-oracle-verified above)."""
    cfg = db.SamplingConfig(strategy="random", sample_size=10, seed=7)
    assert (
        cfg.generate_sample_query("events", 100)
        == "SELECT * FROM events ORDER BY RANDOM(7) LIMIT 10"
    )
    sys_q = db.SamplingConfig(
        strategy="systematic", sample_size=10
    ).generate_sample_query("events", 100)
    assert "rn % 10 = 1" in sys_q and "base" not in sys_q


def test_jdbc_live_connection_schema_count(spark, derby_url):
    """Sync twins of the reference's database_async helpers, live:
    test_connection (DriverManager.isValid through the session JVM),
    table_schema (zero-row probe), count_table_rows."""
    assert db.test_connection(
        spark, derby_url,
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    ) is True
    assert db.test_connection(spark, "jdbc:derby:/nonexistent/db") is False
    cols = db.table_schema(spark, derby_url, "events", **_DERBY_OPTS)
    assert cols == ["ID", "TS", "VAL"]
    assert db.count_table_rows(
        spark, derby_url, "events", **_DERBY_OPTS
    ) == 100


def test_capabilities_snapshot():
    import dataprof_spark as dp

    caps = dp.capabilities()
    assert caps.version == dp.__version__
    assert caps.local_parquet and caps.arrow_interop
    assert caps.pyarrow_installed and caps.pandas_installed
    # this container: Derby ships with Spark; Iceberg does not
    assert "derby" in caps.database_connectors
    assert caps.database is True
    assert caps.iceberg_runtime is False
