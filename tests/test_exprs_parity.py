"""Native Spark expressions must equal the pure-Python signal core on
the same rows — the engine-parity oracle (SURVEY.md §5.2 recast)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataprof_spark.core import textsignals as ts
from dataprof_spark.functions import exprs
from dataprof_spark.pipeline import fixtures

ROWS = fixtures.generate_pages(n=200)


@pytest.fixture(scope="module")
def sdf(spark):
    return fixtures.pages_df(spark, ROWS).cache()


def _collect(sdf, col):
    return {
        r["url"]: r["v"]
        for r in sdf.select("url", col.alias("v")).collect()
    }


@pytest.mark.parametrize(
    "expr_fn,py_fn",
    [
        (exprs.word_count, ts.word_count),
        (exprs.letter_count, ts.letter_count),
        (exprs.symbol_count, ts.symbol_count),
        (exprs.ellipsis_count, ts.ellipsis_count),
        (exprs.stopword_count, ts.stopword_count),
        (exprs.mojibake_count, ts.mojibake_count),
    ],
    ids=["words", "letters", "symbols", "ellipsis", "stopwords", "mojibake"],
)
def test_count_parity(sdf, expr_fn, py_fn):
    got = _collect(sdf, expr_fn(F.col("text")))
    for r in ROWS:
        assert got[r["url"]] == py_fn(r["text"]), r["_class"]


@pytest.mark.parametrize(
    "expr_fn,py_fn",
    [
        (exprs.mean_word_length, ts.mean_word_length),
        (exprs.symbol_ratio, ts.symbol_ratio),
        (exprs.dup_line_fraction, ts.dup_line_fraction),
    ],
    ids=["mwl", "symratio", "dupline"],
)
def test_ratio_parity(sdf, expr_fn, py_fn):
    got = _collect(sdf, expr_fn(F.col("text")))
    for r in ROWS:
        assert got[r["url"]] == pytest.approx(
            py_fn(r["text"]), abs=1e-12
        ), r["_class"]


def test_symbol_count_nonascii_whitespace_parity(spark):
    """ADVICE r1: NBSP/NEL and other non-ASCII whitespace (common in
    real web text) must count as SYMBOLS in all three engines — the
    Python twin compiles with re.ASCII so \\s means the same ASCII set
    as Spark's translate-delete and Java/RE2 regex."""
    texts = [
        "plain ascii text",
        "nbsp here and there",       # U+00A0 no-break space
        "nelline",                        # U+0085 next line
        "ideographic　space",               # U+3000
        "thin space mixed with tab\t",
        "vtab\x0b and formfeed\x0c stay whitespace",
    ]
    sdf = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = {
        r["text"]: r["v"]
        for r in sdf.select(
            "text", exprs.symbol_count(F.col("text")).alias("v")
        ).collect()
    }
    for t in texts:
        assert got[t] == ts.symbol_count(t), repr(t)
    # NBSP is a symbol, not whitespace, in both engines
    assert ts.symbol_count("a b") == 1


def test_pii_count_nonascii_neighbour_parity(spark):
    """A phone number or IPv4 address next to a non-ASCII letter counts
    the same in Spark, the Python scrub and the DuckDB oracle SQL. On
    JDK 17 Java's ``\\b`` treats é, 中 and ١ as word characters, so a
    bare ``\\b`` pattern counted 0 there where ``re.ASCII`` and RE2
    count 1."""
    import duckdb

    from dataprof_spark.core import scrub

    texts = [
        "é555-123-4567",
        "555-123-4567中",
        "١555-123-4567",
        "x555-123-4567",           # ASCII letter: no boundary before
        "call 555-123-4567 now",
        "中10.0.0.1",
        "10.0.0.1é",
        "a10.0.0.1 and 10.0.0.2_",
        "hosts 10.0.0.1, 192.168.1.20.",
    ]
    sdf = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = {
        r["text"]: (r["phone"], r["ip"])
        for r in sdf.select(
            "text",
            exprs.phone_count(F.col("text")).alias("phone"),
            exprs.ipv4_count(F.col("text")).alias("ip"),
        ).collect()
    }
    sql = exprs.duckdb_signal_sql("text")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in texts])
    oracle = {
        t: (p, i)
        for t, p, i in con.execute(
            f"SELECT text, {sql['phone_count']}, {sql['ipv4_count']} "
            "FROM t"
        ).fetchall()
    }
    for t in texts:
        py = scrub.pii_counts(t)
        assert got[t] == (py["phone"], py["ip"]) == oracle[t], repr(t)
    assert got["é555-123-4567"] == (1, 0)
    assert got["x555-123-4567"] == (0, 0)


def test_heuristic_reason_parity(sdf):
    """Fixture rows plus edge rows the mixture never emits: NULL,
    empty and whitespace-only text, and a clean text with NULL lang."""
    from dataprof_spark.core import gates as pygates
    from dataprof_spark.operators import gates as sgates

    clean = next(r["text"] for r in ROWS if r["_class"] == "clean_en")
    edge = [
        ("edge:null", None, "en"),
        ("edge:empty", "", "en"),
        ("edge:space", " \t\n  \n", "en"),
        ("edge:nolang", clean, None),
    ]
    edge_df = sdf.sparkSession.createDataFrame(
        edge, "url string, text string, lang string"
    )
    got = _collect(
        sdf.select("url", "text", "lang").unionByName(edge_df),
        sgates.heuristic_reason_col("text", "lang"),
    )
    cases = [(r["url"], r["text"], r["lang"]) for r in ROWS] + edge
    for url, text, lang in cases:
        expect = pygates.heuristic_reason(text, english=(lang == "en"))
        assert got[url] == expect, (url, (text or "")[:80])
