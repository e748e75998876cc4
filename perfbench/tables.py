"""Seeded tables for the program's headline driver queries, and their
DuckDB reference results.

The queries read ``<dir>/<table>.parquet`` for a star schema
(``region nation customer supplier orders lineitem``), a ``documents``
table and an ``events`` stream. This module writes a small seeded set
of those files (about 60k line items and 5k documents) in the same
column layout, so the ``queries`` layer can be timed from the
benchmark's own inputs. Each query's expected rows come from DuckDB
running the query's oracle SQL over the same files; they are computed
once per seed and cached beside the tables.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

HEADLINE = (
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
    "doc_textstats", "doc_gates", "doc_langid_stopword", "dedup_exact",
    "doc_pii_counts", "events_hourly",
)
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
          "documents", "events")

N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
N_ORDERS = 15_000
N_DOCS = 5_000
N_EVENTS = 10_000

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
WORDS = (
    "the a of and to in is that for on with data row column table scan "
    "join merge sort hash part window batch stream spark query filter "
    "group key value order line customer vector agg fast slow big small "
    "der die und das el la que le les il che di"
).split()


def _ts(rng: random.Random, start: dt.datetime, days: int) -> dt.datetime:
    return start + dt.timedelta(seconds=rng.randrange(days * 86_400))


def _text(rng: random.Random) -> str:
    words = rng.choices(WORDS, k=rng.choice((5, 12, 30, 60, 90, 140)))
    if rng.random() < 0.1:
        words.insert(rng.randrange(len(words)), f"user{rng.randrange(999)}@mail.example.com")
    if rng.random() < 0.1:
        words.append(f"{rng.randrange(100, 999)}-555-{rng.randrange(1000, 9999)}")
    if rng.random() < 0.05:
        words.append(".".join(str(rng.randrange(256)) for _ in range(4)))
    if rng.random() < 0.1:
        words[-1] += "..."
    lines = [" ".join(words[i:i + 20]) for i in range(0, len(words), 20)]
    return "\n".join(lines)


def generate(seed: int) -> dict[str, pa.Table]:
    rng = random.Random(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(
            [rng.randrange(25) for _ in range(N_CUSTOMERS)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2)
                      for _ in range(N_CUSTOMERS)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(N_CUSTOMERS)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(
            [rng.randrange(25) for _ in range(N_SUPPLIERS)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2)
                      for _ in range(N_SUPPLIERS)],
    })
    t0 = dt.datetime(1995, 1, 1)
    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus",
                              "o_totalprice", "o_orderdate",
                              "o_orderpriority")}
    items = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey",
                             "l_linenumber", "l_quantity", "l_extendedprice",
                             "l_discount", "l_tax", "l_returnflag",
                             "l_linestatus", "l_shipdate")}
    for o in range(N_ORDERS):
        day = _ts(rng, t0, 2_400).replace(hour=0, minute=0, second=0)
        total = 0.0
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.uniform(900, 2000), 2)
            total += price
            for k, v in (
                ("l_orderkey", o), ("l_partkey", rng.randrange(20_000)),
                ("l_suppkey", rng.randrange(N_SUPPLIERS)),
                ("l_linenumber", ln), ("l_quantity", qty),
                ("l_extendedprice", price),
                ("l_discount", rng.randint(0, 10) / 100),
                ("l_tax", rng.randint(0, 8) / 100),
                ("l_returnflag", rng.choice("ANR")),
                ("l_linestatus", rng.choice("FO")),
                ("l_shipdate", day + dt.timedelta(days=rng.randint(1, 120))),
            ):
                items[k].append(v)
        for k, v in (
            ("o_orderkey", o), ("o_custkey", rng.randrange(N_CUSTOMERS)),
            ("o_orderstatus", rng.choice("FOP")),
            ("o_totalprice", round(total, 2)), ("o_orderdate", day),
            ("o_orderpriority", rng.choice(PRIORITIES)),
        ):
            orders[k].append(v)
    t["orders"] = pa.table(orders, schema=pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
    ]))
    t["lineitem"] = pa.table(items, schema=pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]))
    texts = []
    for _ in range(N_DOCS):
        # about one document in twenty repeats an earlier one verbatim
        texts.append(rng.choice(texts) if texts and rng.random() < 0.05
                     else _text(rng))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(N_DOCS)],
        "source": [f"src{rng.randrange(20)}" for _ in range(N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    e0 = dt.datetime(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(sorted(_ts(rng, e0, 30) for _ in range(N_EVENTS)),
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(500) for _ in range(N_EVENTS)],
                            pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(N_EVENTS)],
        "value": [round(rng.uniform(0, 500), 2) for _ in range(N_EVENTS)],
        "props": [json.dumps({"k": rng.randrange(100)})
                  for _ in range(N_EVENTS)],
    })
    return t


def rows_digest(rows) -> str:
    """Order-independent digest of result rows: floats at 6 decimals,
    every other value by its string form."""
    norm = sorted(
        json.dumps([round(v, 6) if isinstance(v, float) else
                    (v if v is None or isinstance(v, (bool, int)) else str(v))
                    for v in r])
        for r in rows
    )
    return hashlib.sha256("\n".join(norm).encode()).hexdigest()


def _reference(path: str) -> dict:
    import duckdb

    from dataprof_spark import queries

    reg = queries.registry()
    con = duckdb.connect()
    try:
        for name in TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(path, name)}.parquet')")
        out = {}
        for q in HEADLINE:
            rows = con.execute(reg[q][1]).fetchall()
            out[q] = {"rows": len(rows), "digest": rows_digest(rows)}
    finally:
        con.close()
    return out


def ensure_tables(cache: str, seed: int) -> tuple[str, dict]:
    """(directory of the seeded tables, {query: expected rows/digest})."""
    path = os.path.join(cache, f"tables_seed{seed}")
    done = os.path.join(path, "_reference.json")
    if not os.path.exists(done):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(tmp)
        for name, table in generate(seed).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        ref = _reference(tmp)
        with open(os.path.join(tmp, "_reference.json"), "w") as f:
            json.dump(ref, f)
        os.replace(tmp, path)
    with open(done) as f:
        return path, json.load(f)
