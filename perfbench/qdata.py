"""Generates the query_mix tables: a TPC-H-style star schema slice
(lineitem, orders, part, supplier, nation), an `events` stream and a
`documents` corpus, in the shapes the relational queries read.

The tables are a pure function of the scale factor and a fixed seed;
the run's --seed changes nothing here. One parquet file per table,
written as <dir>/<table>.parquet. At sf0.01 they reproduce the shape of
the project's reference sf0.01 tables (row counts, vocabulary, document
lengths, duplicate rate, users, value and date ranges, near-duplicate
pairs): qshape.py measures it and test_qdata.py checks it."""
import datetime as dt
import random

import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line data table agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]


def _write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), f"{out}/{name}.parquet")


def documents(out, n):
    r = random.Random(SEED)
    texts = []
    for _ in range(n):
        if texts and r.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(r.choice(texts) + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS) for _ in range(r.randint(10, 99))))
    _write(out, "documents", {
        "doc_id": list(range(n)), "text": texts,
        "lang": [r.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))


def events(out, n, users):
    r = random.Random(SEED + 1)
    t = dt.datetime(2024, 1, 1)
    gap = 30 * 86400 / n
    ts = []
    for _ in range(n):
        t += dt.timedelta(microseconds=int(r.expovariate(1 / gap) * 1e6))
        ts.append(t)
    _write(out, "events", {
        "event_id": list(range(n)), "ts": ts,
        "user_id": [r.randrange(users) for _ in range(n)],
        "event_type": [r.choice(["click", "signup", "error", "view", "purchase"]) for _ in range(n)],
        "value": [max(0.01, round(r.expovariate(1 / 50), 2)) for _ in range(n)],
        "props": ['{"k": %d}' % r.randrange(100) for _ in range(n)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                  ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]))


def _day(r, first, last):
    return first + dt.timedelta(days=r.randrange((last - first).days + 1))


def tpch(out, sf):
    r = random.Random(SEED + 2)
    n_orders, n_items = int(1_500_000 * sf), int(6_000_000 * sf)
    n_parts, n_supp, n_cust = int(200_000 * sf), int(10_000 * sf), int(150_000 * sf)
    _write(out, "nation", {
        "n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]))
    _write(out, "supplier", {
        "s_suppkey": list(range(n_supp)), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [r.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)],
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
                  ("s_acctbal", pa.float64())]))
    adj = "red small hot old large blue cold new".split()
    noun = "plate widget ring rod bolt gizmo gear anvil".split()
    _write(out, "part", {
        "p_partkey": list(range(n_parts)),
        "p_name": [f"{r.choice(adj)} {r.choice(noun)}" for _ in range(n_parts)],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n_parts)],
        "p_type": [r.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
                   for _ in range(n_parts)],
        "p_size": [r.randint(1, 50) for _ in range(n_parts)],
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n_parts)],
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                  ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    o_first, o_last = dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)
    _write(out, "orders", {
        "o_orderkey": list(range(n_orders)),
        "o_custkey": [r.randrange(n_cust) for _ in range(n_orders)],
        "o_orderstatus": [r.choice("POF") for _ in range(n_orders)],
        "o_totalprice": [round(r.uniform(1000, 500000), 2) for _ in range(n_orders)],
        "o_orderdate": [_day(r, o_first, o_last) for _ in range(n_orders)],
        "o_orderpriority": [r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n_orders)],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
                  ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
                  ("o_orderpriority", pa.string())]))
    s_first, s_last = dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)
    _write(out, "lineitem", {
        "l_orderkey": [r.randrange(n_orders) for _ in range(n_items)],
        "l_partkey": [r.randrange(n_parts) for _ in range(n_items)],
        "l_suppkey": [r.randrange(n_supp) for _ in range(n_items)],
        "l_linenumber": [r.randint(1, 7) for _ in range(n_items)],
        "l_quantity": [float(r.randint(1, 50)) for _ in range(n_items)],
        "l_extendedprice": [round(r.uniform(900, 105000), 2) for _ in range(n_items)],
        "l_discount": [round(r.uniform(0, 0.1), 2) for _ in range(n_items)],
        "l_tax": [round(r.uniform(0, 0.08), 2) for _ in range(n_items)],
        "l_returnflag": [r.choice("ANR") for _ in range(n_items)],
        "l_linestatus": [r.choice("OF") for _ in range(n_items)],
        "l_shipdate": [_day(r, s_first, s_last) for _ in range(n_items)],
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                  ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                  ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                  ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                  ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))]))


TABLES = ["documents", "events", "lineitem", "nation", "orders", "part", "supplier"]


def generate(out, sf):
    documents(out, int(50_000 * sf))
    events(out, int(1_000_000 * sf), int(15_000 * sf))
    tpch(out, sf)
