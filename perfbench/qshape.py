"""Shape of the query_mix tables: the figures the relational queries'
work depends on, measured with DuckDB over a directory that holds one
<table>.parquet file per table.

    python3 perfbench/qshape.py DIR

FIGURES gives each figure's SQL, its value over the project's reference
sf0.01 tables (seed 42, see TESTDATA.md) and the relative tolerance
within which qdata.py must reproduce it at sf0.01 (test_qdata.py checks
this). Counts fixed by the table definitions are exact; figures that
come from random draws get a tolerance."""
import sys

import duckdb

from qdata import TABLES

# near-duplicate document pairs as the graph queries find them: 32-bit
# simhash over each document's distinct tokens (md5 prefix per token),
# Hamming distance at most 3. The queries band the simhash into four
# 8-bit keys first; at distance <= 3 one band always matches, so the
# all-pairs filter counts the same pairs.
NEAR_DUP_PAIRS = """
WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
     h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT AS BIGINT) AS h FROM toks),
     votes AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
               FROM h, range(32) t(b) GROUP BY 1, 2),
     sims AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS s
              FROM votes GROUP BY 1)
SELECT count(*) FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= 3"""

FIGURES = {
    # name: (SQL giving one number, reference value, relative tolerance)
    "documents.rows": ("SELECT count(*) FROM documents", 500, 0),
    "documents.words_mean": ("SELECT avg(len(string_split(text, ' '))) FROM documents", 54.33, 0.05),
    "documents.words_max": ("SELECT max(len(string_split(text, ' '))) FROM documents", 99, 0),
    "documents.vocabulary": (
        "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)", 31, 0),
    "documents.dup_suffixed": ("SELECT count(*) FROM documents WHERE text LIKE '% dup'", 25, 0.25),
    "documents.en_share": ("SELECT avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) FROM documents", 0.436, 0.15),
    "documents.langs": ("SELECT count(DISTINCT lang) FROM documents", 5, 0),
    "documents.sources": ("SELECT count(DISTINCT source) FROM documents", 20, 0),
    "documents.near_dup_pairs": (NEAR_DUP_PAIRS, 15351, 0.10),
    "documents.source_trigrams": (
        "SELECT count(*) FROM (SELECT DISTINCT source, g FROM (SELECT source, unnest("
        "list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) g "
        "FROM (SELECT source, string_split(text, ' ') w FROM documents)))", 25482, 0.05),
    "events.rows": ("SELECT count(*) FROM events", 10000, 0),
    "events.users": ("SELECT count(DISTINCT user_id) FROM events", 150, 0),
    "events.types": ("SELECT count(DISTINCT event_type) FROM events", 5, 0),
    "events.value_mean": ("SELECT avg(value) FROM events", 49.63, 0.05),
    "events.value_median": ("SELECT median(value) FROM events", 34.59, 0.05),
    "events.days": ("SELECT date_diff('day', min(ts), max(ts)) FROM events", 29, 0),
    "events.user_lifespan_mean_days": (
        "SELECT avg(date_diff('day', lo, hi)) FROM "
        "(SELECT min(ts) lo, max(ts) hi FROM events GROUP BY user_id)", 28.77, 0.05),
    "lineitem.rows": ("SELECT count(*) FROM lineitem", 60000, 0),
    "lineitem.orders": ("SELECT count(DISTINCT l_orderkey) FROM lineitem", 14743, 0.02),
    "lineitem.parts": ("SELECT count(DISTINCT l_partkey) FROM lineitem", 2000, 0),
    "lineitem.suppliers": ("SELECT count(DISTINCT l_suppkey) FROM lineitem", 100, 0),
    "lineitem.extendedprice_mean": ("SELECT avg(l_extendedprice) FROM lineitem", 53054.27, 0.02),
    "lineitem.flag_groups": ("SELECT count(DISTINCT (l_returnflag, l_linestatus)) FROM lineitem", 6, 0),
    "orders.rows": ("SELECT count(*) FROM orders", 15000, 0),
    "orders.customers": ("SELECT count(DISTINCT o_custkey) FROM orders", 1500, 0),
    "part.rows": ("SELECT count(*) FROM part", 2000, 0),
    "part.names": ("SELECT count(DISTINCT p_name) FROM part", 64, 0),
    "part.brands": ("SELECT count(DISTINCT p_brand) FROM part", 25, 0),
    "supplier.rows": ("SELECT count(*) FROM supplier", 100, 0),
    "supplier.nations": ("SELECT count(DISTINCT s_nationkey) FROM supplier", 25, 0),
    "nation.rows": ("SELECT count(*) FROM nation", 25, 0),
}


def measure(data_dir):
    """{figure: value} over the tables in data_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {k: float(con.execute(sql).fetchone()[0]) for k, (sql, _, _) in FIGURES.items()}
    con.close()
    return out


def departures(got):
    """Figures outside their tolerance of the reference: {name: (got, want, tol)}."""
    return {k: (got[k], want, tol) for k, (_, want, tol) in FIGURES.items()
            if abs(got[k] - want) > tol * abs(want) + 1e-9}


if __name__ == "__main__":
    got = measure(sys.argv[1])
    off = departures(got)
    for k, (_, want, tol) in FIGURES.items():
        print(f"{k:36} {got[k]:>12.6g}  reference {want:<10g} ±{tol:.0%}{'  OFF' if k in off else ''}")
    sys.exit(1 if off else 0)
