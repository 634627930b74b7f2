"""DuckDB oracle for query_mix: runs each query's oracle SQL over the
same parquet tables and compares it with the Spark result exactly —
same column names, same arrow types, same multiset of typed rows (the
comparison of tools/oracle_check.py).

The oracle's answer depends only on the SQL and the tables, so it is
kept in Arrow IPC files (which keep the arrow types exactly) under a
cache directory, keyed by a hash of both; the Spark result is compared
afresh on every run."""
import glob
import hashlib
import math
from pathlib import Path

import duckdb
import pyarrow.feather as feather
import pyarrow.parquet as pq


def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float) and math.isnan(v):
        return (1, "nan")
    return (2, str(v))


def _eq(a, b):
    if a is None or b is None:
        return a is b
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b and type(a) is type(b)


def _rows(table, cols):
    return sorted((tuple(r[c] for c in cols) for r in table.to_pylist()),
                  key=lambda t: tuple(_key(v) for v in t))


def _answers(data_dir, tables, oracle_sql, cache_dir):
    """{query: oracle arrow table, or a one-line reason it has none}."""
    tables_hash = hashlib.sha256()
    for t in tables:
        tables_hash.update(Path(f"{data_dir}/{t}.parquet").read_bytes())
    cache = Path(cache_dir)
    cache.mkdir(parents=True, exist_ok=True)
    con = None
    out = {}
    for name, sql in oracle_sql.items():
        key = hashlib.sha256(tables_hash.digest() + sql.encode()).hexdigest()
        f = cache / f"{name}-{key[:24]}.arrow"
        if f.is_file():
            out[name] = feather.read_table(f)
            continue
        if con is None:
            con = duckdb.connect()
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        try:
            out[name] = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # an oracle that fails is a mismatch, not a crash
            out[name] = f"duckdb error: {type(e).__name__}"
            continue
        feather.write_feather(out[name], str(f), compression="uncompressed")
    if con is not None:
        con.close()
    return out


def compare(data_dir, tables, results_dir, oracle_sql, cache_dir):
    """{query: None if equal, else a one-line reason}."""
    answers = _answers(data_dir, tables, oracle_sql, cache_dir)
    out = {}
    for name in sorted(oracle_sql):
        files = glob.glob(f"{results_dir}/{name}/*.parquet")
        if not files:
            out[name] = "no spark output"
            continue
        orc = answers[name]
        if isinstance(orc, str):
            out[name] = orc
            continue
        spk = pq.read_table(files)
        cols = sorted(orc.column_names)
        if cols != sorted(spk.column_names):
            out[name] = f"columns: oracle={cols} spark={sorted(spk.column_names)}"
            continue
        types = [c for c in cols if orc.schema.field(c).type != spk.schema.field(c).type]
        if types:
            out[name] = f"types differ: {types}"
            continue
        a, b = _rows(orc, cols), _rows(spk, cols)
        same = len(a) == len(b) and all(all(_eq(x, y) for x, y in zip(ra, rb))
                                        for ra, rb in zip(a, b))
        out[name] = None if same else f"rows differ: oracle={len(a)} spark={len(b)}"
    return out
