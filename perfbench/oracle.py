"""DuckDB oracle compare for the query workload.

For every query that has an oracle SQL text and a result directory written by
the benchmark JVM, run the SQL in DuckDB over views named after the parquet
tables in the data directory, sort the columns by name on both sides and
compare the rows in order (floats rounded to 9 decimals). Returns (checked,
failures).

DuckDB's result for a query is cached under `cache_dir`, keyed by the SQL
text and the content of the data files, so only the first run in a checkout
pays for the oracle side.
"""
import hashlib
import json
import math
import os
import pickle

import duckdb


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _rows(df):
    cols = sorted(df.columns)
    return [c.lower() for c in cols], \
        list(zip(*[[_norm(v) for v in df[c].tolist()] for c in cols]))


def _digest(data_dir):
    h = hashlib.sha256()
    for t in sorted(os.listdir(data_dir)):
        h.update(t.encode())
        with open(os.path.join(data_dir, t), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _expected(con, sql, path):
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    want = _rows(con.execute(sql).fetchdf())
    with open(path + ".tmp", "wb") as f:
        pickle.dump(want, f)
    os.replace(path + ".tmp", path)
    return want


def compare(data_dir, out_dir, names, cache_dir):
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    data = _digest(data_dir)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(os.listdir(data_dir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, t)}')")
    checked, failures = 0, []
    for name in names:
        sql = oracle.get(name)
        if not sql:
            continue
        checked += 1
        qdir = os.path.join(out_dir, name)
        try:
            key = hashlib.sha256((data + sql).encode()).hexdigest()
            want_cols, want = _expected(
                con, sql, os.path.join(cache_dir, f"{name}-{key[:16]}.pkl"))
            got_cols, got = _rows(con.execute(
                f"SELECT * FROM read_parquet('{qdir}/*.parquet')").fetchdf())
        except Exception as e:  # noqa: BLE001 - any error fails the check
            failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        if want_cols != got_cols:
            failures.append(f"{name}: columns {got_cols} != oracle {want_cols}")
        elif len(want) != len(got):
            failures.append(f"{name}: {len(got)} rows != oracle {len(want)}")
        else:
            bad = next((i for i, (a, b) in enumerate(zip(want, got)) if a != b), None)
            if bad is not None:
                failures.append(f"{name}: row {bad} {got[bad]} != oracle {want[bad]}"[:300])
    con.close()
    return checked, failures
