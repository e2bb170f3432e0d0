"""Output check for the query workloads: each query's parquet output from
the harness's check pass against its DuckDB oracle (SparkEntry.oracleSql)
on the same generated tables, canonicalized the way tools/check.py does
(columns by sorted name, rows sorted, floats by repr)."""
import decimal
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    return repr(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def compare(data_dir, out_dir, names, spill_dir):
    """Returns one failure line per mismatching query (empty = all match).
    A query without an oracle passes when its output is readable."""
    os.makedirs(spill_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    fails = []
    for name in names:
        try:
            res = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            got = _canon([c[0] for c in res.description], res.fetchall())
        except Exception as e:  # noqa: BLE001 - any unreadable output is a failure
            fails.append(f"{name}: cannot read output: {e}")
            continue
        if name not in sql:
            continue
        try:
            res = con.execute(sql[name])
            want = _canon([c[0] for c in res.description], res.fetchall())
        except Exception as e:  # noqa: BLE001
            fails.append(f"{name}: oracle SQL error: {e}")
            continue
        if got[0] != want[0]:
            fails.append(f"{name}: schema {got[0]} != oracle {want[0]}")
        elif len(got[1]) != len(want[1]):
            fails.append(f"{name}: {len(got[1])} rows != oracle {len(want[1])}")
        elif got[1] != want[1]:
            i = next(i for i, (a, b) in enumerate(zip(got[1], want[1])) if a != b)
            fails.append(f"{name}: row {i} {got[1][i]} != oracle {want[1][i]}")
    con.close()
    return fails
