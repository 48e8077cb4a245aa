"""DuckDB oracle compare for report_queries.

Runs each query's declared oracle SQL (`graft.SparkEntry.oracleSqlFor`,
dumped by the JVM next to the outputs as `oracle_sql.json`) in DuckDB over
the same parquet tables and compares it with the Spark output the JVM wrote
for its report pass. The comparison is the repository's correctness
gate's: columns sorted by name, rows sorted by every column, integers and
strings exact, floats bit-exact, and no integer/float kind mismatch.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _differs(expected, got):
    if list(expected.columns) != list(got.columns):
        return f"columns {list(got.columns)} != {list(expected.columns)}"
    if len(expected) != len(got):
        return f"rows {len(got)} != {len(expected)}"
    for c in expected.columns:
        e, g = expected[c], got[c]
        if e.dtype.kind in "iuf" and g.dtype.kind in "iuf" and (e.dtype.kind == "f") != (g.dtype.kind == "f"):
            return f"{c}: dtype {g.dtype} vs oracle {e.dtype}"
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            ok = (e.astype(float).fillna(-1e308) == g.astype(float).fillna(-1e308)).all()
        else:
            ok = (e.astype(str) == g.astype(str)).all()
        if not ok:
            return f"values differ in column {c}"
    return None


def compare(data_dir, out_dir):
    """Return the sorted names of the queries whose output differs from the
    oracle (a failure is printed with its reason on standard error)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    bad = []
    for name in sorted(os.listdir(out_dir)):
        if name == "oracle_sql.json":
            continue
        try:
            if name not in sqls:
                raise KeyError("no oracle SQL")
            why = _differs(_canon(con.sql(sqls[name]).df()),
                           _canon(duckdb.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()))
        except Exception as e:  # noqa: BLE001 - any failure to compare is a failure
            why = f"{type(e).__name__}: {e}"
        if why:
            print(f"oracle: {name}: {why}", file=sys.stderr)
            bad.append(name)
    return bad
