#!/usr/bin/env python3
"""Result digests for the dashboard's oracle check.

`digest` reduces a result table to a hash under the same comparison
tools/check.py makes against DuckDB: columns sorted by name, rows sorted
by their string form, floating columns compared bit for bit as float64,
every other column by its string form.

Run as a script, it computes the DuckDB side once and stores it in
oracle.json, so that no run needs DuckDB:

    python3 perfbench/oracle.py

(it builds the benchmark first, to read the oracle SQL from the engine).
"""
import glob
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_FILE = os.path.join(HERE, "oracle.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def digest(df):
    """(rows, sorted column names, sha256 hex) of a pandas frame."""
    import numpy as np
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.astype(str))
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode())
        col = df[c]
        if col.dtype.kind == "f":
            h.update(np.ascontiguousarray(col.astype(np.float64).values).tobytes())
        else:
            h.update("\x1f".join(col.astype(str)).encode())
    return len(df), list(df.columns), h.hexdigest()


def read_result(path):
    """A result directory of parquet files, as one pandas frame."""
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def main():
    import duckdb
    import run
    cp = run.build()
    work = os.path.join(HERE, ".work", "oracle")
    os.makedirs(work, exist_ok=True)
    sql_file = os.path.join(work, "oracle_sql.json")
    run.java(cp, ["oracle-sql", sql_file], work, timeout=300)
    sqls = json.load(open(sql_file))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(run.DATA, t + '.parquet')}')")
    out = {}
    for name, sql in sorted(sqls.items()):
        rows, cols, h = digest(con.execute(sql).df())
        out[name] = {"rows": rows, "columns": cols, "sha256": h}
        print(f"{name}: {rows} rows", file=sys.stderr)
    with open(ORACLE_FILE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
