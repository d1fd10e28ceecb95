"""Correctness against the DuckDB oracle.

Each query's result (written to parquet by the harness after timing) is
compared with the query's `oracleSql` run in DuckDB over the same input
tables, using the comparison and normalisation of the repository's
`tools/parity.py`.
"""
import glob
import importlib.util
import os

import duckdb
import pandas as pd


def load_parity(root):
    path = os.path.join(root, "tools", "parity.py")
    spec = importlib.util.spec_from_file_location("graft_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check(root, data_dir, check_dir, oracle_sql):
    """Return {query: (ok, message)} for every query with an oracle."""
    parity = load_parity(root)
    con = duckdb.connect()
    for t in parity.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            out[name] = (False, f"FAIL {name}: no output")
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            duck_df = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = (False, f"FAIL {name}: duckdb error: {e}")
            continue
        msg = parity.cmp(name, spark_df, duck_df)
        out[name] = (not msg.startswith("FAIL"), msg)
    con.close()
    return out
