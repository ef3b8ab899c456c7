"""Check the batch panel's outputs against the DuckDB oracle.

Each output the harness materialised under OUT/<query>/ is compared with
the result of the query's oracle SQL (OUT/oracle_sql.json, dumped by the
harness from `SparkEntry.oracleSql`) run in DuckDB over the same
generated tables. The comparison is the `tools/compare_oracle.py` one:
columns sorted by name, rows sorted, values compared as strings.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(data_dir, out_dir):
    """Returns {query: None when it matches, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{os.path.join(out_dir, 'duckdb_tmp')}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    result = {}
    for name, sql in sorted(oracle.items()):
        if not glob.glob(os.path.join(out_dir, name, "*.parquet")):
            result[name] = "no output"
            continue
        try:
            got = _canon(pd.read_parquet(os.path.join(out_dir, name)))
            want = _canon(con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failure
            result[name] = f"error: {str(e)[:200]}"
            continue
        if list(got.columns) != list(want.columns):
            result[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            result[name] = f"rows {len(got)} != {len(want)}"
        else:
            bad = [c for c in got.columns
                   if not (got[c].astype(str) == want[c].astype(str)).all()]
            result[name] = f"values differ in {bad}" if bad else None
    con.close()
    return result
