"""Checks the harness's query results against the engine's DuckDB oracle SQL.

The comparison is the one the engine's correctness gate (tools/check.py)
makes: columns sorted by name, rows sorted by every column, values
compared as strings. It is restated here so that the benchmark does not
change when the repository's tools do, and so that each mismatch's reason
reaches the run's result.json.
"""
import glob
import json
import os

import duckdb
import pandas as pd

import gen_data


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True).astype(str)


def check(data_dir, out_dir, queries):
    """{query: reason} for every query whose result differs from its oracle."""
    sql = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen_data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    bad = {}
    for name in queries:
        files = glob.glob(os.path.join(out_dir, "results", name, "*.parquet"))
        if not files:
            bad[name] = "no result written"
            continue
        try:
            expected = con.sql(sql[name]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle error: {str(e)[:200]}"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if sorted(got.columns) != sorted(expected.columns):
            bad[name] = f"columns {sorted(got.columns)} vs {sorted(expected.columns)}"
        elif len(got) != len(expected):
            bad[name] = f"rows {len(got)} vs {len(expected)}"
        else:
            g, e = _canon(got), _canon(expected)
            diff = [c for c in g.columns if (g[c] != e[c]).any()]
            if diff:
                bad[name] = f"values differ in {diff}"
    con.close()
    return bad
