"""DuckDB oracle for the `suite` workload: each oracle-covered query's
set-up result (written by the harness as parquet) must equal the
query's `SparkEntry.oracleSql` run by DuckDB over the same generated
tables — columns compared by name, rows order-insensitively, floats to
1e-9."""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _same(got, want):
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if str(a.dtype).startswith("float") or str(b.dtype).startswith("float"):
            if not np.allclose(a.astype(float), b.astype(float), rtol=0, atol=1e-9,
                               equal_nan=True):
                return f"column {c} differs"
        elif not (a.astype(str).values == b.astype(str).values).all():
            return f"column {c} differs"
    return None


def compare(corpus_dir, out_dir, oracle_sql):
    """Returns one problem string per query that disagrees with DuckDB."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(corpus_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    problems = []
    for name in sorted(oracle_sql):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
            want = con.execute(oracle_sql[name]).df()
            why = _same(_canon(got), _canon(want))
        except Exception as e:  # a failing oracle query is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            problems.append(f"oracle {name}: {why}")
    return problems
