"""Output check of the reports workload: each query's result, written as
parquet by the JVM side, must equal what DuckDB computes from the query's
oracle SQL (`graft.SparkEntry.oracleSqlFor`) on the same input tables,
after both are put in a canonical column and row order. This is the
comparison the repository's correctness gate makes, exact on every cell.
"""

import glob
import os
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]


def canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check(tables_dir, check_dir, sql_by_query):
    """{query: None when its output matches, else the reason it does not}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    out = {}
    for q, sql in sql_by_query.items():
        t = time.perf_counter()
        if not sql:
            out[q] = "no output or no oracle SQL"
            continue
        files = sorted(glob.glob(os.path.join(check_dir, q, "*.parquet")))
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            exp = canon(con.execute(sql).fetchdf())
            if list(got.columns) != list(exp.columns):
                out[q] = f"columns {list(got.columns)} != {list(exp.columns)}"
            elif got.shape != exp.shape:
                out[q] = f"shape {got.shape} != {exp.shape}"
            else:
                pd.testing.assert_frame_equal(got, exp, check_exact=True)
                out[q] = None
        except Exception as e:  # a mismatch, or output that cannot be read
            out[q] = f"{type(e).__name__}: {str(e)[:300]}"
        print(f"[perfbench] oracle {q}: {time.perf_counter() - t:.3f} s", file=sys.stderr)
    con.close()
    return out
