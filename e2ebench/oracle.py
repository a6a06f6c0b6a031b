"""DuckDB oracle compare for the curation_batch workload: a query's result,
written by Spark as a parquet directory, against its `SparkEntry.oracleSql`
run in DuckDB over the same corpus. Columns are compared by name, rows
after sorting on every column, values exactly."""
import os

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def expected(data_dir, sql):
    """The oracle's result over the corpus, canonically ordered."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return _canon(con.sql(sql).df())
    finally:
        con.close()


def compare(result_dir, want):
    """None when the result equals the oracle's, else a one-line reason."""
    got = _canon(pd.read_parquet(result_dir))
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        try:
            eq = (a.isna() & b.isna()) | (a == b)
        except (TypeError, ValueError):
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"column {c} row {i}: {a[i]!r} != oracle {b[i]!r}"
    return None
