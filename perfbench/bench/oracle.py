"""DuckDB cross-check of query results, the compare `tools/crosscheck.py`
makes: run the query's oracle SQL over the same parquet tables, sort
columns by name and rows by value, and compare the rows as strings."""
import glob

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(table_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


def compare(con, sql, result_dir, expected):
    """None when the Spark result under `result_dir` equals the oracle's
    rows, otherwise a one-line reason. `expected` memoizes the oracle's
    result per SQL text across calls."""
    files = sorted(glob.glob(f"{result_dir}/*.parquet"))
    if not files:
        return "missing spark output"
    try:
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        if sql not in expected:
            expected[sql] = con.sql(sql).df()
        exp = expected[sql]
    except Exception as e:  # the oracle itself failing is a failed check
        return f"oracle error: {e}"
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"schema {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    g = got.sort_values(list(got.columns)).reset_index(drop=True).astype(str)
    e = exp.sort_values(list(exp.columns)).reset_index(drop=True).astype(str)
    if not g.equals(e):
        return f"{int((g != e).any(axis=1).sum())} rows differ"
    return None
