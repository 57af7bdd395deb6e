"""DuckDB replay of graft's oracle SQL against one run's call results.

Each call's Spark result (a parquet directory written by the cold first
pass) is compared with its `SparkEntry.oracleSql` entry run in
DuckDB over the same generated tables: columns sorted by name, rows sorted
by value, then an exact match, as graft's own oracle check does.
"""
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, result_dir: Path, sql: str, con) -> str:
    """Empty string on a match, else why the result differs."""
    try:
        spark_df = duckdb.connect().execute(f"SELECT * FROM '{result_dir}/*.parquet'").fetchdf()
    except Exception as e:  # noqa: BLE001 - every failure is reported by name
        return f"no result: {e}"
    try:
        oracle_df = con.execute(sql).fetchdf()
    except Exception as e:  # noqa: BLE001
        return f"oracle error: {e}"
    s, o = canon(spark_df), canon(oracle_df)
    if list(s.columns) != list(o.columns):
        return f"schema spark={list(s.columns)} oracle={list(o.columns)}"
    if len(s) != len(o):
        return f"rows spark={len(s)} oracle={len(o)}"
    if s.equals(o):
        return ""
    neq = (s != o) & ~(s.isna() & o.isna())
    return f"values differ in {[c for c in s.columns if neq[c].any()]}"


def replay(data_dir: Path, results_dir: Path, calls, oracle_sql: dict):
    """Returns (number checked, [(call, why)] for every mismatch)."""
    con = duckdb.connect()
    for t in TABLES:
        p = data_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures, checked = [], 0
    for name in calls:
        sql = oracle_sql.get(name)
        if sql is None:
            failures.append((name, "no oracle SQL"))
            continue
        checked += 1
        why = compare(name, results_dir / name, sql, con)
        if why:
            failures.append((f"{name} (oracle)", why))
    return checked, failures
