"""Truth comparators: a warehouse against a full refresh of the same bronze.

Both warehouses are read through DuckDB from their parquet files. The audit
column `dbt_updated_at` (the run's wall clock) is the only column left out.

- silver: the two tables must hold the same rows (as multisets).
- gold: rows are matched on `unique_id`. A truth id absent from the
  warehouse is missing; a shared id whose values differ in any column is
  stale; a warehouse id absent from the truth is extra.
"""
import json
import os

import duckdb

AUDIT = "dbt_updated_at"


def _scan(table_dir: str) -> str:
    glob = os.path.join(table_dir, "p_date=*", "*.parquet")
    return f"read_parquet('{glob}', hive_partitioning = true)"


def _columns(con, table_dir: str):
    return [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {_scan(table_dir)}").fetchall()
            if r[0] != AUDIT]


def silver_diff(warehouse: str, truth: str) -> int:
    """Rows in either silver table that the other lacks (0 = equal)."""
    con = duckdb.connect()
    w, t = (os.path.join(d, "stg_ticks") for d in (warehouse, truth))
    cols = ", ".join(f'"{c}"' for c in _columns(con, t))
    q = (f"SELECT count(*) FROM ((SELECT {cols} FROM {_scan(w)} EXCEPT ALL "
         f"SELECT {cols} FROM {_scan(t)}) UNION ALL (SELECT {cols} FROM {_scan(t)} "
         f"EXCEPT ALL SELECT {cols} FROM {_scan(w)}))")
    return con.sql(q).fetchone()[0]


def gold_diff(warehouse: str, truth: str) -> dict:
    """{'missing', 'stale', 'extra', 'truth_rows'} for the gold table."""
    con = duckdb.connect()
    w, t = (os.path.join(d, "fct_timeframes") for d in (warehouse, truth))
    differs = " OR ".join(f'w."{c}" IS DISTINCT FROM t."{c}"'
                          for c in _columns(con, t) if c != "unique_id")
    q = f"""
      WITH w AS (SELECT * FROM {_scan(w)}), t AS (SELECT * FROM {_scan(t)})
      SELECT
        (SELECT count(*) FROM t ANTI JOIN w USING (unique_id)),
        (SELECT count(*) FROM t JOIN w USING (unique_id) WHERE {differs}),
        (SELECT count(*) FROM w ANTI JOIN t USING (unique_id)),
        (SELECT count(*) FROM t)"""
    missing, stale, extra, rows = con.sql(q).fetchone()
    return {"missing": missing, "stale": stale, "extra": extra, "truth_rows": rows}



def query_failures(check_oracle, data_dir: str, out_dir: str) -> dict:
    """{query: reason} for each query in `out_dir`'s oracle_sql.json whose
    output does not match its oracle SQL over the tables in `data_dir`.
    `check_oracle` is the repository's tools/check_oracle.py, whose rules
    (typed schema, row count, exact cells) decide a match.
    """
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for name, sql in oracles.items():
        try:
            msg = "no oracle SQL" if not sql else check_oracle.compare(
                con, name, os.path.join(out_dir, name, "*.parquet"), sql)
        except Exception as e:  # a missing output or an SQL error is a mismatch
            msg = f"error: {e}"
        if msg:
            bad[name] = msg
    return bad
