"""Output checks of a run, outside its timed region.

* Registered queries (analyst_queries): each result the warm pass
  persisted is compared with its DuckDB twin
  (``SparkEntry.oracleSql`` / ``dynamicOracleSql``) run over the same
  generated tables: sorted columns and rows, exact values, strict dtypes.
* Kernel-only projections: the content hash must agree across passes.
* platform_backfill: the run-twice content snapshot must be identical,
  and every ledger-tracked ingest of the rerun must be skipped (``pipeline.skipped_ratio`` = 1.0).

Each function returns a list of (name, reason) failures.
"""
import glob
import os

import duckdb
import pandas as pd


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle(tables_dir, results_dir, oracle_sql):
    """Compare every persisted result with its DuckDB twin; return
    (failures, rows_out) with rows_out the total result rows."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    fails, rows_out = [], 0
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            fails.append((name, "no persisted result"))
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        rows_out += len(got)
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - an oracle error is a failed check
            fails.append((name, f"oracle SQL error: {e}"))
            continue
        g, e = _canon(got), _canon(exp)
        if list(g.columns) != list(e.columns):
            fails.append((name, f"columns {list(g.columns)} vs oracle {list(e.columns)}"))
        elif len(g) != len(e):
            fails.append((name, f"rows {len(g)} vs oracle {len(e)}"))
        else:
            try:
                pd.testing.assert_frame_equal(g, e, check_dtype=True, check_exact=True)
            except AssertionError as ae:
                fails.append((name, str(ae).splitlines()[0][:300]))
    con.close()
    return fails, rows_out


def kernels(agreement):
    return [(n, "content hash differs across passes")
            for n, v in sorted(agreement.items()) if not v["agree"]]


def platform(checks):
    fails = []
    if not checks["run_twice"].get("identical"):
        fails.append(("run_twice", "second-run content snapshot differs"))
    if checks["skipped_ratio"] != 1.0:
        fails.append(("rerun", f"skipped_ratio {checks['skipped_ratio']} != 1.0"))
    return fails
