"""Output checks of a benchmark run against DuckDB.

Each checked output is a parquet directory the run wrote on its cold
pass; it is compared with the oracle SQL the JVM dumped for it, run by
DuckDB over the same input files. The compare is the canonical cell compare
of `tools/check.py`: columns sorted by name, rows sorted, and every cell
compared by its `cell_repr` (ints by value, floats bit-exact through
`repr`, decimals with their scale, NULL/NaN folded). Rows are built
column-wise rather than with a per-row pandas `apply`, so the check of a few
hundred thousand rows takes a second, not a minute.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import cell_repr  # noqa: E402


def _fast_repr(x):
    # same result as cell_repr; skips pd.isna for the types it cannot hit
    t = type(x)
    if t is int or t is str:
        return repr(x)
    if t is float:
        return "NULL" if x != x else repr(x)
    return cell_repr(x)


def compare(spark_df, oracle_df):
    """'OK' or a one-line description of the first difference."""
    a_cols, b_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if a_cols != b_cols:
        return f"SCHEMA cols spark={a_cols} oracle={b_cols}"
    if len(spark_df) != len(oracle_df):
        return f"ROWS spark={len(spark_df)} oracle={len(oracle_df)}"

    def rows(df):
        cols = [[_fast_repr(v) for v in df[c].tolist()] for c in a_cols]
        return sorted(zip(*cols))

    a, b = rows(spark_df), rows(oracle_df)
    bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    if not bad:
        return "OK"
    i = bad[0]
    col = next(c for c, x, y in zip(a_cols, a[i], b[i]) if x != y)
    j = a_cols.index(col)
    return (f"REPR col={col} row={i} spark={a[i][j]} oracle={b[i][j]} "
            f"({len(bad)} rows)")


def check(out_dir, events_glob, oracles, threads):
    """Compare `<out_dir>/<name>/*.parquet` with `oracles[name]` for every
    name; return {name: 'OK' | difference}."""
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_glob}')")
    results = {}
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            results[name] = "NO-SPARK-OUTPUT"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            ora = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            results[name] = f"ORACLE-SQL-ERROR {e}"
            continue
        results[name] = compare(spark_df, ora)
    con.close()
    return results
