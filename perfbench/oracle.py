"""DuckDB oracle check of the batch workloads' query results.

Each query's Spark result (a parquet directory written outside the timed
loop) is compared with the query's registered DuckDB oracle SQL run over
the same corpus, by the repository's own oracle rules
(`scripts/oracle_check.py`: columns sorted by name, rows sorted by every
column, list cells rejected, cells compared exactly).
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
import oracle_check  # noqa: E402


def compare(corpus, out_dir, name, sql):
    """None when the result matches, else a one-line reason."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in glob.glob(os.path.join(corpus, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    if not glob.glob(os.path.join(out_dir, name, "*.parquet")):
        return "no result files"
    got = con.execute(
        f"SELECT * FROM read_parquet('{os.path.join(out_dir, name)}/*.parquet')"
    ).fetchdf()
    if sql is None:
        return None if len(got) else "no rows (and no oracle)"
    exp = con.execute(sql).fetchdf()
    try:
        g, e = oracle_check.norm(got, name), oracle_check.norm(exp, name)
    except TypeError as err:
        return str(err)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    if len(g) == 0:
        return "empty result"
    for c in g.columns:
        m = oracle_check.col_mismatch(g[c], e[c])
        if m.any():
            i = int(m.idxmax())
            return f"{c}[{i}]: {g[c][i]!r} vs {e[c][i]!r} ({int(m.sum())} cells)"
    return None
