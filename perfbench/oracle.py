"""Compare Spark's query results with the registry's DuckDB oracle SQL on
the same parquet inputs, with the comparison rules of the repository's
correctness gate (tools/check.py: its table list and canonical form;
columns by name, rows sorted, exact values)."""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import TABLES, canon  # noqa: E402


def compare(data_dir, results_dir, oracles, names):
    """Return {name: None if equal, else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO %d" % (os.cpu_count() or 1))
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    out = {}
    for name in names:
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if name not in oracles:
            out[name] = "no oracle SQL"
            continue
        if not files:
            out[name] = "no Spark output"
            continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            want = canon(con.execute(oracles[name]).fetchdf())
        except Exception as e:  # a failing oracle or read is a failed check
            out[name] = "%s: %s" % (type(e).__name__, str(e).splitlines()[0][:200])
            continue
        if list(got.columns) != list(want.columns):
            out[name] = "columns %s != %s" % (list(got.columns), list(want.columns))
        elif len(got) != len(want):
            out[name] = "rows %d != %d" % (len(got), len(want))
        else:
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                              check_exact=False, rtol=0, atol=0)
                out[name] = None
            except AssertionError as e:
                out[name] = (str(e).splitlines() or ["value mismatch"])[0][:200]
    con.close()
    return out
