"""Output checks that need DuckDB: each distinct metric request's result
must hash-match DuckDB running the planner's rendered SQL over the same
generated tables, under the hashing rules of `tools/localcheck.py`
(columns sorted by name, floats rounded to 9 digits). Rows are sorted
on both sides first, because a request need not fix a total row order.
"""
import glob
import importlib.util
import os

import duckdb


def _localcheck():
    path = os.path.join(os.getcwd(), "tools", "localcheck.py")
    spec = importlib.util.spec_from_file_location("localcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rows_sorted(df):
    df = df.reset_index(drop=True)
    if len(df.columns) and len(df):
        key = df.copy()
        for c in key.columns:
            if str(key[c].dtype).startswith("float"):
                key[c] = key[c].round(9)
            else:
                key[c] = key[c].astype(str)
        df = df.loc[key.sort_values(list(key.columns)).index]
    return df.reset_index(drop=True)


def metric_requests(data, out, requests):
    """Returns {request id: reason} for every request that mismatches."""
    lc = _localcheck()
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    bad = {}
    for r in requests:
        files = sorted(glob.glob(os.path.join(out, "results", r["id"],
                                              "part-*.parquet")))
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            want = con.sql(r["sql"]).df()
        except Exception as e:  # a failed query is a failed check
            bad[r["id"]] = f"{type(e).__name__}: {e}"[:200]
            continue
        got, want = lc.canon(got), lc.canon(want)
        if list(got.columns) != list(want.columns):
            bad[r["id"]] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            bad[r["id"]] = f"rows {len(got)} != {len(want)}"
        elif lc.hash_df(_rows_sorted(got)) != lc.hash_df(_rows_sorted(want)):
            bad[r["id"]] = f"hash mismatch ({r['request']})"
    return bad
