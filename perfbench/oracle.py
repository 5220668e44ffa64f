"""DuckDB checks of the results the harness wrote.

The comparison follows the repository's oracle gate
(`tools/check_oracle.py`): columns sorted by name, rows sorted by every
column, exact values, and equal dtypes up to integer width and the
datetime storage unit.
"""
import glob
import os
import re

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DTYPES = {"int64": "int64", "int32": "int32", "int16": "int16", "float64": "float64",
          "float32": "float32", "bool": "bool"}


def _dtype_key(s):
    s = re.sub(r"^u?int(8|16|32|64)$", "int64", s)
    return re.sub(r"^datetime64\[(ns|us|ms)", "datetime64[*", s)


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got, want):
    """None when equal under the gate's rules, else the reason."""
    got, want = _norm(got), _norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    bad = [(c, str(got[c].dtype), str(want[c].dtype)) for c in got.columns
           if _dtype_key(str(got[c].dtype)) != _dtype_key(str(want[c].dtype))]
    if bad:
        return f"dtype mismatch {bad}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"value mismatch: {str(e)[:300]}"
    return None


def _frame(columns, rows):
    names = [c[0] for c in columns]
    df = pd.DataFrame(rows, columns=names)
    for name, typ in columns:
        if typ in DTYPES and not df[name].isna().any():
            df[name] = df[name].astype(DTYPES[typ])
        elif typ not in DTYPES:
            df[name] = df[name].astype(object)
    return df


class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def check(self, c):
        """Return (failure reason or None, ids of failed operations)."""
        if "error" in c:
            return c["error"], []
        try:
            want = self.con.sql(c["sql"]).df()
            if "row_counts" in c:
                n = int(want.iloc[0, 0])
                bad = [q for q, rows in c["row_counts"].items() if rows != n]
                return (f"{len(bad)} scans delivered a row count other than {n}"
                        if bad else None), bad
            if "parquet" in c:
                files = sorted(glob.glob(os.path.join(c["parquet"], "*.parquet")))
                if not files:
                    return "no result files", []
                got = pd.concat([pd.read_parquet(f) for f in files])
            else:
                got = _frame(c["columns"], c["rows"])
            if c.get("local_aggregate") is False:
                return "checksum aggregate was pushed to the endpoint", []
            return compare(got, want), []
        except Exception as e:  # a check that cannot run is a failed check
            return f"{type(e).__name__}: {e}", []
