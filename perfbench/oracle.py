"""Output checks against the catalog's DuckDB oracle SQL (the compare
dev/check.py makes): same column names, same row count, and equal values
after sorting both sides by every column."""
import glob
import os

import duckdb


def connect(in_dir):
    """A DuckDB connection with one view per generated table in ``in_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for path in glob.glob(os.path.join(in_dir, "*.parquet")):
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.sql(f"CREATE VIEW {os.path.basename(path)[:-8]} AS SELECT * FROM '{src}'")
    return con


def compare(got, want):
    """None when the two pandas frames hold the same rows, else why not."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"schema: got {cols}, oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows: got {len(got)}, oracle {len(want)}"
    s = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    d = want[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        a, b = s[c], d[c]
        try:
            eq = (a.isna() & b.isna()) | (a == b)
        except Exception:
            eq = a.astype(str) == b.astype(str)
        eq = eq.fillna(False)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"value: column {c} row {i}: got {a.iloc[i]!r}, oracle {b.iloc[i]!r}"
    return None
