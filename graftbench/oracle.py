"""Compares an operation's dumped rows with DuckDB running the oracle SQL
on the same parquet tables, by the rules of tools/check.py: columns sorted
by name and compared by name, rows sorted, integer-vs-float dtype
mismatches rejected, floats compared with numpy.isclose (rtol=atol=1e-9)
and then by their string form, everything else by string form."""
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]
INT_TYPES = {"long", "integer", "short", "byte"}
FLOAT_TYPES = {"double", "float"}


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _frame(dump):
    df = pd.DataFrame(dump["rows"], columns=dump["columns"])
    for c, t in zip(dump["columns"], dump["types"]):
        if t in INT_TYPES:
            df[c] = df[c].astype("Int64" if df[c].isna().any() else "int64")
        elif t in FLOAT_TYPES or t.startswith("decimal"):
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].astype(object)
    return df


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(con, dump):
    """Returns None when the rows match the oracle, else why not."""
    try:
        oracle = con.sql(dump["oracle"]).df()
    except Exception as e:  # the oracle itself failed: not a pass
        return f"oracle error: {e}"
    a, b = _canon(_frame(dump)), _canon(oracle)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    for c in a.columns:
        ai, bi = (pd.api.types.is_integer_dtype(x[c]) for x in (a, b))
        af, bf = (pd.api.types.is_float_dtype(x[c]) for x in (a, b))
        if (ai and bf) or (af and bi):
            return f"dtype of {c}: {a[c].dtype} vs oracle {b[c].dtype}"
        if af or bf:
            if not np.allclose(a[c].astype(float).fillna(-9e99),
                               b[c].astype(float).fillna(-9e99),
                               rtol=1e-9, atol=1e-9):
                return f"values of {c} differ"
        if not a[c].astype(str).equals(b[c].astype(str)):
            bad = a[c].astype(str) != b[c].astype(str)
            return (f"values of {c} differ in {int(bad.sum())} rows, e.g. "
                    f"{a[c][bad].astype(str).iloc[0]!r} vs "
                    f"{b[c][bad].astype(str).iloc[0]!r}")
    return None
