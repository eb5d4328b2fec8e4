"""Order-independent digests of query results, comparable across engines.

A result's digest is (row count, 64-bit hex). Columns are taken in name
order; values are normalised (integers to int64, floats to float64 with
-0.0 folded into 0.0 and nulls tracked apart, timestamps to UTC
nanoseconds, everything else to a canonical string), each row is hashed,
and the row hashes are summed modulo 2^64, so row order does not matter
but multiplicity does. Engines that agree row for row under the
sort-and-compare rule of tools/check_oracle.py give equal digests.
"""
import decimal
import hashlib

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck(data_dir):
    """A DuckDB connection with every input table as a view."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _canon(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return "nan" if v != v else repr(v + 0.0)
    if isinstance(v, (np.floating,)):
        return _canon(float(v))
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _columns(df):
    out = {}
    for c in sorted(df.columns):
        s = df[c]
        kind = s.dtype.kind
        if kind in "iub":
            out[c] = s.astype("int64")
        elif kind == "f":
            mask = s.isna().to_numpy()
            vals = np.where(mask, 0.0, s.to_numpy(dtype="float64")) + 0.0
            out[c] = pd.Series(vals)
            if mask.any():
                out[c + "\x00null"] = pd.Series(mask.astype("int64"))
        elif kind == "M":
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c] = s.astype("datetime64[ns]").astype("int64")
        else:
            out[c] = s.map(_canon).astype(object)
    return pd.DataFrame({k: v.reset_index(drop=True) for k, v in out.items()})


def of_frame(df):
    names = hashlib.sha256("|".join(sorted(df.columns)).encode()).hexdigest()[:16]
    if len(df) == 0:
        return 0, names
    h = pd.util.hash_pandas_object(_columns(df), index=False).to_numpy()
    total = int(h.sum(dtype=np.uint64))
    return len(df), f"{total ^ int(names, 16):016x}"


def of_parquet(path):
    return of_frame(pd.read_parquet(path))
