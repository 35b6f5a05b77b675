"""Engine-neutral result hashing, shared by the Spark side (collected rows)
and the DuckDB side (oracle rows), so both hash the same canonical text."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import numpy as np

def _cell(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        return "None" if math.isnan(f) else f"{f:.6g}"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if hasattr(v, "asDict"):  # a nested Spark Row; DuckDB gives a dict
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted,
    numbers to six significant digits (the repo's oracle gate rule)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    head = ",".join(columns[i] for i in order)
    return hashlib.sha256((head + "\n" + "\n".join(lines)).encode()).hexdigest()[:16]


def duckdb_views(con, data_dir: str) -> None:
    """One view per ``<table>.parquet`` in ``data_dir``, named after it."""
    for fn in sorted(os.listdir(data_dir)):
        if fn.endswith(".parquet"):
            con.execute(
                f"CREATE OR REPLACE VIEW {fn[:-8]} AS "
                f"SELECT * FROM read_parquet('{os.path.join(data_dir, fn)}')"
            )


def duckdb_hash(con, sql: str) -> str:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return value_hash(cols, cur.fetchall())
