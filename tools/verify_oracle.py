"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and (where an oracle exists) the
equivalent SQL on DuckDB at the same sf dir, then compares row count, sorted
column names, and an order-insensitive value hash. Use while iterating:

    python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    import datetime

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime64"):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: v.strftime("%Y-%m-%d %H:%M:%S.%f")
                if isinstance(v, (datetime.date, datetime.datetime))
                else str(v)
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def dtype_family(s: pd.Series) -> str:
    """Coarse dtype family ('int'/'float'/'str'/'datetime'/'bool'/'array')
    used to catch engine-side type drift BEFORE the string-collapsing value
    hash: an uncast DuckDB HUGEINT aggregate lands in pandas as float64
    while Spark's bigint lands as int64, and ``%.6g`` would render both as
    the same string — the driver's canonicalizer does not, so the local
    gate must fail on the family mismatch (VERDICT r04 §What's-wrong #2)."""
    import datetime
    import decimal

    import numpy as np

    dt = str(s.dtype)
    if dt.startswith("datetime64"):
        return "datetime"
    if dt == "bool" or dt == "boolean":
        return "bool"
    if pd.api.types.is_integer_dtype(s.dtype):
        return "int"
    if pd.api.types.is_float_dtype(s.dtype):
        return "float"
    for v in s.dropna().head(50):
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, (int, np.integer)):
            return "int"
        if isinstance(v, (float, np.floating, decimal.Decimal)):
            return "float"
        if isinstance(v, (datetime.date, datetime.datetime)):
            return "datetime"
        if isinstance(v, (list, tuple, np.ndarray)):
            return "array"
        if isinstance(v, str):
            return "str"
    return "empty"


def dtype_mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    out = []
    for c in sorted(set(sdf.columns) & set(odf.columns)):
        fs, fo = dtype_family(sdf[c]), dtype_family(odf[c])
        if "empty" in (fs, fo) or fs == fo:
            continue
        out.append(f"{c}: spark={fs} vs oracle={fo}")
    return out


def value_hash(df: pd.DataFrame) -> str:
    df = canon(df)
    parts = []
    for _, row in df.iterrows():
        cells = []
        for v in row:
            if isinstance(v, float):
                cells.append(f"{v:.6g}")
            else:
                cells.append(str(v))
        parts.append("|".join(cells))
    return hashlib.sha256("\n".join(sorted(parts)).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from data_engineering_nd_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows-only, {len(sdf)} rows  [{el:.1f}s]")
            if len(sdf) == 0:
                print(f"      WARNING {name}: 0 rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            problems.extend(f"dtype {m}" for m in dtype_mismatches(sdf, odf))
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append(f"hash {hs} vs {ho}")
                cs, co = canon(sdf), canon(odf)
                if len(cs) == len(co):
                    neq = (cs.astype(str) != co.astype(str)).any(axis=0)
                    problems.append(f"diff cols: {list(cs.columns[neq])}")
                    mask = (cs.astype(str) != co.astype(str)).any(axis=1)
                    print(cs[mask].head(3))
                    print(co[mask].head(3))
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}  [{el:.1f}s]")
        else:
            print(f"PASS  {name}: {len(sdf)} rows  [{el:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
