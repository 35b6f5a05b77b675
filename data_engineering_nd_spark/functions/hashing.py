"""Deterministic keys and hashes.

The reference mints its fact PK with ``monotonically_increasing_id``
(Capstone/scripts/etl.py:204), which is partition-layout-dependent — rerun the
job with different parallelism and every trip gets a new id. At 100 TB that
makes incremental loads and reproducible joins impossible. The engine derives
keys from content instead (SURVEY.md §4.1 "Non-deterministic IDs").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def content_key(*cols: Column | str) -> Column:
    """Stable 64-bit surrogate key from the natural-key columns.

    xxhash64 runs JVM-side inside codegen; nulls hash distinctly from empty
    strings because Spark's xxhash64 folds type + nullness into the seed
    chain. Collision odds at 64 bits are ~n^2/2^65 — fine for table PKs
    (for 10^10 rows, ~0.3% chance of any collision; use two seeds if that
    ever matters).
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.xxhash64(*cs)


def countmin_bucket(j: Column, key: Column, w: int) -> Column:
    """Bucket of ``key`` in row ``j`` of a width-``w`` Count-Min Sketch:
    the md5 hash family ``md5_prefix_long(j || ':' || key, 8) % w``, which
    the DuckDB oracles mirror as ``CAST(concat('0x', substr(md5(...), 1,
    8)) AS BIGINT) % w``."""
    salted = F.concat(j.cast("string"), F.lit(":"), key.cast("string"))
    return md5_prefix_long(salted, 8) % w


def md5_prefix_long(col: Column | str, n_hex: int = 10) -> Column:
    """First ``n_hex`` hex chars of md5 as a non-negative BIGINT — the
    engine's standard SQL-MIRRORABLE digest (DuckDB twin:
    ``CAST(concat('0x', substr(md5(x), 1, n)) AS BIGINT)``, emitted by
    :func:`sql_md5_prefix_long`). Used wherever an order-insensitive
    content checksum must sum without overflow: n_hex=10 (40 bits) keeps
    SUM inside BIGINT past 10^8 rows. Keep the two emitters in lockstep —
    every Spark call site has a hand-mirrored oracle string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, n_hex), 16, 10).cast("long")


def sql_md5_prefix_long(expr: str, n_hex: int = 10) -> str:
    """DuckDB-side mirror of :func:`md5_prefix_long` for generated oracle
    strings."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, {n_hex})) AS BIGINT)"
