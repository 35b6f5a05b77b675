"""Cross-engine-stable numeric kernels.

Spark's ``round()`` rounds the shortest-decimal representation of a double
while DuckDB's rounds the binary value, so the two disagree on values that
land exactly on a decimal midpoint (q66 hit this on interpolated .00005s).
``floor(x * 10^k + 0.5) / 10^k`` is the same IEEE-754 arithmetic in both
engines, bit-for-bit, so every rounded double that feeds a value-hashed
output goes through these helpers (ADVICE r05 #2).

Contract: half-up toward +inf — callers pass NON-NEGATIVE values (shares,
budgets, ratios). For negatives this differs from round-half-away-from-zero.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_up(col: Column, scale: int) -> Column:
    """floor(x * 10^scale + 0.5) / 10^scale — decimal round-half-up with
    identical IEEE arithmetic in Spark and DuckDB (non-negative inputs)."""
    p = float(10**scale)
    return F.floor(col * F.lit(p) + F.lit(0.5)) / F.lit(p)


def round_half_up_long(col: Column) -> Column:
    """floor(x + 0.5) as BIGINT — integer round-half-up (non-negative)."""
    return F.floor(col + F.lit(0.5)).cast("long")
