"""Query registry: the driver-facing contract surface.

Every implemented operator registers (a) a PySpark query callable
``(spark, sf_dir) -> DataFrame`` and, where SQL-expressible, (b) the
equivalent ANSI SQL for the driver's DuckDB oracle. ``__spark_entry__``
re-exports these. Column names must match between the two (the driver's
compare sorts columns by name before value-hashing), so every computed
column is aliased identically on both sides.

Determinism rules used throughout (SURVEY.md §7.4):
- money-ish double sums go through DECIMAL(18,4/6) accumulation and are cast
  back to DOUBLE, so Spark's and DuckDB's different summation orders cannot
  diverge in the last ulp;
- averages are computed as CAST(decimal-sum AS DOUBLE) / CAST(count AS
  DOUBLE) for the same reason;
- no monotonically_increasing_id / rand anywhere — content-derived keys only.
"""

from __future__ import annotations

import json
import re
import threading
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}

_WORKER_IMPORTS_LOCK = threading.Lock()


def ensure_worker_imports(spark) -> None:
    """Make ``data_engineering_nd_spark`` importable on Python WORKERS
    regardless of the driver's working directory: mapInPandas / pandas-UDF
    closures pickle references to this package, and in local mode workers
    inherit the driver JVM's cwd — a driver launched from elsewhere (with
    only a driver-side sys.path patch) would hit ModuleNotFoundError at
    task time. Zips the package once per process and ships it via
    ``sc.addPyFile`` (idempotent per SparkContext); a no-op overhead when
    the cwd already suffices."""
    import os
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_dend_pyfiles_added", False):
        return
    # Queries may be launched from overlapping driver threads (guide
    # §2.6 pools in the fixtures and test sweeps): without the lock,
    # concurrent first calls all pass the guard, one addPyFile ships a
    # partially-written zip, and every later task fails with "exists and
    # does not match contents". Double-checked lock + write-to-temp +
    # atomic rename makes the first call safe and the rest free.
    with _WORKER_IMPORTS_LOCK:
        if getattr(sc, "_dend_pyfiles_added", False):
            return
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        root = os.path.dirname(pkg_dir)
        zpath = os.path.join(
            tempfile.gettempdir(), f"dend_spark_pkg_{os.getpid()}.zip"
        )
        if not os.path.exists(zpath):
            tmp = zpath + ".tmp"
            with zipfile.ZipFile(tmp, "w") as z:
                for dp, _, fns in os.walk(pkg_dir):
                    if "__pycache__" in dp:
                        continue
                    for fn in fns:
                        if fn.endswith(".py"):
                            full = os.path.join(dp, fn)
                            z.write(full, os.path.relpath(full, root))
            os.replace(tmp, zpath)
        sc.addPyFile(zpath)
        sc._dend_pyfiles_added = True


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks a non-SQL-expressible operator
    (driver falls back to a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# --- Gate-window order ----------------------------------------------------
#
# The driver's correctness gate records a prefix of queries() in each
# committed CORRECTNESS_r{N}.json at the repo root.  To cover the whole
# surface across rounds, gate_ordered puts names no file records first
# (cheapest cost class first), then recorded names by the last round that
# recorded them, oldest first; ties keep registration order.  An entry
# with an ``err`` still counts as recorded.  Without the files (e.g. the
# worker zip, which holds only the package) nothing counts as recorded.

_RECORD_DIR = Path(__file__).resolve().parents[1]


def _last_recorded_round() -> dict[str, int]:
    last: dict[str, int] = {}
    for path in _RECORD_DIR.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            for name in json.loads(path.read_text()):
                last[name] = max(int(m.group(1)), last.get(name, 0))
    return last


#: Rough per-query gate cost at sf0.01, by name prefix (lower = cheaper =
#: earlier).  Streaming queries carry a fixed micro-batch + state-store
#: overhead regardless of SF, so they go last within the unrecorded block.
_COST_CLASS: tuple[tuple[str, int], ...] = (
    ("i94_", 0), ("dq_", 0), ("q", 1), ("text_", 2), ("dedup_", 3),
    ("ann_", 3), ("multimodal_", 4), ("graph_", 5), ("stream_", 6),
    ("ds_", 7),  # added AFTER round 1 — let the r01 backlog verify first
)


def _cost_class(name: str) -> int:
    for prefix, cls in _COST_CLASS:
        if name.startswith(prefix):
            return cls
    return 3


def gate_ordered(d: dict[str, object]) -> dict[str, object]:
    """Stable-reorder a registry dict for the driver's prefix-window gate:
    never-recorded names first (by cost class, then registration order),
    recorded names after, OLDEST record first, ties broken by
    registration order."""
    last = _last_recorded_round()
    order = list(d)
    fresh = [n for n in order if n not in last]
    fresh.sort(key=lambda n: (_cost_class(n), order.index(n)))
    seen = [n for n in order if n in last]
    seen.sort(key=lambda n: (last[n], order.index(n)))
    return {n: d[n] for n in fresh + seen}


def load_all_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    import data_engineering_nd_spark.analytics  # noqa: F401
    import data_engineering_nd_spark.bucketing  # noqa: F401
    import data_engineering_nd_spark.i94_parity  # noqa: F401
    import data_engineering_nd_spark.operators.bloom  # noqa: F401
    import data_engineering_nd_spark.operators.datasets  # noqa: F401
    import data_engineering_nd_spark.operators.dedup  # noqa: F401
    import data_engineering_nd_spark.operators.dimensions  # noqa: F401
    import data_engineering_nd_spark.operators.graph  # noqa: F401
    import data_engineering_nd_spark.operators.joins  # noqa: F401
    import data_engineering_nd_spark.operators.multimodal  # noqa: F401
    import data_engineering_nd_spark.operators.quality  # noqa: F401
    import data_engineering_nd_spark.operators.similarity  # noqa: F401
    import data_engineering_nd_spark.operators.text_analysis  # noqa: F401
    import data_engineering_nd_spark.sources.formats  # noqa: F401
    import data_engineering_nd_spark.streaming.queries  # noqa: F401
