"""Table registry: name -> (format, path, schema, partition keys).

The reference infers every schema at read time (SURVEY.md §1.4) and
format-sniffs with try parquet / except csv
(Capstone/scripts/i94_data_quality_check.py:258-262). Here each table is
declared once; readers and the data-quality layer look formats and schemas up
instead of guessing. Declared schemas also let Spark skip parquet footer
schema-merging on huge multi-file tables.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# Session confs are process-wide, but this engine overlaps independent
# jobs on driver thread pools (guide §2.6: i94 table writes, feed
# evaluations, the test suite's query sweeps). Two overlapping scopes of
# the SAME key/value are reference-counted so an out-of-order exit cannot
# restore the conf while a sibling scope still runs (the latent race of
# the naive save/set/restore form). Scopes of the same key with DIFFERENT
# values fall back to plain save/set/restore — no such pairing exists in
# the codebase (nanosAsLong/"true", outputTimestampType/"MICROS",
# shuffle.partitions/"8" per stream, adaptive.enabled/"false" per gated
# graph loop), and serial nesting keeps its old semantics.
_CONF_LOCK = threading.RLock()
_CONF_STATE: dict[str, list] = {}  # key -> [refcount, prev, value]


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of a block, then restore the
    prior value (or unset). DataFrames DEFINED inside the block keep the
    scoped value — Spark captures the conf into the relation at read
    creation — while unrelated reads elsewhere in the session are never
    silently affected. Concurrency-safe for same-value scopes (see
    _CONF_STATE above)."""
    with _CONF_LOCK:
        st = _CONF_STATE.get(key)
        try:
            live = spark.conf.get(key)
        except Exception:
            live = None
        # refcount ONLY a genuine same-value overlap (state and the live
        # conf both match); a serially-nested different-value scope
        # (a → b → a) leaves live == 'b', and the inner 'a' must take
        # the legacy push/pop branch so its exit restores 'b'
        shared = st is None or (st[2] == value and live == value)
        if st is None:
            spark.conf.set(key, value)
            _CONF_STATE[key] = [1, live, value]
        elif shared:
            st[0] += 1
        else:  # different value: legacy save/set/restore (serial nesting)
            prev = live
            spark.conf.set(key, value)
    try:
        yield
    finally:
        with _CONF_LOCK:
            if shared:
                st = _CONF_STATE[key]
                st[0] -= 1
                if st[0] == 0:
                    del _CONF_STATE[key]
                    if st[1] is None:
                        spark.conf.unset(key)
                    else:
                        spark.conf.set(key, st[1])
            else:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver's synthetic star schema (TESTDATA.md). `lineitem`/`orders` are
# the facts; everything else is a dimension small enough to broadcast at any
# scale factor except `part`/`customer`, which grow with SF.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions that stay tiny at every scale factor -> always broadcast in joins.
ALWAYS_BROADCAST = frozenset({"region", "nation", "supplier"})


@dataclass(frozen=True)
class TableSpec:
    name: str
    fmt: str = "parquet"
    partition_keys: tuple[str, ...] = ()
    options: dict[str, str] = field(default_factory=dict)

    def path(self, base_dir: str) -> str:
        ext = {"parquet": ".parquet", "csv": ".csv"}.get(self.fmt, "")
        return os.path.join(base_dir, f"{self.name}{ext}")


REGISTRY: dict[str, TableSpec] = {name: TableSpec(name) for name in TESTDATA_TABLES}


def load(spark: SparkSession, name: str, base_dir: str | None = None) -> DataFrame:
    """Read a registered table. Columnar formats get pushdown + pruning free."""
    spec = REGISTRY[name]
    path = spec.path(base_dir or DEFAULT_SF_DIR)
    if name == "events":
        return _load_events(spark, path)
    reader = spark.read.format(spec.fmt).options(**spec.options)
    if spec.fmt == "csv":
        reader = reader.option("header", True)
    return reader.load(path)


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    rejects. Read it as raw nanos (legacy long mode) and truncate to
    microsecond TIMESTAMP_NTZ — same truncation DuckDB applies casting
    TIMESTAMP_NS -> TIMESTAMP, so engine and oracle agree. Integer `div`
    (not /1000.0): epoch-nanos exceed double's 53-bit mantissa."""
    from pyspark.sql import functions as F

    with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
        df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition up to cluster parallelism when a scan arrived as fewer
    splits (small/single-file tables), so CPU-heavy downstream kernels
    (tokenization, shingling, hashing) use every core instead of one task.
    The shuffle moves only the small input once; at real scale inputs have
    >= cluster-parallelism splits and this is a no-op."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
