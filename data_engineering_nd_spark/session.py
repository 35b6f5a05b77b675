"""SparkSession construction.

Replaces the reference's ad-hoc builder (Capstone/scripts/etl.py:72-95), which
enabled Hive support and a SAS jar but left every performance knob at default.
Here AQE is on (runtime coalesce + skew-join handling), Arrow is on for any
pandas interchange, and shuffle parallelism is sized to the machine instead of
the Spark default of 200.

At cluster scale the same builder is used; only ``master`` and the shuffle
partition count change (rule of thumb: 2-3x total executor cores, and large
enough that a shuffle partition stays under a few hundred MB at the target
data size — for 100 TB inputs that means tens of thousands of partitions,
which AQE coalesces back down when a stage's actual data is small).

The generated-class cache (``spark.sql.codegen.cache.maxEntries``) is sized
to the engine's working set, not left at Spark's 100. One warm pass over a
handful of registered queries plus ``pipeline.run`` needs about 220 distinct
generated classes, and one VersionedTable write round (upsert, merge_dv,
delete, change-feed sync, reads, maintenance) about 175. The cache is an
LRU, so a cycle longer than it evicts every class before its reuse: at 100
entries each pass recompiles the same Java. It is a static, JVM-wide
setting read at the first codegen, so a session built outside
:func:`get_spark` (a plain ``SparkSession.builder``, a notebook) should set
the same conf before its first query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "data-engineering-nd-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Idempotent: if a session already exists it is returned as-is (Spark
    ignores new config on getOrCreate), which keeps pytest fast.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
        # ones, and switch sort-merge -> broadcast when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas_udf / applyInPandas / toPandas interchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Generated-class LRU: the working set is ~220 classes per warm
        # pass of queries + pipeline.run and ~175 per table write round;
        # at Spark's 100 every class is evicted before reuse and each pass
        # recompiles. 2000 leaves room for several such working sets.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Runtime row-level join pruning: inject a bloom filter built from the
        # small/filtered side of a join into the big side's scan. At 100 TB
        # this skips reading most of a fact's rows when the dim side is
        # selective; at test scale it is a no-op below the creation threshold.
        # (runtimeFilter.semiJoinReduction is deliberately NOT enabled: it
        # hangs session startup on this Spark build — bloom injection alone
        # is the safe, effective variant.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        # Read timestamps without timezone as TIMESTAMP_NTZ to match the
        # driver's DuckDB oracle (plain TIMESTAMP) semantics.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
