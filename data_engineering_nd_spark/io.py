"""Readers and writers (SURVEY.md §2.1 S1-S10) behind one interface.

The reference scatters format handling across ad-hoc calls (SAS jar reads
etl.py:739-740, csv variants etl.py:799-807, try-parquet/except-csv sniffing
in the DQ job) and hand-rolled write loops (etl.py:422-496). Here:

- ``read`` is format-pluggable (parquet/csv/json; 'sas' would slot in via a
  third-party data source if its jar is present — the testdata substitutes
  parquet, SURVEY §7.4);
- ``read_many`` unions monthly/sharded files BY NAME (the reference's
  positional unionAll fold, etl.py:97-108, silently mismatches columns when
  a month's schema drifts);
- ``write`` does partitioned/unpartitioned parquet+csv with
  overwrite/append, and returns the row count *from the write metrics*
  instead of running a separate count() job per table (the reference's
  double-execution, etl.py:528 — one full extra scan per table).

At scale: writers default to parquet with hive partitioning; the
partition-column choice is the caller's contract (facts partition by
(i94_year, i94_month) like the reference's layout, which gives readers
partition pruning for free).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class WriteResult:
    path: str
    fmt: str
    mode: str
    partition_keys: tuple[str, ...]
    rows: int | None  # from commit metrics when available; no extra job


def read(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options: str,
) -> DataFrame:
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).load(path)


def read_many(
    spark: SparkSession,
    paths: list[str],
    fmt: str = "parquet",
    schema=None,
    **options: str,
) -> DataFrame:
    """Multi-file ingest with by-name union (U1/U2). One call with all paths
    lets Spark parallelize listing/footer reads; the unionByName fold only
    kicks in when schemas genuinely drift."""
    frames = [read(spark, p, fmt, schema, **options) for p in paths]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )


def _align_partitions(
    df: DataFrame,
    partition_keys: tuple[str, ...],
    files_per_partition: int,
) -> DataFrame:
    """Pre-shuffle for a partitioned write: repartition on (partition_keys
    + a deterministic content salt) so each output directory is bounded to
    ``files_per_partition`` files (see :func:`write`'s docstring for why).
    The salt is xxhash64 over the HASHABLE columns only — Spark rejects
    MapType inputs to xxhash64, and the partition keys (always atomic
    types) are guaranteed to remain, so map-bearing frames still align
    instead of throwing."""
    from pyspark.sql import functions as F

    hashable = [c for c, t in df.dtypes if "map<" not in t]
    salt = F.pmod(
        F.xxhash64(*[F.col(f"`{c}`") for c in hashable]),
        F.lit(files_per_partition),
    )
    return df.repartition(*[F.col(f"`{k}`") for k in partition_keys], salt)


def write(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_keys: tuple[str, ...] = (),
    files_per_partition: int = 4,
    **options: str,
) -> WriteResult:
    """Partitioned/unpartitioned write, overwrite or append (S9/S10).

    The audit row count rides on the write job itself via ``observe`` —
    the reference instead runs count() before every write (etl.py:528),
    a full extra scan per table.

    Partitioned writes are PARTITION-ALIGNED: without a pre-shuffle every
    upstream task opens a writer for every partition value, so a
    32-task × 12-month table lands as ~384 tiny files per write — the
    small-files pattern that melts a 100 TB table's listing and scan
    planning. Instead the rows are repartitioned on (partition_keys +
    a deterministic content salt), bounding each partition directory to
    at most ``files_per_partition`` files while keeping write parallelism
    = n_partitions × files_per_partition (the salt is xxhash64 of the
    whole row — no rand(), so retries and re-runs land identical
    layouts)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if partition_keys and files_per_partition >= 1:
        observed = _align_partitions(observed, partition_keys, files_per_partition)
    writer = observed.write.format(fmt).mode(mode).options(**options)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_keys:
        writer = writer.partitionBy(*partition_keys)
    writer.save(path)
    try:
        rows = int(obs.get["rows"])
    except Exception:
        rows = None  # observation unavailable -> count is advisory only
    return WriteResult(path, fmt, mode, tuple(partition_keys), rows)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side ``rows`` (tuples in field order) as a frame whose plan
    leaf is a ``LocalRelation``, under exactly the declared ``schema``
    (a ``StructType`` or DDL string: names, types, nullability and field
    metadata are kept).

    ``spark.createDataFrame(list, schema)`` goes through
    ``sc.parallelize``: its leaf is a ``LogicalRDD``, and every plan that
    reads or broadcasts the frame runs a stage of ``defaultParallelism``
    Python-worker tasks. For a 2-row frame on a 4-core host that is one
    job of 4 tasks at about 250 ms each (3 ms of CPU in total), 0.43 s per
    collect. Built from a ``pyarrow.Table`` the leaf is a
    ``LocalRelation``: 0 jobs, 0.02 s.

    Values convert as the list path converts them: a naive
    ``TimestampType`` value is read in the Python process's local time
    zone (``TimestampType.toInternal``), not the session's."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        StructType,
        TimestampType,
        _parse_datatype_string,
    )

    struct = (
        schema if isinstance(schema, StructType)
        else _parse_datatype_string(schema)
    )
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    arrays = []
    for f, atype, col in zip(struct.fields, arrow.types, cols):
        if isinstance(f.dataType, TimestampType):
            col = [None if v is None else f.dataType.toInternal(v) for v in col]
        arrays.append(pa.array(col, type=atype))
    table = pa.Table.from_arrays(arrays, schema=arrow)
    return spark.createDataFrame(table, schema=struct)


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """Empty-relation source (S7: the reference's createDataFrame([], R([]))
    sentinel, etl.py:795-796) — with a REAL declared schema, so downstream
    unions/joins resolve instead of failing on a zero-column frame."""
    return local_frame(spark, [], schema)


def upsert_parquet(
    df: DataFrame,
    path: str,
    key_cols: list[str],
) -> WriteResult:
    """Key-idempotent append (MERGE-lite without a table format): incoming
    rows whose key already exists in the target are dropped via left-anti
    join, the remainder appends. Makes re-runs of an incremental load safe
    — the reference's mode('append') (etl.py:445-448) silently duplicates
    on retry.

    At scale the anti-join prunes with predicate pushdown on the key
    columns only (existing payload columns are never read); with a real
    lakehouse format (Delta/Iceberg) this becomes MERGE INTO on the same
    key — the call-site contract is identical.
    """
    import os

    spark = df.sparkSession
    if os.path.isdir(path):
        existing = spark.read.parquet(path).select(*key_cols)
        df = df.join(existing, on=key_cols, how="left_anti")
    return write(df, path, mode="append")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` resolved through Hadoop's FS API —
    the same abstraction Spark's own writers use, so file://, hdfs:// and
    s3a:// all behave identically from the driver's point of view."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf), jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Object-store-safe existence check (S12: the reference shells out to
    boto3 bucket checks, copy_files_to_s3.py:35-68; here one FS API serves
    local, HDFS and s3a URIs alike)."""
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def fs_listdir(spark: SparkSession, path: str) -> list[str]:
    """Non-recursive child listing (names only) of a directory/prefix via
    the Hadoop FS API — bucket/prefix inventory for data-quality checks
    against object stores without pulling in an S3 SDK."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(p))


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_partitions: int | None = None,
) -> WriteResult:
    """Small-file compaction: rewrite a parquet location into
    ``target_partitions`` files (default: cluster parallelism). Streaming
    sinks and incremental appends accumulate files; at 100 TB unbounded
    file counts dominate planning time (listing + footer reads), so
    compaction is scheduled maintenance.

    The rewrite stages under ``<path>__staging_<uuid>`` — a SIBLING of the
    destination, hence on the destination's own filesystem (never a
    driver-local tempdir) — and publishes by renaming through the Hadoop
    FS API. The source directory is replaced only after the staged copy is
    fully written; a failure at any earlier point leaves the source
    untouched, and a failure between the two renames rolls the source
    back. (On rename-less object stores the two renames are copies; for a
    fully atomic publish use ``tables.VersionedTable.compact``, whose
    manifest swap is the commit point.)
    """
    import uuid as _uuid

    df = spark.read.parquet(path)
    n = target_partitions or spark.sparkContext.defaultParallelism
    token = _uuid.uuid4().hex[:8]
    base = path.rstrip("/")
    staged, backup = f"{base}__staging_{token}", f"{base}__backup_{token}"
    fs, src = _hadoop_fs(spark, base)
    _, p_staged = _hadoop_fs(spark, staged)
    _, p_backup = _hadoop_fs(spark, backup)
    try:
        res = write(df.repartition(n), staged, mode="overwrite")
    except Exception:
        fs.delete(p_staged, True)  # source untouched; drop partial staging
        raise
    if not fs.rename(src, p_backup):
        fs.delete(p_staged, True)
        raise OSError(f"compact_parquet: could not move {base} aside")
    if not fs.rename(p_staged, src):
        fs.rename(p_backup, src)  # roll back: source restored verbatim
        raise OSError(f"compact_parquet: publish failed; {base} restored")
    fs.delete(p_backup, True)
    return WriteResult(base, res.fmt, res.mode, res.partition_keys, res.rows)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
) -> WriteResult:
    """Range-clustered parquet write: globally range-partition on
    ``cluster_cols`` then sort within each partition before writing.

    Each output file then covers a narrow, mostly-disjoint slice of the
    cluster-key domain, so parquet footer min/max statistics let readers
    skip whole files/row-groups for selective predicates on those columns
    — the poor man's Z-order, and at 100 TB the difference between
    scanning a day and scanning a decade for a date-range query. Costs one
    range shuffle (sampled boundaries) at write time; hive partitioning
    (``write(partition_keys=...)``) remains the tool for LOW-cardinality
    keys, clustering for high-cardinality ones like timestamps.

    tests/test_io.py asserts the per-file min/max footer ranges are
    near-disjoint after this write and heavily overlapping without it.
    """
    spark = df.sparkSession
    n = n_files or spark.sparkContext.defaultParallelism
    clustered = df.repartitionByRange(n, *cluster_cols).sortWithinPartitions(
        *cluster_cols
    )
    return write(clustered, path, mode="overwrite")


def zorder_key(cols: list[str], bits_per_dim: int = 12) -> Column:
    """Interleaved-bit (Morton) key over numeric columns, each first scaled
    to [0, 2^bits) by a min-max linear map computed over the frame's own
    window aggregates at write time (see write_zordered).

    Expects companion columns ``__zmin_<c>`` / ``__zmax_<c>`` to exist.
    Pure bit arithmetic — shiftleft/or chains — so the key computes inside
    whole-stage codegen.
    """
    scaled = []
    for c in cols:
        lo, hi = F.col(f"__zmin_{c}"), F.col(f"__zmax_{c}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        x = F.least(
            F.floor(
                (F.col(c).cast("double") - lo) / span * F.lit(float(1 << bits_per_dim))
            ).cast("long"),
            F.lit((1 << bits_per_dim) - 1),
        )
        scaled.append(F.greatest(x, F.lit(0)))
    key = F.lit(0).cast("long")
    ndim = len(cols)
    for b in range(bits_per_dim):
        for d, x in enumerate(scaled):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), b * ndim + d)
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int | None = None,
    bits_per_dim: int = 12,
) -> WriteResult:
    """Z-order clustered parquet write: multi-dimensional locality for
    file-level min/max skipping.

    Range clustering (write_clustered) is optimal for ONE key; a query
    filtering on a second dimension still touches every file. Interleaving
    the bits of both dimensions' scaled values gives every output file a
    small rectangle of the 2D domain, so box predicates on ANY subset of
    the z-order columns skip most files. Costs the same single range
    shuffle at write time (on the Morton key). Min/max per column come from
    one tiny global aggregate broadcast-joined onto the rows — at 100 TB
    that aggregate is a metadata-scale scan next to the write itself.
    """
    spark = df.sparkSession
    n = n_files or spark.sparkContext.defaultParallelism
    bounds = df.agg(
        *[
            f
            for c in zorder_cols
            for f in (
                F.min(F.col(c).cast("double")).alias(f"__zmin_{c}"),
                F.max(F.col(c).cast("double")).alias(f"__zmax_{c}"),
            )
        ]
    )
    keyed = (
        df.join(F.broadcast(bounds))
        .withColumn("__zkey", zorder_key(zorder_cols, bits_per_dim))
        .drop(*[f"__zmin_{c}" for c in zorder_cols], *[f"__zmax_{c}" for c in zorder_cols])
    )
    clustered = (
        keyed.repartitionByRange(n, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    return write(clustered, path, mode="overwrite")


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_keys: tuple[str, ...],
    files_per_partition: int = 4,
) -> WriteResult:
    """Dynamic partition overwrite — the daily-backfill primitive.

    Replaces ONLY the partition directories present in ``df`` and leaves
    every other partition untouched: re-running one day's load swaps that
    day's files atomically-enough while a year of sibling partitions
    survives. Spark's default (static) overwrite mode would instead
    DELETE THE ENTIRE TABLE first — at 100 TB that turns a one-partition
    backfill into a full reload, which is why this helper sets the
    writer option ``partitionOverwriteMode=dynamic`` on this one write
    rather than relying on (or mutating) the session-wide
    ``spark.sql.sources.partitionOverwriteMode``.

    The audit row count rides on the write job via ``observe`` (same
    zero-extra-scan pattern as :func:`write`).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if not partition_keys:
        raise ValueError("overwrite_partitions requires partition keys")
    obs = Observation()
    # same partition alignment as write(): the daily-backfill path is the
    # MOST exposed to small-file growth (one unaligned run per day);
    # files_per_partition mirrors write() so initial load and backfill
    # produce consistent layouts (ADVICE r07)
    observed = _align_partitions(
        df.observe(obs, F.count(F.lit(1)).alias("rows")),
        partition_keys,
        files_per_partition,
    )
    (
        observed.write.format("parquet")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_keys)
        .parquet(path)
    )
    try:
        rows = int(obs.get["rows"])
    except Exception:
        rows = None
    return WriteResult(path, "parquet", "overwrite-dynamic", tuple(partition_keys), rows)
