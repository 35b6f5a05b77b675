"""io.py: format-pluggable readers/writers (S2/S3/S9/S10)."""

from __future__ import annotations

import datetime
import os
import time
import uuid
from decimal import Decimal

import pytest

from data_engineering_nd_spark import io


def test_csv_default_and_semicolon_delimiter(spark, tmp_path):
    # S2: comma CSV with header; S3: ';' delimiter (the demographics file)
    p1 = tmp_path / "a.csv"
    p1.mkdir()
    (p1 / "part.csv").write_text("ident,name\nJFK,Kennedy\nLAX,Los Angeles\n")
    df1 = io.read(spark, str(p1), "csv")
    assert df1.columns == ["ident", "name"] and df1.count() == 2

    p2 = tmp_path / "b.csv"
    p2.mkdir()
    (p2 / "part.csv").write_text("City;State Code;Count\nDallas;TX;100\n")
    df2 = io.read(spark, str(p2), "csv", delimiter=";")
    assert df2.columns == ["City", "State Code", "Count"] and df2.count() == 1


def test_csv_sink_roundtrip_with_append(spark, tmp_path):
    # S10: csv writer (header, overwrite/append) round-trips through io.read
    src = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "v"])
    out = str(tmp_path / "out_csv")
    res = io.write(src, out, fmt="csv")
    assert res.rows == 2
    io.write(src, out, fmt="csv", mode="append")
    back = io.read(spark, out, "csv")
    assert back.count() == 4
    assert set(back.columns) == {"k", "v"}


def test_read_many_tolerates_schema_drift(spark, tmp_path):
    # U1/U2: by-name union with a missing column in one monthly shard
    a, b = str(tmp_path / "m1"), str(tmp_path / "m2")
    spark.createDataFrame([(1, "x")], ["k", "v"]).write.parquet(a)
    spark.createDataFrame([(2,)], ["k"]).write.parquet(b)
    df = io.read_many(spark, [a, b])
    assert df.count() == 2
    assert set(df.columns) == {"k", "v"}
    # drifted column is NULL-filled, not silently position-matched
    assert df.filter("v IS NULL").count() == 1


def test_upsert_parquet_is_key_idempotent(spark, tmp_path):
    from data_engineering_nd_spark.io import upsert_parquet

    out = str(tmp_path / "ups")
    first = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    upsert_parquet(first, out, ["k"])
    # re-running the same load adds nothing; a genuinely new key appends
    second = spark.createDataFrame([(2, "b"), (3, "c")], ["k", "v"])
    upsert_parquet(second, out, ["k"])
    upsert_parquet(second, out, ["k"])  # retry of the retry
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert {r.k for r in back.collect()} == {1, 2, 3}


def test_compact_parquet_reduces_files(spark, tmp_path):
    import glob

    from data_engineering_nd_spark.io import compact_parquet

    out = str(tmp_path / "frag")
    df = spark.range(1000).withColumnRenamed("id", "k")
    df.repartition(24).write.parquet(out)
    assert len(glob.glob(out + "/part-*")) == 24
    compact_parquet(spark, out, target_partitions=2)
    assert len(glob.glob(out + "/part-*")) == 2
    assert spark.read.parquet(out).count() == 1000


def test_compact_parquet_stages_on_destination_filesystem(spark, tmp_path):
    """The staged rewrite must be a SIBLING of the destination (same
    filesystem) — never a driver-local tempdir — and must vanish after a
    successful publish."""
    import glob

    from data_engineering_nd_spark.io import compact_parquet

    out = str(tmp_path / "t")
    spark.range(100).repartition(8).write.parquet(out)
    compact_parquet(spark, out, target_partitions=1)
    leftovers = [
        p
        for p in glob.glob(str(tmp_path / "t__*"))
    ]
    assert leftovers == []  # staging + backup cleaned up
    assert spark.read.parquet(out).count() == 100


def test_compact_parquet_failure_leaves_source_intact(spark, tmp_path):
    """Failure injection: if the staged rewrite dies mid-write, the source
    directory must survive byte-for-byte readable and no staging debris
    may remain."""
    import glob

    import pytest
    from pyspark.sql import functions as F

    from data_engineering_nd_spark import io as dio

    out = str(tmp_path / "t")
    spark.range(50).withColumnRenamed("id", "k").write.parquet(out)
    before = sorted(r.k for r in spark.read.parquet(out).collect())

    real_write = dio.write

    def exploding_write(df, path, *a, **kw):
        raise RuntimeError("injected mid-compaction failure")

    dio.write = exploding_write
    try:
        with pytest.raises(RuntimeError, match="injected"):
            dio.compact_parquet(spark, out, target_partitions=1)
    finally:
        dio.write = real_write
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == before
    assert glob.glob(str(tmp_path / "t__*")) == []


def test_fs_exists_and_listdir(spark, tmp_path):
    """Object-store shim (S12): existence + prefix listing through the
    Hadoop FS API — same call works for file://, hdfs:// and s3a:// URIs."""
    from data_engineering_nd_spark.io import fs_exists, fs_listdir

    out = str(tmp_path / "bucketish")
    spark.range(10).write.parquet(out)
    assert fs_exists(spark, out)
    assert not fs_exists(spark, str(tmp_path / "missing"))
    names = fs_listdir(spark, out)
    assert any(n.startswith("part-") for n in names)
    assert fs_listdir(spark, str(tmp_path / "missing")) == []


def test_write_clustered_yields_near_disjoint_file_ranges(spark, tmp_path):
    """Range-clustered files must carve the key domain into narrow slices
    (footer min/max per file), the property that makes predicate-driven
    file skipping work; a hash-shuffled control write must not."""
    import os

    import pyarrow.parquet as pq

    from data_engineering_nd_spark.catalog import load
    from data_engineering_nd_spark.io import write_clustered
    from tests.conftest import SF_DIR

    orders = load(spark, "orders", SF_DIR).select("o_orderkey", "o_totalprice")

    def file_ranges(path):
        out = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, f))
            col_idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }["o_orderkey"]
            lo = min(
                md.row_group(g).column(col_idx).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(col_idx).statistics.max
                for g in range(md.num_row_groups)
            )
            out.append((lo, hi))
        return sorted(out)

    clustered_path = str(tmp_path / "clustered")
    write_clustered(orders, clustered_path, ["o_orderkey"], n_files=4)
    control_path = str(tmp_path / "control")
    orders.repartition(4).write.parquet(control_path)

    def total_overlap(ranges):
        span = max(h for _, h in ranges) - min(l for l, _ in ranges)
        covered = sum(h - l for l, h in ranges)
        return covered / span  # 1.0 = perfectly disjoint tiling

    clustered = file_ranges(clustered_path)
    control = file_ranges(control_path)
    assert len(clustered) == 4
    assert total_overlap(clustered) < 1.5   # near-disjoint slices
    assert total_overlap(control) > 3.0     # every file spans ~everything
    # and the data survives intact
    assert spark.read.parquet(clustered_path).count() == orders.count()


def test_zorder_write_skips_files_on_both_dims(spark, tmp_path):
    """Z-ordered files each cover a small rectangle of the 2D key domain,
    so a box predicate on EITHER column can skip most files; a hash-shuffled
    control spreads the full domain over every file (no skipping possible)."""
    import pyarrow.parquet as pq
    from data_engineering_nd_spark.catalog import load
    from data_engineering_nd_spark.io import write_zordered

    li = load(spark, "lineitem", "/root/testdata/sf0.01").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )

    def file_ranges(path):
        out = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            mins = {"l_partkey": None, "l_suppkey": None}
            maxs = {"l_partkey": None, "l_suppkey": None}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        s = col.statistics
                        mins[name] = s.min if mins[name] is None else min(mins[name], s.min)
                        maxs[name] = s.max if maxs[name] is None else max(maxs[name], s.max)
            out.append((mins, maxs))
        return out

    zpath = str(tmp_path / "zordered")
    hpath = str(tmp_path / "hashed")
    write_zordered(li, zpath, ["l_partkey", "l_suppkey"], n_files=16)
    li.repartition(16).write.mode("overwrite").parquet(hpath)

    # box predicate: lower-left 1/16 of the domain on both dims
    pk_hi = li.agg({"l_partkey": "max"}).collect()[0][0] / 4
    sk_hi = li.agg({"l_suppkey": "max"}).collect()[0][0] / 4

    def candidates(ranges):
        return sum(
            1
            for mins, maxs in ranges
            if mins["l_partkey"] <= pk_hi and mins["l_suppkey"] <= sk_hi
        )

    z = file_ranges(zpath)
    h = file_ranges(hpath)
    assert len(z) >= 8 and len(h) >= 8
    # every hashed file intersects the box; z-ordering skips a majority
    assert candidates(h) == len(h)
    assert candidates(z) <= len(z) // 2, (candidates(z), len(z))


def test_jsonl_roundtrip_with_declared_schema(spark, tmp_path):
    """JSON-lines source/sink through the same pluggable read/write paths
    (S5): schema declared on read so types survive the text format."""
    from data_engineering_nd_spark import io

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, score double"
    )
    path = str(tmp_path / "t.jsonl")
    io.write(df, path, fmt="json")
    back = io.read(spark, path, fmt="json", schema="id long, name string, score double")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    assert back.schema == df.schema


def test_orc_roundtrip_partitioned(spark, tmp_path):
    """ORC source/sink with partition keys: same contract as the parquet
    sink (S9), including partition-directory layout and pruning."""
    from data_engineering_nd_spark import io

    df = spark.createDataFrame(
        [(1, "x", "2024-01-01"), (2, "y", "2024-01-02"), (3, "x", "2024-01-01")],
        "id long, grp string, day string",
    )
    path = str(tmp_path / "t.orc")
    res = io.write(df, path, fmt="orc", partition_keys=("grp",))
    assert res.rows == 3
    back = io.read(spark, path, fmt="orc")
    assert back.count() == 3
    # partition layout on disk and pruning in the plan
    import os

    assert any(d.startswith("grp=") for d in os.listdir(path))
    plan = back.filter(back.grp == "x")._jdf.queryExecution().executedPlan().toString()
    assert "x" in plan


def test_overwrite_partitions_replaces_only_touched_days(spark, tmp_path):
    """Dynamic partition overwrite: re-loading one day swaps that day's
    rows and leaves sibling partitions byte-untouched."""
    import os

    from data_engineering_nd_spark.io import overwrite_partitions, write

    path = str(tmp_path / "days")
    base = spark.createDataFrame(
        [(1, "d1"), (2, "d2"), (3, "d3")], "v long, day string"
    )
    write(base, path, partition_keys=("day",))
    d1_files = sorted(os.listdir(os.path.join(path, "day=d1")))

    fix = spark.createDataFrame([(20, "d2"), (21, "d2")], "v long, day string")
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(mode_key)
    res = overwrite_partitions(fix, path, ("day",))
    assert res.rows == 2
    assert spark.conf.get(mode_key) == mode  # session conf left alone

    rows = spark.read.parquet(path).collect()
    by_day = {}
    for r in rows:
        by_day.setdefault(r.day, []).append(r.v)
    assert sorted(by_day["d2"]) == [20, 21]          # replaced
    assert by_day["d1"] == [1] and by_day["d3"] == [3]  # survived
    # d1's physical files are the very same ones (not rewritten)
    assert sorted(os.listdir(os.path.join(path, "day=d1"))) == d1_files


def test_partitioned_write_is_partition_aligned(spark, tmp_path):
    """A partitioned write pre-shuffles on (partition_keys + content salt):
    each partition directory holds at most files_per_partition data files
    regardless of upstream task count (32 tasks x 12 keys used to land
    ~384 tiny files), and re-running lands the identical layout (the salt
    is content-derived, not rand)."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 24_000)
        .repartition(32)
        .select(
            F.col("id"),
            (F.col("id") % 12).alias("m"),
            (F.col("id") * 7 % 1000).alias("v"),
        )
    )
    out = str(tmp_path / "aligned")
    io.write(df, out, partition_keys=("m",), files_per_partition=2)

    def layout():
        files = {}
        for d in os.listdir(out):
            if d.startswith("m="):
                files[d] = sorted(
                    f for f in os.listdir(os.path.join(out, d))
                    if f.endswith(".parquet")
                )
        return files

    first = layout()
    assert len(first) == 12
    assert all(1 <= len(v) <= 2 for v in first.values())
    assert io.read(spark, out).count() == 24_000
    # determinism: same data -> same per-directory file count
    io.write(df, out, partition_keys=("m",), files_per_partition=2)
    assert {k: len(v) for k, v in layout().items()} == {
        k: len(v) for k, v in first.items()
    }


def test_pipeline_run_end_to_end(spark, tmp_path):
    """The registered E2E pipeline query: 8 tables land, every DQ gate
    passes, fact row counts agree across the three raw-derived tables,
    and the checksum column is populated for every table."""
    from data_engineering_nd_spark.i94_parity import i94_pipeline_run_query

    rows = {
        r["table_name"]: r
        for r in i94_pipeline_run_query(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(rows) == 8
    assert all(r["dq_pass"] for r in rows.values())
    assert all(r["row_count"] > 0 for r in rows.values())
    assert all(r["content_checksum"] > 0 for r in rows.values())
    # trips/immigrations/visitors all derive from the deduped raw slice
    assert (
        rows["i94_trips"]["row_count"]
        == rows["i94_immigrations"]["row_count"]
        == rows["i94_visitors"]["row_count"]
    )


def test_partitioned_write_tolerates_map_columns(spark, tmp_path):
    """The alignment salt must hash only hashable columns: xxhash64
    rejects MapType, and a map-bearing frame used to throw on any
    partitioned write after the alignment change."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") % 4).alias("p"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("props"),
    )
    out = str(tmp_path / "mapped")
    res = io.write(df, out, partition_keys=("p",), files_per_partition=2)
    assert res.rows == 100
    assert io.read(spark, out).count() == 100


def test_overwrite_partitions_respects_files_per_partition(spark, tmp_path):
    """The daily-backfill path exposes the same fan-out knob as write()
    (ADVICE r07): a backfill with files_per_partition=1 lands exactly one
    data file in the touched partition, regardless of input parallelism."""
    import os

    from data_engineering_nd_spark.io import overwrite_partitions, write

    path = str(tmp_path / "days_fan")
    base = spark.createDataFrame(
        [(i, f"d{i % 2}") for i in range(200)], "v long, day string"
    )
    write(base, path, partition_keys=("day",))

    fix = spark.createDataFrame(
        [(1000 + i, "d1") for i in range(200)], "v long, day string"
    ).repartition(16)
    res = overwrite_partitions(fix, path, ("day",), files_per_partition=1)
    assert res.rows == 200
    files = [
        f
        for f in os.listdir(os.path.join(path, "day=d1"))
        if f.endswith(".parquet")
    ]
    assert len(files) == 1, files
    got = sorted(
        r.v for r in spark.read.parquet(path).filter("day = 'd1'").collect()
    )
    assert got == list(range(1000, 1200))


# Every schema a table-format call site passes to ``io.local_frame``, with
# representative rows (the range-probe site passes one column of the
# partition source's type, hence the single-column cases).
_LOCAL_FRAME_CASES = {
    "rid_base_map": (
        "__fkey string, __base bigint",
        [("data/v0-a/part-0.parquet", 0), ("data/v1-b/part-0.parquet", 12)],
    ),
    "files_metadata": (
        "file string, size_bytes bigint, num_rows bigint, "
        "partition map<string,string>, partition_key string",
        [("f0", 10, 2, {"g": "1", "h": "x"}, "g=1/h=x"), ("f1", 0, 0, {}, "")],
    ),
    "history_metadata": (
        "version bigint, operation string, num_files bigint, "
        "dv_files bigint, committed_at double",
        [(0, "overwrite", 2, 0, 1.7e9), (1, "merge", 3, 1, 0.0)],
    ),
    "bloom_probe": (
        "file string, widx long, bit long, pos_id int",
        [("f0", 3, 1 << 31, 0), ("f0", 7, 1, 1)],
    ),
    "merge_bounds": (
        "__mfile string, __mn string, __mx string",
        [("f0", "1", "9"), ("f1", None, "2020-01-01")],
    ),
    "range_int": ("d int", [(-5,), (7,)]),
    "range_double": ("d double", [(0.5,), (None,)]),
    "range_date": (
        "d date", [(datetime.date(2020, 1, 31),), (datetime.date(1969, 12, 31),)]
    ),
    "range_timestamp": (
        "d timestamp",
        [(datetime.datetime(2020, 1, 1, 12, 30, 1, 5),), (None,)],
    ),
    "range_decimal": (
        "d decimal(12,2)", [(Decimal("1234.50"),), (Decimal("-0.01"),)]
    ),
    "zero_rows": ("k string, v bigint, m map<string,string>", []),
}


@pytest.mark.parametrize("case", sorted(_LOCAL_FRAME_CASES))
def test_local_frame_matches_list_path(spark, case):
    """``local_frame`` keeps the declared schema (names, types,
    nullability) and the values the ``createDataFrame(list)`` path gives."""
    ddl, rows = _LOCAL_FRAME_CASES[case]
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    want = spark.createDataFrame(rows, ddl)
    got = io.local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_naive_timestamp_in_python_local_zone(spark, monkeypatch):
    """Like the list path, a naive timestamp is read in the Python
    process's zone, not the session's (UTC here)."""
    rows = [(datetime.datetime(2020, 1, 1, 12, 30),)]
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        want = spark.createDataFrame(rows, "d timestamp")
        got = io.local_frame(spark, rows, "d timestamp")
        epoch = "cast(d as bigint) AS s"
        assert got.selectExpr(epoch).collect() == want.selectExpr(epoch).collect()
    finally:
        monkeypatch.undo()
        time.tzset()


def test_local_frame_keeps_struct_nullability_and_metadata(spark):
    """A ``StructType`` schema is kept as declared: NOT NULL fields and
    column-mapping metadata survive, with or without rows."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("k", LongType(), False, {"physical_name": "c1"}),
            StructField("v", StringType(), True, {"field_id": 2}),
        ]
    )
    for rows in ([], [(1, "a"), (2, None)]):
        got = io.local_frame(spark, rows, schema)
        assert got.schema == schema
        assert [f.metadata for f in got.schema] == [f.metadata for f in schema]
        assert [tuple(r) for r in got.collect()] == rows


def test_local_frame_collect_runs_no_job(spark):
    """A ``LocalRelation`` is answered on the driver: collecting it adds no
    job to the status store, where the list path runs one."""
    sc = spark.sparkContext
    ddl, rows = _LOCAL_FRAME_CASES["merge_bounds"]

    def jobs_for(build) -> list[int]:
        group = f"local-frame-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            build().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_for(lambda: io.local_frame(spark, rows, ddl)) == []
    assert jobs_for(lambda: spark.createDataFrame(rows, ddl)) != []
