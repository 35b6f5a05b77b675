"""Versioned parquet tables (tables.VersionedTable): commit protocol,
snapshot isolation, time travel, file-granular COW merge, vacuum."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_engineering_nd_spark.tables import CommitConflict, VersionedTable


@pytest.fixture()
def table(spark, tmp_path):
    return VersionedTable(spark, str(tmp_path / "tbl"))


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_commit_and_snapshot(spark, table):
    df = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    m = table.commit(df)
    assert m["version"] == 0 and m["operation"] == "overwrite"
    assert _rows(table.snapshot()) == [(1, "a"), (2, "b")]


def test_append_carries_old_files_by_reference(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    m0_files = set(table.history()[0]["files"])
    m1 = table.commit(spark.createDataFrame([Row(k=2, v="b")]), mode="append")
    # append references v0's files instead of rewriting them
    assert m0_files < set(m1["files"])
    assert _rows(table.snapshot()) == [(1, "a"), (2, "b")]


def test_time_travel_and_overwrite_isolation(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="old")]))
    table.commit(spark.createDataFrame([Row(k=9, v="new")]))
    assert _rows(table.snapshot(version=0)) == [(1, "old")]
    assert _rows(table.snapshot()) == [(9, "new")]
    # overwrite never deleted v0's data files
    assert all(
        os.path.exists(os.path.join(table.root, f))
        for f in table.history()[0]["files"]
    )


def test_merge_is_file_granular_cow(spark, table):
    # two commits -> two disjoint file sets; merge touching only keys from
    # the second commit must carry the first commit's files by reference
    table.commit(spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]))
    table.commit(
        spark.createDataFrame([Row(k=3, v="c"), Row(k=4, v="d")]),
        mode="append",
    )
    v0_files = set(table.history()[0]["files"])
    m = table.merge(
        spark.createDataFrame([Row(k=3, v="C!"), Row(k=5, v="e")]),
        key_cols=["k"],
    )
    assert v0_files < set(m["files"])  # untouched files kept by reference
    assert _rows(table.snapshot()) == [
        (1, "a"), (2, "b"), (3, "C!"), (4, "d"), (5, "e"),
    ]
    assert "rewrote=" in m["operation"]


def test_merge_into_empty_table(spark, table):
    m = table.merge(spark.createDataFrame([Row(k=1, v="a")]), key_cols=["k"])
    assert m["version"] == 0
    assert _rows(table.snapshot()) == [(1, "a")]


def test_commit_conflict_single_winner(spark, table):
    df = spark.createDataFrame([Row(k=1, v="a")])
    table.commit(df)
    # simulate a racing writer that already published version 1
    racing = VersionedTable(spark, table.root)
    racing.commit(df, mode="append")
    files = table._write_files(df, 1)
    with pytest.raises(CommitConflict):
        table._publish(1, files, "overwrite", df.schema.json())


def test_compact_reduces_file_count(spark, table):
    df = spark.createDataFrame([Row(k=i, v=str(i)) for i in range(100)])
    table.commit(df.repartition(16))
    assert table.history()[-1]["num_files"] >= 16
    m = table.compact(target_partitions=2)
    assert m["num_files"] <= 2
    assert len(_rows(table.snapshot())) == 100


def test_vacuum_removes_expired_files_keeps_latest(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    table.commit(spark.createDataFrame([Row(k=2, v="b")]))
    removed = table.vacuum(retain_last=1)
    assert removed  # v0's files are gone
    assert _rows(table.snapshot()) == [(2, "b")]
    assert table.versions() == [1]


def test_empty_dataframe_snapshot_roundtrip(spark, table):
    df = spark.createDataFrame([Row(k=1, v="a")])
    table.commit(df.filter(F.lit(False)))
    snap = table.snapshot()
    assert snap.count() == 0
    assert snap.schema == df.schema


def test_optimize_rewrites_only_small_files(spark, table):
    """Files at or above the size floor carry over BY REFERENCE; only the
    small tail is rewritten, into ceil(bytes/target) outputs; the
    snapshot's data is unchanged."""
    big = spark.range(0, 500).withColumnRenamed("id", "k").repartition(1)
    table.commit(big, mode="overwrite")
    for i in range(6):
        small = spark.range(1000 + i, 1001 + i).withColumnRenamed("id", "k").repartition(1)
        table.commit(small, mode="append")
    m0 = table._manifest(table.latest_version())
    sizes = table._file_sizes(m0["files"], m0)
    big_file = max(sizes, key=sizes.get)
    assert m0["num_files"] == 7

    m1 = table.optimize(min_file_bytes=sizes[big_file], target_file_bytes=10**9)
    assert m1["operation"].startswith("optimize(rewrote=6,into=1,kept=1")
    assert big_file in m1["files"]           # by reference, not rewritten
    assert m1["num_files"] == 2
    got = sorted(r["k"] for r in table.snapshot().collect())
    assert got == sorted(list(range(500)) + [1000 + i for i in range(6)])


def test_optimize_noop_when_nothing_small(spark, table):
    df = spark.range(0, 10).withColumnRenamed("id", "k").repartition(1)
    table.commit(df, mode="overwrite")
    v = table.latest_version()
    m = table.optimize(min_file_bytes=1)      # nothing under 1 byte
    assert m["version"] == v                  # no new version published
    assert table.latest_version() == v


def test_repeated_merge_plus_optimize_converges_file_count(spark, table):
    """Many MERGE cycles grow the file count without bound; interleaved
    optimize() keeps it bounded while preserving the upserted data."""
    base = spark.range(0, 100).selectExpr("id AS k", "id * 10 AS v").repartition(4)
    table.commit(base, mode="overwrite")
    for round_ in range(3):
        for i in range(4):
            batch = spark.createDataFrame(
                [(i * 25 + round_, 99990 + round_)], ["k", "v"]
            )
            table.merge(batch, ["k"])
        table.optimize(min_file_bytes=10**9, target_file_bytes=10**9)
        m = table._manifest(table.latest_version())
        assert m["num_files"] == 1            # everything under the floor
    rows = {r["k"]: r["v"] for r in table.snapshot().collect()}
    assert len(rows) == 100
    assert rows[2] == 99992 and rows[27] == 99992 and rows[3] == 30


def test_append_evolves_schema_additively(spark, table):
    """Appending a frame with a new column evolves the snapshot schema;
    old files read the new column as null; time travel to the old
    version keeps the old schema; a type conflict raises."""
    import pytest

    v0 = spark.createDataFrame([(1, "a")], "k long, v string")
    table.commit(v0, mode="overwrite")
    v1 = spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    table.commit(v1, mode="append")

    snap = table.snapshot()
    assert snap.columns == ["k", "v", "score"]
    rows = {r.k: r for r in snap.collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    assert table.snapshot(version=0).columns == ["k", "v"]

    bad = spark.createDataFrame([(3, "c", "not-a-double")],
                                "k long, v string, score string")
    with pytest.raises(ValueError, match="schema conflict"):
        table.commit(bad, mode="append")


def test_snapshot_diff_all_change_classes(spark, tmp_path):
    """snapshot_diff classifies every key correctly, including 'removed'
    (an overwrite commit can drop keys; the merge-based gated query never
    produces that class)."""
    from pyspark.sql import functions as F  # noqa: F401

    from data_engineering_nd_spark.tables import VersionedTable, snapshot_diff

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "payload"]))
    t.commit(spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], ["k", "payload"]))

    got = {r["k"]: r["change_type"]
           for r in snapshot_diff(t, 0, 1, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_null_payloads_are_null_safe(spark, tmp_path):
    from data_engineering_nd_spark.tables import VersionedTable, snapshot_diff

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, None), (2, None)], "k int, payload string"))
    t.commit(spark.createDataFrame([(1, None), (2, "x")], "k int, payload string"))
    got = {r["k"]: r["change_type"]
           for r in snapshot_diff(t, 0, 1, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed"}


def test_snapshot_diff_sees_schema_evolved_columns(spark, tmp_path):
    """A row whose ONLY change is in a column added by schema evolution
    must classify as 'changed' — comparing just the schema intersection
    silently reported it 'unchanged'."""
    from data_engineering_nd_spark.tables import VersionedTable, snapshot_diff

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    # v1 carries the WIDER schema: key 1 gains a real score, key 2's
    # evolved column stays null (null-vs-absent compares 'unchanged')
    t.commit(
        spark.createDataFrame(
            [(1, "a", 9.5), (2, "b", None)], "k long, v string, score double"
        )
    )
    got = {r["k"]: r["change_type"]
           for r in snapshot_diff(t, 0, 1, ["k"]).collect()}
    assert got == {1: "changed", 2: "unchanged"}


def test_commit_records_footer_stats_in_manifest(spark, table):
    df = spark.createDataFrame(
        [Row(k=i, v=f"s{i:03d}") for i in range(10)]
    ).repartition(1)
    m = table.commit(df)
    (f,) = m["files"]
    st = m["stats"][f]
    assert st["num_rows"] == 10
    assert st["columns"]["k"] == {"min": 0, "max": 9, "null_count": 0}
    assert st["columns"]["v"]["min"] == "s000"
    assert st["columns"]["v"]["max"] == "s009"


def test_scan_prunes_by_stats_and_matches_full_scan(spark, table):
    # three single-file commits with disjoint key ranges
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [Row(k=lo + i, v=float(lo + i)) for i in range(50)]
        ).repartition(1)
        table.commit(df, mode="overwrite" if lo == 0 else "append")
    kept, pruned, meta = table.prune_files("k", 120, 160)
    assert meta == {
        "files_total": 3,
        "files_kept": 1,
        "files_pruned": 2,
        "rows_total": 150,
        "rows_scanned": 50,
    }
    got = sorted(r.k for r in table.scan("k", 120, 160).collect())
    want = sorted(
        r.k
        for r in table.snapshot().filter(F.col("k").between(120, 160)).collect()
    )
    assert got == want == list(range(120, 150))  # block holds 100..149
    # open bounds
    assert table.scan("k", lo=200).count() == 50
    assert table.scan("k", hi=99).count() == 50


def test_scan_keeps_files_without_stats(spark, table):
    # a column with no recorded stats (all-null => footer has no min/max)
    df = spark.createDataFrame(
        [Row(k=i, w=None) for i in range(5)], "k int, w int"
    ).repartition(1)
    table.commit(df)
    kept, pruned, meta = table.prune_files("w", 0, 10)
    assert pruned == [] and meta["files_kept"] == 1
    assert table.scan("w", 0, 10).count() == 0  # filter still applies
    # unknown column: conservative too
    kept2, pruned2, _ = table.prune_files("nope", 0, 1)
    assert pruned2 == []


def test_merge_and_optimize_carry_stats_for_untouched_files(spark, table):
    for lo in (0, 100):
        table.commit(
            spark.createDataFrame(
                [Row(k=lo + i, v=float(i)) for i in range(20)]
            ).repartition(1),
            mode="overwrite" if lo == 0 else "append",
        )
    m0 = table._manifest(table.latest_version())
    # merge touches only the 100-block file
    table.merge(
        spark.createDataFrame([Row(k=105, v=9.9)]), ["k"]
    )
    m1 = table._manifest(table.latest_version())
    untouched = [f for f in m1["files"] if f in set(m0["files"])]
    assert untouched and all(f in m1["stats"] for f in untouched)
    # every listed file has stats after the merge commit
    assert set(m1["stats"]) == set(m1["files"])
    # pruning still exact: the 0-block is untouched, the rewritten block
    # still spans [100, 119]
    _, pruned, _ = table.prune_files("k", 0, 50)
    assert len(pruned) == len(m1["files"]) - 1


def test_zorder_report_rectangles_prune_both_dims(spark):
    """The gated z-order report at sf0.001: every committed file is a
    quarter x quarter rectangle of the (orderkey, custkey) bucket domain,
    so a single-dimension range predicate prunes files on EITHER
    dimension, while the linear (orderkey-chunked) layout keeps every
    file for the custkey predicate; the pruned scan is lossless."""
    from data_engineering_nd_spark.registry import QUERIES, load_all_modules

    load_all_modules()
    r = QUERIES["tbl_zorder_report"](spark, "/root/testdata/sf0.001").collect()[0]
    # z-layout prunes on both dimensions...
    assert r.z_files_kept_custkey < r.z_files_total
    assert r.z_files_kept_orderkey < r.z_files_total
    # ...the linear layout only on its sort key
    assert r.lin_files_kept_custkey == r.lin_files_total
    assert r.lin_files_kept_orderkey < r.lin_files_total
    # skipping never drops a matching row
    assert r.result_checksum == r.unpruned_checksum
    assert r.z_rows_scanned_custkey >= r.n_result


def test_add_files_registers_prewritten_parquet(spark, tmp_path):
    """add_files: a hive-partitioned directory written by a plain Spark
    job registers as one metadata-only commit — snapshot content matches
    the source rows, per-file footer stats land in the manifest, and
    stats pruning works immediately."""
    from pyspark.sql import functions as F

    from data_engineering_nd_spark.tables import VersionedTable

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.expr("id div 25").alias("p")
    )
    staging = str(tmp_path / "staging")
    df.repartition(1).write.partitionBy("p").parquet(staging)

    t = VersionedTable(spark, str(tmp_path / "t"))
    m = t.add_files(staging)
    assert m["operation"] == "add_files"
    assert m["num_files"] == 4  # one per partition value
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(100))
    # stats recorded per file -> pruning is live without any rewrite
    kept, pruned, meta = t.prune_files("k", 0, 3)
    assert meta["files_kept"] < meta["files_total"]
    got = sorted(r.k for r in t.scan("k", 0, 3).collect())
    assert got == [0, 1, 2, 3]
    # append mode stacks another registration on the same table
    df2 = spark.range(100, 120).select(
        F.col("id").alias("k"), F.lit(9).alias("p")
    )
    staging2 = str(tmp_path / "staging2")
    df2.repartition(1).write.partitionBy("p").parquet(staging2)
    t.add_files(staging2, mode="append")
    assert t.snapshot().count() == 120


def test_delete_where_rewrites_only_candidate_files(spark, tmp_path):
    """delete_where: files whose stats exclude the range carry into the
    new version BY REFERENCE (same relative paths), candidates are
    rewritten to survivors, and the snapshot equals a plain filter."""
    from pyspark.sql import functions as F

    from data_engineering_nd_spark.tables import VersionedTable

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.expr("id div 25").alias("p")
    )
    staging = str(tmp_path / "staging")
    df.repartition(1).write.partitionBy("p").parquet(staging)
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.add_files(staging)
    before = set(t._manifest(0)["files"])

    m = t.delete_where("k", 30, 60)  # touches chunks [25-49] and [50-74]
    assert m["files_untouched"] == 2 and m["files_rewritten"] == 2
    assert m["rows_deleted"] == 31 and m["rows_rewritten"] == 19
    after = set(t._manifest(1)["files"])
    # the two untouched files are the SAME paths, not copies
    assert len(before & after) == 2
    got = sorted(r.k for r in t.snapshot().collect())
    assert got == [k for k in range(100) if not 30 <= k <= 60]

    # a delete matching nothing still commits, rewriting zero rows
    m2 = t.delete_where("k", 1000, 2000)
    assert m2["rows_deleted"] == 0 and m2["files_untouched"] == len(after)
    assert t.snapshot().count() == 69


def test_delete_where_keeps_null_keyed_rows(spark, tmp_path):
    """SQL DELETE semantics: a NULL key never satisfies BETWEEN, so
    NULL-keyed rows in candidate files SURVIVE the rewrite and the
    report's deleted/rewritten split accounts for them."""
    from pyspark.sql import functions as F

    from data_engineering_nd_spark.tables import VersionedTable

    df = spark.createDataFrame(
        [(1,), (5,), (None,), (9,)], "k long"
    ).repartition(1)
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(df)
    m = t.delete_where("k", 4, 6)
    assert m["rows_deleted"] == 1          # only k=5
    assert m["rows_rewritten"] == 3        # 1, NULL, 9 survive
    got = sorted(
        (r.k if r.k is not None else -1) for r in t.snapshot().collect()
    )
    assert got == [-1, 1, 9]


def test_time_travel_reads_exact_historical_states(spark, tmp_path):
    """Each VERSION AS OF read reproduces that version's exact rows and
    payloads, even after later merge/delete commits rewrote them."""
    from data_engineering_nd_spark.tables import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "tt"))
    v0 = spark.createDataFrame(
        [(i, f"p{i}") for i in range(10)], ["k", "payload"]
    )
    t.commit(v0)
    t.merge(
        spark.createDataFrame(
            [(5, "p5-new"), (10, "p10")], ["k", "payload"]
        ),
        ["k"],
    )
    t.delete_where("k", 0, 4)

    s0 = {r.k: r.payload for r in t.snapshot(version=0).collect()}
    s1 = {r.k: r.payload for r in t.snapshot(version=1).collect()}
    s2 = {r.k: r.payload for r in t.snapshot(version=2).collect()}
    assert s0 == {i: f"p{i}" for i in range(10)}          # pre-merge payloads
    assert s1[5] == "p5-new" and s1[10] == "p10" and len(s1) == 11
    assert set(s2) == {5, 6, 7, 8, 9, 10}                 # 0-4 deleted
    assert s2[5] == "p5-new"


def test_incremental_agg_merges_partials_exactly(spark, tmp_path):
    """Known base/delta split: merged counts and exact-decimal revenue
    equal the full recompute; split counters expose both contributions."""
    import datetime

    import pandas as pd

    from data_engineering_nd_spark.operators.datasets import (
        tbl_incremental_agg_query,
    )

    rows = [
        # pre-cutoff (base)
        (1, "1-URGENT", datetime.datetime(2000, 1, 1), 10.5),
        (2, "1-URGENT", datetime.datetime(2000, 2, 1), 20.25),
        (3, "2-HIGH", datetime.datetime(2000, 3, 1), 5.0),
        # post-cutoff (delta)
        (4, "1-URGENT", datetime.datetime(2001, 7, 1), 1.25),
        (5, "3-MEDIUM", datetime.datetime(2001, 7, 2), 7.75),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice"],
        )
    ).write.parquet(str(sf / "orders.parquet"))
    out = {r.o_orderpriority: r for r in tbl_incremental_agg_query(spark, str(sf)).collect()}
    assert set(out) == {"1-URGENT", "2-HIGH", "3-MEDIUM"}
    u = out["1-URGENT"]
    assert (u.n_orders, u.n_base, u.n_delta) == (3, 2, 1)
    assert u.revenue == 32.0                      # 10.5 + 20.25 + 1.25 exact
    assert (out["2-HIGH"].n_base, out["2-HIGH"].n_delta) == (1, 0)
    assert (out["3-MEDIUM"].n_base, out["3-MEDIUM"].n_delta) == (0, 1)


# -- merge blast-radius report (three-stage narrowing) ----------------------


@pytest.fixture()
def chunked_table(spark, tmp_path):
    """4 range-chunk files: k in [0,9], [10,19], [20,29], [30,39] — one
    file per chunk via partitionBy + add_files; key k, payload v."""
    df = spark.createDataFrame(
        [Row(k=i, v=f"v{i}", cid=i // 10) for i in range(40)]
    )
    staging = str(tmp_path / "staging")
    df.repartition(1).write.partitionBy("cid").parquet(staging)
    t = VersionedTable(spark, str(tmp_path / "chunked"))
    t.add_files(staging)
    assert t.history()[0]["num_files"] == 4
    return t


def test_merge_report_stats_prune_and_counts(spark, chunked_table):
    t = chunked_table
    v0_files = set(t.history()[0]["files"])
    # 2 updates in chunk 1, 3 inserts beyond the key range
    src = spark.createDataFrame(
        [Row(k=12, v="U12"), Row(k=17, v="U17"),
         Row(k=100, v="n100"), Row(k=101, v="n101"), Row(k=102, v="n102")]
    )
    m = t.merge(src, ["k"])
    assert m["files_rewritten"] == 1
    assert m["files_untouched"] == 3
    # chunks 0 and 2 range-pruned (k<12), chunk 3 interval-pruned
    # (no source key in [30,39])
    assert m["files_pruned_by_stats"] == 3
    assert m["files_refined_out"] == 0
    assert m["rows_updated"] == 2
    assert m["rows_inserted"] == 3
    # untouched files carried by reference, not rewritten
    assert len(v0_files & set(m["files"])) == 3
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got[12] == "U12" and got[17] == "U17" and got[100] == "n100"
    assert len(got) == 43


def test_merge_report_phantom_refined_out(spark, chunked_table):
    t = chunked_table
    # k=25 sits inside chunk 2's [20,29] stats interval -- delete it
    # first so the interval still covers it but the file lacks it
    t.delete_where("k", 25, 25)
    src = spark.createDataFrame([Row(k=25, v="back"), Row(k=33, v="U33")])
    m = t.merge(src, ["k"])
    # chunk 2 survives stats pruning but holds no actual match
    assert m["files_refined_out"] == 1
    assert m["files_rewritten"] == 1  # chunk 3 (k=33)
    assert m["rows_updated"] == 1
    assert m["rows_inserted"] == 1
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got[25] == "back" and got[33] == "U33"


def test_merge_rewrite_scans_each_affected_file_once(
    spark, chunked_table, monkeypatch
):
    """The frame COW merge writes reads the table's data files ONCE:
    survivors come from one scan of the affected file, and the inherited
    row ids come from the checkpointed matched pre-images, not from
    re-scans of that file."""
    t = chunked_table
    t.delete_where_dv("k", 15, 15)  # a deletion vector on the chunk too
    written = []
    write = VersionedTable._write_files

    def capture(self, df, *a, **kw):
        written.append(df)
        return write(self, df, *a, **kw)

    monkeypatch.setattr(VersionedTable, "_write_files", capture)
    m = t.merge(
        spark.createDataFrame([Row(k=12, v="U12"), Row(k=100, v="n")]),
        ["k"],
    )
    assert m["files_rewritten"] == 1 and m["rows_updated"] == 1
    plan = written[-1]._jdf.queryExecution().executedPlan().toString()
    # table data scans read the key; the deletion-vector sidecar reads
    # (file, pos) and the checkpointed source is an RDD scan
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "ReadSchema: struct<k:" in ln
    ]
    assert len(scans) == 1, plan


def test_merge_string_source_key_prunes_in_table_type(spark, table):
    """A source key typed differently from the table's (string against
    bigint) is range- and membership-pruned in the TABLE's type: as
    text, "7" lies outside the file's ["5", "20"], so the file would be
    pruned and the row inserted a second time instead of updated."""
    table.commit(
        spark.createDataFrame([Row(k=i, v="a") for i in range(5, 21)])
        .repartition(1)
    )
    m = table.merge(spark.createDataFrame([Row(k="7", v="u")]), ["k"])
    assert (m["files_rewritten"], m["rows_updated"], m["rows_inserted"]) \
        == (1, 1, 0)
    assert [r.v for r in table.snapshot().where("k = 7").collect()] == ["u"]


def test_merge_all_null_source_keys_inserts_only(spark, chunked_table):
    t = chunked_table
    src = spark.createDataFrame(
        [Row(k=None, v="n1"), Row(k=None, v="n2")],
        schema="k bigint, v string",
    )
    m = t.merge(src, ["k"])
    # NULL keys equi-match nothing: every file pruned, all rows insert
    assert m["files_rewritten"] == 0
    assert m["files_pruned_by_stats"] == 4
    assert m["rows_updated"] == 0
    assert m["rows_inserted"] == 2
    assert t.snapshot().count() == 42


def test_vacuum_expires_time_travel_to_dropped_versions(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    table.commit(spark.createDataFrame([Row(k=2, v="b")]))
    table.vacuum(retain_last=1)
    with pytest.raises(FileNotFoundError):
        table.snapshot(version=0)
    assert _rows(table.snapshot()) == [(2, "b")]


def test_commit_constraints_reject_atomically(spark, table):
    from data_engineering_nd_spark.tables import (
        ConstraintViolation,
        validate_constraints,
    )

    good = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    table.commit(good, checks=[("k_pos", "k > 0")], unique=[["k"]])
    bad = spark.createDataFrame(
        [Row(k=3, v="c"), Row(k=3, v="dup"), Row(k=-1, v="neg"),
         Row(k=None, v="nul")],
        schema="k bigint, v string",
    )
    with pytest.raises(ConstraintViolation) as ei:
        table.commit(bad, mode="append",
                     checks=[("k_pos", "k > 0")], unique=[["k"]])
    # NULL predicate result counts as a violation; NULL keys are EXEMPT
    # from unique (SQL-UNIQUE: NULL is distinct from everything) — the
    # one duplicate is the repeated k=3
    assert ei.value.report["k_pos"] == 2
    assert ei.value.report["unique(k)"] == 1
    # nothing was published and no orphan files beyond v0's
    assert table.versions() == [0]
    assert _rows(table.snapshot()) == [(1, "a"), (2, "b")]
    # validate_constraints alone reports without raising
    rep = validate_constraints(bad, checks=[("k_pos", "k > 0")])
    assert rep == {"k_pos": 2}


def test_constraints_empty_batch_and_null_only_keys(spark, table):
    """ADVICE r08: an empty batch satisfies every constraint (zero rows →
    zero violations, not a TypeError on a NULL aggregate), and a batch
    whose only keys are NULL has no unique violations."""
    from data_engineering_nd_spark.tables import validate_constraints

    empty = spark.createDataFrame([], schema="k bigint, v string")
    assert validate_constraints(
        empty, checks=[("k_pos", "k > 0")], unique=[["k"]]
    ) == {"k_pos": 0, "unique(k)": 0}
    # commit of an empty batch with declared constraints publishes fine
    table.commit(empty, checks=[("k_pos", "k > 0")], unique=[["k"]])
    assert table.snapshot().count() == 0

    null_keys = spark.createDataFrame(
        [Row(k=None, v="x"), Row(k=None, v="y")],
        schema="k bigint, v string",
    )
    assert validate_constraints(null_keys, unique=[["k"]]) == {"unique(k)": 0}
    # multi-column keys: a NULL in ANY key column exempts the row
    pairs = spark.createDataFrame(
        [Row(a=1, b=None), Row(a=1, b=None), Row(a=2, b=2), Row(a=2, b=2)],
        schema="a bigint, b bigint",
    )
    assert validate_constraints(pairs, unique=[["a", "b"]]) == {
        "unique(a,b)": 1
    }


def test_scc_empty_edges_returns_empty_frame(spark):
    """ADVICE r08: scc() on an empty edge set returns an empty (id, scc_id)
    DataFrame, not None."""
    from data_engineering_nd_spark.operators.graph import scc

    edges = spark.createDataFrame([], schema="src bigint, dst bigint")
    out = scc(edges)
    assert out is not None
    assert out.columns == ["id", "scc_id"]
    assert out.count() == 0


def test_change_feed_rows_and_read_scope(spark, table, monkeypatch):
    """change_feed emits exactly the real changes (COW survivors dropped)
    and — the 100 TB property — reads ONLY files the commits in range
    removed or added; carried-over-by-reference files are never opened."""
    base = spark.createDataFrame(
        [Row(k=i, v=f"p{i}") for i in range(10)]
    ).repartition(1)
    table.commit(base)                                      # v0: file A
    app = spark.createDataFrame(
        [Row(k=i, v=f"p{i}") for i in range(10, 20)]
    ).repartition(1)
    table.commit(app, mode="append")                        # v1: + file B
    src = spark.createDataFrame([Row(k=5, v="NEW"), Row(k=100, v="p100")])
    table.merge(src, ["k"])                                 # v2: A -> C, B kept

    feed = table.change_feed(["k"], 0, 2)
    rows = {
        (r["_commit_version"], r["_change_type"], r["k"]): r["v"]
        for r in feed.collect()
    }
    # v1 is a pure append: its post-image files hold only inserts
    for k in range(10, 20):
        assert rows[(1, "insert", k)] == f"p{k}"
    # v2: one update pair + one insert; survivors 0-4,6-9 do NOT appear
    assert rows[(2, "update_preimage", 5)] == "p5"
    assert rows[(2, "update_postimage", 5)] == "NEW"
    assert rows[(2, "insert", 100)] == "p100"
    assert len(rows) == 13

    # read-scope pin for the single-commit range (1, 2]: the merge removed
    # file A and added C; the appended file B is carried by reference and
    # must never enter any scan
    m0, m1, m2 = (table._manifest(v) for v in (0, 1, 2))
    removed = set(m1["files"]) - set(m2["files"])
    added = set(m2["files"]) - set(m1["files"])
    carried = set(m1["files"]) & set(m2["files"])
    assert removed == set(m0["files"]) and carried  # A rewritten, B carried
    read_log: list[list[str]] = []
    orig = table._read_files

    def spy(files, schema_json, dv_files=None):
        read_log.append(list(files))
        return orig(files, schema_json, dv_files)

    monkeypatch.setattr(table, "_read_files", spy)
    feed12 = table.change_feed(["k"], 1, 2)
    opened = set().union(*read_log) if read_log else set()
    assert opened == removed | added
    assert not opened & carried
    got = {(r["_change_type"], r["k"]) for r in feed12.collect()}
    assert got == {("update_preimage", 5), ("update_postimage", 5),
                   ("insert", 100)}

    # empty range: typed empty frame, no crash
    empty = table.change_feed(["k"], 2, 2)
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_change_feed_delete_and_schema_evolution(spark, table):
    """Deletes surface as 'delete' rows; pre-images from files written
    under an older (additively evolved) schema read new columns as NULL."""
    table.commit(
        spark.createDataFrame(
            [Row(k=i, v=f"p{i}") for i in range(5)]
        ).repartition(1)
    )                                                       # v0
    table.commit(
        spark.createDataFrame([Row(k=9, v="p9", extra="e9")]).repartition(1),
        mode="append",
    )                                                       # v1 evolves schema
    table.delete_where("k", lo=0, hi=1)                     # v2 rewrites v0 file
    feed = table.change_feed(["k"], 1, 2)
    rows = {(r["_change_type"], r["k"]): (r["v"], r["extra"])
            for r in feed.collect()}
    assert rows == {("delete", 0): ("p0", None), ("delete", 1): ("p1", None)}


@pytest.mark.parametrize("key_cols", [["k"], None])
def test_change_feed_same_key_updated_in_two_commits(spark, table, key_cols):
    """A key updated by two commits of one range yields two update pairs,
    each under its own ``_commit_version``: the range-wide classification
    joins on (version, key), never on the key alone (which would cross
    the two commits' images into four bogus pairs)."""
    table.commit(
        spark.createDataFrame([Row(k=i, v=f"p{i}") for i in range(5)])
    )                                                       # v0
    table.merge(spark.createDataFrame([Row(k=1, v="A")]), ["k"])  # v1
    table.merge(spark.createDataFrame([Row(k=1, v="B")]), ["k"])  # v2
    feed = table.change_feed(key_cols, 0, 2)
    assert sorted(
        (r._commit_version, r._change_type, r.k, r.v) for r in feed.collect()
    ) == [
        (1, "update_postimage", 1, "A"),
        (1, "update_preimage", 1, "p1"),
        (2, "update_postimage", 1, "B"),
        (2, "update_preimage", 1, "A"),
    ]


@pytest.mark.parametrize("key_cols", [["k"], None])
def test_change_feed_range_is_one_full_outer_join(spark, table, key_cols):
    """A multi-commit range (append, COW merge, DV delete, DV merge) is
    classified by ONE full-outer join, not one per commit."""
    table.commit(
        spark.createDataFrame([Row(k=i, v=f"p{i}") for i in range(20)])
    )                                                       # v0
    table.commit(
        spark.createDataFrame([Row(k=20, v="p20")]), mode="append"
    )                                                       # v1
    table.merge(spark.createDataFrame([Row(k=3, v="M")]), ["k"])  # v2
    table.delete_where_dv("k", 10, 12)                      # v3
    table.merge_dv(spark.createDataFrame([Row(k=5, v="D")]), ["k"])  # v4
    feed = table.change_feed(key_cols, 0, 4)
    plan = feed._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join FullOuter") == 1
    assert sorted(r._commit_version for r in feed.collect()) == [
        1, 2, 2, 3, 3, 3, 4, 4,
    ]


def _feed_rows(feed):
    return sorted(tuple(r) for r in feed.collect())


@pytest.mark.parametrize("op", ["optimize", "compact"])
@pytest.mark.parametrize("key_cols", [["k"], None])
def test_change_feed_skips_rewrite_only_commits(spark, table, key_cols, op):
    """Compaction rewrites rows unchanged, so the feed skips such commits
    instead of reading and joining both images: a range that ends in one
    yields the rows of the range that ends just before it, and a range
    holding only one returns no rows and scans no data file."""
    table.commit(
        spark.createDataFrame([Row(k=i, v=f"p{i}") for i in range(8)])
    )                                                       # v0
    table.commit(
        spark.createDataFrame([Row(k=8, v="p8")]), mode="append"
    )                                                       # v1
    table.merge(spark.createDataFrame([Row(k=3, v="M")]), ["k"])  # v2
    table.delete_where_dv("k", 5, 5)                        # v3
    m = getattr(table, op)()                                # v4
    assert m["version"] == 4 and m["operation"].startswith(op)
    assert _feed_rows(table.change_feed(key_cols, 0, 4)) == _feed_rows(
        table.change_feed(key_cols, 0, 3)
    )
    only = table.change_feed(key_cols, 3, 4)
    assert only.columns == table.change_feed(key_cols, 2, 3).columns
    assert only.collect() == []
    plan = only._jdf.queryExecution().optimizedPlan().toString()
    assert "parquet" not in plan.lower()


def _rdd_leaves(plan: str) -> list[str]:
    return [ln.strip() for ln in plan.splitlines() if "LogicalRDD [" in ln]


def _collected_plans(monkeypatch, df) -> list[str]:
    """Record the optimized plan of every frame collected from now on."""
    plans: list[str] = []
    cls = type(df)
    collect = cls.collect

    def recording(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    monkeypatch.setattr(cls, "collect", recording)
    return plans


def test_driver_side_frames_are_local_relations(spark, table, monkeypatch):
    """The frames the table code builds from driver rows (the row-id base
    map, the merge file-bounds table, the empty scans) are
    ``LocalRelation`` leaves, never ``LogicalRDD``: reading one runs no
    Python-worker stage."""
    src = spark.range(20).select(
        F.col("id").alias("k"), F.concat(F.lit("p"), "id").alias("v")
    )
    table.commit(src)
    table.commit(src.where("k < 4").withColumn("k", F.col("k") + 20),
                 mode="append")
    m = table._manifest(1)
    frames = [
        table._scan_rid(m["files"], m),
        table._scan_raw([], m["schema"]),
        table._scan_rid([], m),
    ]
    for df in frames:
        assert not _rdd_leaves(
            df._jdf.queryExecution().optimizedPlan().toString()
        )
    plans = _collected_plans(monkeypatch, src)
    table.merge(
        spark.range(3, 5).select(
            F.col("id").alias("k"), F.lit("M").alias("v")
        ),
        ["k"],
    )
    assert any("__mfile" in p for p in plans)  # the bounds frame ran
    # merge localCheckpoints its source (a JVM-side LogicalRDD); the
    # driver-row frames are told apart by their columns
    assert not [
        leaf for p in plans for leaf in _rdd_leaves(p)
        if "__mfile" in leaf or "__base" in leaf
    ]


def test_partition_evolution_old_files_kept_and_not_mispruned(spark, table):
    """Evolving the partition spec applies to NEW files only: old files
    are carried by reference (same paths, never rewritten), and pruning
    judges each file by its OWN spec — an old-spec file is never pruned
    on a partition name it does not have."""
    df1 = spark.createDataFrame(
        [Row(k=i, g=i % 2, h=i % 3) for i in range(12)]
    )
    table.commit_partitioned(df1, [("p_g", "g")])            # v0: 2 files
    m0 = table._manifest(0)
    assert len(m0["files"]) == 2
    df2 = spark.createDataFrame(
        [Row(k=i, g=i % 2, h=i % 3) for i in range(100, 112)]
    )
    table.commit_partitioned(
        df2, [("p_g", "g"), ("p_h", "h")], mode="append"
    )                                                        # v1: + 6 files
    m1 = table._manifest(1)
    # old files carried by reference, byte-identical paths, not rewritten
    assert set(m0["files"]) <= set(m1["files"])
    assert len(m1["files"]) == 2 + 6
    # data columns stay in the files (hidden partitioning): full snapshot
    assert table.snapshot().count() == 24
    assert set(table.snapshot().columns) == {"k", "g", "h"}

    kept, pruned, meta = table.prune_partitions({"p_g": 1, "p_h": 2})
    # old spec has no p_h: its p_g=1 file is KEPT (conservative), its
    # p_g=0 file pruned; new spec keeps exactly (g=1, h=2)
    assert meta["by_spec"]["p_g"] == {
        "files": 2, "kept": 1, "rows_scanned": 6,
    }
    assert meta["by_spec"]["p_g,p_h"]["files"] == 6
    assert meta["by_spec"]["p_g,p_h"]["kept"] == 1
    # pruned scan + row predicate == full scan + row predicate
    pred = (F.col("g") == 1) & (F.col("h") == 2)
    got = sorted(
        r["k"] for r in table.scan_partitions({"p_g": 1, "p_h": 2})
        .filter(pred).collect()
    )
    want = sorted(r["k"] for r in table.snapshot().filter(pred).collect())
    assert got == want and len(got) > 0
    # unpartitioned append: its files carry no values and are always kept
    table.commit(
        spark.createDataFrame([Row(k=999, g=0, h=0)]), mode="append"
    )
    kept2, _, meta2 = table.prune_partitions({"p_g": 1, "p_h": 2})
    unp = meta2["by_spec"]["(unpartitioned)"]
    assert unp["kept"] == unp["files"] > 0
    assert 999 not in {
        r["k"] for r in table.scan_partitions({"p_g": 1, "p_h": 2})
        .filter(pred).collect()
    }


def test_prune_files_row_counts_footer_fallback(spark, table):
    """ADVICE r08: rows_total/rows_scanned fall back to parquet footers for
    files whose manifest entries lack recorded stats."""
    import json as _json
    import os as _os

    table.commit(spark.createDataFrame([Row(k=i, v="x") for i in range(10)]))
    # simulate a pre-stats commit: blank out the recorded stats
    log = _os.path.join(table.root, "_log", f"{0:011d}.json")
    m = _json.load(open(log))
    m["stats"] = {}
    _json.dump(m, open(log, "w"))
    kept, pruned, meta = table.prune_files("k", lo=0, hi=100)
    assert meta["rows_total"] == 10
    assert meta["rows_scanned"] == 10


def test_wap_stage_publish_abandon(spark, table):
    """WAP lifecycle pins: staged branches are invisible to snapshot();
    publish is metadata-only (the staged files' paths appear verbatim in
    the published manifest); a failed audit leaves table AND branch
    untouched; vacuum never collects currently-staged files; abandon
    removes them."""
    from data_engineering_nd_spark.tables import ConstraintViolation

    table.commit(spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)]))
    staged = table.stage(
        spark.createDataFrame([Row(k=3, v=30), Row(k=4, v=40)]), "b1"
    )
    assert table.snapshot().count() == 2          # invisible
    assert table.read_staged("b1").count() == 2
    # vacuum with the branch staged: staged files survive
    table.vacuum(retain_last=1)
    assert table.read_staged("b1").count() == 2
    m = table.publish_staged("b1", mode="append")
    assert set(staged["files"]) <= set(m["files"])  # metadata-only publish
    assert table.snapshot().count() == 4
    with pytest.raises(FileNotFoundError):
        table.read_staged("b1")
    # failed audit: table and branch untouched
    table.stage(spark.createDataFrame([Row(k=5, v=-1)]), "b2")
    with pytest.raises(ConstraintViolation):
        table.publish_staged("b2", checks=[("v_pos", "v > 0")])
    assert table.latest_version() == 1
    assert table.read_staged("b2").count() == 1
    removed = table.abandon_staged("b2")
    assert removed
    with pytest.raises(FileNotFoundError):
        table.read_staged("b2")
    # restaging a branch replaces it
    table.stage(spark.createDataFrame([Row(k=6, v=60)]), "b3")
    table.stage(spark.createDataFrame([Row(k=7, v=70)]), "b3")
    assert [r.k for r in table.read_staged("b3").collect()] == [7]


def test_apply_change_feed_reconstructs_snapshot(spark, table):
    """apply(snapshot(a), feed(a,b)) == snapshot(b) across a multi-commit
    range with all four change types, including a key updated in one
    commit and deleted in a later one (last change wins)."""
    from data_engineering_nd_spark.tables import apply_change_feed

    table.commit(spark.createDataFrame(
        [Row(k=i, v=f"p{i}") for i in range(6)]).repartition(1))   # v0
    table.merge(spark.createDataFrame(
        [Row(k=2, v="UPD"), Row(k=10, v="NEW")]), ["k"])           # v1
    table.delete_where("k", lo=2, hi=3)                            # v2: drops
    # k=2 (updated then deleted) and k=3
    feed = table.change_feed(["k"], 0, 2)
    applied = apply_change_feed(table.snapshot(version=0), feed, ["k"])
    got = sorted((r.k, r.v) for r in applied.collect())
    want = sorted((r.k, r.v) for r in table.snapshot().collect())
    assert got == want
    assert got == [(0, "p0"), (1, "p1"), (4, "p4"), (5, "p5"), (10, "NEW")]


# -- deletion vectors (merge-on-read DELETE) -------------------------------


def test_dv_delete_is_metadata_only_and_time_travels(spark, chunked_table):
    t = chunked_table
    before = t._manifest(0)
    m = t.delete_where_dv("k", 5, 24)
    assert m["operation"] == "delete-dv"
    assert m["files"] == before["files"]          # no data file touched
    assert m["files_rewritten"] == 0
    assert m["files_candidates"] == 3             # chunks 0,1,2 intersect
    assert m["rows_deleted"] == 20
    assert len(m["dv"]) == 1
    assert t.snapshot().count() == 20
    assert sorted(r.k for r in t.snapshot().collect()) == (
        list(range(0, 5)) + list(range(25, 40))
    )
    assert t.snapshot(0).count() == 40            # time travel unaffected


def test_dv_stacked_deletes_are_disjoint_and_exact(spark, chunked_table):
    t = chunked_table
    t.delete_where_dv("k", 5, 24)
    m2 = t.delete_where_dv("k", 20, 31)           # overlaps [20,24]
    assert m2["rows_deleted"] == 7                # 25..31 only
    assert len(m2["dv"]) == 2
    assert t.snapshot().count() == 13
    assert t.scan("k", 0, 39).count() == 13       # stats scan agrees


def test_dv_append_and_merge_do_not_resurrect(spark, chunked_table):
    t = chunked_table
    t.delete_where_dv("k", 10, 19)                # chunk 1 fully deleted
    t.commit(
        spark.createDataFrame([Row(k=100, v="new", cid=10)]), mode="append"
    )
    assert t.snapshot().count() == 31             # 30 survivors + 1
    mm = t.merge(spark.createDataFrame(
        [Row(k=25, v="UPD", cid=2)]), ["k"])      # rewrites chunk 2
    assert mm["files_rewritten"] == 1
    assert mm["rows_updated"] == 1 and mm["rows_inserted"] == 0
    snap = t.snapshot()
    assert snap.count() == 31
    assert snap.filter("k between 10 and 19").count() == 0
    assert snap.filter("k = 25").collect()[0].v == "UPD"


def test_dv_cow_delete_after_dv_is_exact(spark, chunked_table):
    t = chunked_table
    t.delete_where_dv("k", 10, 19)
    m = t.delete_where("k", 15, 24)               # candidates incl. dv'd file
    assert m["rows_deleted"] == 5                 # 20..24 only (10..19 gone)
    assert t.snapshot().count() == 25


def test_dv_change_feed_emits_vectored_rows_as_deletes(spark, chunked_table):
    t = chunked_table
    t.delete_where_dv("k", 5, 8)                  # v1: dv commit, no file diff
    feed = t.change_feed(["k"], 0, 1)
    rows = sorted((r.k, r._change_type, r._commit_version)
                  for r in feed.collect())
    assert rows == [(5, "delete", 1), (6, "delete", 1),
                    (7, "delete", 1), (8, "delete", 1)]
    # and apply_change_feed roundtrips across the dv commit
    from data_engineering_nd_spark.tables import apply_change_feed

    applied = apply_change_feed(t.snapshot(version=0), feed, ["k"])
    assert sorted(r.k for r in applied.collect()) == sorted(
        r.k for r in t.snapshot().collect()
    )


def test_dv_compact_materializes_and_vacuum_expires_vectors(
    spark, chunked_table
):
    t = chunked_table
    t.delete_where_dv("k", 0, 9)
    mc = t.compact(1)
    assert mc["dv"] == []                         # vectors materialized away
    assert t.snapshot().count() == 30
    t.vacuum(retain_last=1)
    dv_dir = os.path.join(t.root, "_dv")
    left = [f for dp, _, fns in os.walk(dv_dir) for f in fns
            if f.endswith(".parquet")]
    assert left == []                             # expired vectors removed
    assert t.snapshot().count() == 30


def test_dv_vacuum_keeps_live_vectors(spark, chunked_table):
    t = chunked_table
    t.delete_where_dv("k", 0, 9)                  # v1 (latest, retained)
    t.vacuum(retain_last=1)
    assert t.snapshot().count() == 30             # vector still readable


# -- shallow clone (zero-copy fork) ----------------------------------------


def test_clone_is_zero_copy_and_reads_equal(spark, chunked_table, tmp_path):
    src = chunked_table
    src.delete_where_dv("k", 36, 39)              # source DV at clone time
    clone = VersionedTable(spark, str(tmp_path / "fork"))
    m = clone.clone_from(src)
    assert m["version"] == 0 and m["operation"].startswith("clone(")
    assert clone.snapshot().count() == 36         # source DV carried
    data_dir = os.path.join(clone.root, "data")
    assert not os.path.isdir(data_dir)            # not one data byte copied
    assert sorted(r.k for r in clone.snapshot().collect()) == sorted(
        r.k for r in src.snapshot().collect()
    )


def test_clone_evolves_independently_of_source(spark, chunked_table, tmp_path):
    src = chunked_table
    clone = VersionedTable(spark, str(tmp_path / "fork"))
    clone.clone_from(src)
    clone.delete_where_dv("k", 0, 9)
    clone.merge(spark.createDataFrame([Row(k=15, v="UPD", cid=1)]), ["k"])
    assert clone.snapshot().count() == 30
    assert clone.snapshot().filter("v = 'UPD'").count() == 1
    assert src.snapshot().count() == 40           # source never observes it
    assert src.snapshot().filter("v = 'UPD'").count() == 0
    src.commit(spark.createDataFrame(
        [Row(k=99, v="new", cid=9)]), mode="append")
    assert clone.snapshot().count() == 30         # clone pinned at clone point


def test_clone_vacuum_never_touches_source_files(spark, chunked_table, tmp_path):
    src = chunked_table
    clone = VersionedTable(spark, str(tmp_path / "fork"))
    clone.clone_from(src)
    clone.delete_where("k", 0, 9)                 # COW: local rewrite commit
    clone.vacuum(retain_last=1)                   # expires clone v0
    assert src.snapshot().count() == 40           # source fully intact
    assert clone.snapshot().count() == 30


def test_clone_of_historical_version_and_nonempty_target_rejected(
    spark, chunked_table, tmp_path
):
    src = chunked_table
    src.delete_where_dv("k", 0, 19)               # v1
    clone = VersionedTable(spark, str(tmp_path / "fork"))
    clone.clone_from(src, version=0)
    assert clone.snapshot().count() == 40         # pre-delete state
    with pytest.raises(ValueError):
        clone.clone_from(src)                     # non-empty target


# -- per-file Bloom index (point-lookup file skipping) ----------------------


def test_bloom_index_no_false_negatives_and_lookup_exact(
    spark, chunked_table
):
    """Every value present in a file keeps that file; lookup() through
    the index returns exactly snapshot().filter() for every probe."""
    t = chunked_table
    t.build_bloom_index("v")                      # v = 'v0'..'v39', unclustered
    idx = t.load_bloom_index("v")
    assert idx is not None and len(idx["files"]) == 4
    for probe in ["v0", "v15", "v39", "absent"]:
        got = sorted(r.k for r in t.lookup("v", probe, index=idx).collect())
        want = sorted(
            r.k for r in t.snapshot().filter(F.col("v") == probe).collect()
        )
        assert got == want


def test_bloom_index_prunes_unclustered_point_lookups(spark, chunked_table):
    """A value living in exactly one chunk prunes most files (allowing
    bloom false positives, never more than the file count)."""
    t = chunked_table
    t.build_bloom_index("v")
    idx = t.load_bloom_index("v")
    kept, pruned, meta = t.prune_files_bloom("v", "v7", index=idx)
    assert meta["indexed"] is True
    assert meta["files_kept"] >= 1                # the true home file
    assert meta["files_kept"] + meta["files_pruned"] == 4
    assert meta["files_kept"] <= 2                # 3% FP: ~never 3+ of 4


def test_bloom_index_missing_is_conservative(spark, chunked_table):
    t = chunked_table
    kept, pruned, meta = t.prune_files_bloom("v", "v7")   # never built
    assert meta["indexed"] is False
    assert len(kept) == 4 and pruned == []


def test_bloom_index_vacuum_expires_with_snapshot(spark, chunked_table):
    t = chunked_table
    t.build_bloom_index("v")
    t.compact(1)                                  # v1
    t.vacuum(retain_last=1)
    assert t.load_bloom_index("v", version=0) is None
    left = [f for dp, _, fns in os.walk(os.path.join(t.root, "_index"))
            for f in fns]
    assert left == []


# -- idempotent transactional commits ---------------------------------------


def test_txn_replay_is_skipped_and_watermark_carries(spark, table):
    b0 = spark.createDataFrame([Row(k=1, v="a")])
    b1 = spark.createDataFrame([Row(k=2, v="b")])
    m = table.commit(b0, mode="append", txn=("app", 0))
    assert not m.get("idempotent_skip")
    m = table.commit(b1, mode="append", txn=("app", 1))
    assert not m.get("idempotent_skip")
    m = table.commit(b1, mode="append", txn=("app", 1))   # replay
    assert m.get("idempotent_skip") is True
    assert table.snapshot().count() == 2                  # not 3
    assert len(table.versions()) == 2
    assert table.last_txn_version("app") == 1
    # an unrelated maintenance commit carries the watermark forward
    table.compact(1)
    assert table.last_txn_version("app") == 1
    m = table.commit(b1, mode="append", txn=("app", 1))   # still a replay
    assert m.get("idempotent_skip") is True


def test_txn_apps_are_independent(spark, table):
    b = spark.createDataFrame([Row(k=1, v="a")])
    table.commit(b, mode="append", txn=("app1", 5))
    m = table.commit(b, mode="append", txn=("app2", 5))   # other app: applies
    assert not m.get("idempotent_skip")
    assert table.snapshot().count() == 2
    assert table.last_txn_version("app1") == 5
    assert table.last_txn_version("app2") == 5
    assert table.last_txn_version("nope") is None


def test_idempotent_batch_sink_exactly_once_under_replay(spark, table):
    from data_engineering_nd_spark.tables import idempotent_batch_sink

    sink = idempotent_batch_sink(table, "stream-q")
    b0 = spark.createDataFrame([Row(k=1, v="a")])
    b1 = spark.createDataFrame([Row(k=2, v="b")])
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)                                           # checkpoint replay
    assert sorted((r.k, r.v) for r in table.snapshot().collect()) == [
        (1, "a"), (2, "b"),
    ]


# -- timestamp-based time travel ---------------------------------------------


def test_snapshot_as_of_timestamp(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="a")]))            # v0
    t0 = table._manifest(0)["committed_at"]
    table.commit(spark.createDataFrame([Row(k=2, v="b")]), mode="append")
    t1 = table._manifest(1)["committed_at"]
    assert table.version_as_of(t0) == 0
    assert table.version_as_of((t0 + t1) / 2) == 0
    assert table.version_as_of(t1) == 1
    assert table.version_as_of(t1 + 3600) == 1
    assert _rows(table.snapshot_as_of(t0)) == [(1, "a")]
    assert _rows(table.snapshot_as_of(t1 + 1)) == [(1, "a"), (2, "b")]
    with pytest.raises(FileNotFoundError):
        table.version_as_of(t0 - 3600)


# -- round-9 review fixes (regression pins) ----------------------------------


def test_partition_values_with_escaped_chars_prune_correctly(spark, table):
    """Hive path encoding escapes ':' etc.; recorded partition values
    must be the LOGICAL value or matching files get wrongly pruned."""
    df = spark.createDataFrame(
        [Row(k=1, ts="2020-01-01 00:00:00"), Row(k=2, ts="2020-01-02 00:00:00")]
    )
    table.commit_partitioned(df, [("p_ts", "ts")])
    kept, pruned, meta = table.prune_partitions(
        {"p_ts": "2020-01-01 00:00:00"}
    )
    assert meta["files_kept"] == 1 and meta["files_pruned"] == 1
    got = [r.k for r in table.scan_partitions(
        {"p_ts": "2020-01-01 00:00:00"}
    ).filter(F.col("ts") == "2020-01-01 00:00:00").collect()]
    assert got == [1]


def test_merge_matches_rows_in_escaped_partition_dirs(spark, table):
    """A hive-escaped partition directory (``00%3A00``) reads back from
    ``_metadata.file_path`` percent-encoded again (``00%253A00``); the
    merge verbs must still find the file holding a matched key, or the
    pre-image survives next to the post-image and the update counts as
    an insert."""
    df = spark.createDataFrame(
        [Row(k=1, v=1, ts="2020-01-01 00:00:00"),
         Row(k=2, v=2, ts="2020-01-02 00:00:00")]
    )
    table.commit_partitioned(df, [("p_ts", "ts")])
    rep = table.merge(
        spark.createDataFrame([Row(k=1, v=10, ts="2020-01-01 00:00:00")]),
        ["k"],
    )
    assert (rep["rows_updated"], rep["rows_inserted"]) == (1, 0)
    assert rep["files_rewritten"] == 1
    rep = table.merge_when(
        spark.createDataFrame([Row(k=2, v=20, ts="2020-01-02 00:00:00")]),
        ["k"],
    )
    assert (rep["rows_updated"], rep["rows_inserted"]) == (1, 0)
    assert rep["files_rewritten"] == 1
    assert sorted((r.k, r.v) for r in table.snapshot().collect()) == [
        (1, 10), (2, 20)
    ]


def test_bloom_probe_matches_spark_cast_for_nonint_types(spark, table):
    """A double column indexed under Spark's string rendering must be
    probe-able with a Python int/float — representation mismatches would
    be FALSE NEGATIVES."""
    df = spark.createDataFrame(
        [Row(k=i, price=float(i)) for i in range(8)]
    ).repartition(2)
    table.commit(df)
    table.build_bloom_index("price")
    idx = table.load_bloom_index("price")
    got = sorted(r.k for r in table.lookup("price", 5.0, index=idx).collect())
    assert got == [5]
    # bool-typed probes render as Spark's 'true'/'false'
    assert table._spark_string(True) == "true"
    assert table._spark_string(5) == "5"


def test_bloom_on_empty_table_raises_clearly(spark, table):
    with pytest.raises(FileNotFoundError):
        table.prune_files_bloom("k", 5)
    with pytest.raises(FileNotFoundError):
        table.load_bloom_index("k")


def test_dv_change_feed_works_on_shallow_clone(spark, chunked_table, tmp_path):
    """A DV delete on a clone references SOURCE files by absolute path;
    the feed must resolve the vector's relative keys back to them."""
    src = chunked_table
    fork = VersionedTable(spark, str(tmp_path / "fork"))
    fork.clone_from(src)
    fork.delete_where_dv("k", 5, 8)
    feed = fork.change_feed(["k"], 0, 1)
    rows = sorted((r.k, r._change_type) for r in feed.collect())
    assert rows == [(5, "delete"), (6, "delete"), (7, "delete"),
                    (8, "delete")]


def test_partition_metadata_survives_other_commit_kinds(spark, table):
    """append/merge/delete must not erase per-file partition values."""
    df = spark.createDataFrame([Row(k=i, g=i % 2) for i in range(10)])
    table.commit_partitioned(df, [("p_g", "g")])
    table.commit(spark.createDataFrame([Row(k=100, g=5)]), mode="append")
    table.merge(spark.createDataFrame([Row(k=100, g=6)]), ["k"])
    m = table._manifest(table.latest_version())
    assert any(v == {"p_g": "0"} for v in m["partitions"].values())
    kept, pruned, meta = table.prune_partitions({"p_g": "0"})
    assert meta["files_pruned"] >= 1           # p_g=1 file still prunable


def test_apply_change_feed_carries_evolved_columns(spark, table):
    """Schema evolution inside the feed range: replay must produce the
    DESTINATION schema (new columns included), not the base's."""
    from data_engineering_nd_spark.tables import apply_change_feed

    table.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
    table.commit(
        spark.createDataFrame([(2, "b", 9.5)],
                              "k long, v string, score double"),
        mode="append",
    )
    feed = table.change_feed(["k"], 0, 1)
    applied = apply_change_feed(table.snapshot(version=0), feed, ["k"])
    assert set(applied.columns) == {"k", "v", "score"}
    rows = {r.k: (r.v, r.score) for r in applied.collect()}
    want = {r.k: (r.v, r.score) for r in table.snapshot().collect()}
    assert rows == want == {1: ("a", None), 2: ("b", 9.5)}


# -- RESTORE (rollback as a new commit) ---------------------------------------


def test_restore_rolls_back_metadata_only(spark, chunked_table):
    t = chunked_table
    base_files = t._manifest(0)["files"]
    t.delete_where_dv("k", 0, 19)                  # v1: bad delete
    t.commit(spark.createDataFrame([Row(k=99, v="x", cid=9)]),
             mode="append")                        # v2: bad append
    m = t.restore(0)                               # v3 == v0 state
    assert m["operation"] == "restore(v0)"
    assert m["files"] == base_files                # by reference
    assert t.snapshot().count() == 40
    assert t.snapshot(2).count() == 21             # history intact
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(40))


def test_restore_preserves_dv_and_txn_watermarks(spark, chunked_table):
    t = chunked_table
    t.delete_where_dv("k", 0, 9)                   # v1 (the state we want)
    t.commit(spark.createDataFrame([Row(k=77, v="x", cid=7)]),
             mode="append", txn=("app", 3))        # v2
    t.restore(1)                                   # v3: drops the append
    assert t.snapshot().count() == 30              # v1's DV still applies
    # watermark survives the rollback: replaying batch 3 is still a skip
    m = t.commit(spark.createDataFrame([Row(k=78, v="y", cid=7)]),
                 mode="append", txn=("app", 3))
    assert m.get("idempotent_skip") is True
    assert t.last_txn_version("app") == 3


# -- round-10 ADVICE fixes (regression pins) ---------------------------------


def test_prune_partitions_bool_and_null_filter_values(spark, table):
    """Python str() renders True/None differently from the hive directory
    strings ('true' / '__HIVE_DEFAULT_PARTITION__'); the filter value must
    be normalized through the Spark rendering or MATCHING files get
    wrongly pruned (silent row loss in scan_partitions)."""
    df = spark.createDataFrame(
        [Row(k=1, flag=True, g="a"), Row(k=2, flag=False, g="b"),
         Row(k=3, flag=None, g=None)]
    )
    table.commit_partitioned(df, [("p_flag", "flag"), ("p_g", "g")])
    # bool: str(True)='True' but hive writes 'true' -> previously pruned
    kept, pruned, meta = table.prune_partitions({"p_flag": True})
    assert meta["files_kept"] == 1 and meta["files_pruned"] == 2
    got = [r.k for r in table.scan_partitions({"p_flag": True})
           .filter(F.col("flag") == True).collect()]  # noqa: E712
    assert got == [1]
    # NULL partition value: hive sentinel directory
    kept, pruned, meta = table.prune_partitions({"p_g": None})
    assert meta["files_kept"] == 1
    assert [r.k for r in table.scan_partitions({"p_g": None})
            .filter(F.col("g").isNull()).collect()] == [3]


def test_bloom_index_torn_meta_degrades_to_no_index(spark, table):
    """A truncated/corrupt _index meta JSON must read as 'no index'
    (keep everything), never raise on the read path."""
    df = spark.createDataFrame([Row(k=i, v=str(i)) for i in range(6)])
    table.commit(df)
    table.build_bloom_index("k")
    meta_path = table._index_meta_path("k", 0)
    with open(meta_path, "w") as f:
        f.write('{"col": "k", "ver')  # torn mid-write
    assert table.load_bloom_index("k") is None
    kept, pruned, meta = table.prune_files_bloom("k", 3)
    assert meta["indexed"] is False and pruned == []


# -- round-10: optimistic concurrency (validate-at-publish) -------------------


def test_occ_stale_append_rebases_no_lost_update(spark, table):
    """Two appends derived from the same basis snapshot must BOTH land:
    the loser rebases with a metadata-only retry (its data files are
    written once), never clobbers, never drops the winner's rows."""
    table.commit(spark.createDataFrame([Row(k=0, v="seed")]))
    a = spark.createDataFrame([Row(k=1, v="a")])
    b = spark.createDataFrame([Row(k=2, v="b")])
    ma = table.commit(a, mode="append", read_version=0)
    assert ma["version"] == 1
    # B still believes the table is at v0 — validate-at-publish sees A's
    # pure append, rebases, lands at v2
    mb = table.commit(b, mode="append", read_version=0)
    assert mb["version"] == 2
    assert _rows(table.snapshot()) == [(0, "seed"), (1, "a"), (2, "b")]
    # A's files carried into B's manifest by reference
    assert set(ma["files"]) < set(mb["files"])


def test_occ_stale_overwrite_raises(spark, table):
    from data_engineering_nd_spark.tables import ConcurrentModification

    table.commit(spark.createDataFrame([Row(k=0, v="seed")]))
    table.commit(spark.createDataFrame([Row(k=1, v="a")]), mode="append")
    with pytest.raises(ConcurrentModification):
        table.commit(
            spark.createDataFrame([Row(k=9, v="z")]),
            mode="overwrite",
            read_version=0,
        )


def test_occ_append_vs_concurrent_delete_conflicts(spark, table):
    """An unpartitioned append cannot prove disjointness from a
    concurrent DELETE -> ConcurrentModification, not a silent rebase."""
    from data_engineering_nd_spark.tables import ConcurrentModification

    table.commit(spark.createDataFrame([Row(k=i, v=str(i)) for i in range(10)]))
    table.delete_where("k", 0, 4)  # v1: mutates existing files
    with pytest.raises(ConcurrentModification):
        table.commit(
            spark.createDataFrame([Row(k=99, v="x")]),
            mode="append",
            read_version=0,
        )
    # a CURRENT-basis append is fine
    m = table.commit(
        spark.createDataFrame([Row(k=99, v="x")]), mode="append"
    )
    assert m["version"] == 2


def test_occ_partitioned_disjoint_writers_both_land(spark, table):
    """Disjoint-PARTITION append vs delete both land via metadata-only
    rebase; overlapping-partition append raises."""
    from data_engineering_nd_spark.tables import ConcurrentModification

    df = spark.createDataFrame([Row(k=i, g=i % 2, v=str(i)) for i in range(10)])
    table.commit_partitioned(df, [("p_g", "g")])  # v0: p_g in {0,1}
    # concurrent writer deletes everything in p_g=0 via partition-scoped
    # overwrite of those files: simulate with delete_where on k range that
    # lives in p_g=0 only -> removed files are all p_g=0
    # (delete_where rewrites affected files; removed files carry p_g=0)
    table.delete_where("k", 0, 0)  # v1: touches only file(s) with k=0 (p_g=0)
    add1 = spark.createDataFrame([Row(k=101, g=1, v="y")])
    m = table.commit_partitioned(
        add1, [("p_g", "g")], mode="append", read_version=0
    )  # disjoint partition (p_g=1) -> rebases
    assert m["version"] == 2
    got = sorted(r.k for r in table.snapshot().collect())
    assert got == [1, 2, 3, 4, 5, 6, 7, 8, 9, 101]
    add0 = spark.createDataFrame([Row(k=100, g=0, v="x")])
    with pytest.raises(ConcurrentModification):
        table.commit_partitioned(
            add0, [("p_g", "g")], mode="append", read_version=0
        )  # p_g=0 overlaps v1's delete footprint


def test_occ_two_threads_interleaved_appends_no_lost_update(spark, table):
    """Property: two writers firing K appends each against one table,
    racing at the atomic link point, lose nothing — final snapshot holds
    all 2K batches, versions are dense, every batch's rows survive."""
    import threading

    table.commit(spark.createDataFrame([Row(k=-1, v="seed")]))
    K = 4
    errs = []

    def writer(base: int):
        try:
            for i in range(K):
                df = spark.createDataFrame([Row(k=base + i, v=f"w{base}")])
                table.commit(df, mode="append")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(100,))
    t2 = threading.Thread(target=writer, args=(200,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    assert table.versions() == list(range(2 * K + 1))
    got = sorted(r.k for r in table.snapshot().collect())
    assert got == [-1] + [100 + i for i in range(K)] + [200 + i for i in range(K)]


# -- round-10: manifest log checkpointing -------------------------------------


def test_log_checkpoint_reduces_reads_same_state(spark, tmp_path):
    """After N commits, a cold open via the checkpoint reads O(1)+tail
    log files instead of O(commits), and resolves the IDENTICAL state."""
    root = str(tmp_path / "ckpt_tbl")
    t = VersionedTable(spark, root, checkpoint_interval=3)
    t.commit(spark.createDataFrame([Row(k=0, v="0")]))
    for i in range(1, 8):
        t.commit(spark.createDataFrame([Row(k=i, v=str(i))]), mode="append")
    # interval 3 -> checkpoints at v2 and v5
    import os as _os
    assert _os.path.exists(t._checkpoint_path(5))
    with_ck = VersionedTable(spark, root)                      # cold
    no_ck = VersionedTable(spark, root, use_checkpoints=False)  # cold
    h1, h2 = with_ck.history(), no_ck.history()
    assert h1 == h2 and len(h1) == 8
    assert with_ck.io_counts["manifest_reads"] == 2   # v6, v7 tail only
    assert with_ck.io_counts["checkpoint_reads"] == 1
    assert with_ck.io_counts["list_scans"] == 0
    assert no_ck.io_counts["manifest_reads"] == 8
    assert with_ck.versions() == no_ck.versions() == list(range(8))
    assert _rows(with_ck.snapshot()) == _rows(no_ck.snapshot())


def test_checkpointed_table_roundtrips_restore_clone_dv(
    spark, tmp_path
):
    """Time travel, restore, DV reads and shallow clones must resolve any
    version with a checkpointed log (per-version JSONs stay canonical)."""
    root = str(tmp_path / "ckpt_life")
    t = VersionedTable(spark, root, checkpoint_interval=2)
    t.commit(spark.createDataFrame([Row(k=i, v=str(i)) for i in range(10)]))
    t.commit(spark.createDataFrame([Row(k=i, v=str(i)) for i in range(10, 20)]),
             mode="append")                                    # v1 (ckpt)
    t.delete_where_dv("k", 0, 4)                               # v2
    t.commit(spark.createDataFrame([Row(k=99, v="x")]), mode="append")  # v3
    cold = VersionedTable(spark, root)
    assert cold.snapshot(version=0).count() == 10   # time travel pre-ckpt
    assert cold.snapshot().count() == 16            # DV applied (15 + 1)
    m = cold.restore(1)                             # v4
    assert m["version"] == 4 and cold.snapshot().count() == 20
    fork = VersionedTable(spark, str(tmp_path / "ckpt_fork"))
    fork.clone_from(cold)
    assert fork.snapshot().count() == 20
    feed = cold.change_feed(["k"], 1, 2)  # from_version exclusive
    assert feed.filter(F.col("_change_type") == "delete").count() == 5


def test_log_checkpoint_torn_last_pointer_degrades(spark, tmp_path):
    root = str(tmp_path / "ckpt_torn")
    t = VersionedTable(spark, root, checkpoint_interval=2)
    t.commit(spark.createDataFrame([Row(k=1, v="a")]))
    t.commit(spark.createDataFrame([Row(k=2, v="b")]), mode="append")
    with open(t._last_checkpoint_path(), "w") as f:
        f.write('{"vers')  # torn mid-write
    cold = VersionedTable(spark, root)
    assert cold.versions() == [0, 1]
    assert cold.io_counts["list_scans"] == 1  # degraded to listdir
    assert _rows(cold.snapshot()) == [(1, "a"), (2, "b")]


# -- round-10: Bloom index at scale (partitioned sidecar + scoped probe) ------


def test_bloom_scan_probe_matches_driver_probe(spark, chunked_table):
    """The distributed scoped probe must reach the IDENTICAL keep/prune
    decision as the driver-dict probe for hits and misses, and its probe
    table is k rows per indexed file (never the word table)."""
    t = chunked_table
    t.build_bloom_index("k")
    imeta = t._read_index_meta("k", t.latest_version())
    assert imeta["rows"] > 0 and imeta["files_indexed"] > 0
    m = t._manifest(t.latest_version())
    idx = t.load_bloom_index("k")
    for probe in (0, 7, 15, 29, -1, 10**9):
        kd, pd, md = t.prune_files_bloom("k", probe, index=idx)
        ks, ps, ms = t._prune_files_bloom_scan(imeta, m, probe)
        assert (sorted(kd), sorted(pd)) == (sorted(ks), sorted(ps)), probe
        assert ms["probe_mode"] == "scan" and md["probe_mode"] == "driver"
    # routing: a tiny threshold forces the scan path end-to-end
    kept, pruned, meta = t.prune_files_bloom("k", 7, scan_threshold_rows=0)
    assert meta["probe_mode"] == "scan"
    assert 7 in [r.k for r in t._read_files(kept, m["schema"]).collect()]
    # default threshold keeps the small index on the driver path
    _, _, meta2 = t.prune_files_bloom("k", 7)
    assert meta2["probe_mode"] == "driver"


def test_bloom_sidecar_write_is_partitioned_not_funneled(spark, table):
    """The sidecar write must not repartition(1): with >1 range
    partition of word rows the index directory holds >1 part file on a
    multi-file table (the single-task funnel was the r09 scale flag)."""
    from data_engineering_nd_spark.catalog import scoped_conf

    df = spark.createDataFrame(
        [Row(k=i, v=str(i)) for i in range(2000)]
    ).repartition(8)
    table.commit(df)
    # AQE legitimately coalesces the tiny test sidecar to one partition;
    # disabling it exposes whether the write itself funnels to one task
    with scoped_conf(
        spark, "spark.sql.adaptive.coalescePartitions.enabled", "false"
    ):
        meta = table.build_bloom_index("k")
    idx_dir = os.path.join(table.root, meta["data"])
    parts = [f for f in os.listdir(idx_dir) if f.endswith(".parquet")]
    assert len(parts) > 1
    # and the index still has no false negatives through lookup()
    got = sorted(r.k for r in table.lookup("k", 1234).collect())
    assert got == [1234]


# -- round-10: merge-on-read UPDATE via deletion vectors ----------------------


def _seed_pair(spark, tmp_path, name):
    rows = [Row(k=i, v=f"v{i}", grp=i % 3) for i in range(30)]
    cow = VersionedTable(spark, str(tmp_path / f"{name}_cow"))
    mor = VersionedTable(spark, str(tmp_path / f"{name}_mor"))
    for t in (cow, mor):
        t.commit(spark.createDataFrame(rows).repartition(4))
    return cow, mor


def test_merge_dv_zero_rewrites_matches_cow_result(spark, tmp_path):
    cow, mor = _seed_pair(spark, tmp_path, "a")
    batch = spark.createDataFrame(
        [Row(k=k, v=f"NEW{k}", grp=9) for k in (3, 7, 11)]
        + [Row(k=k, v=f"ins{k}", grp=9) for k in (100, 101)]
    )
    mc = cow.merge(batch, ["k"])
    md = mor.merge_dv(batch, ["k"])
    assert md["files_rewritten"] == 0
    # every pre-existing file carried by reference
    assert set(mor._manifest(0)["files"]) < set(md["files"])
    assert md["rows_updated"] == mc["rows_updated"] == 3
    assert md["rows_inserted"] == mc["rows_inserted"] == 2
    a = sorted((r.k, r.v, r.grp) for r in cow.snapshot().collect())
    b = sorted((r.k, r.v, r.grp) for r in mor.snapshot().collect())
    assert a == b and len(a) == 32


def test_merge_dv_change_feed_matches_cow_feed(spark, tmp_path):
    cow, mor = _seed_pair(spark, tmp_path, "b")
    batch = spark.createDataFrame(
        [Row(k=5, v="CHANGED", grp=5), Row(k=200, v="fresh", grp=5)]
    )
    cow.merge(batch, ["k"])
    mor.merge_dv(batch, ["k"])
    def _feed(t):
        return sorted(
            (r._change_type, r.k, r.v, r.grp)
            for r in t.change_feed(["k"], 0, 1).collect()
        )
    fa, fb = _feed(cow), _feed(mor)
    assert fa == fb
    types = sorted(x[0] for x in fa)
    assert types == ["insert", "update_postimage", "update_preimage"]


def test_merge_dv_stacked_then_compact(spark, tmp_path):
    _, mor = _seed_pair(spark, tmp_path, "c")
    mor.merge_dv(spark.createDataFrame([Row(k=5, v="x1", grp=0)]), ["k"])
    m2 = mor.merge_dv(spark.createDataFrame([Row(k=5, v="x2", grp=0)]), ["k"])
    # second upsert vectors the v1 post-image, not the already-deleted row
    assert m2["rows_updated"] == 1
    got = [r.v for r in mor.snapshot().filter(F.col("k") == 5).collect()]
    assert got == ["x2"]
    mc = mor.compact(target_partitions=2)
    assert mc["dv"] == []
    assert [r.v for r in mor.snapshot().filter(F.col("k") == 5).collect()] == ["x2"]
    assert mor.snapshot().count() == 30


def test_log_checkpoint_retention_keeps_last_two(spark, tmp_path):
    """Rollups hold the whole chain; retention bounds log storage to the
    current + previous checkpoint, and a stale pointer to a removed one
    degrades to per-version reads."""
    root = str(tmp_path / "ckpt_ret")
    t = VersionedTable(spark, root, checkpoint_interval=2)
    t.commit(spark.createDataFrame([Row(k=0, v="0")]))
    for i in range(1, 9):
        t.commit(spark.createDataFrame([Row(k=i, v=str(i))]), mode="append")
    # checkpoints fired at v1,v3,v5,v7 -> only v5,v7 survive
    cks = sorted(
        f for f in os.listdir(t._log_dir()) if f.endswith(".checkpoint.json")
    )
    assert cks == ["00000000005.checkpoint.json", "00000000007.checkpoint.json"]
    cold = VersionedTable(spark, root)
    assert cold.versions() == list(range(9))
    assert len(_rows(cold.snapshot())) == 9


# -- round-10: metadata tables -------------------------------------------------


def test_metadata_tables_match_manifest(spark, table):
    df = spark.createDataFrame([Row(k=i, g=i % 2, v=str(i)) for i in range(10)])
    table.commit_partitioned(df, [("p_g", "g")])
    table.commit(spark.createDataFrame([Row(k=99, g=9, v="x")]), mode="append")
    fm = table.files_metadata()
    assert fm.count() == len(table._manifest(1)["files"])
    assert fm.agg(F.sum("num_rows")).collect()[0][0] == 11
    # partition rollup: two g-buckets of 5 rows + one unpartitioned file
    pm = {r.partition_key: (r.n_files, r.n_rows)
          for r in table.partitions_metadata().collect()}
    assert pm["p_g=0"] == (1, 5) and pm["p_g=1"] == (1, 5)
    assert pm[""][1] == 1  # unpartitioned append rows (file count free)
    hist = table.history_metadata().collect()
    assert [r.version for r in hist] == [0, 1]
    assert hist[0].num_files == 2  # one file per partition value
    assert hist[1].num_files == fm.count()
    assert hist[1].operation == "append"


# -- round-10: per-file NDV sketches ------------------------------------------


def test_ndv_sketch_exact_below_k_and_estimate_above(spark, table):
    from data_engineering_nd_spark.functions.hashing import md5_prefix_long

    df = spark.createDataFrame(
        [Row(k=i, v=i % 50) for i in range(2000)]
    ).repartition(4)
    table.commit(df)
    table.build_ndv_sketch("v", k=256)
    est = table.estimate_ndv("v")
    # 50 distinct < k -> the sketch is EXACT
    assert est["n_hashes"] == 50 and est["ndv_estimate"] == 50.0
    # high-cardinality column: estimate within the k=256 error envelope
    table.build_ndv_sketch("k", k=256)
    est2 = table.estimate_ndv("k")
    assert est2["n_hashes"] == 256
    assert abs(est2["ndv_estimate"] - 2000) / 2000 < 0.25  # ~4/sqrt(256)
    # no sketch -> None
    assert table.estimate_ndv("nope") is None


# -- round-10: type widening on append ----------------------------------------


def test_type_widening_int_float_decimal(spark, table):
    from decimal import Decimal

    df0 = spark.createDataFrame([Row(k=1)]).selectExpr(
        "cast(k as int) k", "cast(1.5 as float) f",
        "cast(2.25 as decimal(5,2)) d")
    table.commit(df0)
    df1 = spark.createDataFrame([Row(k=2)]).selectExpr(
        "cast(k as bigint) k", "cast(3.5 as double) f",
        "cast(4.25 as decimal(12,2)) d")
    m = table.commit(df1, mode="append")
    types = dict(table.snapshot().dtypes)
    assert types == {"k": "bigint", "f": "double", "d": "decimal(12,2)"}
    got = sorted((r.k, r.f, r.d) for r in table.snapshot().collect())
    assert got == [(1, 1.5, Decimal("2.25")), (2, 3.5, Decimal("4.25"))]
    # narrowing the other way also widens (old long + new int -> long)
    table.commit(spark.createDataFrame([Row(k=3)]).selectExpr(
        "cast(k as int) k", "cast(9.5 as float) f",
        "cast(1.00 as decimal(5,2)) d"), mode="append")
    assert dict(table.snapshot().dtypes)["k"] == "bigint"
    assert table.snapshot().count() == 3
    # non-widenable conflict still raises
    import pytest as _pytest
    with _pytest.raises(ValueError, match="schema conflict"):
        table.commit(spark.createDataFrame([Row(k="x")]).selectExpr(
            "k", "cast(1.0 as double) f", "cast(1.00 as decimal(12,2)) d"),
            mode="append")
    # decimal scale change is NOT widenable
    with _pytest.raises(ValueError, match="schema conflict"):
        table.commit(spark.createDataFrame([Row(k=4)]).selectExpr(
            "cast(k as int) k", "cast(1.0 as double) f",
            "cast(1.000 as decimal(12,3)) d"), mode="append")


# -- round-10: conditional MERGE (WHEN clauses) --------------------------------


def test_merge_when_clauses_full_surface(spark, table):
    table.commit(spark.createDataFrame(
        [Row(k=1, v=10, s="live"), Row(k=2, v=20, s="live"),
         Row(k=3, v=30, s="stale"), Row(k=4, v=40, s="live")]))
    src = spark.createDataFrame(
        [Row(k=1, v=5, s="live"),     # matched, src LOWER -> update skipped
         Row(k=2, v=99, s="live"),    # matched, src higher -> updated
         Row(k=3, v=0, s="del"),      # matched + delete condition -> deleted
         Row(k=5, v=50, s="live"),    # unmatched -> inserted
         Row(k=6, v=-1, s="live")])   # unmatched, insert_when false -> skipped
    m = table.merge_when(
        src, ["k"],
        update_when="src_v > v",
        delete_when="src_s = 'del'",
        insert_when="src_v >= 0",
        delete_not_matched_by_source_when="s = 'stale'",
    )
    got = sorted((r.k, r.v, r.s) for r in table.snapshot().collect())
    # k=1 kept (update skipped), k=2 updated, k=3 deleted by clause,
    # k=4 kept (not matched by source but s='live'), k=5 inserted
    assert got == [(1, 10, "live"), (2, 99, "live"), (4, 40, "live"),
                   (5, 50, "live")]
    assert m["rows_updated"] == 1 and m["rows_update_skipped"] == 1
    assert m["rows_deleted"] == 1 and m["rows_inserted"] == 1
    assert m["rows_insert_skipped"] == 1
    assert m["rows_deleted_by_source"] == 0  # k=3 matched; k=4 live
    # by-source delete fires on unmatched rows meeting the condition:
    # k=2 updates to stale; a second sync then deletes it (unmatched)
    table.merge_when(
        spark.createDataFrame([Row(k=2, v=100, s="stale")]), ["k"],
        update_when="src_v > v",
    )
    m2 = table.merge_when(
        spark.createDataFrame([Row(k=5, v=51, s="live")]), ["k"],
        update_when="src_v > v",
        delete_not_matched_by_source_when="s = 'stale'",
    )
    assert m2["rows_deleted_by_source"] == 1
    got2 = sorted((r.k, r.v, r.s) for r in table.snapshot().collect())
    assert got2 == [(1, 10, "live"), (4, 40, "live"), (5, 51, "live")]


# -- mutation-path optimistic concurrency (validate-at-publish on merge /
# delete / optimize / compact — the r10 task-#2 surface) --------------------


def test_mutation_occ_merge_rebases_over_concurrent_append(spark, chunked_table):
    """A merge whose basis went stale because of a concurrent PURE APPEND
    must land via the metadata-only rebase (WriteSerializable: the blind
    append serializes after the merge), carrying the appended file by
    reference — no lost update on either side."""
    t = chunked_table
    ma = t.commit(
        spark.createDataFrame([Row(k=100, v="appended")]), mode="append"
    )  # v1, lands after the merge's basis
    m = t.merge(
        spark.createDataFrame([Row(k=12, v="U12")]), ["k"], read_version=0
    )
    assert m["version"] == 2 and m["rebased_over"] == 1
    assert m["files_rewritten"] == 1
    # the concurrent append's file carried by reference
    new_in_v1 = set(ma["files"]) - set(t.history()[0]["files"])
    assert new_in_v1 < set(m["files"])
    got = {(r.k, r.v) for r in t.snapshot().collect()}
    assert (12, "U12") in got and (100, "appended") in got
    assert len(got) == 41


def test_mutation_occ_merge_conflicts_with_concurrent_rewrite(spark, chunked_table):
    """Two writers mutating the SAME chunk file: the loser's rewrite was
    computed from bytes that are no longer current -> raises, never a
    silent lost update."""
    from data_engineering_nd_spark.tables import ConcurrentModification

    t = chunked_table
    t.delete_where("k", 10, 12)  # v1 rewrites chunk [10,19]
    with pytest.raises(ConcurrentModification):
        t.merge(
            spark.createDataFrame([Row(k=15, v="U15")]), ["k"],
            read_version=0,
        )
    # retry on the current basis succeeds
    m = t.merge(spark.createDataFrame([Row(k=15, v="U15")]), ["k"])
    assert m["version"] == 2
    got = {(r.k, r.v) for r in t.snapshot().collect()}
    assert (15, "U15") in got and len(got) == 37


def test_mutation_occ_disjoint_delete_and_merge_both_land(spark, chunked_table):
    """The VERDICT scenario: two mutations confined to DIFFERENT chunk
    files rebase over each other — a delete in chunk [0,9] and a merge
    in chunk [30,39] from the same stale basis both land."""
    t = chunked_table
    t.merge(
        spark.createDataFrame([Row(k=35, v="U35")]), ["k"], read_version=0
    )  # v1 rewrites chunk [30,39]
    md = t.delete_where("k", 0, 4, read_version=0)  # stale basis
    assert md["version"] == 2 and md["rebased_over"] == 1
    got = {(r.k, r.v) for r in t.snapshot().collect()}
    assert (35, "U35") in got
    assert not any(k <= 4 for k, _ in got)
    assert len(got) == 35


def test_mutation_occ_optimize_rebases_over_disjoint_merge(spark, table):
    """Maintenance never aborts data writers it doesn't overlap: optimize
    rewriting only the SMALL files rebases over a concurrent merge that
    rewrote a large one."""
    big = spark.range(0, 20000).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("v")
    )
    table.commit(big.repartition(1))  # v0: one large file
    table.commit(
        spark.createDataFrame([Row(k=100001, v="tiny1")]), mode="append"
    )
    table.commit(
        spark.createDataFrame([Row(k=100002, v="tiny2")]), mode="append"
    )  # v2: two tiny files alongside the big one
    sizes = table._file_sizes(table._manifest(2)["files"], table._manifest(2))
    floor = sorted(sizes.values())[-1]  # only the big file is >= floor
    # concurrent merge rewrites the BIG file (k=5 lives there) -> v3
    table.merge(spark.createDataFrame([Row(k=5, v="U5")]), ["k"])
    m = table.optimize(min_file_bytes=floor, read_version=2)
    assert m["version"] == 4 and m["rebased_over"] == 1
    got = {(r.k, r.v) for r in table.snapshot().collect()}
    assert (5, "U5") in got and (100001, "tiny1") in got
    assert len(got) == 20002


def test_mutation_occ_optimize_conflicts_when_small_files_rewritten(
    spark, table
):
    from data_engineering_nd_spark.tables import ConcurrentModification

    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    table.commit(spark.createDataFrame([Row(k=2, v="b")]), mode="append")
    table.delete_where("k", 1, 1)  # v2 rewrites a small file
    with pytest.raises(ConcurrentModification):
        table.optimize(min_file_bytes=10**12, read_version=1)


def test_mutation_occ_compact_rebases_over_append(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]))
    table.commit(spark.createDataFrame([Row(k=3, v="c")]), mode="append")
    m = table.compact(1, read_version=0)  # stale basis: rebases over v1
    assert m["version"] == 2 and m["rebased_over"] == 1
    assert _rows(table.snapshot()) == [(1, "a"), (2, "b"), (3, "c")]


def test_mutation_occ_dv_writer_conflicts_with_rewrite(spark, chunked_table):
    """A DV delete whose candidate file was concurrently REWRITTEN must
    raise: publishing the vector would lose the delete (its positions
    name a file no longer in the manifest)."""
    from data_engineering_nd_spark.tables import ConcurrentModification

    t = chunked_table
    t.merge(spark.createDataFrame([Row(k=12, v="U12")]), ["k"])  # v1
    with pytest.raises(ConcurrentModification):
        t.delete_where_dv("k", 10, 14, read_version=0)
    # disjoint chunk rebases fine
    m = t.delete_where_dv("k", 30, 31, read_version=0)
    assert m["version"] == 2 and m["rows_deleted"] == 2
    got = {(r.k, r.v) for r in t.snapshot().collect()}
    assert (12, "U12") in got and not {k for k, _ in got} & {30, 31}


def test_mutation_occ_rewrite_conflicts_with_concurrent_dv(spark, chunked_table):
    """The mirror image: a COW mutation whose read set was concurrently
    VECTORED must raise (rewriting those files would resurrect the
    vectored rows), attribution via the manifest dv_refs."""
    from data_engineering_nd_spark.tables import ConcurrentModification

    t = chunked_table
    t.delete_where_dv("k", 12, 13)  # v1 vectors chunk [10,19]
    with pytest.raises(ConcurrentModification):
        t.merge(
            spark.createDataFrame([Row(k=15, v="U15")]), ["k"],
            read_version=0,
        )
    # a merge in an UNvectored chunk rebases over the DV commit
    m = t.merge(
        spark.createDataFrame([Row(k=35, v="U35")]), ["k"], read_version=0
    )
    assert m["version"] == 2 and m["rebased_over"] == 1
    got = {(r.k, r.v) for r in t.snapshot().collect()}
    assert (35, "U35") in got and not {k for k, _ in got} & {12, 13}


def test_mutation_occ_two_threads_merge_and_append_no_lost_update(
    spark, chunked_table
):
    """Race an actual merge thread against an append thread: whoever
    loses the link race rebases (or raises and retries) — the final
    snapshot must contain BOTH effects."""
    import threading

    from data_engineering_nd_spark.tables import ConcurrentModification

    t = chunked_table
    errs = []

    def do_merge():
        try:
            basis = t.latest_version()
            try:
                t.merge(
                    spark.createDataFrame([Row(k=22, v="U22")]), ["k"],
                    read_version=basis,
                )
            except ConcurrentModification:
                t.merge(spark.createDataFrame([Row(k=22, v="U22")]), ["k"])
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    def do_append():
        try:
            t.commit(
                spark.createDataFrame([Row(k=200, v="appended")]),
                mode="append",
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    th = [threading.Thread(target=do_merge), threading.Thread(target=do_append)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs
    got = {(r.k, r.v) for r in t.snapshot().collect()}
    assert (22, "U22") in got and (200, "appended") in got
    assert len(got) == 41


# -- purge_dv: targeted DV materialization (Delta REORG ... PURGE shape) ----


def _dv_fixture(spark, t):
    """Vector 8/10 rows of chunk [10,19] (ratio .8) and 2/10 of chunk
    [30,39] (ratio .2) on the chunked table."""
    t.delete_where_dv("k", 10, 17)
    t.delete_where_dv("k", 30, 31)
    return t


def test_purge_dv_rewrites_only_heavy_files(spark, chunked_table):
    t = _dv_fixture(spark, chunked_table)
    before = {(r.k, r.v) for r in t.snapshot().collect()}
    v0_files = set(t.history()[0]["files"])
    m = t.purge_dv(max_deleted_ratio=0.5)
    assert m["files_purged"] == 1 and m["rows_purged"] == 8
    assert m["dv_files_before"] == 2 and m["dv_files_after"] == 1
    assert m["dv_entries_before"] == 10 and m["dv_entries_after"] == 2
    # snapshot identical before/after: purge is pure reorganization
    assert {(r.k, r.v) for r in t.snapshot().collect()} == before
    # healthy chunk files carried by reference (3 of the 4 originals)
    assert len(v0_files & set(m["files"])) == 3
    # time travel still applies the old vectors
    assert {r.k for r in t.snapshot(2).collect()} == {r.k for r in t.snapshot().collect()}


def test_purge_dv_change_feed_is_neutral(spark, chunked_table):
    t = _dv_fixture(spark, chunked_table)
    m = t.purge_dv(max_deleted_ratio=0.5)
    v = m["version"]
    feed = t.change_feed(["k"], v - 1, v)
    assert feed.count() == 0


def test_purge_dv_noop_paths(spark, chunked_table):
    t = chunked_table
    # no vectors at all
    m = t.purge_dv()
    assert m["files_purged"] == 0 and len(t.versions()) == 1
    # vectors exist but none over threshold
    t.delete_where_dv("k", 10, 11)
    m = t.purge_dv(max_deleted_ratio=0.5)
    assert m["files_purged"] == 0 and m["dv_entries_before"] == 2
    assert len(t.versions()) == 2  # nothing published


def test_purge_dv_occ_rebases_over_append_conflicts_with_rewrite(
    spark, chunked_table
):
    from data_engineering_nd_spark.tables import ConcurrentModification

    t = _dv_fixture(spark, chunked_table)
    basis = t.latest_version()
    t.commit(spark.createDataFrame([Row(k=500, v="ingest")]), mode="append")
    m = t.purge_dv(max_deleted_ratio=0.5, read_version=basis)
    assert m["rebased_over"] == 1 and m["files_purged"] == 1
    got = {(r.k, r.v) for r in t.snapshot().collect()}
    assert (500, "ingest") in got and len(got) == 31
    # concurrent rewrite of a newly-flagged file -> conflict
    t.delete_where_dv("k", 20, 27)
    basis = t.latest_version()
    t.delete_where("k", 20, 29)  # COW-rewrites chunk [20,29]
    with pytest.raises(ConcurrentModification):
        t.purge_dv(max_deleted_ratio=0.5, read_version=basis)


def test_purge_dv_after_merge_dv_traffic_converges(spark, chunked_table):
    """Sustained merge-on-read upserts followed by purge: vectors drain
    for the heavily-hit files without a full-snapshot compact."""
    t = chunked_table
    for i in range(3):
        t.merge_dv(
            spark.createDataFrame(
                [Row(k=10 + i * 3 + j, v=f"u{i}-{j}") for j in range(3)]
            ),
            ["k"],
        )
    before = {(r.k, r.v) for r in t.snapshot().collect()}
    m = t.purge_dv(max_deleted_ratio=0.5)
    assert m["files_purged"] >= 1 and m["dv_entries_after"] < m["dv_entries_before"]
    assert {(r.k, r.v) for r in t.snapshot().collect()} == before


# -- column mapping: metadata-only RENAME / DROP COLUMN ----------------------


def test_rename_column_is_metadata_only(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]))
    m = table.rename_column("v", "label")
    # zero files rewritten: identical file list, new schema
    assert m["files"] == table.history()[0]["files"]
    assert sorted((r.k, r.label) for r in table.snapshot().collect()) == [
        (1, "a"), (2, "b")
    ]
    # time travel reads v0 under its OWN (old) names
    assert table.snapshot(0).columns == ["k", "v"]
    # the rename commit feeds zero row changes
    assert table.change_feed(["k"], 0, 1).count() == 0


def test_drop_column_is_metadata_only_and_id_never_reused(spark, table):
    table.commit(
        spark.createDataFrame([Row(k=1, v="a", x=10), Row(k=2, v="b", x=20)])
    )
    m = table.drop_column("x")
    assert m["files"] == table.history()[0]["files"]
    assert table.snapshot().columns == ["k", "v"]
    # re-adding the same logical name creates a FRESH physical column:
    # old files' bytes stay dead (read as null), never resurrected
    table.commit(
        spark.createDataFrame([Row(k=3, v="c", x=99)]), mode="append"
    )
    got = sorted((r.k, r.x) for r in table.snapshot().collect())
    assert got == [(1, None), (2, None), (3, 99)]
    # the appended file stores a col-<id> physical name, not 'x'
    newf = [
        f
        for f in table._manifest(2)["files"]
        if f not in set(table._manifest(1)["files"])
    ][0]
    phys = spark.read.parquet(os.path.join(table.root, newf)).columns
    assert "x" not in phys and any(c.startswith("col-") for c in phys)


def test_rename_then_mutations_roundtrip(spark, chunked_table):
    """The full VERDICT round-trip: renamed+dropped table keeps working
    through merge / delete / merge_dv / purge / snapshot / change_feed
    with zero files rewritten by the schema edits."""
    t = chunked_table
    t.commit(
        spark.createDataFrame([Row(k=100, v="x", extra=1)]), mode="append"
    )  # v1: evolve schema with an extra column first
    mr = t.rename_column("v", "payload")  # v2
    md = t.drop_column("extra")  # v3
    assert mr["files"] == md["files"] == t._manifest(1)["files"]
    m = t.merge(
        spark.createDataFrame([Row(k=12, payload="U12")]), ["k"]
    )  # v4
    assert m["files_rewritten"] == 1
    t.delete_where("k", 30, 34)  # v5 prunes on manifest stats (physical)
    assert {r.k for r in t.snapshot().collect()} & set(range(30, 35)) == set()
    t.merge_dv(spark.createDataFrame([Row(k=15, payload="U15")]), ["k"])
    got = {(r.k, r.payload) for r in t.snapshot().collect()}
    assert (12, "U12") in got and (15, "U15") in got
    feed = t.change_feed(["k"], 3, 4)
    assert {r._change_type for r in feed.collect()} == {
        "update_preimage", "update_postimage"
    }
    # delete at v5 pruned: only the [30,39] chunk was rewritten
    assert t._manifest(5)["operation"] == "delete"


def test_column_mapping_stats_pruning_translates(spark, chunked_table):
    """delete_where on a RENAMED key column must still stats-prune:
    only the covering chunk file is rewritten."""
    t = chunked_table
    t.rename_column("k", "key_id")
    m = t.delete_where("key_id", 10, 14)
    assert m["files_rewritten"] == 1 and m["rows_deleted"] == 5
    assert m["files_untouched"] == 3


def test_column_mapping_overwrite_preserves_identity(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    table.rename_column("v", "val")
    table.commit(spark.createDataFrame([Row(k=9, val="z")]), mode="overwrite")
    assert sorted((r.k, r.val) for r in table.snapshot().collect()) == [
        (9, "z")
    ]
    # same-name field keeps its physical identity across the replace
    mapping = table._mapping(table._manifest(2)["schema"])
    assert mapping == {"k": "k", "val": "v"}


def test_column_mapping_type_widening_composes(spark, table):
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    df = spark.createDataFrame(
        [(1, 10)], StructType([
            StructField("k", LongType()), StructField("n", IntegerType()),
        ])
    )
    table.commit(df)
    table.rename_column("n", "amount")
    wide = spark.createDataFrame(
        [(2, 2**40)], StructType([
            StructField("k", LongType()), StructField("amount", LongType()),
        ])
    )
    table.commit(wide, mode="append")  # widens int -> long under mapping
    got = sorted((r.k, r.amount) for r in table.snapshot().collect())
    assert got == [(1, 10), (2, 2**40)]


def test_column_mapping_guards_unsupported_surfaces(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    table.rename_column("v", "w")
    with pytest.raises(ValueError, match="column-mapped"):
        table.add_files("/nonexistent")
    table.stage(spark.createDataFrame([Row(k=2, w="b")]), "audit")
    with pytest.raises(ValueError, match="column-mapped"):
        table.publish_staged("audit")


def test_column_mapping_partitioned_commit(spark, table):
    """r12: partitioned commits WORK on column-mapped tables — data
    columns land under physical names, partition directories keep their
    spec names, pruning and snapshot() are mapping-transparent."""
    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    table.rename_column("v", "w")  # enables mapping
    m = table.commit_partitioned(
        spark.createDataFrame([Row(k=2, w="b"), Row(k=3, w="c")]),
        [("p", "k % 2")],
        mode="append",
    )
    assert m["operation"].startswith("append_partitioned")
    got = sorted((r.k, r.w) for r in table.snapshot().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    kept, pruned, meta = table.prune_partitions({"p": "0"})
    assert meta["files_kept"] >= 1
    # rows in pruned-out files never have p == 0
    rows = table._read_files(
        kept, table._manifest(table.latest_version())["schema"]
    ).collect()
    assert any(r.k == 2 for r in rows)
    # a further rename still works and reads back
    table.rename_column("w", "x")
    got = sorted((r.k, r.x) for r in table.snapshot().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_column_mapping_schema_edit_validation(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    with pytest.raises(ValueError, match="no such column"):
        table.rename_column("zzz", "y")
    with pytest.raises(ValueError, match="already exists"):
        table.rename_column("v", "k")
    with pytest.raises(ValueError, match="no such column"):
        table.drop_column("zzz")
    table.drop_column("v")
    with pytest.raises(ValueError, match="last column"):
        table.drop_column("k")


def test_column_mapping_append_conflicts_with_concurrent_schema_change(
    spark, table
):
    from data_engineering_nd_spark.tables import ConcurrentModification

    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    table.enable_column_mapping()  # v1
    table.rename_column("v", "w")  # v2: concurrent schema change
    with pytest.raises(ConcurrentModification):
        table.commit(
            spark.createDataFrame([Row(k=2, v="b")]),
            mode="append",
            read_version=1,
        )
    # retry against the current schema lands
    m = table.commit(
        spark.createDataFrame([Row(k=2, w="b")]), mode="append"
    )
    assert m["version"] == 3
    assert sorted((r.k, r.w) for r in table.snapshot().collect()) == [
        (1, "a"), (2, "b")
    ]


def test_change_feed_across_rename_resolves_by_field_id(spark, table):
    """A feed range spanning a rename must surface pre-rename changes
    under the FINAL column names (field-id resolution), including a
    renamed KEY column (r11 self-review finding #2)."""
    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    table.commit(spark.createDataFrame([Row(k=2, v="b")]), mode="append")
    table.rename_column("v", "val")    # v2
    table.rename_column("k", "kid")    # v3
    table.commit(spark.createDataFrame([Row(kid=3, val="c")]), mode="append")
    feed = table.change_feed(["kid"], 0, 4)
    got = sorted(
        (r.kid, r.val, r._change_type, r._commit_version)
        for r in feed.collect()
    )
    # pre-rename appends carry their values under the final names;
    # the two rename commits themselves feed nothing
    assert got == [
        (2, "b", "insert", 1),
        (3, "c", "insert", 4),
    ]


# -- persistent CHECK constraints (table properties) -------------------------


def test_persistent_check_enforced_on_all_write_paths(spark, table):
    from data_engineering_nd_spark.tables import ConstraintViolation

    table.commit(spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)]))
    m = table.add_check_constraint("v_positive", "v > 0")
    assert m["operation"] == "add-constraint(v_positive)"
    # plain append of a dirty batch: rejected before any file lands
    files_before = set(m["files"])
    with pytest.raises(ConstraintViolation):
        table.commit(spark.createDataFrame([Row(k=3, v=-1)]), mode="append")
    assert set(table._manifest(table.latest_version())["files"]) == files_before
    # merge with a dirty source: rejected
    with pytest.raises(ConstraintViolation):
        table.merge(spark.createDataFrame([Row(k=1, v=-5)]), ["k"])
    with pytest.raises(ConstraintViolation):
        table.merge_dv(spark.createDataFrame([Row(k=1, v=-5)]), ["k"])
    # clean writes land
    table.commit(spark.createDataFrame([Row(k=3, v=30)]), mode="append")
    assert sorted((r.k, r.v) for r in table.snapshot().collect()) == [
        (1, 10), (2, 20), (3, 30)
    ]


def test_add_constraint_validates_existing_data(spark, table):
    from data_engineering_nd_spark.tables import ConstraintViolation

    table.commit(spark.createDataFrame([Row(k=1, v=-1)]))
    with pytest.raises(ConstraintViolation):
        table.add_check_constraint("v_positive", "v > 0")
    assert len(table.versions()) == 1  # nothing committed


def test_drop_constraint_restores_writability(spark, table):
    from data_engineering_nd_spark.tables import ConstraintViolation

    table.commit(spark.createDataFrame([Row(k=1, v=10)]))
    table.add_check_constraint("v_positive", "v > 0")
    with pytest.raises(ConstraintViolation):
        table.commit(spark.createDataFrame([Row(k=2, v=-2)]), mode="append")
    table.drop_check_constraint("v_positive")
    table.commit(spark.createDataFrame([Row(k=2, v=-2)]), mode="append")
    assert table.snapshot().count() == 2
    with pytest.raises(ValueError, match="no such constraint"):
        table.drop_check_constraint("zzz")


def test_merge_when_checks_written_rows_not_filtered_source(spark, table):
    """A violating source row that the insert_when clause FILTERS OUT
    must not trip the constraint — only rows actually written count."""
    from data_engineering_nd_spark.tables import ConstraintViolation

    table.commit(spark.createDataFrame([Row(k=1, v=10)]))
    table.add_check_constraint("v_positive", "v > 0")
    m = table.merge_when(
        spark.createDataFrame([Row(k=2, v=-2), Row(k=3, v=30)]),
        ["k"],
        insert_when="src_v > 0",
    )
    assert m["rows_inserted"] == 1 and m["rows_insert_skipped"] == 1
    with pytest.raises(ConstraintViolation):
        table.merge_when(
            spark.createDataFrame([Row(k=4, v=-4)]), ["k"],
        )


def test_constraints_carry_across_unrelated_commits(spark, chunked_table):
    from data_engineering_nd_spark.tables import ConstraintViolation

    t = chunked_table
    t.add_check_constraint("k_nonneg", "k >= 0")
    t.delete_where("k", 10, 14)
    t.optimize(min_file_bytes=10**12)
    assert t.table_checks() == [("k_nonneg", "k >= 0")]
    with pytest.raises(ConstraintViolation):
        t.commit(spark.createDataFrame([Row(k=-1, v="bad")]), mode="append")


# -- tags: named version pins ------------------------------------------------


def test_tags_pin_versions_and_survive_vacuum(spark, table):
    from data_engineering_nd_spark.tables import CommitConflict

    table.commit(spark.createDataFrame([Row(k=1, v="a")]).repartition(1))
    table.create_tag("baseline")
    table.commit(spark.createDataFrame([Row(k=9, v="z")]))  # overwrite
    assert table.tags() == {"baseline": 0}
    removed = table.vacuum(retain_last=1)
    assert removed == []  # v0's files pinned by the tag
    assert _rows(table.snapshot_by_tag("baseline")) == [(1, "a")]
    # re-pointing an existing tag must not silently clobber
    with pytest.raises(CommitConflict):
        table.create_tag("baseline", 1)
    table.delete_tag("baseline")
    removed = table.vacuum(retain_last=1)
    assert len(removed) >= 1  # v0's files now expire
    assert _rows(table.snapshot()) == [(9, "z")]
    with pytest.raises(FileNotFoundError):
        table.snapshot_by_tag("baseline")


def test_tag_of_unknown_version_rejected(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    with pytest.raises(FileNotFoundError):
        table.create_tag("t", 7)
    with pytest.raises(ValueError):
        table.create_tag("bad/name")


def test_schema_edits_blocked_while_check_references_column(spark, table):
    """Renaming/dropping a column a persistent CHECK references would
    break every later write — the edit is rejected until the constraint
    is dropped (the Delta dependency rule)."""
    table.commit(spark.createDataFrame([Row(k=1, v=10)]))
    table.add_check_constraint("v_positive", "v > 0")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        table.rename_column("v", "val")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        table.drop_column("v")
    # an UNreferenced column still edits fine
    table.rename_column("k", "kid")
    table.drop_check_constraint("v_positive")
    table.rename_column("v", "val")
    assert table.snapshot().columns == ["kid", "val"]


def test_append_missing_checked_column_fails_closed(spark, table):
    """An evolving append that OMITS a checked column validates it as
    NULL -> ConstraintViolation, never an AnalysisException."""
    from data_engineering_nd_spark.tables import ConstraintViolation

    table.commit(spark.createDataFrame([Row(k=1, v=10)]))
    table.add_check_constraint("v_positive", "v > 0")
    with pytest.raises(ConstraintViolation):
        table.commit(spark.createDataFrame([Row(k=2)]), mode="append")


def test_add_files_enforces_persistent_checks(spark, table, tmp_path):
    """Registered files are data too: a violating staging directory is
    rejected (staging intact), a clean one lands (r11 review #1)."""
    from data_engineering_nd_spark.tables import ConstraintViolation

    table.commit(spark.createDataFrame([Row(k=1, v=10)]))
    table.add_check_constraint("v_positive", "v > 0")
    bad_dir = str(tmp_path / "bad")
    spark.createDataFrame([Row(k=2, v=-2)]).write.parquet(bad_dir)
    with pytest.raises(ConstraintViolation):
        table.add_files(bad_dir, mode="append")
    assert len(os.listdir(bad_dir)) > 0  # staging untouched
    good_dir = str(tmp_path / "good")
    spark.createDataFrame([Row(k=3, v=30)]).write.parquet(good_dir)
    table.add_files(good_dir, mode="append")
    assert table.snapshot().count() == 2


def test_checks_referencing_matches_backticked_identifiers(spark, table):
    """A backtick-quoted identifier in a CHECK must still block the
    rename (r11 review #2 — false negative left the table unwritable)."""
    table.commit(spark.createDataFrame([Row(k=1, v=10)]))
    table.add_check_constraint("v_positive", "`v` > 0")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        table.rename_column("v", "val")


def test_occ_append_conflicts_with_concurrent_constraint_add(spark, table):
    """A stale-basis append must NOT rebase past a concurrent
    add-constraint: its batch was validated against the old constraint
    set (r11 review #3)."""
    from data_engineering_nd_spark.tables import ConcurrentModification

    table.commit(spark.createDataFrame([Row(k=1, v=10)]))
    table.add_check_constraint("v_positive", "v > 0")  # v1
    with pytest.raises(ConcurrentModification):
        table.commit(
            spark.createDataFrame([Row(k=2, v=-2)]),
            mode="append",
            read_version=0,
        )
    # the retry from the current basis validates (and rejects) properly
    from data_engineering_nd_spark.tables import ConstraintViolation

    with pytest.raises(ConstraintViolation):
        table.commit(spark.createDataFrame([Row(k=2, v=-2)]), mode="append")


def test_publish_staged_table_check_not_shadowed_by_user_check(spark, table):
    """A caller check NAMED like a table constraint must not shadow it
    (r11 review #6); a staged schema omitting the checked column fails
    closed (#7)."""
    from data_engineering_nd_spark.tables import ConstraintViolation

    table.commit(spark.createDataFrame([Row(k=1, v=10)]))
    table.add_check_constraint("v_positive", "v > 0")
    table.stage(spark.createDataFrame([Row(k=2, v=-2)]), "b1")
    with pytest.raises(ConstraintViolation):
        table.publish_staged(
            "b1", checks=[("v_positive", "v IS NOT NULL")]
        )
    table.abandon_staged("b1")
    table.stage(spark.createDataFrame([Row(k=3)]), "b2")  # omits v
    with pytest.raises(ConstraintViolation):
        table.publish_staged("b2")


# -- round-11 feature COMPOSITION tests (mapping × purge × tags × checks) ---


def test_purge_dv_on_column_mapped_table(spark, chunked_table):
    """DV purge must survive a rename: flagging reads translated stats,
    the rewrite writes PHYSICAL names, and the snapshot is identical
    before/after under the new logical schema."""
    t = chunked_table
    t.rename_column("v", "payload")
    t.delete_where_dv("k", 10, 17)   # 8/10 of chunk 1
    before = {(r.k, r.payload) for r in t.snapshot().collect()}
    m = t.purge_dv(max_deleted_ratio=0.5)
    assert m["files_purged"] == 1 and m["rows_purged"] == 8
    assert {(r.k, r.payload) for r in t.snapshot().collect()} == before
    assert t.change_feed(["k"], m["version"] - 1, m["version"]).count() == 0


def test_restore_to_tagged_version_keeps_tag_valid(spark, table):
    table.commit(spark.createDataFrame([Row(k=1, v="a")]))
    table.create_tag("base")
    table.commit(spark.createDataFrame([Row(k=9, v="z")]))
    table.restore(0)  # v2 re-publishes v0's files
    assert _rows(table.snapshot()) == [(1, "a")]
    assert _rows(table.snapshot_by_tag("base")) == [(1, "a")]
    # vacuum keeps both the tagged v0 manifest AND the restored head
    table.vacuum(retain_last=1)
    assert _rows(table.snapshot_by_tag("base")) == [(1, "a")]


def test_constraints_and_mapping_compose_on_merge_dv(spark, table):
    """Persistent checks keep enforcing through a rename + merge-on-read:
    the check references the NEW logical name after being re-added."""
    from data_engineering_nd_spark.tables import ConstraintViolation

    table.commit(spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)]))
    table.add_check_constraint("v_positive", "v > 0")
    table.drop_check_constraint("v_positive")
    table.rename_column("v", "amount")
    table.add_check_constraint("amount_positive", "amount > 0")
    with pytest.raises(ConstraintViolation):
        table.merge_dv(
            spark.createDataFrame([Row(k=1, amount=-5)]), ["k"]
        )
    m = table.merge_dv(
        spark.createDataFrame([Row(k=1, amount=99)]), ["k"]
    )
    assert m["rows_updated"] == 1
    assert sorted((r.k, r.amount) for r in table.snapshot().collect()) == [
        (1, 99), (2, 20)
    ]


def test_change_feed_spans_purge_and_rename_together(spark, chunked_table):
    """A feed range covering a DV delete, a purge AND a rename emits
    exactly the delete's rows (under the final names) — the purge and
    the rename both feed nothing."""
    t = chunked_table
    t.delete_where_dv("k", 10, 17)            # v1: 8 deletes
    t.purge_dv(max_deleted_ratio=0.5)         # v2: neutral
    t.rename_column("v", "payload")           # v3: neutral
    feed = t.change_feed(["k"], 0, 3)
    rows = [(r.k, r.payload, r._change_type) for r in feed.collect()]
    assert sorted(r[0] for r in rows) == list(range(10, 18))
    assert {r[2] for r in rows} == {"delete"}
    assert all(r[1] is not None for r in rows)  # values under final name


def test_append_rebase_conflicts_with_concurrent_rename_unmapped(
    spark, table
):
    """ADVICE r11 (high): an append with a stale basis racing a
    rename_column that ENABLED column mapping must raise
    ConcurrentModification (MetadataChanged), not rebase — the old
    logical name would otherwise be re-added with physical==logical,
    colliding with the renamed field's frozen physical name and
    breaking every later snapshot()."""
    from data_engineering_nd_spark.tables import ConcurrentModification

    table.commit(spark.createDataFrame([Row(k=1, v="a")]))  # v0, UNMAPPED
    table.rename_column("v", "w")  # v1: enables mapping concurrently
    with pytest.raises(ConcurrentModification, match="schema"):
        table.commit(
            spark.createDataFrame([Row(k=2, v="b")]),
            mode="append",
            read_version=0,
        )
    # the table stays healthy and a retry from the current basis lands
    m = table.commit(
        spark.createDataFrame([Row(k=2, w="b")]), mode="append"
    )
    assert m["version"] == 2
    assert sorted((r.k, r.w) for r in table.snapshot().collect()) == [
        (1, "a"), (2, "b")
    ]


def test_append_rebase_conflicts_with_concurrent_drop_unmapped(
    spark, table
):
    """ADVICE r11 (high), drop variant: rebasing an append carrying the
    dropped column past a concurrent drop_column must conflict — a
    silent rebase would resurrect the dropped column's bytes."""
    from data_engineering_nd_spark.tables import ConcurrentModification

    table.commit(spark.createDataFrame([Row(k=1, v="a")]))  # v0, UNMAPPED
    table.drop_column("v")  # v1: enables mapping, drops v
    with pytest.raises(ConcurrentModification, match="schema"):
        table.commit(
            spark.createDataFrame([Row(k=2, v="resurrected")]),
            mode="append",
            read_version=0,
        )
    snap = table.snapshot()
    assert snap.columns == ["k"]
    assert sorted(r.k for r in snap.collect()) == [1]


def test_partitioned_append_conflicts_with_concurrent_schema_change(
    spark, table
):
    """ADVICE r11 (high): commit_partitioned's rebase loop must apply
    the same MetadataChanged rule (its mapped-table check previously
    ran only at entry)."""
    from data_engineering_nd_spark.tables import ConcurrentModification

    table.commit_partitioned(
        spark.createDataFrame([Row(k=1, v="a")]), [("p", "k % 2")]
    )  # v0, UNMAPPED — passes the entry-time mapped-table check
    real_stats = table._compute_stats
    fired = []

    def stats_then_rename(*a, **kw):
        out = real_stats(*a, **kw)
        if not fired:  # the rename lands AFTER entry, BEFORE publish
            fired.append(True)
            table.rename_column("v", "w")  # v1: enables mapping
        return out

    table._compute_stats = stats_then_rename
    try:
        with pytest.raises(ConcurrentModification, match="schema"):
            table.commit_partitioned(
                spark.createDataFrame([Row(k=2, v="b")]),
                [("p", "k % 2")],
                mode="append",
                read_version=0,
            )
    finally:
        table._compute_stats = real_stats
    assert fired  # the simulated concurrent rename actually landed


def test_concurrent_table_creation_appends_still_rebase(spark, table):
    """Version 0 ESTABLISHES the schema — two blind appends racing to
    create the table must both land (the pre-fix rebase behavior)."""
    table.commit(spark.createDataFrame([Row(k=1, v="a")]), mode="append")
    # simulates the loser of the link race re-validating with basis=None
    m = table.commit(
        spark.createDataFrame([Row(k=2, v="b")]),
        mode="append",
        read_version=None,
    )
    assert m["version"] == 1
    assert table.snapshot().count() == 2


def test_change_feed_drop_then_readd_null_fills(spark, table):
    """ADVICE r11 (low): a feed spanning drop_column + re-add of the
    SAME name must null-fill pre-drop commits' values for the re-added
    column (different field id = different column), never surface the
    dropped field's dead bytes."""
    table.commit(spark.createDataFrame([Row(k=1, v="old")]))   # v0
    table.commit(
        spark.createDataFrame([Row(k=2, v="old2")]), mode="append"
    )                                                           # v1
    table.drop_column("v")                                      # v2
    # re-add the same logical name: append with schema evolution
    table.commit(
        spark.createDataFrame([Row(k=3, v="new")]), mode="append"
    )                                                           # v3
    feed = table.change_feed(["k"], 0, 3)
    got = {r.k: (r.v, r._change_type, r._commit_version)
           for r in feed.collect()}
    # v1's insert of k=2 predates the drop: its "v" is the OLD field —
    # must surface as NULL under the re-added column
    assert got[2][0] is None and got[2][1] == "insert"
    assert got[3] == ("new", "insert", 3)


def _optz_fixture(spark, table):
    df = spark.range(1024).select(
        F.col("id").alias("a"),
        ((F.col("id") * 2654435761) % 1024).alias("b"),
    )
    for i in range(4):
        table.commit(
            df.where((F.col("a") >= i * 256) & (F.col("a") < (i + 1) * 256))
            .repartition(1),
            mode="append",
        )
    return df


def test_optimize_zorder_clusters_and_prunes(spark, table):
    """optimize(zorder_by=...) rewrites the selected files Morton-
    clustered: pruning works on BOTH dimensions afterwards, rows and
    content survive exactly (VERDICT r11 task #4)."""
    df = _optz_fixture(spark, table)
    before = table._manifest(table.latest_version())
    m = table.optimize(
        zorder_by=["a", "b"], min_file_bytes=1 << 40,
        target_files=16, zorder_bits=2,
    )
    assert m["operation"].startswith("optimize(zorder=a,b")
    assert len(m["files"]) == 16
    assert not set(before["files"]) & set(m["files"])  # all replaced
    _, _, pa = table.prune_files("a", 300, 500)
    _, _, pb = table.prune_files("b", 300, 500)
    assert pa["files_kept"] < pa["files_total"]
    assert pb["files_kept"] < pb["files_total"]
    got = sorted((r.a, r.b) for r in table.snapshot().collect())
    want = sorted((r.a, r.b) for r in df.collect())
    assert got == want


def test_optimize_zorder_rebases_past_concurrent_append(spark, table):
    """A concurrent APPEND landing between the zorder rewrite and its
    publish rebases metadata-only: both commits land, nothing lost."""
    _optz_fixture(spark, table)
    basis = table.latest_version()
    # the concurrent append lands AFTER optimize reads its basis
    table.commit(
        spark.createDataFrame([Row(a=5000, b=5000)]), mode="append",
        read_version=basis,
    )
    m = table.optimize(
        zorder_by=["a", "b"], min_file_bytes=1 << 30,
        target_files=16, zorder_bits=2, read_version=basis,
    )
    assert m["rebased_over"] >= 1
    snap = table.snapshot()
    assert snap.count() == 1024 + 1
    assert snap.where(F.col("a") == 5000).count() == 1


def test_optimize_zorder_conflicts_with_concurrent_rewrite(spark, table):
    """A concurrent mutation that REWROTE files in the zorder read set
    raises ConcurrentModification (maintenance loses to data-changing
    writers, the Delta OPTIMIZE contract)."""
    from data_engineering_nd_spark.tables import ConcurrentModification

    _optz_fixture(spark, table)
    basis = table.latest_version()
    table.delete_where("a", 0, 10, read_version=basis)  # rewrites file 0
    with pytest.raises(ConcurrentModification):
        table.optimize(
            zorder_by=["a", "b"], min_file_bytes=1 << 30,
            target_files=16, zorder_bits=2, read_version=basis,
        )


def _feed_norm(df):
    return sorted(
        (r.k, r.v, r._change_type, r._commit_version) for r in df.collect()
    )


def test_row_ids_survive_rewrites(spark, table):
    """Stable row ids (VERDICT r11 task #5): optimize/compact/delete
    rewrites preserve every survivor's id — snapshot rids before and
    after maintenance are identical per key."""
    table.commit(
        spark.createDataFrame([Row(k=i, v=i * 10) for i in range(30)])
        .repartition(3)
    )

    def rids():
        m = table._manifest(table.latest_version())
        return {
            r["k"]: r["rid"]
            for r in table._read_files_rid(m["files"], m, m.get("dv"))
            .selectExpr("k", "__rid as rid")
            .collect()
        }

    before = rids()
    assert len(set(before.values())) == 30  # unique
    table.optimize(min_file_bytes=1 << 40, target_files=2)
    assert rids() == before
    table.compact(target_partitions=1)
    assert rids() == before
    table.delete_where("k", 25, 29)
    after = rids()
    assert after == {k: v for k, v in before.items() if k < 25}


def test_keyless_feed_agrees_with_keyed_through_lifecycle(spark, table):
    """Keyed and keyless CDF emit identical feeds across merge, rename,
    optimize, delete and merge_dv — and the rewrite-only optimize
    commit feeds ZERO rows keylessly."""
    table.commit(
        spark.createDataFrame([Row(k=i, v=i * 10) for i in range(20)])
    )
    table.merge(
        spark.createDataFrame([Row(k=3, v=35), Row(k=7, v=75),
                               Row(k=25, v=250)]), ["k"]
    )
    table.rename_column("v", "val")
    table.optimize(min_file_bytes=1 << 40, target_files=2)
    table.delete_where("k", 15, 17)
    table.merge_dv(
        spark.createDataFrame([Row(k=3, val=999), Row(k=77, val=770)]),
        ["k"],
    )
    end = table.latest_version()

    def norm(df):
        return sorted(
            (r.k, r.val, r._change_type, r._commit_version)
            for r in df.collect()
        )

    keyed = norm(table.change_feed(["k"], 0, end))
    keyless = norm(table.change_feed(None, 0, end))
    assert keyed == keyless
    assert not [r for r in keyless if r[3] == 3]  # optimize: neutral
    # the merge_dv update pairs as ONE update, not delete+insert
    dv_rows = sorted(r[2] for r in keyless if r[3] == 5 and r[0] == 3)
    assert dv_rows == ["update_postimage", "update_preimage"]


def test_keyless_feed_on_keyless_table(spark, table):
    """A table with NO natural key still gets a usable feed: appended
    duplicate rows each show as their own insert, DV deletes as
    deletes."""
    table.commit(
        spark.createDataFrame([Row(a="x"), Row(a="x"), Row(a="y")])
    )
    table.commit(spark.createDataFrame([Row(a="x")]), mode="append")
    feed = table.change_feed(None, 0, 1)
    rows = [(r.a, r._change_type) for r in feed.collect()]
    assert sorted(rows) == [("x", "insert")]


def test_merge_with_duplicate_target_keys_does_not_multiply(spark, table):
    """r12 self-review #1: duplicate target keys (no uniqueness
    constraint) must not multiply the merge source — dup-key pre-images
    collapse into ONE post-image, the pre-row-tracking contract."""
    table.commit(
        spark.createDataFrame([Row(k=1, v=10), Row(k=1, v=11),
                               Row(k=2, v=20)])
    )
    m = table.merge(spark.createDataFrame([Row(k=1, v=99)]), ["k"])
    got = sorted((r.k, r.v) for r in table.snapshot().collect())
    assert got == [(1, 99), (2, 20)]
    # merge_dv variant: appended batch must hold ONE post-image
    table.commit(
        spark.createDataFrame([Row(k=5, v=50), Row(k=5, v=51)]),
        mode="append",
    )
    m = table.merge_dv(spark.createDataFrame([Row(k=5, v=77)]), ["k"])
    got = sorted((r.k, r.v) for r in table.snapshot().collect())
    assert got == [(1, 99), (2, 20), (5, 77)]


def test_restore_preserves_row_ids(spark, table):
    """r12 self-review #3: restore() re-publishes old files WITH their
    original base row ids — keyless CDF across a restore-of-identical-
    data reports zero churn, agreeing with the keyed feed."""
    table.commit(spark.createDataFrame([Row(k=i, v=i) for i in range(8)]))
    table.optimize(min_file_bytes=1 << 40, target_files=1)  # v1
    table.restore(0)                                        # v2
    keyed = table.change_feed(["k"], 1, 2).count()
    keyless = table.change_feed(None, 1, 2).count()
    assert keyed == 0 and keyless == 0


def test_pre_tracking_table_stays_mutable(spark, table):
    """r12 self-review #5: a manifest without base_row_ids (committed by
    an older build) must still accept every mutation verb — missing ids
    degrade to fresh-id backfill, never an error."""
    import json as _json
    import os as _os

    table.commit(spark.createDataFrame([Row(k=i, v=i) for i in range(10)]))
    # simulate a pre-row-tracking manifest on disk
    p = _os.path.join(table.root, "_log", f"{0:011d}.json")
    with open(p) as f:
        m = _json.load(f)
    m.pop("base_row_ids", None)
    m.pop("row_id_hwm", None)
    with open(p, "w") as f:
        _json.dump(m, f)
    table.delete_where("k", 8, 9)
    table.optimize(min_file_bytes=1 << 40, target_files=1)
    table.merge(spark.createDataFrame([Row(k=0, v=100)]), ["k"])
    got = sorted((r.k, r.v) for r in table.snapshot().collect())
    assert got == [(0, 100)] + [(i, i) for i in range(1, 8)]


def test_vacuum_collects_hive_subdir_orphans(spark, table):
    """r12: vacuum must walk hive subdirectories — partitioned and
    z-ordered commits write data/vNNN/<p=v>/part.parquet, and a
    one-level listing leaked their orphans forever."""
    import os as _os

    table.commit_partitioned(
        spark.createDataFrame([Row(k=i, v=i) for i in range(8)]),
        [("p", "k % 2")],
    )  # v0: hive layout
    table.optimize(
        zorder_by=["k", "v"], min_file_bytes=1 << 40,
        target_files=4, zorder_bits=2,
    )  # v1: zorder layout (also hive-shaped)
    table.compact(target_partitions=1)  # v2: flat
    removed = table.vacuum(retain_last=1)
    # every orphaned file from v0 (hive) and v1 (zorder) is collected
    assert any("p=" in f for f in removed)
    assert any("__zfile=" in f for f in removed)
    # live data intact, empty dirs pruned
    assert table.snapshot().count() == 8
    data_root = _os.path.join(table.root, "data")
    leftover = [
        _os.path.join(dp, f)
        for dp, _, fns in _os.walk(data_root)
        for f in fns
        if f.endswith(".parquet")
    ]
    m = table._manifest(table.latest_version())
    assert len(leftover) == len(m["files"])


def test_merge_with_duplicate_source_keys_keeps_ids_unique(spark, table):
    """ADVICE r12 (medium): duplicate SOURCE keys in merge/merge_dv all
    inherited the same min(__rid) — multiple live rows with one stable
    row id. Maintenance must stay change-feed-neutral afterwards: a
    rewrite-only optimize across the dup-key merge emits ZERO keyless
    rows, and exactly one post-image per key carries the inherited id
    (the extras are fresh inserts)."""
    table.commit(
        spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20),
                               Row(k=3, v=30)])
    )
    # source holds k=1 TWICE with different payloads
    table.merge(
        spark.createDataFrame([Row(k=1, v=91), Row(k=1, v=92),
                               Row(k=4, v=40)]), ["k"]
    )  # v1
    ids = [r.rid for r in table._read_files_rid(
        table._manifest(1)["files"], table._manifest(1), []
    ).select(F.col("__rid").alias("rid")).collect()]
    assert len(ids) == len(set(ids)), "row ids must be unique for life"
    table.optimize(min_file_bytes=1 << 40, target_files=1)  # v2: rewrite-only
    # the KEYLESS feed is the contract surface here: the table now
    # legitimately holds k=1 twice, and keyed pairing assumes unique
    # keys (change_feed docstring) — id pairing must stay neutral
    assert table.change_feed(None, 1, 2).count() == 0

    # merge_dv variant: dup source keys, DV commit then compact
    table.merge_dv(
        spark.createDataFrame([Row(k=2, v=81), Row(k=2, v=82)]), ["k"]
    )  # v3
    m = table._manifest(3)
    ids = [r.rid for r in table._read_files_rid(
        m["files"], m, m.get("dv") or []
    ).select(F.col("__rid").alias("rid")).collect()]
    assert len(ids) == len(set(ids))
    table.compact()  # v4: rewrite-only maintenance
    assert table.change_feed(None, 3, 4).count() == 0

    # merge_when variant: one matched key, two source rows both updating
    table.merge_when(
        spark.createDataFrame([Row(k=3, v=71), Row(k=3, v=72)]), ["k"]
    )  # v5
    m = table._manifest(5)
    ids = [r.rid for r in table._read_files_rid(
        m["files"], m, m.get("dv") or []
    ).select(F.col("__rid").alias("rid")).collect()]
    assert len(ids) == len(set(ids))
    table.optimize(min_file_bytes=1 << 40, target_files=1)  # v6
    assert table.change_feed(None, 5, 6).count() == 0

    # merge_when with duplicate TARGET keys and one source row: both
    # matched target rows are updated, and each keeps its OWN id (the
    # dedupe window is per (id, key), not per key)
    table.commit(
        spark.createDataFrame([Row(k=8, v=1), Row(k=8, v=2)]),
        mode="append",
    )  # v7

    def ids_of(version, k):
        m = table._manifest(version)
        return sorted(r.rid for r in table._read_files_rid(
            m["files"], m, m.get("dv") or []
        ).where(F.col("k") == k).select(F.col("__rid").alias("rid"))
            .collect())

    before = ids_of(7, 8)
    rep = table.merge_when(
        spark.createDataFrame([Row(k=8, v=99)]), ["k"]
    )  # v8
    assert rep["rows_updated"] == 2
    assert ids_of(8, 8) == before and len(set(before)) == 2
    assert sorted(r.v for r in table.snapshot().where("k = 8").collect()) \
        == [99, 99]


def test_zorder_surrogates_string_date_timestamp():
    """Driver-side surrogate properties (VERDICT r12 task #4): the
    string prefix fold is monotone in string order, skips the min/max
    common prefix, clamps >255 codepoints monotonically, and matches
    the documented big-endian base-256 definition."""
    import datetime as dt

    from data_engineering_nd_spark.tables import (
        _epoch_micros,
        _lcp_len,
        _string_prefix_long,
    )

    assert _lcp_len("Customer#000000001", "Customer#000000199") == 15
    assert _lcp_len("abc", "xyz") == 0
    assert _lcp_len("same", "same") == 4
    vals = ["", "a", "aa", "ab", "b", "ba", "zz", "\u0101b", "\u4e2d"]
    surr = [_string_prefix_long(v, 0) for v in sorted(vals)]
    assert surr == sorted(surr)  # monotone
    assert _string_prefix_long("a", 0) == ord("a") * 256 ** 6
    assert _string_prefix_long("abc", 1) == (
        (ord("b") * 256 + ord("c")) * 256 ** 5
    )
    assert _epoch_micros(dt.datetime(1970, 1, 1)) == 0
    assert _epoch_micros(
        dt.datetime(1970, 1, 2, 0, 0, 1, 5)
    ) == 86_401_000_005


def test_optimize_zorder_string_dimension_prunes(spark, table):
    """Clustered OPTIMIZE on a (string, numeric) pair: the string
    dimension buckets by exact truncated-prefix arithmetic (the former
    float() fallback raised on string bounds), pruning on the string
    range improves after the re-cluster, and no row is lost, duplicated
    or re-fed (keyless CDF neutral)."""
    import random

    rng = random.Random(7)
    words = ["apple", "brisk", "cedar", "dough", "ember", "frost",
             "gravel", "harbor", "ivory", "jetty", "kiosk", "lumen",
             "murmur", "nectar", "opal", "pluto", "quartz", "russet",
             "sierra", "tundra", "umber", "velvet", "willow", "xenon",
             "yarrow", "zephyr"]
    rows = [Row(k=i, s=rng.choice(words) + f"-{i:04d}")
            for i in range(400)]
    # linear layout on k: 4 files, string pruning useless
    df = spark.createDataFrame(rows).withColumn(
        "lf", (F.col("k") / 100).cast("long")
    )
    import tempfile

    staging = tempfile.mkdtemp(prefix="zstr_")
    df.repartition(1).write.mode("overwrite").partitionBy("lf").parquet(
        staging
    )
    table.add_files(staging)
    before = table.prune_files("s", "g", "m")
    m = table.optimize(
        zorder_by=["s", "k"], min_file_bytes=1 << 40,
        target_files=16, zorder_bits=2,
    )
    after = table.prune_files("s", "g", "m")
    assert after[2]["files_total"] > 1
    # the linear layout scans everything on the string range; the
    # z-layout prunes real files
    assert before[2]["rows_scanned"] == 400
    assert after[2]["rows_scanned"] < 400
    assert after[2]["files_kept"] < after[2]["files_total"]
    # contents preserved exactly
    got = sorted((r.k, r.s) for r in table.snapshot().collect())
    assert got == sorted((r.k, r.s) for r in rows)
    # maintenance stays change-feed-neutral under keyless CDF
    assert table.change_feed(None, 0, 1).count() == 0


def test_optimize_zorder_timestamp_dimension(spark, table):
    """Timestamp z-dimensions bucket by exact microsecond-epoch ints
    (footer stats exclude timestamps, so bounds come from the row
    aggregate); pruning on the time range works after the re-cluster."""
    import datetime as dt
    import tempfile

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(k=i, ts=base + dt.timedelta(hours=i % 97))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "lf", (F.col("k") / 100).cast("long")
    )
    staging = tempfile.mkdtemp(prefix="zts_")
    df.repartition(1).write.mode("overwrite").partitionBy("lf").parquet(
        staging
    )
    table.add_files(staging)
    table.optimize(
        zorder_by=["ts", "k"], min_file_bytes=1 << 40,
        target_files=16, zorder_bits=2,
    )
    got = sorted(r.k for r in table.snapshot().collect())
    assert got == list(range(400))
    # timestamp footer stats are excluded from the manifest by design,
    # so assert the CLUSTERING itself: files partition the time range
    # into narrow, low-overlap slabs via a direct footer read
    import os as _os

    import pyarrow.parquet as pq

    mm = table._manifest(1)
    spans = []
    for f in mm["files"]:
        md = pq.ParquetFile(_os.path.join(table.root, f)).metadata
        mn = mx = None
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                if col.path_in_schema != "ts":
                    continue
                st = col.statistics
                assert st is not None and st.has_min_max, f
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        assert mn is not None, f
        spans.append((mn, mx))
    spans.sort()
    total = max(b for _, b in spans) - min(a for a, _ in spans)
    assert len(spans) >= 4
    assert all((b - a) <= total / 2 for a, b in spans)


def test_zorder_double_bits_surrogate(spark):
    """DOUBLE z-dimension surrogate (VERDICT r13 task #5): the
    arithmetic IEEE-754 bits reconstruction equals struct.pack raw
    bits verbatim — driver-side AND as a Spark column — and is
    monotone across negative/positive/subnormal/infinite spans."""
    import math
    import random
    import struct

    from data_engineering_nd_spark.tables import (
        _double_bits,
        _double_bits_sql,
    )

    def raw(d):
        if d == 0:
            return 0
        b = struct.unpack("<q", struct.pack("<d", abs(d)))[0]
        return -b if d < 0 else b

    rng = random.Random(11)
    vals = [0.0, -0.0, 1.0, -1.0, 1.5, 2.0**-1022, 5e-324, -5e-324,
            1.7976931348623157e308, -1.7976931348623157e308, 0.1,
            2.0**52, 123.456, -999.99, 1e-300, 1e300, math.pi,
            2.0**1023, 2.0**-1074, 7e-310, float("inf"), float("-inf")]
    for _ in range(500):
        kind = rng.random()
        if kind < 0.4:
            v = struct.unpack(
                "<d", struct.pack("<q", rng.getrandbits(63))
            )[0]
        elif kind < 0.7:
            v = rng.uniform(-1e6, 1e6)
        else:
            try:
                v = rng.uniform(-1, 1) * 2.0 ** rng.randint(-1074, 1023)
            except OverflowError:
                continue
        if not math.isnan(v):
            vals.append(v)
    # driver side is struct.pack itself; monotonicity over the line
    s = sorted(v for v in vals if not math.isnan(v))
    surr = [_double_bits(v) for v in s]
    assert surr == sorted(surr)
    # the SQL reconstruction matches raw bits for every value
    df = spark.createDataFrame([(v,) for v in vals], "d double")
    got = [
        r[0]
        for r in df.select(
            F.expr(_double_bits_sql("d")).alias("b")
        ).collect()
    ]
    assert got == [raw(v) for v in vals]


def test_optimize_zorder_double_dimension_prunes(spark, table):
    """Clustered OPTIMIZE on a (double, numeric) pair: the double
    dimension buckets by the exact bits surrogate (the former
    scaled-double fallback was approximate), pruning on the value
    range improves after the re-cluster, and no row is lost or
    duplicated — including negative values straddling zero."""
    import random
    import tempfile

    rng = random.Random(5)
    rows = [
        Row(k=i, d=round(rng.uniform(-1000.0, 9000.0), 2))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "lf", (F.col("k") / 100).cast("long")
    )
    staging = tempfile.mkdtemp(prefix="zdbl_")
    df.repartition(1).write.mode("overwrite").partitionBy("lf").parquet(
        staging
    )
    table.add_files(staging)
    before = table.prune_files("d", 2000.0, 3500.0)
    m = table.optimize(
        zorder_by=["d", "k"], min_file_bytes=1 << 40,
        target_files=16, zorder_bits=2,
    )
    after = table.prune_files("d", 2000.0, 3500.0)
    assert after[2]["files_total"] > 1
    assert before[2]["rows_scanned"] == 400
    assert after[2]["rows_scanned"] < 400
    assert after[2]["files_kept"] < after[2]["files_total"]
    got = sorted((r.k, r.d) for r in table.snapshot().collect())
    assert got == sorted((r.k, r.d) for r in rows)
    assert table.change_feed(None, 0, 1).count() == 0


def test_range_prune_through_year_transform(spark, table):
    """A BETWEEN predicate on the DATE column prunes files through the
    recorded year() transform — the caller never names the partition."""
    import datetime

    rows = [
        Row(k=i, d=datetime.date(1992 + i % 6, 1 + i % 12, 1 + i % 28))
        for i in range(60)
    ]
    table.commit_partitioned(
        spark.createDataFrame(rows), [("p_y", "year(d)")]
    )
    m = table._manifest(0)
    assert m["partition_exprs"] == {"p_y": "year(d)"}
    lo, hi = datetime.date(1993, 6, 1), datetime.date(1995, 2, 28)
    kept, pruned, meta = table.prune_partitions_range("d", lo, hi)
    # projected bounds are year(lo)=1993 .. year(hi)=1995
    assert meta["projected"]["p_y"] == ["1993", "1995"]
    assert meta["files_kept"] == 3 and meta["files_pruned"] == 3
    got = sorted(
        (r.k, r.d)
        for r in table.scan_partitions_range("d", lo, hi)
        .where(F.col("d").between(lo, hi))
        .collect()
    )
    want = sorted((r.k, r.d) for r in rows if lo <= r.d <= hi)
    assert got == want


def test_range_prune_through_month_substring_transform(spark, table):
    """substring(cast(d as string), 1, 7) is an order-preserving prefix
    of the ISO date — month-granular pruning from a date range."""
    import datetime

    rows = [
        Row(k=i, d=datetime.date(1994, 1 + i % 12, 1 + i % 28))
        for i in range(48)
    ]
    table.commit_partitioned(
        spark.createDataFrame(rows),
        [("p_ym", "substring(cast(d as string), 1, 7)")],
    )
    lo, hi = datetime.date(1994, 3, 15), datetime.date(1994, 6, 10)
    kept, pruned, meta = table.prune_partitions_range("d", lo, hi)
    assert meta["projected"]["p_ym"] == ["1994-03", "1994-06"]
    assert meta["files_kept"] == 4 and meta["files_pruned"] == 8
    got = sorted(
        r.k
        for r in table.scan_partitions_range("d", lo, hi)
        .where(F.col("d").between(lo, hi))
        .collect()
    )
    assert got == sorted(r.k for r in rows if lo <= r.d <= hi)


def test_range_prune_refuses_cyclic_month_transform(spark, table):
    """month(d) cycles across years — NOT whitelisted: no projection,
    every file conservatively kept."""
    import datetime

    rows = [Row(k=i, d=datetime.date(1992 + i % 3, 1 + i % 12, 5))
            for i in range(36)]
    table.commit_partitioned(
        spark.createDataFrame(rows), [("p_m", "month(d)")]
    )
    kept, pruned, meta = table.prune_partitions_range(
        "d", datetime.date(1992, 6, 1), datetime.date(1992, 7, 31)
    )
    assert meta["projected"] == {}
    assert meta["files_pruned"] == 0
    assert meta["files_kept"] == meta["files_total"]


def test_range_prune_keeps_null_and_foreign_spec_files(spark, table):
    """NULL partition values and files written before the transform
    existed (no recorded value) are conservatively kept."""
    import datetime

    table.commit(
        spark.createDataFrame(
            [Row(k=0, d=datetime.date(1999, 1, 1))]
        ).repartition(1)
    )  # v0: unpartitioned — no recorded p_y
    rows = [Row(k=1, d=datetime.date(1992, 1, 1)),
            Row(k=2, d=None)]
    table.commit_partitioned(
        spark.createDataFrame(rows), [("p_y", "year(d)")], mode="append"
    )  # v1: one 1992 file + one NULL-partition file
    kept, pruned, meta = table.prune_partitions_range(
        "d", datetime.date(1998, 1, 1), datetime.date(2000, 1, 1)
    )
    # 1992 file pruned; NULL file and the unpartitioned v0 file kept
    assert meta["files_pruned"] == 1
    got = sorted(
        r.k
        for r in table.scan_partitions_range(
            "d", datetime.date(1998, 1, 1), datetime.date(2000, 1, 1)
        )
        .where(F.col("d").between("1998-01-01", "2000-01-01"))
        .collect()
    )
    assert got == [0]


def test_partition_transform_redefinition_raises(spark, table):
    """Re-using a partition NAME with a different transform raises —
    old files' values came from the old expr and range pruning through
    the new one would silently drop matching files."""
    import datetime

    rows = [Row(k=i, d=datetime.date(1992 + i, 1, 1)) for i in range(3)]
    table.commit_partitioned(
        spark.createDataFrame(rows), [("p_y", "year(d)")]
    )
    with pytest.raises(ValueError, match="different\\s+transform"):
        table.commit_partitioned(
            spark.createDataFrame(rows),
            [("p_y", "substring(cast(d as string), 1, 7)")],
            mode="append",
        )


def test_range_prune_survives_maintenance_commits(spark, table):
    """partition_exprs carry across unrelated commits (delete), and the
    projection still prunes the surviving layout."""
    import datetime

    rows = [
        Row(k=i, d=datetime.date(1992 + i % 4, 1 + i % 12, 3))
        for i in range(40)
    ]
    table.commit_partitioned(
        spark.createDataFrame(rows), [("p_y", "year(d)")]
    )
    table.delete_where("k", 0, 3)  # COW rewrite of some files
    kept, pruned, meta = table.prune_partitions_range(
        "d", datetime.date(1994, 1, 1), datetime.date(1994, 12, 31)
    )
    assert meta["projected"]["p_y"] == ["1994", "1994"]
    got = sorted(
        r.k
        for r in table.scan_partitions_range(
            "d",
            datetime.date(1994, 1, 1),
            datetime.date(1994, 12, 31),
            )
        .where(F.year("d") == 1994)
        .collect()
    )
    assert got == sorted(r.k for r in rows if r.d.year == 1994 and r.k > 3)


def test_vacuum_age_window_spares_young_orphans(spark, table, tmp_path):
    """An unreferenced parquet younger than min_age_seconds is kept (an
    in-flight writer may not have linked its manifest yet); an old one
    is collected; dry_run lists without deleting."""
    import time

    table.commit(
        spark.createDataFrame([Row(k=1, v="a")]).repartition(1)
    )
    data_root = os.path.join(table.root, "data")
    sub = next(
        d for d in os.listdir(data_root)
        if os.path.isdir(os.path.join(data_root, d))
    )
    young = os.path.join(data_root, sub, "part-orphan-young.parquet")
    old = os.path.join(data_root, sub, "part-orphan-old.parquet")
    for p in (young, old):
        with open(p, "wb") as f:
            f.write(b"PAR1junkPAR1")
    os.utime(old, (time.time() - 7200, time.time() - 7200))

    listed = table.vacuum(retain_last=1, min_age_seconds=3600,
                          dry_run=True)
    assert [os.path.basename(p) for p in listed] == [
        "part-orphan-old.parquet"
    ]
    assert os.path.exists(old) and os.path.exists(young)  # dry run

    removed = table.vacuum(retain_last=1, min_age_seconds=3600)
    assert [os.path.basename(p) for p in removed] == [
        "part-orphan-old.parquet"
    ]
    assert not os.path.exists(old)
    assert os.path.exists(young)  # still inside the writer window
    # the committed snapshot is untouched
    assert table.snapshot().count() == 1
    # and with no window, the young orphan goes too
    removed2 = table.vacuum(retain_last=1)
    assert [os.path.basename(p) for p in removed2] == [
        "part-orphan-young.parquet"
    ]


def test_range_prune_refuses_string_prefix_of_numeric(spark, table):
    """substring(cast(k as string)) on an INT column is not
    order-preserving ("-5" > "-2", "9" > "10") — not projectable,
    every file conservatively kept."""
    rows = [Row(k=v, p="x") for v in (-12, -5, -2, 9, 10, 100)]
    table.commit_partitioned(
        spark.createDataFrame(rows),
        [("pk", "substring(cast(k as string), 1, 2)")],
    )
    kept, pruned, meta = table.prune_partitions_range("k", -12, -2)
    assert meta["projected"] == {}
    assert meta["files_pruned"] == 0
    got = sorted(
        r.k
        for r in table.scan_partitions_range("k", -12, -2)
        .where(F.col("k").between(-12, -2))
        .collect()
    )
    assert got == [-12, -5, -2]


def test_commit_partitioned_txn_idempotent(spark, table):
    """commit_partitioned(txn=) absorbs a replayed batch exactly like
    commit(txn=): no new version, idempotent_skip flagged, and the
    watermark survives for the next batch id."""
    import datetime

    rows = [Row(k=i, d=datetime.date(1995, 1 + i % 3, 1)) for i in range(9)]
    df = spark.createDataFrame(rows)
    spec = [("p_m", "substring(cast(d as string), 1, 7)")]
    table.commit_partitioned(df, spec, mode="append", txn=("app", 0))
    table.commit_partitioned(df, spec, mode="append", txn=("app", 1))
    assert len(table.versions()) == 2
    m = table.commit_partitioned(df, spec, mode="append", txn=("app", 1))
    assert m.get("idempotent_skip") is True
    assert len(table.versions()) == 2          # replay absorbed
    assert table.snapshot().count() == 18      # not 27
    assert table.last_txn_version("app") == 1
    m2 = table.commit_partitioned(df, spec, mode="append", txn=("app", 2))
    assert not m2.get("idempotent_skip")
    assert table.snapshot().count() == 27
