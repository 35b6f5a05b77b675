"""Structured Streaming tests: the event transforms run identically on batch
frames and on a real file-source stream (availableNow trigger -> memory sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_nd_spark.catalog import load
from data_engineering_nd_spark.streaming.events import (
    enriched_counts,
    run_stream_to_memory,
    session_windows,
    windowed_event_counts,
    with_watermark,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_batch(spark):
    return load(spark, "events", SF_DIR)


@pytest.fixture(scope="module")
def events_stream(spark, events_batch, tmp_path_factory):
    # materialize the same events as a file-source stream (ntz ts preserved)
    path = str(tmp_path_factory.mktemp("stream") / "events")
    events_batch.write.parquet(path)
    return spark.readStream.schema(events_batch.schema).parquet(path)


def test_windowed_counts_batch_vs_stream(spark, events_batch, events_stream):
    batch = {
        (r.window_start, r.event_type): r.n_events
        for r in windowed_event_counts(with_watermark(events_batch), "1 hour").collect()
    }
    assert batch  # non-trivial

    q = run_stream_to_memory(
        windowed_event_counts(with_watermark(events_stream), "1 hour"),
        "win_counts",
    )
    q.awaitTermination(120)
    streamed = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert streamed == batch  # incremental == batch on the same data


def test_session_windows_stream(spark, events_stream, events_batch):
    q = run_stream_to_memory(
        session_windows(with_watermark(events_stream), "30 minutes"), "sessions"
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM sessions")
    total_events = out.groupBy().sum("n_events").collect()[0][0]
    assert total_events == events_batch.count()  # every event in some session
    # session bounds are ordered and per-user
    bad = out.filter("session_end <= session_start").count()
    assert bad == 0


def test_enriched_counts_stream_static_join(spark, events_stream, events_batch):
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("signup", "growth"),
         ("purchase", "revenue"), ("error", "ops")],
        ["event_type", "category"],
    )
    q = run_stream_to_memory(enriched_counts(events_stream, dim), "cat_counts")
    q.awaitTermination(120)
    out = {r.category: r.n_events for r in spark.sql("SELECT * FROM cat_counts").collect()}
    assert sum(out.values()) == events_batch.count()
    assert set(out) == {"engagement", "growth", "revenue", "ops"}


def test_driver_stream_queries_match_batch(spark):
    """The registered readStream queries equal their batch equivalents."""
    from data_engineering_nd_spark.catalog import load
    from data_engineering_nd_spark.streaming.queries import (
        stream_windowed_counts_query,
    )

    sf = "/root/testdata/sf0.001"
    streamed = stream_windowed_counts_query(spark, sf)
    ev = load(spark, "events", sf)
    from pyspark.sql import functions as F

    batch = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
    )
    assert streamed.count() == batch.count()
    assert streamed.groupBy().sum("n_events").collect()[0][0] == ev.count()


def test_stateful_operator_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-user state across micro-batches:
    two files -> two batches (maxFilesPerTrigger=1); the final update per
    user must reflect BOTH batches."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_engineering_nd_spark.streaming.stateful import user_lifetime_stats

    d = str(tmp_path / "ev")
    b1 = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 10.0), (2, "2024-01-01 10:05:00", 5.0)],
        ["user_id", "ts", "value"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [(1, "2024-01-01 11:00:00", 7.0)], ["user_id", "ts", "value"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b1.coalesce(1).write.parquet(d + "/f1")
    b2.coalesce(1).write.parquet(d + "/f2")
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    q = (
        user_lifetime_stats(stream)
        .writeStream.format("memory")
        .queryName("stateful_test_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM stateful_test_sink").toPandas()
    # one update row per (user, batch-it-appeared-in); the LAST row per user
    # carries the accumulated lifetime profile
    last = out.sort_values(["user_id", "n_events"]).groupby("user_id").last()
    assert int(last.loc[1, "n_events"]) == 2
    assert abs(float(last.loc[1, "total_value"]) - 17.0) < 1e-9
    assert int(last.loc[2, "n_events"]) == 1
    assert pd.Timestamp(last.loc[1, "first_seen"]).hour == 10
    assert pd.Timestamp(last.loc[1, "last_seen"]).hour == 11


def test_upsert_stream_sink_is_replay_idempotent(spark, tmp_path):
    """foreachBatch + VersionedTable.merge: streamed rows land exactly once
    by key — and re-merging the same batch (a replay) changes nothing."""
    from pyspark.sql import Row

    from data_engineering_nd_spark.streaming.sink import upsert_stream
    from data_engineering_nd_spark.tables import VersionedTable

    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [Row(event_id=i, user_id=i % 3, value=float(i)) for i in range(20)]
    ).write.parquet(src_dir)

    table = VersionedTable(spark, str(tmp_path / "tbl"))
    stream = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).parquet(src_dir)
    q = upsert_stream(
        stream, table, ["event_id"], str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    assert table.snapshot().count() == 20

    # replay: merge the same data again -> same keys, same row count
    table.merge(spark.read.parquet(src_dir), ["event_id"])
    assert table.snapshot().count() == 20

    # a second stream batch with overlapping keys updates, not duplicates
    spark.createDataFrame(
        [Row(event_id=i, user_id=0, value=-1.0) for i in range(15, 25)]
    ).write.mode("append").parquet(src_dir)
    q2 = upsert_stream(
        stream, table, ["event_id"], str(tmp_path / "ckpt")
    )
    q2.awaitTermination()
    snap = table.snapshot()
    assert snap.count() == 25
    assert snap.filter("event_id = 17 AND value = -1.0").count() == 1


def test_merge_in_foreach_batch_reports_like_batch_merge(spark, tmp_path):
    """merge inside foreachBatch (the source frame lives in a cloned
    session) returns the same report as a batch merge of the same rows:
    its counts ride Observations, which only the session that runs the
    action fulfils — a wrong session would block the batch forever, so
    the stream is awaited with a timeout."""
    from pyspark.sql import Row

    from data_engineering_nd_spark.tables import VersionedTable

    base = spark.createDataFrame([Row(k=i, v=f"b{i}") for i in range(10)])
    rows = spark.createDataFrame([Row(k=i, v=f"s{i}") for i in range(5, 15)])
    src_dir = str(tmp_path / "src")
    rows.write.parquet(src_dir)
    streamed = VersionedTable(spark, str(tmp_path / "streamed"))
    batch = VersionedTable(spark, str(tmp_path / "batch"))
    streamed.commit(base)
    batch.commit(base)
    reports = []
    q = (
        spark.readStream.schema(rows.schema).parquet(src_dir)
        .writeStream.foreachBatch(
            lambda df, _id: reports.append(streamed.merge(df, ["k"]))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "foreachBatch merge did not finish"
    finally:
        q.stop()
    assert q.exception() is None
    want = batch.merge(spark.read.parquet(src_dir), ["k"])
    fields = ("rows_updated", "rows_inserted", "rows_matched_preimages")
    assert len(reports) == 1
    assert [reports[0][f] for f in fields] == [want[f] for f in fields]
    assert [want[f] for f in fields] == [5, 5, 5]
    assert sorted(streamed.snapshot().collect()) == sorted(
        batch.snapshot().collect()
    )


def test_sliding_counts_double_count_events(spark):
    """2h windows sliding by 1h: every event lands in exactly two windows,
    so the sliding inventory's event mass is exactly 2x the table's."""
    from data_engineering_nd_spark.catalog import load
    from data_engineering_nd_spark.streaming.queries import (
        stream_sliding_counts_query,
    )

    sf = "/root/testdata/sf0.001"
    out = stream_sliding_counts_query(spark, sf)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    n_events = load(spark, "events", sf).count()
    assert total == 2 * n_events
    # every window spans exactly 2 hours
    bad = out.filter(
        F.col("window_end") != F.col("window_start") + F.expr("INTERVAL 2 HOURS")
    ).count()
    assert bad == 0


def test_merge_upsert_batch_combines_partials(spark):
    """Two partial aggregates merge to the same totals as aggregating the
    union — the additive-combine invariant of the upsert sink."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_engineering_nd_spark.streaming.queries import merge_upsert_batch

    def agg(rows):
        df = spark.createDataFrame(rows, ["user_id", "value", "ts"])
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_units"),
            F.max(F.col("ts").cast("timestamp")).alias("last_seen"),
        )

    t1, t2 = dt.datetime(2024, 1, 1, 10), dt.datetime(2024, 1, 2, 11)
    b1 = [(1, 10.5, t1), (2, 1.0, t1)]
    b2 = [(1, 2.5, t2), (3, 7.0, t2)]
    merged = merge_upsert_batch(merge_upsert_batch(None, agg(b1)), agg(b2))
    direct = agg(b1 + b2)
    got = {r["user_id"]: r for r in merged.collect()}
    want = {r["user_id"]: r for r in direct.collect()}
    assert set(got) == set(want)
    for uid in want:
        assert got[uid]["n_events"] == want[uid]["n_events"]
        assert got[uid]["value_units"] == want[uid]["value_units"]
        assert got[uid]["last_seen"] == want[uid]["last_seen"]


def test_late_data_metrics_accounts_every_row(spark):
    """The late/on-time inventory conserves the corpus, batch-0 rows are
    never late, and the late slice is exactly the re-delivered events
    trailing the first batch's high-water mark by over the 1h delay."""
    from pyspark.sql import functions as F

    from data_engineering_nd_spark.catalog import load
    from data_engineering_nd_spark.streaming.queries import (
        stream_late_data_metrics_query,
    )

    sf = "/root/testdata/sf0.001"
    got = stream_late_data_metrics_query(spark, sf).collect()
    ev = load(spark, "events", sf).select(
        "event_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    assert sum(r["n_events"] for r in got) == ev.count()
    late = {r["event_type"]: r["n_events"] for r in got if r["is_late"]}
    mx = ev.filter(F.col("event_id") % 10 != 0).agg(F.max("ts")).collect()[0][0]
    want_late = {
        r["event_type"]: r["n"]
        for r in ev.filter(
            (F.col("event_id") % 10 == 0)
            & (F.col("ts") < F.lit(mx) - F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert late == want_late
    assert sum(want_late.values()) > 0  # the late path is actually exercised


def test_restart_recovers_state_and_skips_consumed_files(spark, tmp_path):
    """Exactly-once ACROSS a restart (VERDICT r06 #5), with each phase's
    output pinned: phase A sees only file A; a new query restarted from
    the same checkpoint with file B present emits the FULL aggregate —
    file A's rows come from the recovered state store (not a re-read:
    a re-read would double-count and break the equality)."""
    import time

    rows_a = [(1, "click", "2024-01-01 10:05:00", 1.0),
              (2, "view", "2024-01-01 10:20:00", 2.0),
              (3, "click", "2024-01-01 11:05:00", 4.0)]
    rows_b = [(4, "click", "2024-01-01 10:40:00", 8.0),
              (5, "view", "2024-01-01 12:10:00", 16.0)]
    schema = "event_id long, event_type string, ts timestamp, value double"
    raw_schema = "event_id long, event_type string, ts string, value double"
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def stage(rows, name, age):
        df = spark.createDataFrame(rows, raw_schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        out = tmp_path / f"w_{name}"
        df.repartition(1).write.parquet(str(out))
        import os, shutil
        part = next(f for f in out.iterdir() if f.name.endswith(".parquet"))
        dst = in_dir / f"{name}.parquet"
        shutil.move(str(part), str(dst))
        os.utime(dst, (time.time() - age, time.time() - age))

    def run_phase(sink):
        src = spark.readStream.schema(schema).parquet(str(in_dir))
        counts = src.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        q = (
            counts.select(F.col("w.start").alias("ws"), "event_type", "n", "v")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (str(r.ws), r.event_type): (r.n, r.v)
            for r in spark.table(sink).collect()
        }

    stage(rows_a, "0_a", 120)
    phase_a = run_phase("restart_test_a")
    # phase A: exactly file A's three rows, nothing else
    assert sum(n for n, _ in phase_a.values()) == 3

    stage(rows_b, "1_b", 60)
    phase_b = run_phase("restart_test_b")
    # full aggregate: A's contributions recovered from state, B applied once
    assert sum(n for n, _ in phase_b.values()) == 5
    assert phase_b[("2024-01-01 10:00:00", "click")] == (2, 9.0)   # A+B merged
    assert phase_b[("2024-01-01 10:00:00", "view")] == (1, 2.0)    # A only, kept
    assert phase_b[("2024-01-01 11:00:00", "click")] == (1, 4.0)
    assert phase_b[("2024-01-01 12:00:00", "view")] == (1, 16.0)   # B only


def test_stream_hll_registers_bounded_and_estimate_tracks_exact(spark):
    """Streaming HLL: per-window register state never exceeds m = 16 rows
    (the bounded-state claim), and the estimate lands within the m=16
    error envelope of the true hourly distinct-user count."""
    from pyspark.sql import functions as F

    from data_engineering_nd_spark.catalog import load
    from data_engineering_nd_spark.streaming.queries import (
        stream_hll_users_query,
    )

    sf = "/root/testdata/sf0.001"
    out = {r.window_start: r for r in stream_hll_users_query(spark, sf).collect()}
    assert out
    for r in out.values():
        assert 0 <= r.n_zero_registers <= 16

    exact = {
        r.ws: r.n
        for r in load(spark, "events", sf)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("ws")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(exact) == set(out)
    # sparse windows sit below the raw regime (the linear-counting range
    # q74 documents as deliberately excluded), so no accuracy claim here
    # beyond monotone sanity: more zero registers, smaller estimate floor
    # (accuracy in the raw regime is covered by test_hll_grouped_merge_law
    # and the q74/q81 oracles; THIS test pins the streaming-specific
    # claims: bounded state and exact window coverage)
    for r in out.values():
        assert r.hll_estimate > 0


def test_stream_bitmap_dau_counts_and_retention(spark, tmp_path):
    """Streamed word build equals the batch expectation: DAU popcounts,
    word-boundary users, retained intersection, no-previous-day zero."""
    import datetime

    import pandas as pd

    from data_engineering_nd_spark.streaming.queries import (
        stream_bitmap_dau_query,
    )

    d1 = datetime.datetime(2024, 1, 1, 10)
    d2 = datetime.datetime(2024, 1, 2, 10)
    rows = [
        (1, d1, 0, "view", 0.0), (2, d1, 31, "view", 0.0),
        (3, d1, 32, "view", 0.0), (4, d1, 100, "view", 0.0),
        (5, d1, 31, "click", 0.0),
        (6, d2, 31, "view", 0.0), (7, d2, 32, "view", 0.0),
        (8, d2, 200, "view", 0.0),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    ).write.parquet(str(sf / "events.parquet"))
    out = {r.day.day: r for r in stream_bitmap_dau_query(spark, str(sf)).collect()}
    assert (out[1].dau, out[1].retained) == (4, 0)
    assert (out[2].dau, out[2].retained) == (3, 2)
    assert abs(out[2].retention - 2 / 3) < 1e-6


def test_stream_heavy_hitters_state_bounded_and_never_underestimates(spark):
    """Streaming CMS: the materialized grid stays within days x d x w
    rows (bounded state), every probed estimate >= the exact count
    (CMS guarantee survives micro-batch merging), and the day's true
    heaviest user is covered for every day in the stream."""
    from pyspark.sql import functions as F

    from data_engineering_nd_spark.catalog import load
    from data_engineering_nd_spark.streaming.queries import (
        stream_heavy_hitters_query,
    )

    sf = "/root/testdata/sf0.001"
    rows = stream_heavy_hitters_query(spark, sf).collect()
    assert rows
    assert all(r.never_underestimates for r in rows)
    assert all(r.cms_n >= r.exact_n for r in rows)

    grid = spark.table("stream_heavy_hitters_sink")
    n_days = grid.select("day").distinct().count()
    assert grid.count() <= n_days * 4 * 256
    # exact top-1 per day is present in the probe output
    ev = load(spark, "events", sf)
    days_out = {(r.day, r.user_id) for r in rows}
    top1 = (
        ev.groupBy(
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("day")
                .orderBy(F.desc("n"), "user_id")
            ),
        )
        .filter("rn = 1")
        .collect()
    )
    assert top1 and all((r.day, r.user_id) in days_out for r in top1)


# -- round-10: incremental change-feed pump (streaming CDF source) ------------


def test_pump_change_feed_exactly_once_and_offset_from_sink(spark, tmp_path):
    """The pump's offset is the DESTINATION's txn watermark: replays and
    idle pumps are absorbed, a fresh pump object (a 'restarted driver')
    resumes from the landed state, and row-level changes arrive once."""
    from pyspark.sql import Row

    from data_engineering_nd_spark.streaming.sink import pump_change_feed
    from data_engineering_nd_spark.tables import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"))
    dst = VersionedTable(spark, str(tmp_path / "dst"))
    src.commit(spark.createDataFrame(
        [Row(k=i, v=str(i)) for i in range(10)]))
    r1 = pump_change_feed(src, dst, ["k"], "p")
    assert not r1["skipped"] and r1["rows"] == 10
    src.commit(spark.createDataFrame([Row(k=99, v="new")]), mode="append")
    src.delete_where_dv("k", 0, 2)
    r2 = pump_change_feed(src, dst, ["k"], "p")
    assert not r2["skipped"] and (r2["from_version"], r2["to_version"]) == (0, 2)
    assert r2["rows"] == 4  # 1 insert + 3 deletes
    nv = len(dst.versions())
    # idle pump: nothing new
    r3 = pump_change_feed(src, dst, ["k"], "p")
    assert r3["skipped"] and len(dst.versions()) == nv
    # 'restarted driver': same table handles re-created, offset re-derived
    src2 = VersionedTable(spark, str(tmp_path / "src"))
    dst2 = VersionedTable(spark, str(tmp_path / "dst"))
    r4 = pump_change_feed(src2, dst2, ["k"], "p")
    assert r4["skipped"] and len(dst2.versions()) == nv
    types = sorted(
        (r._change_type, r.k) for r in dst.snapshot().collect()
    )
    assert [t for t, _ in types].count("delete") == 3
    assert [t for t, _ in types].count("insert") == 11


def test_refresh_aggregate_from_feed_zero_groups_drop(spark, tmp_path):
    """A group whose count reaches zero via deletes must DROP from the
    view, and update pre/post pairs must net to the re-priced sum."""
    from pyspark.sql import Row

    from data_engineering_nd_spark.streaming.sink import (
        refresh_aggregate_from_feed,
    )
    from data_engineering_nd_spark.tables import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"))
    mv = VersionedTable(spark, str(tmp_path / "mv"))
    src.commit(spark.createDataFrame(
        [Row(k=1, g="a", v=10), Row(k=2, g="a", v=20),
         Row(k=3, g="b", v=5)]))
    args = (src, mv, ["k"], "g", "v", "app")
    assert refresh_aggregate_from_feed(*args)["mode"] == "full"
    src.delete_where_dv("k", 3, 3)          # b drops to zero rows
    src.merge_dv(spark.createDataFrame([Row(k=1, g="a", v=100)]), ["k"])
    r = refresh_aggregate_from_feed(*args)
    assert r["mode"] == "incremental" and not r["skipped"]
    state = {r.g: (r.sum_value, r.n_rows) for r in mv.snapshot().collect()}
    assert state == {"a": (120, 2)}


def test_quarantine_batch_sink_splits_and_absorbs(spark, tmp_path):
    from pyspark.sql import Row

    from data_engineering_nd_spark.streaming.sink import (
        quarantine_batch_sink,
    )
    from data_engineering_nd_spark.tables import VersionedTable

    good = VersionedTable(spark, str(tmp_path / "good"))
    dlq = VersionedTable(spark, str(tmp_path / "dlq"))
    sink = quarantine_batch_sink(good, dlq, "app", "v >= 0")
    b0 = spark.createDataFrame(
        [Row(k=1, v=5), Row(k=2, v=-1), Row(k=3, v=None)])
    sink(b0, 0)
    # NULL predicate result is NOT satisfied -> quarantined
    assert sorted(r.k for r in good.snapshot().collect()) == [1]
    assert sorted(r.k for r in dlq.snapshot().collect()) == [2, 3]
    nv = (len(good.versions()), len(dlq.versions()))
    sink(b0, 0)  # replay: absorbed on both sides
    assert (len(good.versions()), len(dlq.versions())) == nv


def test_refresh_minmax_incremental_adds_no_table_read(spark, tmp_path):
    """Append-only churn folds into MIN/MAX with least/greatest — zero
    groups recomputed."""
    from pyspark.sql import Row

    from data_engineering_nd_spark.streaming.sink import (
        refresh_minmax_from_feed,
    )
    from data_engineering_nd_spark.tables import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"))
    mv = VersionedTable(spark, str(tmp_path / "mv"))
    src.commit(spark.createDataFrame(
        [Row(k=1, g="a", v=10), Row(k=2, g="a", v=20),
         Row(k=3, g="b", v=5)]))
    args = (src, mv, ["k"], "g", "v", "app")
    assert refresh_minmax_from_feed(*args)["mode"] == "full"
    src.commit(spark.createDataFrame(
        [Row(k=4, g="a", v=99), Row(k=5, g="c", v=1)]), mode="append")
    r = refresh_minmax_from_feed(*args)
    assert r["groups_recomputed"] == 0 and r["groups_incremental"] == 2
    state = {
        r.g: (r.min_value, r.max_value, r.n_rows)
        for r in mv.snapshot().collect()
    }
    assert state == {"a": (10, 99, 3), "b": (5, 5, 1), "c": (1, 1, 1)}


def test_refresh_minmax_delete_of_extremum_triggers_scoped_recompute(
    spark, tmp_path
):
    """Deleting a group's MAX forces a recompute of THAT group only; a
    delete strictly inside another group's range stays incremental; a
    group emptied by deletes drops out; replays absorb."""
    from pyspark.sql import Row

    from data_engineering_nd_spark.streaming.sink import (
        refresh_minmax_from_feed,
    )
    from data_engineering_nd_spark.tables import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"))
    mv = VersionedTable(spark, str(tmp_path / "mv"))
    src.commit(spark.createDataFrame(
        [Row(k=1, g="a", v=10), Row(k=2, g="a", v=20), Row(k=3, g="a", v=30),
         Row(k=4, g="b", v=1), Row(k=5, g="b", v=2), Row(k=6, g="b", v=3),
         Row(k=7, g="c", v=7)]))
    args = (src, mv, ["k"], "g", "v", "app")
    refresh_minmax_from_feed(*args)
    src.delete_where_dv("k", 3, 3)   # a loses its max (30) -> recompute
    src.delete_where_dv("k", 5, 5)   # b loses interior 2 -> incremental
    src.delete_where_dv("k", 7, 7)   # c empties -> drops out
    r = refresh_minmax_from_feed(*args)
    assert r["groups_recomputed"] == 2  # a (max died) + c (min AND max died)
    assert r["groups_incremental"] == 1  # b
    state = {
        r.g: (r.min_value, r.max_value, r.n_rows)
        for r in mv.snapshot().collect()
    }
    assert state == {"a": (10, 20, 2), "b": (1, 3, 2)}
    # replay absorbs: same source version -> skipped, no new mv commit
    n = len(mv.versions())
    r2 = refresh_minmax_from_feed(*args)
    assert r2["skipped"] and len(mv.versions()) == n


def test_refresh_minmax_new_group_with_adds_and_deletes_recomputes(
    spark, tmp_path
):
    """A group BORN inside the refresh window whose rows are partly
    deleted in the same window has no stored extrema to validate
    against — it must take the scoped recompute, not fold the deleted
    value in as a phantom extremum (r11 self-review finding #1)."""
    from pyspark.sql import Row

    from data_engineering_nd_spark.streaming.sink import (
        refresh_minmax_from_feed,
    )
    from data_engineering_nd_spark.tables import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"))
    mv = VersionedTable(spark, str(tmp_path / "mv"))
    src.commit(spark.createDataFrame([Row(k=1, g="a", v=10)]))
    args = (src, mv, ["k"], "g", "v", "app")
    refresh_minmax_from_feed(*args)          # view has only group a
    src.commit(spark.createDataFrame(
        [Row(k=2, g="b", v=1), Row(k=3, g="b", v=5)]), mode="append")
    src.delete_where_dv("k", 2, 2)           # b's minimum dies pre-refresh
    r = refresh_minmax_from_feed(*args)
    assert r["groups_recomputed"] == 1
    state = {
        r.g: (r.min_value, r.max_value, r.n_rows)
        for r in mv.snapshot().collect()
    }
    assert state == {"a": (10, 10, 1), "b": (5, 5, 1)}


def test_pump_change_feed_keyless(spark, tmp_path):
    """r12: the CDF pump works KEY-FREE (key_cols=None pairs by stable
    row id) and lands the same change rows the keyed pump lands on a
    keyed source — including across a merge upsert and a DV delete."""
    from pyspark.sql import Row

    from data_engineering_nd_spark.streaming.sink import pump_change_feed
    from data_engineering_nd_spark.tables import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"))
    dk = VersionedTable(spark, str(tmp_path / "dk"))
    dn = VersionedTable(spark, str(tmp_path / "dn"))
    src.commit(spark.createDataFrame(
        [Row(k=i, v=str(i)) for i in range(10)]))
    pump_change_feed(src, dk, ["k"], "p")
    pump_change_feed(src, dn, None, "p")
    src.merge(spark.createDataFrame([Row(k=3, v="U"), Row(k=50, v="I")]),
              ["k"])
    src.delete_where_dv("k", 0, 1)
    rk = pump_change_feed(src, dk, ["k"], "p")
    rn = pump_change_feed(src, dn, None, "p")
    assert rk["rows"] == rn["rows"]

    def norm(t):
        return sorted(
            (r.k, r.v, r._change_type, r._commit_version)
            for r in t.snapshot().collect()
        )

    assert norm(dk) == norm(dn)
