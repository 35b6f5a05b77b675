"""Driver-facing Structured Streaming queries.

Each entry runs a REAL stream: ``spark.readStream`` over the events parquet
(file source, explicit schema), the pure-plan transforms from
``streaming.events``, and a memory sink driven to completion with
``trigger(availableNow=True)``. Because the transforms are deterministic
aggregations, the streamed result equals the batch result — so these carry
full DuckDB oracles, not just rows-only checks.

Reference has no streaming (SURVEY.md §2.10); this is the Structured
Streaming surface the north star asks for. Scale notes in
``streaming/events.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_nd_spark.catalog import REGISTRY
from data_engineering_nd_spark.registry import query
from data_engineering_nd_spark.streaming.events import (
    enriched_counts,
    run_stream_to_memory,
    session_windows,
    windowed_event_counts,
    with_watermark,
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    Streaming readers require an explicit schema (no inference at start);
    we take it from one driver-side batch-footer read — the same nanos
    handling as catalog._load_events (ts lands as bigint nanos when the
    file uses TIMESTAMP(NANOS), else as timestamp).
    """
    from data_engineering_nd_spark.catalog import scoped_conf

    path = REGISTRY["events"].path(sf_dir)
    with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
        schema = spark.read.parquet(path).schema
        # The file source derives basePath from the path and requires a
        # directory; the testdata table is a single file, so address it
        # with a glob — the glob's parent (the sf dir) becomes the
        # basePath. The scoped conf is captured into the stream's source
        # at definition; later unrelated reads are unaffected.
        df = spark.readStream.schema(schema).parquet(
            path.replace(".parquet", ".parque[t]")
        )
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def _few_state_partitions(spark: SparkSession):
    """Temporarily clamp shuffle partitions while a stream starts.

    The number of state-store instances is fixed at stream start from
    spark.sql.shuffle.partitions; these testdata streams carry at most a
    few thousand keys, so 32 stores are pure checkpoint overhead (~4x
    wall-clock on the stateful query). At production scale you size this
    to key cardinality instead — the conf is restored on exit either way.
    scoped_conf reference-counts same-value overlaps, so streams started
    from overlapping driver threads cannot restore it from under each
    other.
    """
    from data_engineering_nd_spark.catalog import scoped_conf

    return scoped_conf(spark, "spark.sql.shuffle.partitions", "8")


def _run(df: DataFrame, name: str, spark: SparkSession) -> DataFrame:
    with _few_state_partitions(spark):
        q = run_stream_to_memory(df, name)
        q.awaitTermination()
    return spark.table(name)


def _write_stream_file(df: DataFrame, tmp: str, name: str, mtime: float) -> None:
    """Write df as ONE parquet file ``<tmp>/in/<name>.parquet`` with an
    explicit mtime — the file source admits files oldest-mtime-first, so
    a sequence of these is a deterministic multi-micro-batch arrival
    order under maxFilesPerTrigger=1."""
    import os
    import shutil

    out = os.path.join(tmp, f"w_{name}")
    # repartition(1), not coalesce(1): coalesce folds the upstream SCAN
    # into the single output task (the whole source table read on one
    # thread per file written); repartition keeps the read parallel and
    # funnels only the written rows through the one-partition shuffle.
    # Callers localCheckpoint their source frame so each slice write
    # reads memory, not parquet.
    df.repartition(1).write.parquet(out)
    part = next(f for f in os.listdir(out) if f.endswith(".parquet"))
    dst = os.path.join(tmp, "in", f"{name}.parquet")
    shutil.move(os.path.join(out, part), dst)
    os.utime(dst, (mtime, mtime))


@query(
    "stream_windowed_counts",
    oracle="""
    SELECT
        time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
        time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS window_end,
        event_type,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_windowed_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_watermark(read_events_stream(spark, sf_dir))
    counts = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run(counts, "stream_windowed_counts_sink", spark)


@query(
    "stream_session_windows",
    oracle="""
    WITH flagged AS (
        SELECT
            user_id,
            CAST(ts AS TIMESTAMP) AS ts,
            CASE
                WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
                ELSE 0
            END AS is_new_session,
            event_id
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        -- event_id tie-break mirrors `flagged`: with duplicate (user_id,
        -- ts) at a session boundary an ORDER BY ts alone makes the running
        -- sum order-dependent in DuckDB, while Spark's sessionizer merges
        -- ties deterministically (ADVICE r06 #2)
        SELECT
            user_id,
            ts,
            SUM(is_new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS session_id
        FROM flagged
    )
    SELECT
        user_id,
        MIN(ts) AS session_start,
        MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def stream_session_windows_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_watermark(read_events_stream(spark, sf_dir))
    sessions = session_windows(ev, gap="30 minutes").select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )
    return _run(sessions, "stream_session_windows_sink", spark)


@query(
    "stream_enriched_counts",
    oracle="""
    SELECT
        m.category,
        COUNT(*) AS n_events
    FROM events e
    JOIN (VALUES
        ('click', 'engagement'),
        ('view', 'engagement'),
        ('signup', 'growth'),
        ('purchase', 'revenue'),
        ('error', 'ops')
    ) AS m(event_type, category) ON e.event_type = m.event_type
    GROUP BY m.category
    """,
)
def stream_enriched_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_nd_spark.analytics import _EVENT_CATEGORIES

    dim = spark.createDataFrame(_EVENT_CATEGORIES, ["event_type", "category"])
    ev = read_events_stream(spark, sf_dir)
    return _run(enriched_counts(ev, dim), "stream_enriched_counts_sink", spark)


@query(
    "stream_user_lifetime_stats",
    oracle="""
    SELECT
        user_id,
        COUNT(*) AS n_events,
        round(SUM(value), 4) AS total_value,
        MIN(CAST(ts AS TIMESTAMP)) AS first_seen,
        MAX(CAST(ts AS TIMESTAMP)) AS last_seen
    FROM events
    GROUP BY user_id
    """,
)
def stream_user_lifetime_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) driven as a real
    stream; one availableNow batch makes it equal the batch groupBy, which
    the oracle checks value-for-value."""
    from data_engineering_nd_spark.streaming.stateful import user_lifetime_stats

    ev = read_events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    stats = user_lifetime_stats(ev).select(
        "user_id",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
        F.col("first_seen").cast("timestamp_ntz").alias("first_seen"),
        F.col("last_seen").cast("timestamp_ntz").alias("last_seen"),
    )
    with _few_state_partitions(spark):
        sink = (
            stats.writeStream.format("memory")
            .queryName("stream_user_lifetime_stats_sink")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        sink.awaitTermination()
    return spark.table("stream_user_lifetime_stats_sink")


@query(
    "stream_stream_join",
    oracle="""
    SELECT
        c.event_id AS click_id,
        p.event_id AS purchase_id,
        c.user_id,
        round(p.value, 4) AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL '1 hour'
    """,
)
def stream_stream_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition
    (click -> purchase attribution within 1 hour). Both sides are real
    streams; watermarks bound the join state on each side, which is what
    makes this shape viable on an unbounded stream — without them Spark
    would buffer both streams forever."""
    clicks = (
        with_watermark(read_events_stream(spark, sf_dir))
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        with_watermark(read_events_stream(spark, sf_dir))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.round("value", 4).alias("purchase_value"),
    )
    return _run(joined, "stream_stream_join_sink", spark)


@query(
    "stream_dedup_exactly_once",
    oracle="""
    SELECT
        time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
        event_type,
        COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_dedup_exactly_once_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once effect under at-least-once delivery, as a stream.

    The input is deliberately DUPLICATED (the same file source unioned with
    itself — every event arrives twice, the way an at-least-once bus
    redelivers), then ``dropDuplicatesWithinWatermark`` on the event key
    collapses redeliveries before a windowed aggregation. The oracle counts
    each event ONCE — it matches only if the dedup actually removed every
    duplicate.

    Scale: dedup state is one entry per event key within the watermark
    horizon — bounded by arrival rate x delay, evicted as the watermark
    advances; the downstream agg state is one row per (window, type). No
    unbounded state anywhere.
    """
    a = with_watermark(read_events_stream(spark, sf_dir))
    b = with_watermark(read_events_stream(spark, sf_dir))
    deduped = a.unionByName(b).dropDuplicatesWithinWatermark(["event_id"])
    counts = (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return _run(counts, "stream_dedup_sink", spark)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (same glob/basePath
    handling as ``read_events_stream``; no nanos special case — the
    schema is plain bigint/string columns)."""
    path = REGISTRY["documents"].path(sf_dir)
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(
        path.replace(".parquet", ".parque[t]")
    )


@query(
    "stream_quality_filter",
    # Aggregated form of the text_filter_decision oracle: the SAME batch
    # operator (filter_decisions) runs inside the stream, and availableNow
    # to completion makes the streamed inventory equal the batch one.
    oracle=r"""
    WITH t AS (
        SELECT
            doc_id,
            text,
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
            CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(length(text) - length(regexp_replace(text, '[!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]', '', 'g')) AS DOUBLE)
                      / CAST(length(text) AS DOUBLE)
            END AS praw
        FROM documents
    ), s AS (
        SELECT
            doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            round(praw, 4) AS punct_ratio,
            round(CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE CAST(len(list_filter(toks, x -> list_contains(
                        ['the','a','an','and','or','but','if','then','of','to','in',
                         'on','for','with','at','by','from','is','are','was','were',
                         'be','been','it','this','that','as','not','no','so','we',
                         'you','they','he','she','has','have','had','will','would'], x))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE) END, 4) AS stopword_ratio,
            round(CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE) END, 4) AS dup_token_ratio,
            (regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
             OR regexp_matches(text, '\b\d{3}-\d{2}-\d{4}\b')
             OR regexp_matches(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')
             OR regexp_matches(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS has_pii
        FROM t
    ), r AS (
        SELECT n_tokens,
            CASE WHEN n_tokens < 20 THEN 'too_short'
                 WHEN punct_ratio > 0.10 THEN 'high_punct'
                 WHEN stopword_ratio < 0.02 THEN 'low_stopword'
                 WHEN dup_token_ratio > 0.60 THEN 'high_repetition'
                 WHEN has_pii THEN 'has_pii'
                 ELSE 'ok' END AS reason
        FROM s
    )
    SELECT reason,
           CASE WHEN reason = 'ok' THEN 'keep' ELSE 'drop' END AS decision,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM r
    GROUP BY 1, 2
    """,
)
def stream_quality_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch quality-filter operator running unchanged inside a
    stream: documents arrive through a file source, filter_decisions (the
    exact batch function — narrow regex/ratio projections are
    engine-mode-agnostic in Structured Streaming) tags each one, and the
    per-(reason, decision) inventory aggregates in the sink. This is the
    ingest-time shape of corpus curation: score and filter documents AS
    they land, not in a nightly batch — and the oracle pins that the
    streamed inventory equals the batch answer exactly.

    Scale: the filter is stateless per-row work at source parallelism;
    the only state is one row per (reason, decision) — seven keys."""
    from data_engineering_nd_spark.operators.text_analysis import (
        filter_decisions,
    )

    docs = read_documents_stream(spark, sf_dir)
    inv = (
        filter_decisions(docs, "doc_id", "text")
        .groupBy("reason", "decision")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )
    return _run(inv, "stream_quality_filter_sink", spark)


@query(
    "stream_sliding_counts",
    # Each event contributes to TWO overlapping windows (2h length, 1h
    # slide): the ones starting at its hour bucket and one hour before.
    # The oracle materializes exactly that membership with a 2-element
    # unnest — the batch semantics Structured Streaming's sliding window
    # implements incrementally.
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
    ),
    member AS (
        SELECT
            time_bucket(INTERVAL '1 hour', ts) - i * INTERVAL '1 hour'
                AS window_start,
            event_type, value
        FROM e, UNNEST([0, 1]) AS t(i)
    )
    SELECT
        window_start,
        window_start + INTERVAL '2 hours' AS window_end,
        event_type,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM member
    GROUP BY 1, 2, 3
    """,
)
def stream_sliding_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window stream aggregation — the overlapping-window shape
    (2-hour windows advancing every hour) the tumbling query above cannot
    express: each event is assigned to window_length/slide = 2 open
    windows, and the state store keeps both partial aggregates live until
    the watermark passes their end. This is the moving-average /
    trending-counter pattern; state size is bounded by
    (windows open per key) x keys = 2 x |event_type|, independent of
    event volume."""
    ev = with_watermark(read_events_stream(spark, sf_dir))
    counts = (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run(counts, "stream_sliding_counts_sink", spark)


def merge_upsert_batch(current: DataFrame | None, batch_agg: DataFrame) -> DataFrame:
    """One merge step of the foreachBatch upsert-sink pattern: combine the
    existing keyed state with a micro-batch's partial aggregate (full outer
    join on the key, additive combine). This is what a Delta/Iceberg MERGE
    INTO does server-side; expressed as a pure DataFrame op it is testable
    and engine-agnostic. Partial aggregates are additive (count, decimal
    sum, max), so merging per batch equals aggregating the whole stream —
    the invariant the driver oracle pins."""
    if current is None:
        return batch_agg
    c = current.select(
        F.col("user_id"),
        F.col("n_events").alias("c_n"),
        F.col("value_units").alias("c_v"),
        F.col("last_seen").alias("c_t"),
    )
    b = batch_agg.select(
        F.col("user_id"),
        F.col("n_events").alias("b_n"),
        F.col("value_units").alias("b_v"),
        F.col("last_seen").alias("b_t"),
    )
    return c.join(b, "user_id", "full_outer").select(
        "user_id",
        (F.coalesce(F.col("c_n"), F.lit(0)) + F.coalesce(F.col("b_n"), F.lit(0))).alias(
            "n_events"
        ),
        (
            F.coalesce(F.col("c_v"), F.lit(0).cast("decimal(18,4)"))
            + F.coalesce(F.col("b_v"), F.lit(0).cast("decimal(18,4)"))
        ).cast("decimal(18,4)").alias("value_units"),
        F.greatest(
            F.coalesce(F.col("c_t"), F.col("b_t")),
            F.coalesce(F.col("b_t"), F.col("c_t")),
        ).alias("last_seen"),
    )


@query(
    "stream_merge_upsert",
    oracle="""
    SELECT
        user_id,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
        MAX(CAST(ts AS TIMESTAMP)) AS last_seen
    FROM events
    GROUP BY user_id
    """,
)
def stream_merge_upsert_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch merge-sink pattern driven as a real stream: each
    micro-batch computes a per-user partial aggregate, and the sink
    upserts it into the keyed result (full-outer merge, additive combine)
    instead of relying on the state store. This is the shape you use when
    the sink must be a TABLE with exactly-once upsert semantics (MERGE
    INTO at production scale) rather than an append log; the final state
    equals the batch aggregate, which the oracle value-hashes."""
    ev = read_events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    state: dict[str, DataFrame | None] = {"df": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_units"),
            F.max("ts").alias("last_seen"),
        )
        # localCheckpoint: the merged state is re-read by every later
        # batch; keep the plan constant-size across batches.
        state["df"] = merge_upsert_batch(state["df"], agg).localCheckpoint()

    with _few_state_partitions(spark):
        q = (
            ev.writeStream.foreachBatch(merge)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    final = state["df"]
    return final.select(
        "user_id",
        "n_events",
        F.col("value_units").cast("double").alias("total_value"),
        F.col("last_seen").cast("timestamp_ntz").alias("last_seen"),
    )


@query(
    "stream_late_data_metrics",
    # The stream arrives as two deterministic files (batch 0: event_id %
    # 10 <> 0, batch 1: the rest), processed oldest-mtime-first with
    # maxFilesPerTrigger=1. The late cutoff for a batch is max(event time
    # seen in PRIOR batches) - 1h — exactly Spark's watermark arithmetic —
    # so batch-0 rows are never late and a batch-1 row is late iff its ts
    # trails the first batch's high-water mark by more than the delay.
    # The oracle states that cutoff in plain SQL over the same tables.
    oracle="""
    WITH a AS (
        SELECT MAX(CAST(ts AS TIMESTAMP)) AS mx
        FROM events WHERE event_id % 10 <> 0
    )
    SELECT event_type,
           (event_id % 10 = 0
            AND CAST(ts AS TIMESTAMP) < mx - INTERVAL 1 HOUR) AS is_late,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events, a
    GROUP BY 1, 2
    """,
)
def stream_late_data_metrics_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival accounting across REAL micro-batches: the events table
    is split into an on-time file and a late-arrivals file (every 10th
    event re-delivered after the rest), streamed one file per trigger in
    mtime order, and each batch tags rows against the running
    watermark — max event time of PRIOR batches minus a 1-hour delay, the
    same cutoff arithmetic `withWatermark` applies before dropping state.
    The per-(event_type, is_late) inventory is what a production ingest
    publishes so silently-dropped late data is observable instead of just
    gone (VERDICT r05 task #7: the watermark surface now exercises
    late-row ACCOUNTING, not only on-time aggregation).

    Scale shape: the tagging is stateless per-row work at source
    parallelism; cross-batch state is one scalar (the running max event
    time) plus the seven-key inventory — both O(1) in stream volume."""
    import os
    import shutil
    import tempfile

    from data_engineering_nd_spark.catalog import load

    ev = load(spark, "events", sf_dir).select(
        "event_id", "event_type", F.col("ts").cast("timestamp"), "value"
    ).localCheckpoint()
    tmp = tempfile.mkdtemp(prefix="stream_late_data_")
    stream_dir = os.path.join(tmp, "in")
    os.makedirs(stream_dir)
    import time as _time

    now = _time.time()
    _write_stream_file(ev.filter(F.col("event_id") % 10 != 0), tmp, "0_ontime", now - 120)
    _write_stream_file(ev.filter(F.col("event_id") % 10 == 0), tmp, "1_late", now - 60)

    schema = spark.read.parquet(stream_dir).schema
    state: dict[str, object] = {"max_ts": None, "counts": None}

    def proc(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        wm = state["max_ts"]
        is_late = (
            F.lit(False)
            if wm is None
            else F.col("ts") < F.lit(wm) - F.expr("INTERVAL 1 HOUR")
        )
        # the running-watermark scalar rides the inventory checkpoint via
        # observe — one job per micro-batch instead of checkpoint + a
        # separate max(ts) collect (r15 opt, guide §1.5)
        ob = Observation()
        agg = (
            batch_df.withColumn("is_late", is_late)
            .observe(ob, F.max("ts").alias("mx"))
            .groupBy("event_type", "is_late")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)")).alias("value_units"),
            )
        )
        prev = state["counts"]
        merged = (
            agg
            if prev is None
            else prev.unionByName(agg)
            .groupBy("event_type", "is_late")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("value_units").cast("decimal(18,4)").alias("value_units"),
            )
        )
        state["counts"] = merged.localCheckpoint()
        mx = ob.get["mx"]
        if mx is not None and (wm is None or mx > wm):
            state["max_ts"] = mx

    with _few_state_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .writeStream.foreachBatch(proc)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    final = state["counts"]
    rows = [
        (r["event_type"], r["is_late"], r["n_events"], float(r["value_units"]))
        for r in final.collect()
    ]
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_type string, is_late boolean, n_events bigint, total_value double"
    )


@query(
    "stream_stateful_sessions",
    # Batch mirror of the custom stateful sessionizer: 30-minute-gap
    # sessions per user. All events arrive in one data batch (in-batch
    # gap splitting closes interior sessions), the far-future sentinel
    # riding that batch advances the watermark past every real session's
    # timeout, and the second sentinel batch flushes the remaining open
    # sessions — so the emitted set is EXACTLY the batch sessionization.
    oracle="""
    WITH flagged AS (
        SELECT
            user_id,
            CAST(ts AS TIMESTAMP) AS ts,
            CASE
                WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
                ELSE 0
            END AS is_new,
            event_id
        FROM events
        WHERE user_id % 3 = 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        -- event_id tie-break mirrors `flagged` (ADVICE r06 #2): a
        -- ts-only running sum is order-dependent under duplicate
        -- (user_id, ts) at a session boundary
        SELECT user_id, ts,
               SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    """,
)
def stream_stateful_sessions_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming via ``applyInPandasWithState`` — the
    Structured Streaming surface the built-in ``session_window`` query
    (stream_session_windows) does not exercise: arbitrary per-key state
    (open-session tuple), explicit event-time timeouts, and hand-rolled
    emission. Each user's open session lives in the state store as
    (start, last, count); a batch's rows extend it or close it on a
    >30-minute gap, and ``EventTimeTimeout`` flushes sessions whose gap
    window the watermark has passed.

    Determinism of the emitted set: all events arrive in ONE data batch
    (no late data, no session can be split or timed out early), and two
    far-future sentinel rows (filtered from the output; not in the
    events table) push the watermark past every real timeout — sentinel1
    rides the events batch, sentinel2 forms the second batch during
    which every remaining open session's timeout fires. All flushes
    happen during DATA batches — no reliance on no-data-batch semantics
    — and the result equals batch sessionization exactly. Two
    micro-batches is the floor for EventTimeTimeout (timeouts compare
    against the watermark fixed at batch START, so a flush batch must
    follow the batch that advanced the watermark); cross-batch session
    continuation is exercised by tests/test_streaming.py instead of
    billing the bench a third ~3s state-store commit.

    Scale shape: state is one fixed-width tuple per ACTIVE user (not per
    event), evicted on timeout; each micro-batch shuffles only its own
    rows by user_id. This is the template for any custom stateful
    operator Spark lacks natively."""
    import os
    import shutil
    import tempfile
    import time as _time

    import pandas as pd

    from data_engineering_nd_spark.catalog import load

    gap_minutes = 30
    gap_us = gap_minutes * 60 * 1_000_000

    # every-3rd-user gate (oracle applies the same): applyInPandasWithState
    # pays one Python call per (key, batch) — THE slow path by design —
    # so the driver-facing query exercises the full state lifecycle on a
    # third of the key space instead of billing the bench for pure
    # per-key interpreter overhead. Production uses would reach for
    # flatMapGroupsWithState in Scala or bigger Arrow batches before
    # scaling this to 10^8 keys.
    from pyspark.sql import Observation

    ob = Observation()
    ev = (
        load(spark, "events", sf_dir)
        .filter(F.col("user_id") % 3 == 0)
        .select(
            "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        .observe(ob, F.max("ts").alias("hi"))
        .localCheckpoint()
    )
    hi = ob.get["hi"]  # rides the checkpoint job — no separate agg action
    tmp = tempfile.mkdtemp(prefix="stream_stateful_sessions_")
    os.makedirs(os.path.join(tmp, "in"))
    now = _time.time()
    import datetime as dt

    # TWO micro-batches, the state-lifecycle minimum for EventTimeTimeout
    # (r15 opt; each batch costs ~3s of fixed state-store commit +
    # scheduling overhead regardless of rows): batch 1 carries every
    # event plus sentinel1 (the file's max ts, so the watermark after it
    # is hi+2h, past every real session's last+30min timeout), batch 2
    # carries only sentinel2 — timeouts fire against the batch-start
    # watermark, so all remaining open sessions flush during that DATA
    # batch, never relying on no-data-batch semantics. In-batch gap
    # splitting, state creation and timeout flushing are all still
    # exercised; cross-batch session continuation is pinned separately by
    # tests/test_streaming.py's stateful-operator test. The emitted set
    # is the batch sessionization either way (see docstring).
    first = ev.unionByName(
        spark.createDataFrame(
            [(-1, -1, hi + dt.timedelta(hours=3))],
            "event_id bigint, user_id bigint, ts timestamp",
        )
    )
    _write_stream_file(first, tmp, "0_events", now - 240)
    _write_stream_file(
        spark.createDataFrame(
            [(-2, -1, hi + dt.timedelta(hours=5))],
            "event_id bigint, user_id bigint, ts timestamp",
        ),
        tmp, "1_sentinel", now - 120,
    )

    schema = spark.read.parquet(os.path.join(tmp, "in")).schema

    def sessionize(key, pdfs, state):
        if state.hasTimedOut:
            s, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "start_us": [s], "end_us": [last],
                 "n_events": [n]}
            )
            return
        rows = pd.concat(list(pdfs))
        ts = rows["ts"]
        if getattr(ts.dt, "tz", None) is not None:
            ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
        us = sorted(int(v) // 1000 for v in ts.astype("int64"))
        if state.exists:
            s, last, n = state.get
        else:
            s = last = None
            n = 0
        closed = []
        for t in us:
            if s is None:
                s, last, n = t, t, 1
            elif t - last > gap_us:
                closed.append((key[0], s, last, n))
                s, last, n = t, t, 1
            else:
                last, n = t, n + 1
        state.update((int(s), int(last), int(n)))
        # timeout once the watermark passes the session's gap window
        state.setTimeoutTimestamp(last // 1000 + gap_minutes * 60 * 1000)
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "start_us", "end_us", "n_events"]
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(tmp, "in"))
        .withWatermark("ts", "1 hour")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        "user_id bigint, start_us bigint, end_us bigint, n_events bigint",
        "start_us bigint, last_us bigint, n bigint",
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    result = _run(sessions, "stream_stateful_sessions_sink", spark)
    # snapshot the memory sink through Arrow (toPandas/createDataFrame)
    # instead of a row-by-row collect + py4j re-ship — same values, all
    # int64 columns, ~10x less driver serialization (guide §6)
    pdf = result.filter(F.col("user_id") >= 0).toPandas()
    shutil.rmtree(tmp, ignore_errors=True)
    out = spark.createDataFrame(
        pdf,
        "user_id bigint, start_us bigint, end_us bigint, n_events bigint",
    )
    return out.select(
        "user_id",
        F.timestamp_micros("start_us").cast("timestamp_ntz").alias("session_start"),
        F.timestamp_micros("end_us").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


@query(
    "stream_restart_recovery",
    # Batch oracle identical to stream_windowed_counts: exactly-once ACROSS
    # A RESTART means the two-phase run converges to the plain batch
    # aggregate — a re-read of phase-A input would double-count (hash
    # mismatch), lost state would under-count (hash mismatch).
    oracle="""
    SELECT
        time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
        time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS window_end,
        event_type,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_restart_recovery_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-recovery proof as a driver-verified query (VERDICT r06
    #5): the events table arrives in two files. A first StreamingQuery
    with an explicit checkpointLocation consumes ONLY file A
    (availableNow) and terminates — its state store and source progress
    land in the checkpoint. A SECOND StreamingQuery then starts from the
    same checkpoint with file B present: the file-source log makes it
    skip A (no re-read), and the recovered state store makes the
    complete-mode aggregate still include A's contributions. The final
    table therefore equals the one-shot batch aggregate — exactly-once
    across restart, not merely within one run.

    Scale notes: recovery cost is proportional to STATE (per-key windowed
    aggregates), never to history — the checkpoint's source log replays
    file offsets, not data; at production scale the same two-phase flow
    is a deploy/restart of a long-running job against S3/HDFS checkpoint
    dirs."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_engineering_nd_spark.catalog import load

    ev = (
        load(spark, "events", sf_dir)
        .select("event_id", "event_type", F.col("ts").cast("timestamp"), "value")
        .localCheckpoint()
    )
    tmp = tempfile.mkdtemp(prefix="stream_restart_")
    try:
        stream_dir = os.path.join(tmp, "in")
        os.makedirs(stream_dir)
        ckpt = os.path.join(tmp, "ckpt")
        now = _time.time()
        _write_stream_file(ev.filter(F.col("event_id") % 2 == 1), tmp, "0_a", now - 120)
        schema = spark.read.parquet(stream_dir).schema

        def run_phase(sink_name: str) -> None:
            src = spark.readStream.schema(schema).parquet(stream_dir)
            counts = (
                src.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,4)"))
                    .cast("double")
                    .alias("total_value"),
                )
                .select(
                    F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                    F.col("w.end").cast("timestamp_ntz").alias("window_end"),
                    "event_type",
                    "n_events",
                    "total_value",
                )
            )
            with _few_state_partitions(spark):
                q = (
                    counts.writeStream.format("memory")
                    .queryName(sink_name)
                    .outputMode("complete")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        run_phase("stream_restart_phase_a")  # consumes file A, checkpoints
        _write_stream_file(ev.filter(F.col("event_id") % 2 == 0), tmp, "1_b", now - 60)
        run_phase("stream_restart_recovery_sink")  # restarts: B only + state

        # the memory table is rewritten per trigger; materialize before the
        # scratch checkpoint dir goes away
        return spark.table("stream_restart_recovery_sink").localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming HLL: windowed distinct-count estimation in bounded state —
# the streaming answer to COUNT(DISTINCT user_id), which no watermarked
# stream can hold exactly (state would grow with cardinality). Registers
# are max-merged per micro-batch by the normal windowed agg, so state is
# O(open windows x m) regardless of user volume; the estimate is read off
# the materialized registers with the same exact-BIGINT arithmetic as
# q74/q81 (raw regime, no ln()).
# ---------------------------------------------------------------------------

@query(
    "stream_hll_users",
    oracle="""
    WITH slots AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                   AS window_start,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) >> 56 AS idx,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) & 72057594037927935 AS tail
        FROM events
    ),
    regs AS (
        SELECT window_start, idx,
               MAX(CASE WHEN tail = 0 THEN 57
                        ELSE 57 - length(bin(tail)) END) AS m_j
        FROM slots GROUP BY 1, 2
    ),
    s AS (
        SELECT window_start,
               CAST(SUM(CAST(power(2, 57 - m_j) AS BIGINT)) AS BIGINT)
                   AS s_present,
               COUNT(*) AS n_present
        FROM regs GROUP BY 1
    )
    SELECT window_start,
           CAST(s_present + (16 - n_present)
                * 144115188075855872 AS BIGINT) AS register_sum,
           CAST(16 - n_present AS BIGINT) AS n_zero_registers,
           floor((0.673 * 256 * 144115188075855872.0)
                 / CAST(s_present + (16 - n_present)
                        * 144115188075855872 AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS hll_estimate
    FROM s
    ORDER BY window_start
    """,
)
def stream_hll_users_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly distinct-user estimates from a STREAM, in O(m) state per
    window: the windowed agg max-merges the 16 HLL registers
    incrementally across micro-batches (register max is associative and
    commutative, so partial merges are exact regardless of arrival
    order); the estimate is computed from the materialized registers
    with q74's exact-BIGINT estimator. The same register rows could be
    upserted into a VersionedTable and max-merged across DAYS — the
    streaming half of q81's merge law."""
    from data_engineering_nd_spark.analytics import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_TAIL_BITS,
    )
    from data_engineering_nd_spark.functions.hashing import md5_prefix_long
    from data_engineering_nd_spark.functions.numeric import round_half_up

    top = _HLL_TAIL_BITS + 1
    ev = with_watermark(read_events_stream(spark, sf_dir))
    h = md5_prefix_long(F.col("user_id").cast("string"), 15)
    rho = F.when(F.col("tail") == 0, F.lit(top)).otherwise(
        F.lit(top) - F.length(F.conv(F.col("tail").cast("string"), 10, 2))
    )
    slots = ev.select(
        "ts",
        F.shiftright(h, _HLL_TAIL_BITS).alias("idx"),
        h.bitwiseAND(F.lit((1 << _HLL_TAIL_BITS) - 1)).alias("tail"),
    ).withColumn("r", rho)
    regs = (
        slots.groupBy(F.window("ts", "1 hour").alias("w"), F.col("idx"))
        .agg(F.max("r").alias("m_j"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "idx",
            "m_j",
        )
    )
    sink = _run(regs, "stream_hll_users_sink", spark)
    s = sink.groupBy("window_start").agg(
        F.sum(F.expr(f"CAST(pow(2, {top} - m_j) AS BIGINT)")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    reg_sum = (
        F.col("s_present")
        + (F.lit(_HLL_M) - F.col("n_present")) * F.lit(1 << top)
    ).cast("bigint")
    return s.select(
        "window_start",
        reg_sum.alias("register_sum"),
        (F.lit(_HLL_M) - F.col("n_present")).cast("bigint").alias(
            "n_zero_registers"
        ),
        round_half_up(
            F.lit(_HLL_ALPHA * (_HLL_M * _HLL_M))
            * F.lit(float(1 << top))
            / reg_sum.cast("double"),
            4,
        ).alias("hll_estimate"),
    ).orderBy("window_start")


# ---------------------------------------------------------------------------
# Streaming bitmap DAU: q88's audience bitmap AS STREAMING STATE. bit_or
# is associative and commutative, so the windowed agg merges each day's
# presence words incrementally across micro-batches in O(days x
# n_users/32) state — exact distincts (not a sketch) in bounded state,
# because membership is a bit, not a row. The materialized words are the
# SAME index q88 builds in batch: streaming ingest and batch analytics
# meet on identical integers, the bitmap counterpart of stream_hll_users.
# ---------------------------------------------------------------------------

@query(
    "stream_bitmap_dau",
    oracle="""
    WITH words AS (
        SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS day,
               user_id // 32 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
        FROM events
        GROUP BY 1, 2
    ),
    joined AS (
        SELECT t.day,
               t.bits AS today_bits,
               COALESCE(y.bits, 0) AS yday_bits
        FROM words t
        LEFT JOIN words y
          ON y.word = t.word AND y.day = t.day - INTERVAL 1 DAY
    ),
    per_day AS (
        SELECT day,
               CAST(SUM(bit_count(today_bits)) AS BIGINT) AS dau,
               CAST(SUM(bit_count(today_bits & yday_bits)) AS BIGINT)
                   AS retained
        FROM joined GROUP BY day
    )
    SELECT CAST(day AS TIMESTAMP) AS day, dau, retained,
           floor(CAST(retained AS DOUBLE) / CAST(dau AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS retention
    FROM per_day
    """,
)
def stream_bitmap_dau_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + day-over-day retention from a STREAM: the
    windowed agg bit_or-merges presence words (32 users per BIGINT)
    across micro-batches — exact DAU in bounded state — and the
    materialized word rows take q88's batch popcount/intersection pass.
    The oracle replays the whole build over the batch table, so the
    value hash proves streaming arrival order is irrelevant to the
    merged bitmaps (bit_or associativity), not just to the counts."""
    ev = with_watermark(read_events_stream(spark, sf_dir))
    words = ev.select(
        "ts",
        F.expr("user_id DIV 32").alias("word"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))"
        ).alias("bit"),
    )
    regs = (
        words.groupBy(F.window("ts", "1 day").alias("w"), "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("day"),
            "word",
            "bits",
        )
    )
    sink = _run(regs, "stream_bitmap_dau_sink", spark)
    from data_engineering_nd_spark.functions.numeric import round_half_up

    t = sink.alias("t")
    y = sink.select(
        (F.col("day") + F.expr("INTERVAL 1 DAY")).alias("yday_plus"),
        F.col("word").alias("y_word"),
        F.col("bits").alias("y_bits"),
    )
    joined = t.join(
        y,
        (F.col("t.word") == F.col("y_word"))
        & (F.col("t.day") == F.col("yday_plus")),
        "left",
    ).select(
        F.col("t.day").alias("day"),
        F.col("t.bits").alias("today_bits"),
        F.coalesce(F.col("y_bits"), F.lit(0)).alias("yday_bits"),
    )
    per_day = joined.groupBy("day").agg(
        F.sum(F.bit_count("today_bits")).cast("bigint").alias("dau"),
        F.sum(F.bit_count(F.expr("today_bits & yday_bits")))
        .cast("bigint")
        .alias("retained"),
    )
    return per_day.select(
        "day",
        "dau",
        "retained",
        round_half_up(
            F.col("retained").cast("double") / F.col("dau").cast("double"), 6
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# Streaming Count-Min heavy hitters: q69's frequency sketch AS STREAMING
# STATE. The CMS counter grid is a windowed SUM — associative and
# commutative — so the per-day sketch merges incrementally across
# micro-batches in O(days x d x w) state REGARDLESS of stream volume:
# the bounded-memory answer to "who are today's heaviest users" when the
# key space is too large to count exactly in state. The materialized
# counters are the SAME grid q69 builds in batch (md5 hash family), so
# probing is SQL-mirrorable and the value hash proves micro-batch count
# merging is replay-order-invariant.
# ---------------------------------------------------------------------------

@query(
    "stream_heavy_hitters",
    oracle="""
    WITH buckets AS (
        SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS day,
               t.j,
               CAST(concat('0x', substr(md5(CAST(t.j AS VARCHAR) || ':'
                    || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 256 AS bucket
        FROM events, unnest(range(4)) AS t(j)
    ),
    cms AS (
        SELECT day, j, bucket, COUNT(*) AS c
        FROM buckets GROUP BY day, j, bucket
    ),
    exact AS (
        SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS day,
               user_id, COUNT(*) AS exact_n
        FROM events GROUP BY 1, 2
    ),
    top AS (
        SELECT day, user_id, exact_n FROM (
            SELECT day, user_id, exact_n,
                   row_number() OVER (PARTITION BY day
                                      ORDER BY exact_n DESC, user_id) AS rn
            FROM exact
        ) WHERE rn <= 3
    ),
    probes AS (
        SELECT t.day, t.user_id, t.exact_n, u.j,
               CAST(concat('0x', substr(md5(CAST(u.j AS VARCHAR) || ':'
                    || CAST(t.user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 256 AS bucket
        FROM top t, unnest(range(4)) AS u(j)
    )
    SELECT CAST(p.day AS TIMESTAMP) AS day,
           p.user_id,
           CAST(p.exact_n AS BIGINT) AS exact_n,
           CAST(MIN(c.c) AS BIGINT) AS cms_n,
           MIN(c.c) >= p.exact_n AS never_underestimates
    FROM probes p
    JOIN cms c ON c.day = p.day AND c.j = p.j AND c.bucket = p.bucket
    GROUP BY p.day, p.user_id, p.exact_n
    """,
)
def stream_heavy_hitters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day heavy-hitter estimates from a STREAMING Count-Min Sketch:
    the 4x256 counter grid accumulates as a windowed streaming SUM (CMS
    counters are mergeable by addition, so micro-batch partials compose
    exactly), then the day's 3 heaviest users (exact counts from the
    batch table — the ground-truth side) probe the materialized grid
    with the same md5 hash family. The hash pins estimate values AND the
    never-underestimates guarantee per (day, user): a lost micro-batch,
    a double-counted replay, or a hash-family drift between the
    streaming build and the probe all diverge. Batch sibling: q69."""
    from data_engineering_nd_spark.functions.hashing import countmin_bucket

    d, w = 4, 256

    ev = with_watermark(read_events_stream(spark, sf_dir))
    grid = (
        ev.select(
            "ts",
            F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j"),
            "user_id",
        )
        .select(
            "ts",
            "j",
            countmin_bucket(F.col("j"), F.col("user_id"), w).alias("bucket"),
        )
        .groupBy(F.window("ts", "1 day").alias("win"), "j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("day"),
            "j",
            "bucket",
            "c",
        )
    )
    cms = _run(grid, "stream_heavy_hitters_sink", spark)

    from data_engineering_nd_spark.catalog import load
    from pyspark.sql.window import Window

    exact = (
        load(spark, "events", sf_dir)
        .groupBy(
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    rn = F.row_number().over(
        Window.partitionBy("day").orderBy(F.desc("exact_n"), "user_id")
    )
    top = exact.withColumn("rn", rn).filter(F.col("rn") <= 3).drop("rn")
    probes = top.select(
        "day",
        "user_id",
        "exact_n",
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j"),
    ).select(
        "day", "user_id", "exact_n", "j",
        countmin_bucket(F.col("j"), F.col("user_id"), w).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cms), ["day", "j", "bucket"])
        .groupBy("day", "user_id", "exact_n")
        .agg(
            F.min("c").cast("bigint").alias("cms_n"),
            (F.min("c") >= F.first("exact_n")).alias("never_underestimates"),
        )
        .select(
            "day",
            "user_id",
            F.col("exact_n").cast("bigint").alias("exact_n"),
            "cms_n",
            "never_underestimates",
        )
    )


# ---------------------------------------------------------------------------
# Streaming -> lakehouse: exactly-once foreachBatch appends into a
# VersionedTable via the idempotent-commit watermark
# ---------------------------------------------------------------------------


@query(
    "stream_lakehouse_sink",
    # Batch oracle straight off the source table: exactly-once means the
    # landed VersionedTable aggregates to the plain batch answer even
    # though the last micro-batch was DELIVERED TWICE — a double-append
    # doubles that batch's contribution and diverges count, total and
    # checksum alike.
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           CAST(SUM(CAST(concat('0x',
                substr(md5(CAST(event_id AS VARCHAR)), 1, 10))
                AS BIGINT)) AS BIGINT) AS id_checksum
    FROM events
    GROUP BY event_type
    """,
)
def stream_lakehouse_sink_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming half of the exactly-once sink contract
    (``tbl_idempotent_commits`` is the batch half): events arrive as
    three files consumed one per micro-batch (maxFilesPerTrigger=1), and
    a ``foreachBatch`` writer lands each batch into a VersionedTable
    through :func:`idempotent_batch_sink` — commit ``txn=(app,
    batch_id)``. foreachBatch is an AT-LEAST-ONCE surface: after the
    stream drains, the last micro-batch is re-delivered exactly as a
    recovering driver would re-run it, and the table must absorb the
    duplicate via its txn watermark. The landed table then aggregates
    per event type against the plain batch oracle over the source —
    count, decimal-exact value total and an md5 id-checksum all match
    only if every batch applied exactly once.

    At 100 TB this is THE standard ingestion topology (Kafka/file stream
    -> foreachBatch -> table commit): sources replay, checkpoints
    restart, and the sink's per-app high-water mark is what turns
    at-least-once delivery into an exactly-once table."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_engineering_nd_spark.catalog import load
    from data_engineering_nd_spark.functions.hashing import md5_prefix_long
    from data_engineering_nd_spark.tables import (
        VersionedTable,
        idempotent_batch_sink,
    )

    ev = (
        load(spark, "events", sf_dir)
        .select("event_id", "event_type", "value")
        .localCheckpoint()
    )
    tmp = tempfile.mkdtemp(prefix="stream_lakehouse_")
    try:
        os.makedirs(os.path.join(tmp, "in"))
        now = _time.time()
        for i in range(3):
            _write_stream_file(
                ev.filter(F.col("event_id") % 3 == i), tmp, f"{i}_slice",
                now - 120 + 30 * i,
            )
        stream_dir = os.path.join(tmp, "in")
        schema = spark.read.parquet(stream_dir).schema
        table = VersionedTable(spark, os.path.join(tmp, "table"))
        sink = idempotent_batch_sink(table, "lakehouse-sink")
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        q = (
            src.writeStream.foreachBatch(sink)
            .option(
                "checkpointLocation", os.path.join(tmp, "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        # at-least-once re-delivery of the final micro-batch (what a
        # recovering driver does when the checkpoint says the batch
        # started but the sink's success is unknown)
        last = table.last_txn_version("lakehouse-sink")
        versions_before = len(table.versions())
        replay = spark.read.schema(schema).parquet(
            os.path.join(stream_dir, "2_slice.parquet")
        )
        sink(replay, last)
        assert len(table.versions()) == versions_before  # absorbed

        out = (
            table.snapshot()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("total_value"),
                F.sum(md5_prefix_long(F.col("event_id").cast("string")))
                .cast("bigint")
                .alias("id_checksum"),
            )
        )
        # output-sized; materialize before the scratch table goes away
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Partitioned streaming sink: exactly-once hidden-partitioned appends
# ---------------------------------------------------------------------------


@query(
    "stream_partitioned_sink",
    # Batch oracle straight off the source: the landed table's layout is
    # one file per (micro-batch slice, day bucket) — repartition-by-
    # partition-value inside commit_partitioned — so files_total /
    # files_kept restate the slice x day-bucket arithmetic, and the
    # range-pruned answer equals the plain filtered aggregate.  The
    # duplicate delivery of the last batch must change nothing.
    oracle="""
    WITH e AS (
        SELECT event_id, epoch_us(ts) AS tus, value FROM events
    ),
    b AS (SELECT MIN(tus) AS mn, MAX(tus) AS mx FROM e),
    r AS (
        SELECT mn + (mx - mn) // 4 AS lo, mn + (mx - mn) // 2 AS hi
        FROM b
    ),
    d AS (
        SELECT DISTINCT event_id % 3 AS slice,
               date_trunc('week', ts) AS wk
        FROM events
    ),
    f AS (SELECT COUNT(*) AS files_total FROM d),
    k AS (
        SELECT COUNT(*) AS files_kept
        FROM d CROSS JOIN r
        WHERE d.wk BETWEEN date_trunc('week', make_timestamp(r.lo))
                       AND date_trunc('week', make_timestamp(r.hi))
    ),
    sel AS (
        SELECT COUNT(*) AS n_rows,
               SUM(CAST(value AS DECIMAL(18,4))) AS tv,
               SUM(CAST(concat('0x',
                    substr(md5(CAST(event_id AS VARCHAR)), 1, 10))
                    AS BIGINT)) AS ck
        FROM e CROSS JOIN r WHERE tus BETWEEN r.lo AND r.hi
    )
    SELECT CAST(3 AS BIGINT) AS n_versions,
           CAST(2 AS BIGINT) AS last_batch,
           CAST(f.files_total AS BIGINT) AS files_total,
           CAST(k.files_kept AS BIGINT) AS files_kept,
           CAST(sel.n_rows AS BIGINT) AS n_rows,
           CAST(sel.tv AS DOUBLE) AS total_value,
           CAST(sel.ck AS BIGINT) AS id_checksum
    FROM f CROSS JOIN k CROSS JOIN sel
    """,
)
def stream_partitioned_sink_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once streaming ingestion into a HIDDEN-PARTITIONED table
    plus transform-projected reads — this round's lakehouse features
    composed under streaming: events arrive as three micro-batches
    (maxFilesPerTrigger=1) and a ``foreachBatch`` writer lands each via
    ``commit_partitioned(..., mode="append", txn=(app, batch_id))``
    under the week-bucket transform ``p_week = date_trunc('week', ts)``.
    The last micro-batch is then re-delivered (the at-least-once
    recovery path) and the txn watermark must absorb it — partitioned
    appends carry the same idempotency contract as plain commits.

    The read side never names the partition column:
    ``prune_partitions_range("ts", lo, hi)`` projects the event-time
    bounds through the recorded transform (``partition_exprs`` carried
    across the three append commits), and the report pins BOTH the
    planning numbers (files kept of total — one file per slice x week,
    restated by the oracle from the same modulus/day arithmetic) and
    the pruned-scan answer (count, decimal-exact value total, id
    checksum) against the plain batch oracle.  Bound arithmetic is
    exact epoch-micros integers on both sides (min/max epoch_us, the
    quartile offsets in integer division; a timestamp-interval
    division would not be bit-replayable).

    At 100 TB this is the standard partitioned-ingest topology: stream
    -> foreachBatch -> partitioned append, readers prune by event-time
    range with no knowledge of the layout."""
    import datetime as _dt
    import os
    import shutil
    import tempfile
    import time as _time

    from data_engineering_nd_spark.catalog import load
    from data_engineering_nd_spark.functions.hashing import md5_prefix_long
    from data_engineering_nd_spark.tables import VersionedTable

    ev = (
        load(spark, "events", sf_dir)
        .select("event_id", "ts", "value")
        .localCheckpoint()
    )
    tmp = tempfile.mkdtemp(prefix="stream_partsink_")
    try:
        os.makedirs(os.path.join(tmp, "in"))
        now = _time.time()
        for i in range(3):
            _write_stream_file(
                ev.filter(F.col("event_id") % 3 == i), tmp, f"{i}_slice",
                now - 120 + 30 * i,
            )
        stream_dir = os.path.join(tmp, "in")
        schema = spark.read.parquet(stream_dir).schema
        table = VersionedTable(spark, os.path.join(tmp, "table"))
        spec = [("p_week", "date_trunc('week', ts)")]

        def sink(batch_df, batch_id) -> None:
            table.commit_partitioned(
                batch_df, spec, mode="append",
                txn=("part-sink", int(batch_id)),
            )

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        # at-least-once re-delivery of the final micro-batch: the
        # partitioned append's txn watermark must absorb it
        last = table.last_txn_version("part-sink")
        versions_before = len(table.versions())
        replay = spark.read.schema(schema).parquet(
            os.path.join(stream_dir, "2_slice.parquet")
        )
        sink(replay, last)
        assert len(table.versions()) == versions_before  # absorbed

        mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()

        def _us(d: _dt.datetime) -> int:
            td = d - _dt.datetime(1970, 1, 1)
            return (
                td.days * 86_400_000_000
                + td.seconds * 1_000_000
                + td.microseconds
            )

        def _ts(us: int) -> _dt.datetime:
            return _dt.datetime(1970, 1, 1) + _dt.timedelta(
                microseconds=us
            )

        mn_us, mx_us = _us(mn), _us(mx)
        lo = _ts(mn_us + (mx_us - mn_us) // 4)
        hi = _ts(mn_us + (mx_us - mn_us) // 2)
        _, _, meta = table.prune_partitions_range("ts", lo, hi)
        out = (
            table.scan_partitions_range("ts", lo, hi)
            .where(
                F.col("ts").between(
                    F.lit(lo).cast("timestamp_ntz"),
                    F.lit(hi).cast("timestamp_ntz"),
                )
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("total_value"),
                F.sum(md5_prefix_long(F.col("event_id").cast("string")))
                .cast("bigint")
                .alias("id_checksum"),
            )
            .select(
                F.lit(len(table.versions())).cast("bigint")
                .alias("n_versions"),
                F.lit(last).cast("bigint").alias("last_batch"),
                F.lit(meta["files_total"]).cast("bigint")
                .alias("files_total"),
                F.lit(meta["files_kept"]).cast("bigint")
                .alias("files_kept"),
                "n_rows",
                "total_value",
                "id_checksum",
            )
        )
        # output-sized; materialize before the scratch table goes away
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming CDF source: incremental change_feed micro-batches, exactly-once
# ---------------------------------------------------------------------------


@query(
    "stream_change_feed",
    # Serial-equivalent oracle straight off the source table: the landed
    # CDC log groups by change type; any missed commit, double-applied
    # replay, or phantom row diverges a count or checksum.
    oracle="""
    WITH chg AS (
        SELECT 'insert' AS change_type, o_orderkey AS k, o_custkey AS c
        FROM orders
        UNION ALL
        SELECT 'insert', o_orderkey + 60000000, o_custkey
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT 'delete', o_orderkey, o_custkey
        FROM orders WHERE o_orderkey BETWEEN 1 AND 150
        UNION ALL
        SELECT 'update_preimage', o_orderkey, o_custkey
        FROM orders WHERE o_orderkey % 11 = 7 AND o_orderkey > 150
        UNION ALL
        SELECT 'update_postimage', o_orderkey, o_custkey + 2000000
        FROM orders WHERE o_orderkey % 11 = 7 AND o_orderkey > 150
        UNION ALL
        SELECT 'insert', o_orderkey + 70000000, o_custkey
        FROM orders WHERE o_orderkey % 9 = 2
    )
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(concat('0x', substr(md5(
                concat(CAST(k AS VARCHAR), ':', CAST(c AS VARCHAR))),
                1, 10)) AS BIGINT)) AS BIGINT) AS row_checksum,
           CAST(1 AS BIGINT) AS replay_absorbed
    FROM chg GROUP BY change_type
    """,
)
def stream_change_feed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDF source (VERDICT r09 task #6): a source table takes
    a lifecycle of commits — v0 seed, v1 append (inserts), v2 deletion-
    vector delete, v3 COW merge (updates), v4 append — while
    :func:`pump_change_feed` micro-batches forward into a destination
    CDC log. Pump 1 lands the base snapshot as inserts; pump 2 forwards
    commits (0, 3] reading only the manifest diff; pump 3 forwards
    (3, 4]; pump 3 is then REPLAYED (at-least-once delivery) and the
    destination's txn watermark absorbs it — plus an idle pump that
    skips with nothing new. The landed log, grouped by change type,
    value-hashes against the serial-equivalent oracle: every row-level
    change arrived exactly once, with merge updates as
    update_preimage/update_postimage pairs.

    At 100 TB this is the Delta-CDF-as-stream topology: downstream
    consumers (index refresh, replication, feature stores) tail the
    table's commit log; each micro-batch costs the commit-range file
    diff, never a snapshot scan, and the sink-side watermark — not a
    separate offset store — makes restarts exactly-once."""
    import shutil
    import tempfile

    from data_engineering_nd_spark.catalog import load
    from data_engineering_nd_spark.functions.hashing import md5_prefix_long
    from data_engineering_nd_spark.streaming.sink import pump_change_feed
    from data_engineering_nd_spark.tables import VersionedTable

    orders = load(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    work = tempfile.mkdtemp(prefix="stream_cdf_")
    try:
        src = VersionedTable(spark, work + "/src")
        dst = VersionedTable(spark, work + "/dst")
        app = "cdf-pump"
        src.commit(orders.repartition(4))                           # v0
        r1 = pump_change_feed(src, dst, ["o_orderkey"], app)
        src.commit(                                                 # v1
            orders.filter(F.col("o_orderkey") % 5 == 0).select(
                (F.col("o_orderkey") + 60000000).alias("o_orderkey"),
                "o_custkey",
            ),
            mode="append",
        )
        src.delete_where_dv("o_orderkey", 1, 150)                   # v2
        src.merge(                                                  # v3
            orders.filter(
                (F.col("o_orderkey") % 11 == 7)
                & (F.col("o_orderkey") > 150)
            ).select(
                "o_orderkey",
                (F.col("o_custkey") + 2000000).alias("o_custkey"),
            ),
            ["o_orderkey"],
        )
        r2 = pump_change_feed(src, dst, ["o_orderkey"], app)
        src.commit(                                                 # v4
            orders.filter(F.col("o_orderkey") % 9 == 2).select(
                (F.col("o_orderkey") + 70000000).alias("o_orderkey"),
                "o_custkey",
            ),
            mode="append",
        )
        r3 = pump_change_feed(src, dst, ["o_orderkey"], app)
        n_versions = len(dst.versions())
        # at-least-once: replay the last pump and an idle pump — both
        # must be absorbed/skipped with no new destination commit
        r_replay = pump_change_feed(src, dst, ["o_orderkey"], app)
        replay_absorbed = int(
            r_replay["skipped"]
            and len(dst.versions()) == n_versions
            and not r1["skipped"] and not r2["skipped"]
            and not r3["skipped"]
        )
        out = (
            dst.snapshot()
            .groupBy(F.col("_change_type").alias("change_type"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(
                    md5_prefix_long(
                        F.concat_ws(
                            ":",
                            F.col("o_orderkey").cast("string"),
                            F.col("o_custkey").cast("string"),
                        )
                    )
                ).cast("bigint").alias("row_checksum"),
            )
            .withColumn(
                "replay_absorbed",
                F.lit(replay_absorbed).cast("bigint"),
            )
        )
        # output-sized (4 rows); materialize so the scratch tables can go
        return out.localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming DLQ: constraint quarantine with exactly-once on both sides
# ---------------------------------------------------------------------------


@query(
    "stream_constraint_quarantine",
    oracle="""
    SELECT event_type,
           CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_quarantined,
           CAST(SUM(CAST(concat('0x',
                substr(md5(CAST(event_id AS VARCHAR)), 1, 10))
                AS BIGINT)) AS BIGINT) AS id_checksum,
           CAST(1 AS BIGINT) AS conserved,
           CAST(1 AS BIGINT) AS replay_absorbed
    FROM events
    GROUP BY event_type
    """,
)
def stream_constraint_quarantine_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming dead-letter queue: events arrive in three micro-batches
    through :func:`quarantine_batch_sink` — rows failing the CHECK
    predicate (``event_type <> 'error'``) land VERBATIM in a quarantine
    table, passing rows in the serving table, both commits idempotent on
    (app, batch_id). After the stream drains, the final batch is
    RE-DELIVERED and absorbed on BOTH tables. The report value-hashes
    per-type good/quarantined counts and id checksums, a CONSERVATION
    bit (good + quarantined == source, row-exact by checksum), and the
    replay-absorption bit; the oracle states the split straight off the
    source.

    The streaming counterpart of the batch corrupt-record quarantines:
    at-least-once delivery + per-side txn watermarks = exactly-once on
    the serving AND the dead-letter table, with bad rows preserved for
    re-drive instead of dropped or poisoning the serve path."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_engineering_nd_spark.catalog import load
    from data_engineering_nd_spark.functions.hashing import md5_prefix_long
    from data_engineering_nd_spark.streaming.sink import (
        quarantine_batch_sink,
    )
    from data_engineering_nd_spark.tables import VersionedTable

    ev = (
        load(spark, "events", sf_dir)
        .select("event_id", "event_type", "value")
        .localCheckpoint()
    )
    tmp = tempfile.mkdtemp(prefix="stream_dlq_")
    try:
        os.makedirs(os.path.join(tmp, "in"))
        now = _time.time()
        for i in range(3):
            _write_stream_file(
                ev.filter(F.col("event_id") % 3 == i), tmp, f"{i}_slice",
                now - 120 + 30 * i,
            )
        stream_dir = os.path.join(tmp, "in")
        schema = spark.read.parquet(stream_dir).schema
        good = VersionedTable(spark, os.path.join(tmp, "good"))
        dlq = VersionedTable(spark, os.path.join(tmp, "dlq"))
        sink = quarantine_batch_sink(
            good, dlq, "dlq-sink", "event_type <> 'error'"
        )
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # at-least-once: re-deliver the final micro-batch on both sides
        nv_good, nv_dlq = len(good.versions()), len(dlq.versions())
        last = good.last_txn_version("dlq-sink")
        replay = spark.read.schema(schema).parquet(
            os.path.join(stream_dir, "2_slice.parquet")
        )
        sink(replay, last)
        replay_absorbed = int(
            len(good.versions()) == nv_good
            and len(dlq.versions()) == nv_dlq
        )
        digest = md5_prefix_long(F.col("event_id").cast("string"))

        def _sum(t, label):
            return (
                t.snapshot()
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias(f"n_{label}"),
                    F.sum(digest).cast("bigint").alias(f"h_{label}"),
                )
            )
        g, b = _sum(good, "good"), _sum(dlq, "bad")
        merged = g.join(b, "event_type", "full_outer").select(
            "event_type",
            F.coalesce("n_good", F.lit(0)).cast("bigint").alias("n_good"),
            F.coalesce("n_bad", F.lit(0)).cast("bigint")
            .alias("n_quarantined"),
            (F.coalesce("h_good", F.lit(0)) + F.coalesce("h_bad", F.lit(0)))
            .cast("bigint").alias("id_checksum"),
        )
        src = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_src"),
            F.sum(digest).cast("bigint").alias("h_src"),
        )
        chk = merged.join(src, "event_type").select(
            F.min(
                F.when(
                    (F.col("n_good") + F.col("n_quarantined")
                     == F.col("n_src"))
                    & (F.col("id_checksum") == F.col("h_src")),
                    1,
                ).otherwise(0)
            ).alias("ok")
        ).collect()[0]["ok"]
        out = merged.withColumn(
            "conserved", F.lit(int(chk)).cast("bigint")
        ).withColumn(
            "replay_absorbed", F.lit(replay_absorbed).cast("bigint")
        )
        # output-sized (5 rows); materialize so the scratch tables can go
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
