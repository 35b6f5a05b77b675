"""Data-quality operators (the reference's DQ1-DQ3, SURVEY.md §2.11),
re-built as library functions that *return results* instead of writing log
lines, computed in a single pass instead of up to 3x
(Capstone/scripts/i94_data_quality_check.py:280-282).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from data_engineering_nd_spark.catalog import REGISTRY, load
from data_engineering_nd_spark.registry import query


@dataclass(frozen=True)
class NullAuditResult:
    table: str
    n_rows: int
    null_counts: dict[str, int]

    @property
    def failed_columns(self) -> list[str]:
        return [c for c, n in self.null_counts.items() if n > 0]

    @property
    def ok(self) -> bool:
        return self.n_rows > 0 and not self.failed_columns


def is_empty(df: DataFrame) -> bool:
    """DQ2 — cheaper than the reference's df.count()==0: head(1) stops after
    the first non-empty partition instead of scanning everything."""
    return df.isEmpty()


def _null_cond(df: DataFrame, col: str) -> Column:
    c = F.col(col)
    # isnan only applies to floating types (matches the reference's intent —
    # its blanket isnan|isNull errors on non-numeric columns).
    if isinstance(df.schema[col].dataType, (DoubleType, FloatType)):
        return c.isNull() | F.isnan(c)
    return c.isNull()


def null_audit(df: DataFrame, cols: list[str], table: str = "") -> NullAuditResult:
    """DQ3 — one job for row count + every column's null/nan count.

    The reference runs a separate pass per concern and repeats it up to 3x;
    this is a single conditional aggregate (SURVEY §2.4 A3) -> one scan, with
    map-side partial aggregation, regardless of column count.
    """
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.count(F.when(_null_cond(df, c), F.lit(1))).alias(c) for c in cols
    ]
    row = df.agg(*aggs).collect()[0]
    return NullAuditResult(
        table=table,
        n_rows=row["__n"],
        null_counts={c: row[c] for c in cols},
    )


def check_location(spark: SparkSession, path: str) -> dict:
    """Object-store-safe location DQ (S12): existence + non-empty listing
    through the Hadoop FS API, so the same check runs against file://,
    hdfs:// and s3a:// URIs (the reference shells these checks out to
    boto3, copy_files_to_s3.py:35-68 / create_s3_bucket.py:23-38)."""
    from data_engineering_nd_spark.io import fs_exists, fs_listdir

    exists = fs_exists(spark, path)
    names = fs_listdir(spark, path) if exists else []
    data_files = [n for n in names if not n.startswith(("_", "."))]
    return {
        "path": path,
        "exists": exists,
        "n_entries": len(names),
        "n_data_files": len(data_files),
        "ok": exists and bool(data_files),
    }


# ---------------------------------------------------------------------------
# driver queries
# ---------------------------------------------------------------------------


@query(
    "dq_rowcounts",
    oracle="""
    SELECT 'region' AS tbl, COUNT(*) AS n_rows FROM region
    UNION ALL SELECT 'nation', COUNT(*) FROM nation
    UNION ALL SELECT 'customer', COUNT(*) FROM customer
    UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
    UNION ALL SELECT 'part', COUNT(*) FROM part
    UNION ALL SELECT 'orders', COUNT(*) FROM orders
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'events', COUNT(*) FROM events
    UNION ALL SELECT 'documents', COUNT(*) FROM documents
    UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
    """,
)
def dq_rowcounts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ1/DQ2 surface: every registered table exists and reports its
    cardinality (a count() per table — the reference's per-table audit)."""
    frames = [
        load(spark, t, sf_dir).agg(
            F.lit(t).alias("tbl"), F.count(F.lit(1)).alias("n_rows")
        )
        for t in REGISTRY
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@query(
    "dq_pk_uniqueness",
    oracle="""
    SELECT
        COUNT(*) AS n_rows,
        COUNT(DISTINCT o_orderkey) AS n_distinct_pk,
        COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_dup_pk
    FROM orders
    """,
)
def dq_pk_uniqueness_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, "orders", sf_dir)
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_distinct_pk"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_dup_pk"),
    )



# ---------------------------------------------------------------------------
# Table reconciliation: the migration-validation operator. Given two
# versions of a table (old pipeline vs new, yesterday vs today, source vs
# replica), classify every key as only_left / only_right / value_mismatch /
# equal in ONE full-outer join. Payload comparison hashes all non-key
# columns into a single xxhash64 (column-order-canonicalized), so the
# shuffle moves keys + one 8-byte digest — not the payloads — and the
# comparison cost is independent of column count at the join.
# ---------------------------------------------------------------------------


def reconcile(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    include_equal: bool = False,
) -> DataFrame:
    """Symmetric table diff on ``key_cols``. Returns key columns + a
    ``diff_status`` column; equal rows are dropped unless requested."""
    payload = sorted(c for c in left.columns if c not in key_cols)
    if sorted(c for c in right.columns if c not in key_cols) != payload:
        raise ValueError("left/right payload columns differ — align schemas first")

    def digested(df: DataFrame, name: str) -> DataFrame:
        # xxhash64 SKIPS null inputs (the seed passes through unchanged),
        # so without a sentinel (NULL,'x') and ('x',NULL) hash identically
        # and a real value_mismatch would report as 'equal'. Coalesce each
        # payload column to a distinct non-occurring sentinel first.
        cols = [
            F.coalesce(F.col(c).cast("string"), F.lit("\u0000NULL"))
            for c in payload
        ]
        return df.select(
            *key_cols, F.xxhash64(*cols).alias(f"__h_{name}")
        )

    j = digested(left, "l").join(digested(right, "r"), key_cols, "full_outer")
    status = (
        F.when(F.col("__h_r").isNull(), F.lit("only_left"))
        .when(F.col("__h_l").isNull(), F.lit("only_right"))
        .when(F.col("__h_l") != F.col("__h_r"), F.lit("value_mismatch"))
        .otherwise(F.lit("equal"))
    )
    out = j.select(*key_cols, status.alias("diff_status"))
    return out if include_equal else out.filter(F.col("diff_status") != "equal")


@query(
    "dq_reconcile_versions",
    oracle="""
    WITH l AS (SELECT * FROM orders),
    r AS (
        SELECT o_orderkey,
               o_custkey,
               o_orderstatus,
               CASE WHEN o_orderkey % 97 = 0
                    THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 31 <> 0
    )
    SELECT
        COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
        CASE
            WHEN r.o_orderkey IS NULL THEN 'only_left'
            WHEN l.o_orderkey IS NULL THEN 'only_right'
            WHEN l.o_custkey IS DISTINCT FROM r.o_custkey
              OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
              OR l.o_totalprice IS DISTINCT FROM r.o_totalprice
              OR l.o_orderdate IS DISTINCT FROM r.o_orderdate
              OR l.o_orderpriority IS DISTINCT FROM r.o_orderpriority
            THEN 'value_mismatch'
            ELSE 'equal'
        END AS diff_status
    FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
    WHERE r.o_orderkey IS NULL OR l.o_orderkey IS NULL
       OR l.o_totalprice IS DISTINCT FROM r.o_totalprice
    """,
)
def dq_reconcile_versions_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile orders against a deterministically perturbed copy (every
    31st key dropped, every 97th price bumped) — the migration-diff shape,
    oracle-checked row-for-row."""
    o = load(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    perturbed = o.filter(F.col("o_orderkey") % 31 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    return reconcile(o, perturbed, ["o_orderkey"])


def _main(argv: list[str] | None = None) -> int:
    """Standalone data-quality CLI — the reference's
    `python i94_data_quality_check.py --tables=... --table-col=...` surface
    (JSON-typed args, i94_data_quality_check.py:131-149), computing each
    check ONCE (the reference recomputes up to 3x per table, SURVEY §3.2).
    Exits nonzero when any table is missing, empty, or has null PKs."""
    import argparse
    import json
    import os
    import sys

    from data_engineering_nd_spark.session import get_spark

    ap = argparse.ArgumentParser(
        prog="python -m data_engineering_nd_spark.operators.quality"
    )
    ap.add_argument("--path", required=True, help="warehouse base directory")
    ap.add_argument("--tables", required=True, help='JSON list: ["t1", "t2"]')
    ap.add_argument(
        "--table-col", required=True, help='JSON dict: {"t1": ["pk1"], ...}'
    )
    ap.add_argument("--fmt", default="parquet", choices=["parquet", "csv"])
    args = ap.parse_args(argv)
    tables: list[str] = json.loads(args.tables)
    table_cols: dict[str, list[str]] = json.loads(args.table_col)

    spark = get_spark(app_name="i94-data-quality")
    report: dict[str, dict] = {}
    ok = True
    for name in tables:
        path = os.path.join(args.path, name)
        if not os.path.isdir(path):
            report[name] = {"exists": False}
            ok = False
            continue
        reader = spark.read.format(args.fmt)
        if args.fmt == "csv":
            reader = reader.option("header", True)
        df = reader.load(path)
        audit = null_audit(df, table_cols.get(name, []), table=name)
        report[name] = {
            "exists": True,
            "n_rows": audit.n_rows,
            "null_counts": audit.null_counts,
            "ok": audit.ok,
        }
        ok = ok and audit.ok
    print(json.dumps({"ok": ok, "tables": report}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(_main())


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem->part', COUNT(*)
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem->supplier', COUNT(*)
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    UNION ALL
    SELECT 'orders->customer', COUNT(*)
    FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer->nation', COUNT(*)
    FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    ORDER BY fk
    """,
)
def dq_referential_integrity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan count for every foreign key in the star schema — each FK is
    one LEFT ANTI join (dimension side broadcast where bounded), so the
    whole sweep is five scans with no wide shuffle. The DQ gate a pipeline
    runs after every load; the reference's checks stop at row counts and
    PK nullability (i94_data_quality_check.py), this closes the FK class.
    """
    from data_engineering_nd_spark.catalog import load as _load

    def orphans(name, child, child_key, parent, parent_key):
        c = _load(spark, child, sf_dir)
        p = _load(spark, parent, sf_dir).select(parent_key)
        return (
            c.join(F.broadcast(p), c[child_key] == p[parent_key], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(name).alias("fk"), "n_orphans")
        )

    checks = [
        orphans("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        orphans("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        orphans("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        orphans("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        orphans("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.union(c)
    return out.orderBy("fk")


def volume_anomalies(
    df: DataFrame, day_col: Column, z_threshold: float = 2.0
) -> DataFrame:
    """Volume-anomaly detection: days whose row count deviates from the
    all-days mean by at least ``z_threshold`` standard deviations — the
    data-quality tripwire a pipeline runs on every ingest ("did a partition
    go missing / double-load?").

    Cross-engine determinism: the moments are computed from EXACT integer
    sums (sum n, sum n^2 over bigint counts), so mean/variance/z derive
    from identical doubles via one identical expression in both engines —
    no float-summation-order drift, same trick as ``temperature_mixture``.

    Scale shape: one hash-agg to day grain (a few thousand rows for a
    decade), one 1-row moment aggregate broadcast back. The corpus is
    touched once."""
    daily = df.groupBy(day_col.alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    moments = daily.agg(
        F.sum("n_rows").cast("bigint").alias("s1"),
        F.sum(F.col("n_rows") * F.col("n_rows")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    mean = F.col("s1").cast("double") / F.col("cnt").cast("double")
    var = F.col("s2").cast("double") / F.col("cnt").cast("double") - mean * mean
    # var == 0 (perfectly uniform volume) -> no anomalies, and the division
    # would raise under ANSI mode: gate it.
    z = F.when(
        var > 0, (F.col("n_rows").cast("double") - mean) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return (
        daily.crossJoin(F.broadcast(moments))
        .filter(F.abs(z) >= F.lit(z_threshold))
        .select("day", "n_rows", F.round(z, 4).alias("z_score"))
        .orderBy("day")
    )


@query(
    "dq_volume_anomalies",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(n_rows) AS BIGINT) AS s1,
               CAST(SUM(n_rows * n_rows) AS BIGINT) AS s2,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM daily
    ),
    z AS (
        SELECT day, n_rows,
               CASE WHEN CAST(s2 AS DOUBLE) / CAST(cnt AS DOUBLE)
                         - (CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
                           * (CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE)) > 0
                    THEN (CAST(n_rows AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
                         / sqrt(CAST(s2 AS DOUBLE) / CAST(cnt AS DOUBLE)
                                - (CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
                                  * (CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE)))
                    ELSE 0.0 END AS zval
        FROM daily, s
    )
    SELECT CAST(day AS TIMESTAMP) AS day, n_rows, round(zval, 4) AS z_score
    FROM z
    WHERE abs(zval) >= 2.0
    ORDER BY day
    """,
)
def dq_volume_anomalies_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose order volume is >= 2 sigma from the mean — the ingest
    health report."""
    orders = load(spark, "orders", sf_dir)
    return volume_anomalies(
        orders, F.col("o_orderdate").cast("date").cast("timestamp_ntz")
    )


def distribution_drift(
    base: DataFrame,
    current: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
) -> DataFrame:
    """Population-Stability-Index report between two snapshots of a
    numeric column: fixed-width buckets over [lo, hi) (clamped), Laplace
    smoothing, and each bucket's PSI contribution
    ``(p - q) * ln(p / q)``. PSI > 0.2 is the standard "distribution
    moved" alarm for feature/ingest monitoring.

    Determinism: bucket counts are exact integers; p and q derive from
    them through one identical expression in both engines, so the rounded
    contributions value-hash. Scale: one hash-agg per side at bucket
    grain (n_buckets rows each), then a broadcast-size join — the two
    snapshots are each scanned once."""

    def bucketed(df: DataFrame, name: str) -> DataFrame:
        width = (hi - lo) / n_buckets
        b = F.least(
            F.greatest(
                F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)), F.lit(0)
            ),
            F.lit(n_buckets - 1),
        ).cast("int")
        return df.groupBy(b.alias("bucket")).agg(
            F.count(F.lit(1)).cast("bigint").alias(f"{name}_cnt")
        )

    all_buckets = (
        base.sparkSession.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    )
    joined = (
        all_buckets.join(bucketed(base, "base"), "bucket", "left")
        .join(bucketed(current, "cur"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("base_cnt", F.lit(0)).alias("base_cnt"),
            F.coalesce("cur_cnt", F.lit(0)).alias("cur_cnt"),
        )
    )
    totals = joined.agg(
        F.sum("base_cnt").alias("bt"), F.sum("cur_cnt").alias("ct")
    )
    nb = F.lit(float(n_buckets))
    p = (F.col("base_cnt").cast("double") + F.lit(1.0)) / (
        F.col("bt").cast("double") + nb
    )
    q = (F.col("cur_cnt").cast("double") + F.lit(1.0)) / (
        F.col("ct").cast("double") + nb
    )
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            "base_cnt",
            "cur_cnt",
            F.round((p - q) * F.log(p / q), 6).alias("psi_contribution"),
        )
        .orderBy("bucket")
    )


@query(
    "dq_distribution_drift",
    oracle="""
    WITH b AS (
        SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 50000.0), 0),
                          9) AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS base_cnt
        FROM orders
        WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        GROUP BY 1
    ),
    c AS (
        SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 50000.0), 0),
                          9) AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cur_cnt
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        GROUP BY 1
    ),
    spine AS (SELECT CAST(t.g AS INT) AS bucket FROM unnest(range(10)) AS t(g)),
    j AS (
        SELECT spine.bucket,
               COALESCE(b.base_cnt, 0) AS base_cnt,
               COALESCE(c.cur_cnt, 0) AS cur_cnt
        FROM spine
        LEFT JOIN b ON b.bucket = spine.bucket
        LEFT JOIN c ON c.bucket = spine.bucket
    ),
    s AS (SELECT CAST(SUM(base_cnt) AS BIGINT) AS bt,
                 CAST(SUM(cur_cnt) AS BIGINT) AS ct FROM j)
    SELECT bucket, base_cnt, cur_cnt,
           round(((CAST(base_cnt AS DOUBLE) + 1.0) / (CAST(bt AS DOUBLE) + 10.0)
                  - (CAST(cur_cnt AS DOUBLE) + 1.0) / (CAST(ct AS DOUBLE) + 10.0))
                 * ln(((CAST(base_cnt AS DOUBLE) + 1.0) / (CAST(bt AS DOUBLE) + 10.0))
                      / ((CAST(cur_cnt AS DOUBLE) + 1.0) / (CAST(ct AS DOUBLE) + 10.0))),
                 6) AS psi_contribution
    FROM j, s
    ORDER BY bucket
    """,
)
def dq_distribution_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of the order-price distribution: pre-1996 orders as the
    baseline snapshot vs 1996+ as current — the report a feature-store /
    ingest monitor publishes per column per day."""
    orders = load(spark, "orders", sf_dir)
    cutoff = F.col("o_orderdate").cast("date") < F.lit("1996-01-01").cast("date")
    return distribution_drift(
        orders.filter(cutoff),
        orders.filter(~cutoff),
        "o_totalprice",
        lo=0.0,
        hi=500_000.0,
        n_buckets=10,
    )


# ---------------------------------------------------------------------------
# Declarative expectation suite: N checks per table in ONE pass
# ---------------------------------------------------------------------------


def expectation_suite(
    df: DataFrame,
    table_name: str,
    checks: "list[tuple[str, Column, int, str]]",
) -> DataFrame:
    """Evaluate a list of declarative expectations over ``df`` in ONE
    aggregation pass and return the long-format report
    (table_name, expectation, observed, threshold, op, passed).

    Each check is (name, observed_agg_expr -> BIGINT, threshold, op)
    with op '>=' (observed must reach threshold, e.g. row counts) or
    '<=' (observed must not exceed it, e.g. violation counts). All
    observations are exact integer counts, so pass/fail decisions are
    bit-identical across engines and retries — the same reason
    volume_anomalies uses integer moments.

    This generalizes the reference's DataQualityOperator
    (dq checks driven by {'table', 'expected_result'} dicts,
    Capstone airflow/plugins/operators/data_quality.py) into the
    dbt-test / Great-Expectations shape: N expectations cost ONE
    scan + ONE 1-row aggregate per table, not N queries — at 100 TB
    the difference between a nightly suite and an all-day one. A
    failing expectation is a report ROW (passed=false), not a query
    error, so one bad check can't hide the rest of the suite."""
    aggs = [c.cast("bigint").alias(f"_e{i}") for i, (n, c, t, o) in enumerate(checks)]
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(name).alias("expectation"),
                F.col(f"_e{i}").alias("observed"),
                F.lit(int(threshold)).cast("bigint").alias("threshold"),
                F.lit(op).alias("op"),
            )
            for i, (name, _, threshold, op) in enumerate(checks)
        ]
    )
    passed = F.when(
        F.col("e.op") == ">=", F.col("e.observed") >= F.col("e.threshold")
    ).otherwise(F.col("e.observed") <= F.col("e.threshold"))
    return row.select(F.explode(entries).alias("e")).select(
        F.lit(table_name).alias("table_name"),
        F.col("e.expectation").alias("expectation"),
        F.col("e.observed").alias("observed"),
        F.col("e.threshold").alias("threshold"),
        F.col("e.op").alias("op"),
        passed.alias("passed"),
    )


@query(
    "dq_expectation_suite",
    oracle="""
    WITH o AS (
        SELECT COUNT(*) AS cnt,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS pk_dupes,
               SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS custkey_nulls,
               SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS nonpos_total,
               SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
                   AS status_domain
        FROM orders
    ),
    l AS (
        SELECT COUNT(*) AS cnt,
               SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS orderkey_nulls,
               SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
                   AS qty_range,
               SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS high_discount
        FROM lineitem
    )
    SELECT * FROM (
        SELECT 'orders' AS table_name, 'row_count_min' AS expectation,
               CAST(cnt AS BIGINT) AS observed, CAST(100 AS BIGINT) AS threshold,
               '>=' AS op, cnt >= 100 AS passed FROM o
        UNION ALL
        SELECT 'orders', 'pk_unique_violations', CAST(pk_dupes AS BIGINT),
               CAST(0 AS BIGINT), '<=', pk_dupes <= 0 FROM o
        UNION ALL
        SELECT 'orders', 'custkey_nulls', CAST(custkey_nulls AS BIGINT),
               CAST(0 AS BIGINT), '<=', custkey_nulls <= 0 FROM o
        UNION ALL
        SELECT 'orders', 'totalprice_nonpositive', CAST(nonpos_total AS BIGINT),
               CAST(0 AS BIGINT), '<=', nonpos_total <= 0 FROM o
        UNION ALL
        SELECT 'orders', 'status_domain_violations', CAST(status_domain AS BIGINT),
               CAST(0 AS BIGINT), '<=', status_domain <= 0 FROM o
        UNION ALL
        SELECT 'lineitem', 'row_count_min', CAST(cnt AS BIGINT),
               CAST(100 AS BIGINT), '>=', cnt >= 100 FROM l
        UNION ALL
        SELECT 'lineitem', 'orderkey_nulls', CAST(orderkey_nulls AS BIGINT),
               CAST(0 AS BIGINT), '<=', orderkey_nulls <= 0 FROM l
        UNION ALL
        SELECT 'lineitem', 'quantity_range_violations', CAST(qty_range AS BIGINT),
               CAST(0 AS BIGINT), '<=', qty_range <= 0 FROM l
        UNION ALL
        SELECT 'lineitem', 'discount_above_8pct', CAST(high_discount AS BIGINT),
               CAST(0 AS BIGINT), '<=', high_discount <= 0 FROM l
    )
    """,
)
def dq_expectation_suite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nine declarative expectations over orders and lineitem, one scan
    per table: row-count floors, PK uniqueness, null-free FKs, value
    ranges, and a domain check — plus one deliberately tight rule
    (discount_above_8pct) that FAILS on TPC-H data, pinning that the
    suite reports failures as rows instead of dying on them."""
    from data_engineering_nd_spark.catalog import load

    o = load(spark, "orders", sf_dir)
    li = load(spark, "lineitem", sf_dir)
    cnt = F.count(F.lit(1))
    orders_checks = [
        ("row_count_min", cnt, 100, ">="),
        ("pk_unique_violations", cnt - F.countDistinct("o_orderkey"), 0, "<="),
        ("custkey_nulls", F.count(F.when(F.col("o_custkey").isNull(), 1)), 0, "<="),
        ("totalprice_nonpositive",
         F.count(F.when(F.col("o_totalprice") <= 0, 1)), 0, "<="),
        ("status_domain_violations",
         F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)), 0, "<="),
    ]
    lineitem_checks = [
        ("row_count_min", cnt, 100, ">="),
        ("orderkey_nulls", F.count(F.when(F.col("l_orderkey").isNull(), 1)), 0, "<="),
        ("quantity_range_violations",
         F.count(F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)),
         0, "<="),
        ("discount_above_8pct",
         F.count(F.when(F.col("l_discount") > 0.08, 1)), 0, "<="),
    ]
    return expectation_suite(o, "orders", orders_checks).unionByName(
        expectation_suite(li, "lineitem", lineitem_checks)
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnosis: the report you run BEFORE choosing a join
# strategy (broadcast / salt / AQE skew-join) at scale
# ---------------------------------------------------------------------------


def key_skew_report(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per candidate key column: cardinality, hottest-key mass, and the
    skew ratio (hottest count / mean count). ratio >> 1 on a join key
    means one reducer eats the key — route it to salting (q75) or AQE
    skew handling. One hash-agg per column over pruned scans; the report
    itself is len(columns) rows."""
    reports = []
    for c in columns:
        per_key = df.groupBy(c).agg(F.count(F.lit(1)).alias("__n"))
        reports.append(
            per_key.agg(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
                F.sum("__n").cast("bigint").alias("n_rows"),
                F.max("__n").cast("bigint").alias("max_key_count"),
            ).select(
                "column_name",
                "n_distinct",
                "n_rows",
                "max_key_count",
                # hottest/mean = max * n_distinct / n_rows, computed as one
                # exact-integer product divided once (deterministic IEEE)
                F.floor(
                    (F.col("max_key_count") * F.col("n_distinct")).cast("double")
                    / F.col("n_rows").cast("double")
                    * F.lit(10000.0)
                    + F.lit(0.5)
                ).cast("bigint").alias("skew_ratio_e4"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


@query(
    "dq_key_skew_report",
    oracle="""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    per_type AS (
        SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    )
    SELECT 'user_id' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_key_count,
           CAST(floor(CAST(MAX(n) * COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                      * 10000.0 + 0.5) AS BIGINT) AS skew_ratio_e4
    FROM per_user
    UNION ALL
    SELECT 'event_type',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n) AS BIGINT),
           CAST(MAX(n) AS BIGINT),
           CAST(floor(CAST(MAX(n) * COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                      * 10000.0 + 0.5) AS BIGINT)
    FROM per_type
    """,
)
def dq_key_skew_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis over the two natural events join keys: user_id
    (high-cardinality, mild skew) and event_type (5 keys, extreme skew —
    the q75 salting candidate). Both profiles value-hashed."""
    ev = load(spark, "events", sf_dir)
    return key_skew_report(ev, ["user_id", "event_type"])


# ---------------------------------------------------------------------------
# Benford first-digit conformance: naturally-occurring monetary amounts
# follow P(d) = log10(1 + 1/d); synthetic, capped, fabricated, or
# unit-mangled feeds do not. A classic one-hash-agg data-forensics check
# (Benford 1938; standard in fraud audit) for the DQ suite.
# ---------------------------------------------------------------------------

#: log10(1 + 1/d) rounded to 6 dp — shared literals on both engines, so no
#: runtime log10() (libm rounding is not cross-engine stable).
_BENFORD_P = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


def benford_digit_check(
    df: DataFrame, col: str
) -> DataFrame:
    """Per first-significant-digit observed share vs the Benford
    expectation, with an e6-scaled chi-square-style deviation term per
    digit. The first digit comes from the INTEGER part rendered as a
    string (values here are >= 1; no float log10), the shares are one
    IEEE division of exact counts, and the deviation terms are
    floor-rounded to BIGINT — everything cross-engine exact.

    Scale shape: one map-side-combinable hash-agg to <= 9 rows; the
    window total runs over those 9 rows, not the data."""
    from pyspark.sql.window import Window

    from data_engineering_nd_spark.functions.numeric import (
        round_half_up,
        round_half_up_long,
    )

    p_expr = F.lit(None).cast("double")
    for d, p in _BENFORD_P.items():
        p_expr = F.when(F.col("digit") == d, F.lit(p)).otherwise(p_expr)
    digits = df.select(
        F.substring(F.floor(F.col(col)).cast("bigint").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    total = F.sum("n_obs").over(Window.partitionBy())
    share = F.col("n_obs").cast("double") / F.col("n_total").cast("double")
    return (
        counts.withColumn("n_total", total)
        .withColumn("p_benford", p_expr)
        .select(
            "digit",
            F.col("n_obs").cast("bigint").alias("n_obs"),
            F.col("n_total").cast("bigint").alias("n_total"),
            round_half_up(share, 6).alias("obs_share"),
            "p_benford",
            round_half_up_long(
                (share - F.col("p_benford"))
                * (share - F.col("p_benford"))
                / F.col("p_benford")
                * F.lit(1000000.0)
            ).alias("chi_term_e6"),
        )
    )


def _benford_case_sql() -> str:
    arms = " ".join(
        f"WHEN digit = {d} THEN {p}" for d, p in _BENFORD_P.items()
    )
    return f"CASE {arms} ELSE NULL END"


@query(
    "dq_benford_digit_check",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INT) AS digit
        FROM orders
    ),
    counts AS (
        SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY digit
    ),
    w AS (
        SELECT digit, n_obs,
               SUM(n_obs) OVER () AS n_total,
               {_benford_case_sql()} AS p_benford
        FROM counts
    )
    SELECT digit,
           CAST(n_obs AS BIGINT) AS n_obs,
           CAST(n_total AS BIGINT) AS n_total,
           floor(CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS obs_share,
           CAST(p_benford AS DOUBLE) AS p_benford,
           CAST(floor((CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) - p_benford)
                      * (CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) - p_benford)
                      / p_benford * 1000000.0 + 0.5) AS BIGINT) AS chi_term_e6
    FROM w
    """,
)
def dq_benford_digit_check_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford conformance of order totals: per-digit observed share vs
    log10(1 + 1/d) with e6 deviation terms. TPC-H-ish totalprice is a sum
    of many uniform-ish line amounts, so it deviates from Benford in a
    STABLE way — the value-hash pins the whole profile, and a generator
    change that shifts the money distribution shows up here first."""
    o = load(spark, "orders", sf_dir)
    return benford_digit_check(o, "o_totalprice")


# ---------------------------------------------------------------------------
# Functional-dependency profiling: does column A determine column B?  The
# schema-inference / normalization / DQ-contract primitive ("order id must
# determine priority"; "zip must determine state").  Violations are exact:
# a determinant value with more than one distinct dependent value.
# ---------------------------------------------------------------------------


def functional_dependency_report(
    df: DataFrame, fds: list[tuple[str, str]]
) -> DataFrame:
    """One report row per candidate dependency det -> dep: determinant
    cardinality, how many determinant values map to >1 distinct
    dependent, the worst fan-out, the violation share (6 dp), and a holds
    flag. All counts are exact integers.

    Scale shape: each FD is one hash-agg on the determinant with a
    distinct-count of the dependent (two-level partial agg, map-side
    combinable) followed by a <= n_keys-row rollup — no joins, no
    windows. Candidate FDs are independent; Spark runs the per-FD aggs
    as separate stages off the same column-pruned scan."""
    from data_engineering_nd_spark.functions.numeric import round_half_up

    reports = []
    for det, dep in fds:
        per_key = df.groupBy(det).agg(
            F.countDistinct(dep).alias("n_dep")
        )
        reports.append(
            per_key.agg(
                F.lit(f"{det}->{dep}").alias("fd"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.sum(F.when(F.col("n_dep") > 1, F.lit(1)).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("n_violating"),
                F.max("n_dep").cast("bigint").alias("max_fanout"),
            ).select(
                "fd",
                "n_keys",
                "n_violating",
                "max_fanout",
                round_half_up(
                    F.col("n_violating").cast("double")
                    / F.col("n_keys").cast("double"),
                    6,
                ).alias("violation_share"),
                F.when(F.col("n_violating") == 0, F.lit(1))
                .otherwise(F.lit(0))
                .alias("holds"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


_FD_CANDIDATES = [
    ("o_orderkey", "o_orderpriority"),   # PK determines everything: holds
    ("o_custkey", "o_orderstatus"),      # repeat customers change status
    ("o_orderpriority", "o_orderstatus"),   # 5 keys, 3 statuses: violated
]


@query(
    "dq_functional_dependency",
    oracle="""
    WITH fd1 AS (
        SELECT o_orderkey AS k, COUNT(DISTINCT o_orderpriority) AS n_dep
        FROM orders GROUP BY 1
    ),
    fd2 AS (
        SELECT o_custkey AS k, COUNT(DISTINCT o_orderstatus) AS n_dep
        FROM orders GROUP BY 1
    ),
    fd3 AS (
        SELECT o_orderpriority AS k, COUNT(DISTINCT o_orderstatus) AS n_dep
        FROM orders GROUP BY 1
    ),
    rollup_all AS (
        SELECT 'o_orderkey->o_orderpriority' AS fd,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
               CAST(MAX(n_dep) AS BIGINT) AS max_fanout
        FROM fd1
        UNION ALL
        SELECT 'o_custkey->o_orderstatus',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(MAX(n_dep) AS BIGINT)
        FROM fd2
        UNION ALL
        SELECT 'o_orderpriority->o_orderstatus',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(MAX(n_dep) AS BIGINT)
        FROM fd3
    )
    SELECT fd, n_keys, n_violating, max_fanout,
           floor(CAST(n_violating AS DOUBLE) / CAST(n_keys AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS violation_share,
           CASE WHEN n_violating = 0 THEN 1 ELSE 0 END AS holds
    FROM rollup_all
    """,
)
def dq_functional_dependency_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three candidate dependencies over orders with mixed outcomes: the
    PK trivially determines priority (holds), while repeat customers
    break custkey->status and the 5 priorities fan out to multiple
    statuses. Exact distinct counts; one agg per FD."""
    orders = load(spark, "orders", sf_dir)
    return functional_dependency_report(orders, _FD_CANDIDATES)


# ---------------------------------------------------------------------------
# Candidate-key discovery: which columns uniquely identify a row
# ---------------------------------------------------------------------------

_KEY_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_orderdate", "o_orderpriority",
)


@query(
    "dq_candidate_keys",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           CAST(CASE WHEN COUNT(DISTINCT {c}) = COUNT(*)
                      AND SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS is_key
    FROM orders
    """
        for c in _KEY_COLS
    ),
)
def dq_candidate_keys_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery over orders: per column, row count,
    exact distinct count, null count and the is-key verdict (distinct ==
    rows, zero nulls) — the schema-profiling step that finds which
    columns can serve as a merge/dedup key, joining the
    functional-dependency and PK-uniqueness checks in the DQ family.

    ONE aggregate pass computes every column's profile (map-side
    combinable; no pass-per-column), then the single profile row
    unpivots to long format — at 100 TB key discovery costs one scan
    regardless of how many candidate columns are checked."""
    from data_engineering_nd_spark.catalog import load

    orders = load(spark, "orders", sf_dir)
    aggs = []
    for c in _KEY_COLS:
        aggs += [
            F.count(F.lit(1)).cast("bigint").alias(f"rows_{c}"),
            F.count_distinct(F.col(c)).cast("bigint").alias(f"nd_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"nn_{c}"),
        ]
    row = orders.agg(*aggs)
    parts = []
    for c in _KEY_COLS:
        parts.append(
            row.select(
                F.lit(c).alias("column_name"),
                F.col(f"rows_{c}").alias("n_rows"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"nn_{c}").alias("n_nulls"),
                F.when(
                    (F.col(f"nd_{c}") == F.col(f"rows_{c}"))
                    & (F.col(f"nn_{c}") == 0),
                    1,
                )
                .otherwise(0)
                .cast("bigint")
                .alias("is_key"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Per-partition completeness profile: the DQ rollup partition owners read
# ---------------------------------------------------------------------------


@query(
    "dq_completeness_by_partition",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT)
               AS user_nulls,
           CAST(COUNT(CASE WHEN value IS NULL OR isnan(value) THEN 1 END)
               AS BIGINT) AS value_bad,
           CAST(COUNT(CASE WHEN props IS NULL THEN 1 END) AS BIGINT)
               AS props_nulls,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST((COUNT(*) - COUNT(CASE WHEN user_id IS NULL THEN 1 END))
                * 1000000 // COUNT(*) AS BIGINT) AS user_complete_e6
    FROM events GROUP BY 1
    """,
)
def dq_completeness_by_partition_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-day completeness profile of the events stream — the rollup a
    partition owner reads before promoting a day's data: row volume,
    per-column null/NaN counts, distinct users, and an e6-exact
    completeness ratio per ingestion day. The global
    :func:`q05_null_audit` says WHETHER the table has holes; this says
    WHICH partition regressed — the view that turns a DQ alert into a
    reprocess-one-day action instead of a table-wide investigation.

    One map-side-combinable hash-agg keyed by day (the natural
    partition key, so at 100 TB the agg aligns with the layout and
    shuffles day-local partials); the ratio is a BIGINT floor
    division."""
    ev = load(spark, "events", sf_dir)
    day = F.to_date("ts").alias("day")
    return ev.groupBy(day).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count(F.when(F.col("user_id").isNull(), 1)).cast("bigint")
        .alias("user_nulls"),
        F.count(
            F.when(F.col("value").isNull() | F.isnan("value"), 1)
        ).cast("bigint").alias("value_bad"),
        F.count(F.when(F.col("props").isNull(), 1)).cast("bigint")
        .alias("props_nulls"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    ).select(
        F.col("day").cast("timestamp_ntz").alias("day"),
        "n_rows",
        "user_nulls",
        "value_bad",
        "props_nulls",
        "n_users",
        F.expr(
            "((n_rows - user_nulls) * 1000000) div n_rows"
        ).cast("bigint").alias("user_complete_e6"),
    )
