"""Star-schema analytics layer.

The reference promises this layer but never ships it: its snowflake model
exists so the 10 README questions (Capstone/README.md:21-30 — "which
countries/cities/airports see the most visitors", monthly trends, average
stay duration...) can be answered downstream "in a Notebook or Athena"
(Explore_using_PySpark.ipynb cell 0). Here those query shapes are implemented
against the driver's TPC-H-ish testdata, exercising every operator family in
SURVEY.md §2: scans, projections/casts (P1-P4), filters (P5-P9), the implied
equi-join surface (§2.3) with explicit broadcasts, aggregations (A1-A6),
windows (§2.5), sorts/top-k (§2.6), unions (§2.7), scalar/date kernels
(§2.8-2.9, incl. the UD1/UD2 native replacements).

Scale notes (100 TB): every join here either broadcasts a bounded dimension
(region/nation/dict-style mappings) or is an equi-join on the fact's natural
key, which AQE plans as sort-merge with skew splitting; aggregates are
partial-aggregated map-side by Catalyst; filters and column pruning reach the
parquet scans (verified via .explain in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_engineering_nd_spark.catalog import load
from data_engineering_nd_spark.functions.dates import flexible_date, sas_date, weekend_flag
from data_engineering_nd_spark.registry import query


def dsum(col: Column, scale: int = 4) -> Column:
    """Order-independent double sum: accumulate in DECIMAL, emit DOUBLE.

    Plain double summation is non-associative, so Spark and the DuckDB oracle
    (different partition/summation orders) can disagree in the last ulp;
    decimal accumulation is exact, and exact-decimal -> double is a single
    well-defined rounding. Oracle mirror:
    CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE).
    """
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column, scale: int = 4) -> Column:
    """Deterministic average: decimal-sum as double / count as double."""
    return dsum(col, scale) / F.count(col).cast("double")


# --------------------------------------------------------------------------
# q01 — pricing summary (TPC-H Q1 shape): filter + groupBy + 8 aggregates.
# Exercises A1/A2-style aggregation with map-side partial agg; the predicate
# pushes to the parquet scan.
# --------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc, 6).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            (dsum(F.col("l_quantity")) / F.count(F.lit(1)).cast("double")).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q02 — flagship: top destination nations by revenue. The reference's
# "which countries see the most visitors" (README.md:22) re-expressed:
# fact ⋈ fact ⋈ dim ⋈ tiny-dim ⋈ tiny-dim, broadcast tiny dims, top-N.
# --------------------------------------------------------------------------
@query(
    "q02_top_nations_by_revenue",
    oracle="""
    SELECT
        n.n_name,
        r.r_name,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        COUNT(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    ORDER BY revenue DESC, n_name
    LIMIT 10
    """,
)
def q02_top_nations_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    orders = load(spark, "orders", sf_dir)
    cust = load(spark, "customer", sf_dir)
    nation = load(spark, "nation", sf_dir)
    region = load(spark, "region", sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        # nation/region are bounded dims (25/5 rows at any SF): broadcast.
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            dsum(revenue, 6).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), "n_name")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q03 — monthly trend (README Q1/Q5 shape: "what time of year sees the most
# visitors"): date-part extraction + group-count, the A5 family.
# --------------------------------------------------------------------------
@query(
    "q03_monthly_order_trend",
    oracle="""
    SELECT
        CAST(year(o_orderdate) AS INTEGER) AS order_year,
        CAST(month(o_orderdate) AS INTEGER) AS order_month,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM orders
    GROUP BY order_year, order_month
    """,
)
def q03_monthly_order_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, "orders", sf_dir)
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# q04 — DISTINCT projection (A4: the reference dedups every table build via
# dropDuplicates / SELECT DISTINCT, etl.py:172,203,208...).
# --------------------------------------------------------------------------
@query(
    "q04_distinct_projection",
    oracle="""
    SELECT DISTINCT
        l_returnflag,
        l_linestatus,
        CAST(year(l_shipdate) AS INTEGER) AS ship_year
    FROM lineitem
    """,
)
def q04_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    return li.select(
        "l_returnflag",
        "l_linestatus",
        F.year("l_shipdate").alias("ship_year"),
    ).dropDuplicates()


# --------------------------------------------------------------------------
# q05 — single-pass conditional null/nan audit (A3 + DQ3; the reference's
# i94_data_quality_check.py:89-107 kernel, computed once, not 3x).
# COUNT(CASE WHEN cond THEN 1 END) on both sides -> BIGINT, schema-stable.
# --------------------------------------------------------------------------
@query(
    "q05_null_audit",
    oracle="""
    SELECT
        COUNT(CASE WHEN event_id IS NULL THEN 1 END) AS event_id_nulls,
        COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS user_id_nulls,
        COUNT(CASE WHEN value IS NULL OR isnan(value) THEN 1 END) AS value_nulls,
        COUNT(CASE WHEN props IS NULL THEN 1 END) AS props_nulls,
        COUNT(*) AS n_rows
    FROM events
    """,
)
def q05_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)

    def null_count(cond: Column, name: str) -> Column:
        return F.count(F.when(cond, F.lit(1))).alias(name)

    return ev.agg(
        null_count(F.col("event_id").isNull(), "event_id_nulls"),
        null_count(F.col("user_id").isNull(), "user_id_nulls"),
        null_count(F.col("value").isNull() | F.isnan("value"), "value_nulls"),
        null_count(F.col("props").isNull(), "props_nulls"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# q06 — top-k per group via window (SURVEY §2.5: the ranking surface the
# reference's README questions imply). row_number with a key tie-break keeps
# the cut deterministic.
# --------------------------------------------------------------------------
@query(
    "q06_top_customers_per_nation",
    oracle="""
    WITH spend AS (
        SELECT
            n.n_name,
            c.c_custkey,
            c.c_name,
            CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, c.c_custkey, c.c_name
    )
    SELECT n_name, c_custkey, c_name, total_spend, rank_in_nation
    FROM (
        SELECT *,
            CAST(ROW_NUMBER() OVER (
                PARTITION BY n_name
                ORDER BY total_spend DESC, c_custkey
            ) AS INTEGER) AS rank_in_nation
        FROM spend
    )
    WHERE rank_in_nation <= 3
    """,
)
def q06_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, "orders", sf_dir)
    cust = load(spark, "customer", sf_dir)
    nation = load(spark, "nation", sf_dir)
    spend = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_custkey", "c_name")
        .agg(dsum(F.col("o_totalprice")).alias("total_spend"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("total_spend"), "c_custkey")
    return (
        spend.withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= 3)
        .select("n_name", "c_custkey", "c_name", "total_spend", "rank_in_nation")
    )


# --------------------------------------------------------------------------
# q07 — date dimension (the reference's i94_dates, etl.py:355-376: distinct
# dates of the fact -> year/month/day/dow/weekend-flag attributes).
# Spark dayofweek is 1=Sunday..7=Saturday; DuckDB dayofweek is 0=Sunday.
# --------------------------------------------------------------------------
@query(
    "q07_date_dimension",
    oracle="""
    SELECT DISTINCT
        CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS date_key,
        CAST(year(o_orderdate) AS INTEGER) AS year,
        CAST(month(o_orderdate) AS INTEGER) AS month,
        CAST(dayofmonth(o_orderdate) AS INTEGER) AS day_of_month,
        CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS day_of_week,
        CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 'weekend' ELSE 'weekday' END AS weekend_flag
    FROM orders
    """,
)
def q07_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, "orders", sf_dir)
    d = F.to_date("o_orderdate")
    # date-typed outputs are surfaced as midnight timestamps so Spark's
    # toPandas (datetime.date) and DuckDB's (datetime64) canonicalize alike.
    return orders.select(
        d.cast("timestamp_ntz").alias("date_key"),
        F.year(d).alias("year"),
        F.month(d).alias("month"),
        F.dayofmonth(d).alias("day_of_month"),
        F.dayofweek(d).alias("day_of_week"),
        weekend_flag(d).alias("weekend_flag"),
    ).dropDuplicates()


# --------------------------------------------------------------------------
# q08 — SAS epoch date kernel (UD1 parity, native: SURVEY §2.9). The day
# offsets here come from l_quantity standing in for SAS arrdate doubles.
# --------------------------------------------------------------------------
@query(
    "q08_sas_date_kernel",
    oracle="""
    SELECT DISTINCT
        CAST(l_quantity AS INTEGER) AS day_offset,
        CAST(DATE '1960-01-01' + CAST(l_quantity AS INTEGER) AS TIMESTAMP) AS sas_date
    FROM lineitem
    WHERE l_quantity IS NOT NULL
    """,
)
def q08_sas_date_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_quantity").isNotNull())
        .select(
            F.col("l_quantity").cast("int").alias("day_offset"),
            sas_date(F.col("l_quantity")).cast("timestamp_ntz").alias("sas_date"),
        )
        .dropDuplicates()
    )


# --------------------------------------------------------------------------
# q09 — ambiguous-8-digit-date kernel (UD2 *intended* semantics — the shipped
# reference UDF is dead code, SURVEY §2.9/§7.4). Strings are synthesized from
# o_orderdate in both formats plus junk rows ('D/S', like the real dtaddto
# junk in FIXTURES.md §5), then parsed back.
# --------------------------------------------------------------------------
_Q09_YEARS = tuple(range(1995, 2002))

@query(
    "q09_flexible_date_kernel",
    oracle=f"""
    WITH raw AS (
        SELECT
            o_orderkey,
            CASE
                WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y%m%d')
                WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%m%d%Y')
                ELSE 'D/S'
            END AS date_str
        FROM orders
    )
    SELECT
        o_orderkey,
        date_str,
        CASE
            WHEN substr(date_str, 1, 4) IN {tuple(str(y) for y in _Q09_YEARS)}
                THEN CAST(CAST(try_strptime(date_str, '%Y%m%d') AS DATE) AS TIMESTAMP)
            WHEN right(date_str, 4) IN {tuple(str(y) for y in _Q09_YEARS)}
                THEN CAST(CAST(try_strptime(date_str, '%m%d%Y') AS DATE) AS TIMESTAMP)
            ELSE NULL
        END AS parsed_date
    FROM raw
    """,
)
def q09_flexible_date_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, "orders", sf_dir)
    raw = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyyMMdd"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "MMddyyyy"))
        .otherwise(F.lit("D/S"))
        .alias("date_str"),
    )
    return raw.select(
        "o_orderkey",
        "date_str",
        flexible_date("date_str", valid_years=_Q09_YEARS)
        .cast("timestamp_ntz")
        .alias("parsed_date"),
    )


# --------------------------------------------------------------------------
# q10 — average interval (README Q9 shape, "average duration of stay":
# avg(datediff(departure, arrival))) as ship delay per order priority.
# --------------------------------------------------------------------------
@query(
    "q10_avg_ship_delay",
    oracle="""
    SELECT
        o.o_orderpriority,
        CAST(SUM(datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS avg_delay_days,
        COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q10_avg_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    orders = load(spark, "orders", sf_dir)
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            (F.sum(delay).cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avg_delay_days"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# q11 — union-by-name fold (U1/U2: the reference's monthly-file concat,
# etl.py:97-108, switched from positional unionAll to by-name).
# --------------------------------------------------------------------------
@query(
    "q11_union_by_name",
    oracle="""
    SELECT o_orderkey, 'high' AS bucket, o_totalprice FROM orders WHERE o_totalprice > 300000
    UNION ALL
    SELECT o_orderkey, 'low' AS bucket, o_totalprice FROM orders WHERE o_totalprice < 10000
    """,
)
def q11_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, "orders", sf_dir)
    hi = orders.filter(F.col("o_totalprice") > 300000).select(
        "o_orderkey", F.lit("high").alias("bucket"), "o_totalprice"
    )
    # deliberately different column order: unionByName aligns by name.
    lo = orders.filter(F.col("o_totalprice") < 10000).select(
        F.lit("low").alias("bucket"), "o_orderkey", "o_totalprice"
    )
    return hi.unionByName(lo)


# --------------------------------------------------------------------------
# q12 — string kernel battery (F2/F3/F4/F8: UPPER, SPLIT[i], CASE..LIKE —
# the airport-table transforms, etl.py:291-311).
# --------------------------------------------------------------------------
@query(
    "q12_string_kernels",
    oracle="""
    SELECT
        p_partkey,
        upper(p_brand) AS brand_upper,
        split_part(p_type, ' ', 1) AS type_head,
        CASE WHEN p_type LIKE 'PROMO%' THEN 'promo' ELSE 'other' END AS promo_flag,
        string_split(p_name, ' ')[-1] AS name_tail
    FROM part
    """,
)
def q12_string_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, "part", sf_dir)
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        F.when(F.col("p_type").like("PROMO%"), F.lit("promo"))
        .otherwise(F.lit("other"))
        .alias("promo_flag"),
        # F9 parity: the "city, state" rsplit-from-the-right idiom.
        F.substring_index(F.col("p_name"), " ", -1).alias("name_tail"),
    )


# --------------------------------------------------------------------------
# q13 — local-collection dictionary dim + broadcast join (S6 + §2.3: the
# i94 travel-mode/visa dictionary pattern — a tiny driver-side mapping
# becomes a broadcast dimension).
# --------------------------------------------------------------------------
_EVENT_CATEGORIES = [
    ("click", "engagement"),
    ("view", "engagement"),
    ("signup", "growth"),
    ("purchase", "revenue"),
    ("error", "ops"),
]

@query(
    "q13_dictionary_broadcast_join",
    oracle="""
    SELECT
        m.category,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
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
def q13_dictionary_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    dim = spark.createDataFrame(_EVENT_CATEGORIES, ["event_type", "category"])
    return (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# q14 — filter + distinct (the i94_flights build, etl.py:258-281:
# SELECT DISTINCT ... WHERE fltno IS NOT NULL).
# --------------------------------------------------------------------------
@query(
    "q14_filtered_distinct",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    WHERE props IS NOT NULL AND event_type <> 'error'
    """,
)
def q14_filtered_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    return (
        ev.filter(F.col("props").isNotNull() & (F.col("event_type") != "error"))
        .select("user_id", "event_type")
        .dropDuplicates()
    )


# --------------------------------------------------------------------------
# q15 — semi-structured extraction: pull a numeric field out of the events
# props payload with a shared regex (regex on both sides avoids relying on a
# JSON extension in the oracle).
# --------------------------------------------------------------------------
@query(
    "q15_props_extraction",
    oracle=r"""
    SELECT
        CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) % 10 AS k_bucket,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY k_bucket
    """,
)
def q15_props_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("int")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# q16 — sessionization via window lag + running sum: the classic event-stream
# operator (batch form; streaming form in streaming/events.py). 30-minute
# inactivity gap splits sessions.
# --------------------------------------------------------------------------
@query(
    "q16_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT
            user_id,
            ts,
            CASE
                WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
                ELSE 0
            END AS is_new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT
            user_id,
            CAST(SUM(is_new_session) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT
        user_id,
        MAX(session_id) AS n_sessions,
        COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id
    """,
)
def q16_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = (
        F.when(prev_ts.isNull(), 1)
        .when(F.col("ts") > prev_ts + F.expr("INTERVAL 30 MINUTES"), 1)
        .otherwise(0)
    )
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("is_new_session", is_new)
        .withColumn("session_id", F.sum("is_new_session").over(run))
        .groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# q17/q18 — the rest of the equi-join surface (SURVEY §2.3): left-anti and
# left-semi, the idioms dimension maintenance needs ("which customers never
# placed an urgent order"). Both plan as broadcast/shuffled hash joins with
# no payload from the probe side.
# --------------------------------------------------------------------------
@query(
    "q17_anti_join",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def q17_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, "customer", sf_dir)
    urgent = load(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "q18_semi_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    GROUP BY c.c_mktsegment
    """,
)
def q18_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, "customer", sf_dir)
    big = load(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 300000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --------------------------------------------------------------------------
# q19 — global top-k (L2: distributed orderBy + limit, which the reference
# only ever does in pandas). TakeOrderedAndProject: each partition keeps k,
# driver merges — no full sort at any scale.
# --------------------------------------------------------------------------
@query(
    "q19_top_parts_by_revenue",
    oracle="""
    SELECT
        p.p_partkey,
        p.p_name,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey, p.p_name
    ORDER BY revenue DESC, p_partkey
    LIMIT 15
    """,
)
def q19_top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    part = load(spark, "part", sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(dsum(revenue, 6).alias("revenue"))
        .orderBy(F.desc("revenue"), "p_partkey")
        .limit(15)
    )


# --------------------------------------------------------------------------
# q20 — column profile in ONE pass (A2 global min/max + A6 null-percentage,
# the notebook profiling the reference does column-by-column in pandas).
# --------------------------------------------------------------------------
@query(
    "q20_column_profile",
    oracle="""
    SELECT
        CAST(MIN(l_quantity) AS DOUBLE) AS qty_min,
        CAST(MAX(l_quantity) AS DOUBLE) AS qty_max,
        CAST(MIN(l_extendedprice) AS DOUBLE) AS price_min,
        CAST(MAX(l_extendedprice) AS DOUBLE) AS price_max,
        round(100.0 * COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) / COUNT(*), 4) AS qty_null_pct,
        round(100.0 * COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) / COUNT(*), 4) AS shipdate_null_pct,
        COUNT(*) AS n_rows
    FROM lineitem
    """,
)
def q20_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    n = F.count(F.lit(1))
    nulls = lambda c: F.count(F.when(F.col(c).isNull(), F.lit(1)))  # noqa: E731
    return li.agg(
        F.min("l_quantity").cast("double").alias("qty_min"),
        F.max("l_quantity").cast("double").alias("qty_max"),
        F.min("l_extendedprice").cast("double").alias("price_min"),
        F.max("l_extendedprice").cast("double").alias("price_max"),
        F.round(nulls("l_quantity") * 100.0 / n, 4).alias("qty_null_pct"),
        F.round(nulls("l_shipdate") * 100.0 / n, 4).alias("shipdate_null_pct"),
        n.alias("n_rows"),
    )


# --------------------------------------------------------------------------
# q21 — the spark.sql surface (S11: temp-view registration + SQL-string
# transform, the reference's primary idiom, etl.py:205,206-223...). Same
# Catalyst plan as the DataFrame form — this registers the views and runs
# a pure-SQL star query.
# --------------------------------------------------------------------------
@query(
    "q21_sql_api_revenue_by_region",
    oracle="""
    SELECT
        r.r_name,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q21_sql_api_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("lineitem", "orders", "customer", "nation", "region"):
        load(spark, t, sf_dir).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT
            r.r_name,
            CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM v_lineitem l
        JOIN v_orders o ON l.l_orderkey = o.o_orderkey
        JOIN v_customer c ON o.o_custkey = c.c_custkey
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        JOIN v_region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


# --------------------------------------------------------------------------
# q22-q24 — the window-frame surface (SURVEY §2.5: the reference has NO
# window functions; rank lives in q06. These add running frames, moving
# frames, and lag/lead — the analytic trio every warehouse query layer
# needs). All shuffle once on the partition key; frames evaluate inside
# the sorted partition with no extra exchange.
# --------------------------------------------------------------------------
@query(
    "q22_running_total",
    oracle="""
    WITH monthly AS (
        SELECT
            date_trunc('month', o_orderdate) AS order_month,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS month_revenue
        FROM orders
        GROUP BY 1
    )
    SELECT
        CAST(order_month AS TIMESTAMP) AS order_month,
        month_revenue,
        round(SUM(month_revenue) OVER (
            ORDER BY order_month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ), 4) AS running_revenue
    FROM monthly
    """,
)
def q22_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    monthly = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(dsum(F.col("o_totalprice")).alias("month_revenue"))
    )
    w = Window.orderBy("order_month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        F.col("order_month").cast("timestamp_ntz").alias("order_month"),
        "month_revenue",
        F.round(F.sum("month_revenue").over(w), 4).alias("running_revenue"),
    )


@query(
    "q23_moving_average",
    oracle="""
    WITH monthly AS (
        SELECT
            n.n_name,
            date_trunc('month', o.o_orderdate) AS order_month,
            CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS month_revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    SELECT
        n_name,
        CAST(order_month AS TIMESTAMP) AS order_month,
        round(AVG(month_revenue) OVER (
            PARTITION BY n_name ORDER BY order_month
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
        ), 4) AS revenue_ma3
    FROM monthly
    """,
)
def q23_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    n = load(spark, "nation", sf_dir)
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(dsum(F.col("o_totalprice")).alias("month_revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("order_month").rowsBetween(-2, 0)
    return monthly.select(
        "n_name",
        F.col("order_month").cast("timestamp_ntz").alias("order_month"),
        F.round(F.avg("month_revenue").over(w), 4).alias("revenue_ma3"),
    )


@query(
    "q24_order_gap_days",
    oracle="""
    WITH gaps AS (
        SELECT
            o_custkey,
            o_orderdate,
            date_diff('day',
                lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate
            ) AS gap_days
        FROM orders
    )
    SELECT
        o_custkey,
        CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
        CAST(AVG(CAST(gap_days AS DECIMAL(18,4))) AS DOUBLE) AS avg_gap_days,
        MAX(gap_days) AS max_gap_days
    FROM gaps
    GROUP BY o_custkey
    HAVING COUNT(gap_days) > 0
    """,
)
def q24_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("gap_days").alias("n_gaps"),
            (
                F.sum(F.col("gap_days").cast("decimal(18,4)")).cast("double")
                / F.count("gap_days").cast("double")
            ).alias("avg_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .filter(F.col("n_gaps") > 0)
    )


# --------------------------------------------------------------------------
# q25 — hierarchical rollup (region -> nation -> total) in one pass.
# Spark expands grouping sets map-side; one shuffle serves all three
# levels — vs running three separate aggregations.
# --------------------------------------------------------------------------
@query(
    "q25_rollup_revenue",
    oracle="""
    SELECT
        COALESCE(r.r_name, '__ALL__') AS region_name,
        CASE WHEN GROUPING(n.n_name) = 1 THEN '__ALL__' ELSE n.n_name END AS nation_name,
        CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q25_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    n = load(spark, "nation", sf_dir)
    r = load(spark, "region", sf_dir)
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            dsum(F.col("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("__ALL__")).alias("region_name"),
            F.coalesce("n_name", F.lit("__ALL__")).alias("nation_name"),
            "revenue",
            "n_orders",
        )
    )


# --------------------------------------------------------------------------
# q27 — exact percentiles (interpolated): Spark `percentile` and DuckDB
# `quantile_cont` share linear-interpolation semantics, so this is
# value-checkable. Exact percentile sorts within each group — for the
# 100 TB path use percentile_approx (q28), which is a mergeable sketch.
# --------------------------------------------------------------------------
@query(
    "q27_price_percentiles",
    oracle="""
    SELECT
        l_returnflag,
        round(quantile_cont(l_extendedprice, 0.50), 4) AS price_p50,
        round(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95,
        round(quantile_cont(l_extendedprice, 0.99), 4) AS price_p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q27_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.50)), 4).alias("price_p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("price_p95"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("price_p99"),
    )


# --------------------------------------------------------------------------
# q28 — approximate aggregates vs their exact answers: HLL++ distinct
# counts and KLL-style quantile sketches are THE scale path (mergeable,
# bounded-memory, one pass), but their raw values are algorithm-specific —
# DuckDB's sketches produce different numbers, so the raw form could only
# ever be a rows-only check. This query instead returns what IS
# cross-engine checkable: the exact answers (hash-verified against the
# oracle) plus a boolean per sketch asserting the approximation landed
# within 2% of exact. The oracle emits literal TRUE for those booleans, so
# a sketch drifting out of tolerance is a driver-visible hash FAIL — the
# accuracy contract is now part of the gate, not just a local pytest
# (which still pins tighter bounds in tests/test_entry.py).
# --------------------------------------------------------------------------
@query(
    "q28_approx_vs_exact",
    oracle="""
    SELECT
        l_returnflag,
        COUNT(DISTINCT l_orderkey) AS exact_orders,
        round(quantile_cont(l_extendedprice, 0.50), 4) AS exact_p50,
        COUNT(*) AS n_rows,
        TRUE AS orders_within_2pct,
        TRUE AS p50_within_2pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q28_approx_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    rel_err = lambda approx, exact: F.abs(  # noqa: E731
        approx.cast("double") - exact.cast("double")
    ) / exact.cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_p50"),
            F.round(F.percentile("l_extendedprice", F.lit(0.50)), 4).alias("exact_p50"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            "exact_p50",
            "n_rows",
            (rel_err(F.col("approx_orders"), F.col("exact_orders")) <= 0.02).alias(
                "orders_within_2pct"
            ),
            (rel_err(F.col("approx_p50"), F.col("exact_p50")) <= 0.02).alias(
                "p50_within_2pct"
            ),
        )
    )


# --------------------------------------------------------------------------
# q29 — JSON column extraction via from_json (schema-on-read over the
# events.props payload; the reference has no JSON surface at all). Catalyst
# prunes the parsed struct to the single referenced field.
# --------------------------------------------------------------------------
@query(
    "q29_json_extraction",
    oracle="""
    SELECT
        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 90
    GROUP BY k
    """,
)
def q29_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.select(k.alias("k"), "value")
        .filter(F.col("k") >= 90)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# q30 — multi-granularity time rollup over the event stream (hypertable-
# style continuous-aggregate shape): day and hour levels from ONE shuffle
# via grouping sets.
# --------------------------------------------------------------------------
@query(
    "q30_time_rollup",
    oracle="""
    WITH ev AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 day',  CAST(ts AS TIMESTAMP)) AS day_bucket,
               time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hour_bucket,
               value
        FROM events
    )
    SELECT
        event_type,
        CASE WHEN GROUPING(hour_bucket) = 1 THEN 'day' ELSE 'hour' END AS grain,
        COALESCE(hour_bucket, day_bucket) AS bucket,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM ev
    GROUP BY GROUPING SETS ((event_type, day_bucket), (event_type, day_bucket, hour_bucket))
    """,
)
def q30_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir).select(
        "event_type",
        F.date_trunc("day", "ts").alias("day_bucket"),
        F.date_trunc("hour", "ts").alias("hour_bucket"),
        "value",
    )
    return (
        ev.groupingSets(
            [["event_type", "day_bucket"], ["event_type", "day_bucket", "hour_bucket"]],
            "event_type", "day_bucket", "hour_bucket",
        )
        .agg(
            # grouping() only resolves inside the aggregate itself
            F.when(F.grouping("hour_bucket") == 1, F.lit("day"))
            .otherwise(F.lit("hour"))
            .alias("grain"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            "event_type",
            "grain",
            F.coalesce("hour_bucket", "day_bucket").alias("bucket"),
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# q31 — set operations (the surface the reference never uses, SURVEY §2.7):
# EXCEPT/INTERSECT as hash-based left-anti/semi under Catalyst.
# --------------------------------------------------------------------------
@query(
    "q31_set_operations",
    oracle="""
    WITH active AS (
        SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    ),
    finished AS (
        SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT 'only_open' AS segment, COUNT(*) AS n FROM (
        SELECT custkey FROM active EXCEPT SELECT custkey FROM finished
    )
    UNION ALL
    SELECT 'both' AS segment, COUNT(*) AS n FROM (
        SELECT custkey FROM active INTERSECT SELECT custkey FROM finished
    )
    """,
)
def q31_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    active = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    finished = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    only_open = active.exceptAll(finished).agg(
        F.lit("only_open").alias("segment"), F.count(F.lit(1)).alias("n")
    )
    both = active.intersect(finished).agg(
        F.lit("both").alias("segment"), F.count(F.lit(1)).alias("n")
    )
    return only_open.unionByName(both)


# --------------------------------------------------------------------------
# q32 — pivot (long -> wide): per-nation order counts by priority. Spark
# pivot with an EXPLICIT value list stays a single pass (no extra distinct
# job to discover columns — required practice at scale).
# --------------------------------------------------------------------------
@query(
    "q32_pivot_priority",
    oracle="""
    SELECT
        n.n_name,
        COUNT(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 END) AS urgent,
        COUNT(CASE WHEN o.o_orderpriority = '2-HIGH' THEN 1 END) AS high,
        COUNT(CASE WHEN o.o_orderpriority = '3-MEDIUM' THEN 1 END) AS medium
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q32_pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    n = load(spark, "nation", sf_dir)
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return (
        joined.groupBy("n_name")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed(
            {"1-URGENT": "urgent", "2-HIGH": "high", "3-MEDIUM": "medium"}
        )
        # pivot emits NULL for empty cells; the CASE-count oracle emits 0
        .na.fill(0, ["urgent", "high", "medium"])
    )


# --------------------------------------------------------------------------
# q33 — explode / lateral flatten: tokenize document text and rank words.
# One narrow explode feeding a hash aggregate — the generate node must not
# force the full text column through the shuffle (only the token does).
# --------------------------------------------------------------------------
@query(
    "q33_top_tokens",
    oracle=r"""
    SELECT tok, COUNT(*) AS n
    FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents
    )
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 25
    """,
)
def q33_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_nd_spark.functions.text import tokens

    docs = load(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(25)
    )


# --------------------------------------------------------------------------
# q34 — vectorized scalar pandas_udf (the Arrow-batched UDF tier between
# native expressions and row-wise Python; SURVEY §2.9 notes the reference
# has none). The sigmoid is computed on whole numpy arrays per batch.
# --------------------------------------------------------------------------
@query(
    "q34_pandas_udf_score",
    oracle="""
    SELECT
        doc_id,
        round(1.0 / (1.0 + exp(-(n_chars / 1000.0))), 6) AS length_score
    FROM documents
    """,
)
def q34_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_nd_spark.functions.vectorized import sigmoid_length_score

    docs = load(spark, "documents", sf_dir)
    return docs.select(
        "doc_id", F.round(sigmoid_length_score("n_chars"), 6).alias("length_score")
    )


# --------------------------------------------------------------------------
# q35 — Python UDTF (table function): one input row -> N output rows with
# per-row Python logic, applied laterally. Oracle = generate_series.
# --------------------------------------------------------------------------
@query(
    "q35_udtf_expand",
    oracle="""
    SELECT r_regionkey, unnest(range(0, r_regionkey + 1)) AS i
    FROM region
    """,
)
def q35_udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="r_regionkey int, i int")
    class RangeExpand:
        def eval(self, k: int):
            for i in range(k + 1):
                yield (k, i)

    spark.udtf.register("range_expand", RangeExpand)
    load(spark, "region", sf_dir).createOrReplaceTempView("v_region_udtf")
    return spark.sql(
        """
        SELECT f.r_regionkey, f.i
        FROM v_region_udtf r, LATERAL range_expand(r.r_regionkey) AS f
        """
    )


# --------------------------------------------------------------------------
# q39 — array aggregation (collect_set) made deterministic: collection
# order is partition-dependent, so the array is sorted and joined before
# leaving the query. Array-typed results only ever cross an engine
# boundary in a canonical form.
# --------------------------------------------------------------------------
@query(
    "q39_array_agg",
    oracle="""
    SELECT
        event_type,
        array_to_string(list_sort(list(DISTINCT user_id % 10)), ',') AS user_buckets,
        COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q39_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.concat_ws(",", F.array_sort(F.collect_set(F.col("user_id") % 10))).alias(
            "user_buckets"
        ),
        F.countDistinct("user_id").alias("n_users"),
    )


# --------------------------------------------------------------------------
# q40 — stratified sampling, DETERMINISTIC: per-stratum fractions applied
# via the md5-bucket technique (as q42) instead of Spark's seeded Bernoulli
# sampler. Sample membership is a pure function of event_id — re-runs,
# retries, and different engines pick the SAME rows, which makes the query
# hash-matchable against the DuckDB oracle (sampleBy's row set is
# implementation-defined RNG and was only rows-only checkable). Two
# lowercase-hex chars give 256 buckets; a stratum's threshold string keeps
# floor(256·f) of them ('zz' sorts above every hex pair -> keep all).
# --------------------------------------------------------------------------
_Q40_THRESHOLDS = {"click": "1a", "view": "0d", "signup": "80"}  # ~0.10/0.05/0.50


@query(
    "q40_stratified_sample",
    oracle="""
    SELECT event_type, COUNT(*) AS n_sampled
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) <
          CASE event_type WHEN 'click' THEN '1a' WHEN 'view' THEN '0d'
                          WHEN 'signup' THEN '80' ELSE 'zz' END
    GROUP BY event_type
    """,
)
def q40_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    threshold = F.when(F.lit(False), F.lit(""))
    for stratum, hexmax in _Q40_THRESHOLDS.items():
        threshold = threshold.when(F.col("event_type") == stratum, F.lit(hexmax))
    threshold = threshold.otherwise(F.lit("zz"))  # full-fraction strata
    return (
        ev.filter(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 2) < threshold
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


# --------------------------------------------------------------------------
# q41 — CUBE: all four grain combinations of (returnflag, linestatus) from ONE
# shuffle (Catalyst expands grouping sets map-side; the alternative — four
# separate groupBys — scans the fact four times).
# --------------------------------------------------------------------------
@query(
    "q41_cube_returnflag_linestatus",
    oracle="""
    SELECT
        COALESCE(l_returnflag, '__ALL__') AS returnflag,
        COALESCE(l_linestatus, '__ALL__') AS linestatus,
        COUNT(*) AS n_items,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q41_cube_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("__ALL__")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("__ALL__")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


# --------------------------------------------------------------------------
# q42 — deterministic hash sampling: the cross-engine, cross-run-stable way
# to sample (sample membership is a pure function of the key, never of
# partitioning or RNG state — re-runs, retries, and different engines agree
# row-for-row). An md5 hex-prefix compare gives a 1/16 bucket without any
# integer-conversion dialect differences. This is how a 100 TB pipeline
# pins a dev slice: the predicate pushes to the scan and prunes nothing
# but CPU, yet the slice is reproducible everywhere.
# --------------------------------------------------------------------------
@query(
    "q42_deterministic_sample",
    oracle="""
    SELECT
        o_orderstatus,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sampled_revenue
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    GROUP BY o_orderstatus
    """,
)
def q42_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    return (
        o.filter(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sampled_revenue"),
        )
    )


# --------------------------------------------------------------------------
# q43 — rank-distribution windows: ntile / percent_rank / cume_dist share
# exact definitions between Spark and DuckDB, so the whole distribution is
# value-checkable. One window spec -> one shuffle on the partition key.
# Rounding is floor-based half-up (functions.numeric): cume_dist = k/N is a
# ratio of small integers, and when N is 2^a·5^b the value TERMINATES on an
# exact decimal midpoint where Spark's round() (shortest-decimal half-up)
# and DuckDB's (binary value) disagree — first seen live at sf0.1, where
# nation 11 holds 640 customers and 333/640 = 0.5203125 rounded to
# 0.520313 vs 0.520312 (the q66/ADVICE-r05 hazard class).
# --------------------------------------------------------------------------
@query(
    "q43_rank_distribution",
    oracle="""
    SELECT
        c_custkey,
        c_nationkey,
        CAST(ntile(4) OVER w AS INT) AS balance_quartile,
        floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
        floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def q43_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_nd_spark.functions.numeric import round_half_up

    c = load(spark, "customer", sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("balance_quartile"),
        round_half_up(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_half_up(F.cume_dist().over(w), 6).alias("cume"),
    )


# --------------------------------------------------------------------------
# q44 — deep star join (7 relations, two roles for nation): the join-
# reordering / broadcast-planning stress case. Only the lineitem-orders
# edge is big-big (AQE sort-merge); customer joins on its key; nation (x2)
# and region are explicit broadcasts — the fact table shuffles once for
# orders and once for the final aggregate, nothing else.
# --------------------------------------------------------------------------
@query(
    "q44_supplier_market_share",
    oracle="""
    SELECT
        r.r_name AS region_name,
        sn.n_name AS supp_nation,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region r ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    GROUP BY r.r_name, sn.n_name
    """,
)
def q44_supplier_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    n = load(spark, "nation", sf_dir)
    r = load(spark, "region", sf_dir)
    s = load(spark, "supplier", sf_dir)
    cn = n.select(
        F.col("n_nationkey").alias("cn_nationkey"),
        F.col("n_regionkey").alias("cn_regionkey"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_nationkey"))
        .join(F.broadcast(r), F.col("cn_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_nationkey"))
        .groupBy(F.col("r_name").alias("region_name"), "supp_nation")
        .agg(
            dsum(revenue, 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q45 — time-series gap filling (resample): regularize an event stream to
# an hourly grid with explicit zeros for silent hours. The spine is
# sequence+explode over the observed bounds (one 1-row aggregate, then a
# generated axis — no data shuffle to build it); the fill is a left join
# spine->counts. At 100 TB the spine stays tiny (hours x types), so it
# BROADCASTS against the aggregated counts — the raw events are touched
# exactly once, by the counting aggregate.
# --------------------------------------------------------------------------
@query(
    "q45_gap_fill_hourly",
    oracle="""
    WITH b AS (
        SELECT
            date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS h0,
            date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS h1
        FROM events
    ),
    hours AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT
            date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
            event_type,
            count(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT
        h.hour,
        t.event_type,
        COALESCE(c.n_events, 0) AS n_events
    FROM hours h
    CROSS JOIN types t
    LEFT JOIN hourly c ON c.hour = h.hour AND c.event_type = t.event_type
    """,
)
def q45_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_raw"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    spine = hours.crossJoin(types)
    return spine.join(hourly, ["hour", "event_type"], "left").select(
        F.col("hour").cast("timestamp_ntz").alias("hour"),
        "event_type",
        F.coalesce(F.col("n_raw"), F.lit(0)).cast("bigint").alias("n_events"),
    )


# --------------------------------------------------------------------------
# q46 — fixed-width histogram: binning as pure arithmetic (floor of a
# division, clamped) so the bucket id computes identically in Spark and
# DuckDB (neither engine's width_bucket is used — DuckDB 1.0 lacks it, and
# identical double arithmetic is the stronger determinism guarantee).
# One hash-aggregate on a derived int key; codegen end-to-end.
# --------------------------------------------------------------------------
@query(
    "q46_price_histogram",
    oracle="""
    SELECT
        CAST(LEAST(FLOOR(l_extendedprice / 5000.0), 20) AS INT) AS price_bucket,
        CAST(LEAST(FLOOR(l_extendedprice / 5000.0), 20) * 5000.0 AS DOUBLE)
            AS bucket_lo,
        COUNT(*) AS n_items,
        round(MIN(l_extendedprice), 4) AS min_price,
        round(MAX(l_extendedprice), 4) AS max_price
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q46_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    bucket = F.least(
        F.floor(F.col("l_extendedprice") / F.lit(5000.0)), F.lit(20)
    )
    return (
        li.groupBy(
            bucket.cast("int").alias("price_bucket"),
            (bucket * F.lit(5000.0)).cast("double").alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.min("l_extendedprice"), 4).alias("min_price"),
            F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        )
    )


# --------------------------------------------------------------------------
# q47 — correlated subqueries: EXISTS (decorrelated by Catalyst into a
# left-semi join) and a correlated scalar subquery (decorrelated into an
# aggregate + join). The point is the DECORRELATION: the naive reading is
# one subquery execution per outer row (O(n) scans); Catalyst rewrites
# both into single joins, which is the only shape that survives scale.
# --------------------------------------------------------------------------
@query(
    "q47_correlated_subqueries",
    oracle="""
    SELECT
        c.c_custkey,
        c.c_nationkey,
        round(c.c_acctbal, 4) AS acctbal,
        (
            SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        ) AS n_finished_orders
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
    )
    ORDER BY c.c_custkey
    """,
)
def q47_correlated_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, "customer", sf_dir).createOrReplaceTempView("v_customer")
    load(spark, "orders", sf_dir).createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT
            c.c_custkey,
            c.c_nationkey,
            round(c.c_acctbal, 4) AS acctbal,
            (
                SELECT COUNT(*) FROM v_orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
            ) AS n_finished_orders
        FROM v_customer c
        WHERE EXISTS (
            SELECT 1 FROM v_orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
        )
        ORDER BY c.c_custkey
        """
    )


# --------------------------------------------------------------------------
# q48 — returned-item revenue (TPC-H Q10 shape): which customers returned
# the most value. fact ⋈ fact equi-join (AQE sort-merge, skew-splittable)
# then two broadcast dims; top-20. The reference's "which visitors /
# countries dominate" question family (Capstone/README.md:21-30) at the
# customer grain.
# --------------------------------------------------------------------------
@query(
    "q48_returned_item_revenue",
    oracle="""
    SELECT
        c.c_custkey,
        c.c_name,
        n.n_name,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q48_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    orders = load(spark, "orders", sf_dir)
    cust = load(spark, "customer", sf_dir)
    nation = load(spark, "nation", sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(rev, 6).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q49 — late-shipment priority audit (TPC-H Q12 shape): line items shipped
# >60 days after the order date, by order priority. datediff arithmetic on
# the join output; both sides of the join are facts.
# --------------------------------------------------------------------------
@query(
    "q49_late_shipment_priority",
    oracle="""
    SELECT
        o.o_orderpriority,
        COUNT(*) AS n_late_items,
        CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS late_revenue,
        CAST(SUM(DATE_DIFF('day', o.o_orderdate, l.l_shipdate)) AS BIGINT) AS total_delay_days
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY 1
    ORDER BY 1
    """,
)
def q49_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    orders = load(spark, "orders", sf_dir)
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(delay > 60)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_late_items"),
            dsum(F.col("l_extendedprice")).alias("late_revenue"),
            F.sum(delay).cast("bigint").alias("total_delay_days"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q50 — promo revenue share by month (TPC-H Q14 shape): conditional
# aggregation over a fact ⋈ dim join; the percentage is a ratio of two
# decimal-accumulated sums, rounded, so both engines agree bit-for-bit.
# --------------------------------------------------------------------------
@query(
    "q50_promo_revenue_share",
    oracle="""
    SELECT
        CAST(year(l.l_shipdate) AS INT) AS ship_year,
        CAST(month(l.l_shipdate) AS INT) AS ship_month,
        round(
            100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
            / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE),
            6) AS promo_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q50_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    part = load(spark, "part", sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev.cast("decimal(18,6)")).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.year("l_shipdate").cast("int").alias("ship_year"),
            F.month("l_shipdate").cast("int").alias("ship_month"),
        )
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev.cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("promo_pct")
        )
        .orderBy("ship_year", "ship_month")
    )


# --------------------------------------------------------------------------
# q51 — large-volume orders (TPC-H Q18 shape): aggregate lineitem by order,
# HAVING over the aggregate, join back to orders + customer. The HAVING
# filter runs before the join, so only qualifying orderkeys (a tiny set)
# reach the join — at 100 TB the post-aggregate side is broadcastable.
# --------------------------------------------------------------------------
@query(
    "q51_large_volume_orders",
    oracle="""
    SELECT
        c.c_custkey,
        c.c_name,
        o.o_orderkey,
        CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
        round(o.o_totalprice, 4) AS o_totalprice,
        CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2, 3, 4, 5
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,4))) > 250
    ORDER BY o_orderkey
    """,
)
def q51_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    orders = load(spark, "orders", sf_dir)
    cust = load(spark, "customer", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# q52 — small-quantity revenue (TPC-H Q17 shape): correlated aggregate —
# revenue of line items whose quantity is below half the part's average.
# Catalyst decorrelates the per-part average into one aggregate + join.
# --------------------------------------------------------------------------
@query(
    "q52_small_quantity_revenue",
    oracle="""
    WITH avg_qty AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS part_avg_qty
        FROM lineitem GROUP BY 1
    )
    SELECT
        p.p_brand,
        COUNT(*) AS n_small_items,
        CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS small_revenue
    FROM lineitem l
    JOIN avg_qty a ON l.l_partkey = a.l_partkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity < 0.5 * a.part_avg_qty
    GROUP BY 1
    ORDER BY 1
    """,
)
def q52_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    part = load(spark, "part", sf_dir)
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        davg(F.col("l_quantity")).alias("part_avg_qty")
    )
    return (
        li.join(avg_qty, li.l_partkey == avg_qty.a_partkey)
        .filter(F.col("l_quantity") < 0.5 * F.col("part_avg_qty"))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_items"),
            dsum(F.col("l_extendedprice")).alias("small_revenue"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# q53 — top supplier by windowed revenue (TPC-H Q15 shape): revenue per
# supplier in a 6-month ship window, return the max-revenue supplier(s).
# The scalar max comes from the same decimal-deterministic aggregate on
# both engines, so the double equality filter is safe.
# --------------------------------------------------------------------------
@query(
    "q53_top_supplier_revenue",
    oracle="""
    WITH rev AS (
        SELECT
            l_suppkey,
            CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-07-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q53_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    sup = load(spark, "supplier", sf_dir)
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("total_rev"))
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(top), rev.total_rev == top.max_rev)
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# q54 — customer order-count distribution (TPC-H Q13 shape): double
# aggregation — orders per customer (left join keeps zero-order customers),
# then customers per order-count. Two shuffles, both on shrinking keys.
# --------------------------------------------------------------------------
@query(
    "q54_customer_order_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '5-LOW'
        GROUP BY 1
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_cust
    GROUP BY 1
    ORDER BY n_customers DESC, n_orders DESC
    """,
)
def q54_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, "orders", sf_dir)
    cust = load(spark, "customer", sf_dir)
    per_cust = (
        cust.join(
            orders.filter(F.col("o_orderpriority") != "5-LOW"),
            cust.c_custkey == orders.o_custkey,
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


# --------------------------------------------------------------------------
# q55 — dormant rich customers by nation (TPC-H Q22 shape): scalar global
# average (broadcast single row) + anti join against urgent orders, grouped
# by nation. Anti join prunes to the small complement before the aggregate.
# (The anti-join side is filtered to '1-URGENT' so the complement is
# non-empty on the synthetic data — every customer has *some* order.)
# --------------------------------------------------------------------------
@query(
    "q55_dormant_rich_customers",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS a
        FROM customer WHERE c_acctbal > 0
    )
    SELECT
        c.c_nationkey,
        COUNT(*) AS n_customers,
        CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY 1
    ORDER BY 1
    """,
)
def q55_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, "orders", sf_dir)
    cust = load(spark, "customer", sf_dir)
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        davg(F.col("c_acctbal")).alias("a")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(
            orders.filter(F.col("o_orderpriority") == "1-URGENT"),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# q56 — ordered event funnel (signup -> first view after signup -> first
# purchase after that view). Each stage is a min-aggregate then an
# equi-join on user_id with a range predicate on ts — the classic scalable
# funnel shape: no window over the whole event stream, no per-user
# collect_list; state per user is one timestamp per stage. At 100 TB the
# three stage frames are each <= |users| rows, far smaller than the event
# fact they summarize.
# --------------------------------------------------------------------------
@query(
    "q56_event_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS ts_signup
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    v AS (
        SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS ts_view
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) > s.ts_signup
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS ts_purchase
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > v.ts_view
        GROUP BY 1
    )
    SELECT
        (SELECT COUNT(*) FROM s) AS n_signup,
        (SELECT COUNT(*) FROM v) AS n_view_after_signup,
        (SELECT COUNT(*) FROM p) AS n_purchase_after_view
    """,
)
def q56_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_signup"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("ts_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("ts_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_purchase"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_view_after_signup")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_view")))
    )


# --------------------------------------------------------------------------
# q57 — weekly cohort retention: users grouped by first-seen week, distinct
# active users per (cohort, week-offset). Two aggregates over the event
# fact; the per-user first-seen frame joins back broadcast-small. Both
# engines truncate weeks to Monday, and the offset is integer day-diff / 7
# (both week-truncated, so the division is exact).
# --------------------------------------------------------------------------
@query(
    "q57_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id,
               date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS cohort_week
        FROM events GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT user_id,
               date_trunc('week', CAST(ts AS TIMESTAMP)) AS active_week
        FROM events
    )
    SELECT
        CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
        CAST(DATE_DIFF('day', CAST(f.cohort_week AS DATE),
                       CAST(a.active_week AS DATE)) / 7 AS INT) AS week_offset,
        COUNT(DISTINCT a.user_id) AS n_active
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q57_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    offset = (
        F.datediff(F.col("active_week").cast("date"), F.col("cohort_week").cast("date"))
        / 7
    ).cast("int")
    return (
        activity.join(F.broadcast(first_seen), "user_id")
        .groupBy(
            F.col("cohort_week").cast("timestamp_ntz").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# q58 — local supplier volume (TPC-H Q5 shape): five-way join where the
# customer's and the supplier's nation must coincide, restricted to one
# region and one order year. The nation/region dims broadcast; the
# customer⋈orders⋈lineitem⋈supplier chain shuffles only on fact keys, and
# the same-nation constraint is an extra equi-predicate on the supplier
# join (no post-filter over a wider join).
# --------------------------------------------------------------------------
@query(
    "q58_local_supplier_volume",
    oracle="""
    SELECT
        n.n_name,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
             AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY 1
    ORDER BY revenue DESC, n_name
    """,
)
def q58_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, "customer", sf_dir)
    orders = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    li = load(spark, "lineitem", sf_dir)
    supp = load(spark, "supplier", sf_dir)
    nation = load(spark, "nation", sf_dir)
    region = load(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(rev, 6).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# q59 — volume shipping between nation pairs (TPC-H Q7 shape): the same
# fact chain joined to TWO nation aliases (supplier's and customer's),
# restricted to a 2-nation corridor in both directions. Both nation dims
# broadcast; the corridor filter lands on the broadcast side so the fact
# scan is reduced before the shuffle joins.
# --------------------------------------------------------------------------
@query(
    "q59_volume_shipping",
    oracle="""
    SELECT
        ns.n_name AS supp_nation,
        nc.n_name AS cust_nation,
        CAST(year(l.l_shipdate) AS INT) AS ship_year,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
             AS DOUBLE) AS volume
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    WHERE ns.n_name IN ('NATION_1', 'NATION_2')
      AND nc.n_name IN ('NATION_1', 'NATION_2')
      AND ns.n_name <> nc.n_name
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q59_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    orders = load(spark, "orders", sf_dir)
    cust = load(spark, "customer", sf_dir)
    supp = load(spark, "supplier", sf_dir)
    nation = load(spark, "nation", sf_dir)
    corridor = nation.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    ns = corridor.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = corridor.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), supp.s_nationkey == F.col("ns_key"))
        .join(F.broadcast(nc), cust.c_nationkey == F.col("nc_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(dsum(rev, 6).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


# --------------------------------------------------------------------------
# q60 — product-type profit by nation and year (TPC-H Q9 shape). The
# testdata has no partsupp table, so supply cost is a deterministic proxy
# (40% of the part's retail price per unit) — the join/agg shape (part dim
# filter -> fact chain -> two-level groupBy) is what Q9 exercises, and the
# proxy keeps both engines bit-identical through decimal accumulation.
# --------------------------------------------------------------------------
@query(
    "q60_product_type_profit",
    oracle="""
    SELECT
        n.n_name AS nation,
        CAST(year(o.o_orderdate) AS INT) AS order_year,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      - 0.4 * p.p_retailprice * l.l_quantity
                      AS DECIMAL(18,6))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_type = 'STANDARD'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q60_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    part = load(spark, "part", sf_dir).filter(F.col("p_type") == "STANDARD")
    supp = load(spark, "supplier", sf_dir)
    orders = load(spark, "orders", sf_dir)
    nation = load(spark, "nation", sf_dir)
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.4 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(dsum(profit, 6).alias("profit"))
        .orderBy("nation", "order_year")
    )


# --------------------------------------------------------------------------
# q61 — disjunctive multi-branch predicate (TPC-H Q19 shape): an OR of
# three (brand, size-range, quantity-range) conjunctions over part⋈lineitem.
# Catalyst extracts the common l_partkey = p_partkey equi-condition so the
# join stays hash-based; the disjunction becomes a post-join filter, and
# the shared p_size/l_quantity bounds are pushed to the scans.
# --------------------------------------------------------------------------
@query(
    "q61_disjunctive_predicates",
    oracle="""
    SELECT
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
             AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#33' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def q61_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    part = load(spark, "part", sf_dir)
    qty = F.col("l_quantity")
    size = F.col("p_size")
    brand = F.col("p_brand")
    cond = (
        ((brand == "Brand#11") & size.between(1, 15) & qty.between(1, 20))
        | ((brand == "Brand#22") & size.between(10, 30) & qty.between(10, 30))
        | ((brand == "Brand#33") & size.between(20, 50) & qty.between(20, 50))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(dsum(rev, 6).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


# --------------------------------------------------------------------------
# q62 — suppliers who kept orders waiting (TPC-H Q21 shape). The classic
# EXISTS / NOT-EXISTS pair is rewritten as one per-order aggregate
# (distinct suppliers, distinct LATE suppliers) joined back to the late
# lines — a single extra shuffle on l_orderkey instead of two correlated
# self-joins, which is the scalable plan for this query on any engine.
# "Late" = shipped more than 60 days after the order date.
# --------------------------------------------------------------------------
@query(
    "q62_waiting_orders",
    oracle="""
    WITH per_order AS (
        SELECT
            l.l_orderkey,
            COUNT(DISTINCT l.l_suppkey) AS n_supp,
            COUNT(DISTINCT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                                THEN l.l_suppkey END) AS n_late_supp
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY 1
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN per_order po ON po.l_orderkey = l1.l_orderkey
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND po.n_supp > 1
      AND po.n_late_supp = 1
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)
def q62_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "F")
    li = load(spark, "lineitem", sf_dir)
    supp = load(spark, "supplier", sf_dir)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "is_late", late
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    return (
        lines.filter(F.col("is_late"))
        .join(per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)),
              "l_orderkey")
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(25)
    )


# --------------------------------------------------------------------------
# q63 — revenue-change forecast (TPC-H Q6 shape): a pure scan-filter-agg
# with range predicates on three columns, all pushed to the parquet scan
# (no join at all). The simplest possible 100 TB query: one map-side
# partial agg, one 1-row exchange.
# --------------------------------------------------------------------------
@query(
    "q63_forecast_revenue_change",
    oracle="""
    SELECT
        CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
             AS DOUBLE) AS potential_revenue,
        COUNT(*) AS n_items
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q63_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01").cast("date"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias(
                "potential_revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q64 — shipping priority (TPC-H Q3 shape): unshipped-as-of-date orders
# ranked by revenue. Two fact joins with date predicates on opposite sides
# of the cutoff; TakeOrderedAndProject caps the result at 10 rows so the
# driver never materializes the full aggregate.
# --------------------------------------------------------------------------
@query(
    "q64_shipping_priority",
    oracle="""
    SELECT
        l.l_orderkey,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
             AS DOUBLE) AS revenue,
        CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
        o.o_orderpriority
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE CAST(o.o_orderdate AS DATE) < DATE '1997-06-01'
      AND CAST(l.l_shipdate AS DATE) > DATE '1997-06-01'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q64_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate").cast("date") > F.lit("1997-06-01").cast("date")
    )
    orders = load(spark, "orders", sf_dir).filter(
        F.col("o_orderdate").cast("date") < F.lit("1997-06-01").cast("date")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(dsum(rev, 6).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q65 — order priority check (TPC-H Q4 shape): orders in a quarter that
# had at least one slow line item, counted by priority. The EXISTS is a
# LEFT SEMI join whose extra range predicate (shipdate vs orderdate + 30d)
# rides on the equi-join — no correlated subquery re-execution.
# --------------------------------------------------------------------------
@query(
    "q65_order_priority_check",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY 1
    ORDER BY 1
    """,
)
def q65_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-04-01").cast("date"))
    )
    li = load(spark, "lineitem", sf_dir)
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q66 — resample + linear interpolation (time-series). Where q45 zero-fills
# count gaps, this reconstructs a VALUE series: missing hours get the linear
# interpolation between the nearest observed hours on each side (no
# extrapolation past the ends). The TimescaleDB `interpolate()` /
# pandas `resample().interpolate()` semantics, built from two ignore-nulls
# windows — no UDF, no driver loop.
#
# Scale: windows partition by the series key (event_type here; a real
# deployment has high-cardinality series ids, so partitions are many and
# small). Each series sorts its own spine rows only. Determinism: hourly
# means are decimal-accumulated; the interpolation arithmetic is the same
# IEEE expression in both engines over exact integer hour-gaps.
# --------------------------------------------------------------------------


@query(
    "q66_interpolate_hourly",
    oracle="""
    WITH b AS (
        SELECT
            date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS h0,
            date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS h1
        FROM events
    ),
    hours AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS val
        FROM events GROUP BY 1, 2
    ),
    sp AS (
        SELECT h.hour, t.event_type, c.val
        FROM hours h CROSS JOIN types t
        LEFT JOIN hourly c ON c.hour = h.hour AND c.event_type = t.event_type
    ),
    w AS (
        SELECT hour, event_type, val,
            last_value(CASE WHEN val IS NOT NULL THEN hour END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
            last_value(val IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            first_value(CASE WHEN val IS NOT NULL THEN hour END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh,
            first_value(val IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
        FROM sp
    )
    SELECT CAST(hour AS TIMESTAMP) AS hour, event_type,
           -- floor-based half-up rounding: Spark's round() rounds the
           -- shortest decimal repr while DuckDB's rounds the binary value,
           -- so they disagree on interpolated midpoints (exact .00005s);
           -- floor(x*1e4 + 0.5)/1e4 is the same IEEE arithmetic in both.
           floor((CASE WHEN val IS NOT NULL THEN val
                  ELSE pv + (nv - pv)
                       * (CAST(date_diff('second', ph, hour) AS DOUBLE)
                          / CAST(date_diff('second', ph, nh) AS DOUBLE))
                  END) * 10000.0 + 0.5) / 10000.0 AS value,
           (val IS NULL) AS is_interpolated
    FROM w
    WHERE val IS NOT NULL OR (pv IS NOT NULL AND nv IS NOT NULL)
    ORDER BY event_type, hour
    """,
)
def q66_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        (dsum(F.col("value")) / F.count(F.lit(1)).cast("double")).alias("val")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    sp = hours.crossJoin(types).join(hourly, ["hour", "event_type"], "left")

    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    observed_hour = F.when(F.col("val").isNotNull(), F.col("hour"))
    with_marks = sp.select(
        "hour",
        "event_type",
        "val",
        F.last(observed_hour, ignorenulls=True).over(w_prev).alias("ph"),
        F.last("val", ignorenulls=True).over(w_prev).alias("pv"),
        F.first(observed_hour, ignorenulls=True).over(w_next).alias("nh"),
        F.first("val", ignorenulls=True).over(w_next).alias("nv"),
    )
    secs = lambda a, b: (  # noqa: E731
        F.col(b).cast("timestamp").cast("long")
        - F.col(a).cast("timestamp").cast("long")
    ).cast("double")
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        secs("ph", "hour") / secs("ph", "nh")
    )
    return (
        with_marks.filter(
            F.col("val").isNotNull()
            | (F.col("pv").isNotNull() & F.col("nv").isNotNull())
        )
        .select(
            F.col("hour").cast("timestamp_ntz").alias("hour"),
            "event_type",
            (
                F.floor(
                    F.when(F.col("val").isNotNull(), F.col("val")).otherwise(interp)
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("value"),
            F.col("val").isNull().alias("is_interpolated"),
        )
        .orderBy("event_type", "hour")
    )


# --------------------------------------------------------------------------
# q67 — RANGE-frame window (time-based trailing aggregate). q23's moving
# average is a ROWS frame (last k rows); this is the calendar-correct
# variant: trailing 7 DAYS, which handles gaps in the date spine correctly
# (a ROWS frame silently spans gaps). The frame is a RANGE over an integer
# day ordinal, identical semantics in both engines.
#
# Scale: the window is ordered over the DAY GRAIN (one row per day — a few
# thousand rows for a decade), not over the fact table; the fact collapses
# to day grain in one hash-agg first. Determinism: revenue stays DECIMAL
# through the window sum and becomes DOUBLE only at output.
# --------------------------------------------------------------------------


@query(
    "q67_trailing_week_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        FROM orders GROUP BY 1
    )
    SELECT CAST(d AS TIMESTAMP) AS day,
           CAST(rev AS DOUBLE) AS day_revenue,
           CAST(SUM(rev) OVER (
               ORDER BY d
               RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_7d_revenue,
           CAST(COUNT(*) OVER (
               ORDER BY d
               RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_7d_days
    FROM daily
    ORDER BY day
    """,
)
def q67_trailing_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, "orders", sf_dir)
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
    )
    # integer day ordinal so rangeBetween(-6, 0) means calendar days
    keyed = daily.withColumn("dnum", F.datediff("d", F.lit("1970-01-01")))
    w = Window.orderBy("dnum").rangeBetween(-6, 0)
    return (
        keyed.select(
            F.col("d").cast("timestamp_ntz").alias("day"),
            F.col("rev").cast("double").alias("day_revenue"),
            F.sum("rev").over(w).cast("double").alias("trailing_7d_revenue"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("trailing_7d_days"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q69 — Count-Min Sketch heavy hitters: the bounded-memory frequency-sketch
# primitive. The sketch is d×w counters REGARDLESS of corpus size (here
# 4×1024 rows), built by one explode(×d) + hash-agg with map-side partial
# counts — mergeable across partitions/streams by construction, which is
# what makes it the 100 TB path for "how often does key X appear" when the
# key space is too large to aggregate exactly. Estimates never
# underestimate (min over d counters); the md5-derived hash family makes
# the ENTIRE sketch — build, probe, min — value-hash verifiable in SQL,
# same trick as the verified LSH siblings.
# --------------------------------------------------------------------------
@query(
    "q69_countmin_heavy_hitters",
    oracle="""
    WITH buckets AS (
        SELECT j,
               CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':'
                    || CAST(l_suppkey AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1024 AS bucket
        FROM lineitem, unnest(range(4)) AS t(j)
    ),
    cms AS (
        SELECT j, bucket, COUNT(*) AS c
        FROM buckets GROUP BY j, bucket
    ),
    top AS (
        SELECT l_suppkey, COUNT(*) AS exact_n
        FROM lineitem GROUP BY l_suppkey
        ORDER BY exact_n DESC, l_suppkey LIMIT 10
    ),
    probes AS (
        SELECT t.l_suppkey, t.exact_n, u.j,
               CAST(concat('0x', substr(md5(CAST(u.j AS VARCHAR) || ':'
                    || CAST(t.l_suppkey AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1024 AS bucket
        FROM top t, unnest(range(4)) AS u(j)
    )
    SELECT p.l_suppkey, p.exact_n,
           CAST(MIN(c.c) AS BIGINT) AS cms_n,
           MIN(c.c) >= p.exact_n AS never_underestimates
    FROM probes p
    JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
    GROUP BY p.l_suppkey, p.exact_n
    """,
)
def q69_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-vs-sketch frequencies for the 10 heaviest suppliers: a
    4×1024 Count-Min Sketch over lineitem, probed with the same md5 hash
    family — estimates, and the never-underestimates guarantee, are
    value-hashed cross-engine."""
    from data_engineering_nd_spark.functions.hashing import countmin_bucket

    d, w = 4, 1024
    li = load(spark, "lineitem", sf_dir)

    # Aggregate BEFORE hashing (guide §2.3): the sketch counts depend only
    # on each key's multiplicity, so one cheap codegen hash-agg reduces the
    # fact to |suppkey| rows and the md5 family runs d x |suppkey| times
    # (4k at sf0.1) instead of d x |lineitem| (2.4M) — bucket counts are
    # the identical integers, summed per (j, bucket) instead of counted.
    per_key = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    rows = per_key.select(
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j"),
        "l_suppkey",
        "n",
    ).select(
        "j",
        countmin_bucket(F.col("j"), F.col("l_suppkey"), w).alias("bucket"),
        "n",
    )
    cms = rows.groupBy("j", "bucket").agg(F.sum("n").alias("c"))
    top = (
        per_key.select("l_suppkey", F.col("n").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "l_suppkey")
        .limit(10)
    )
    probes = top.select(
        "l_suppkey",
        "exact_n",
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j"),
    ).select(
        "l_suppkey",
        "exact_n",
        "j",
        countmin_bucket(F.col("j"), F.col("l_suppkey"), w).alias("bucket"),
    )
    return (
        F.broadcast(probes)
        .join(cms, ["j", "bucket"])
        .groupBy("l_suppkey", "exact_n")
        .agg(F.min("c").cast("bigint").alias("cms_n"))
        .select(
            "l_suppkey",
            "exact_n",
            "cms_n",
            (F.col("cms_n") >= F.col("exact_n")).alias("never_underestimates"),
        )
    )


# --------------------------------------------------------------------------
# q72 — argmax aggregates (max_by/min_by): "which row holds the extreme"
# WITHOUT a window or self-join. The naive shapes — rank-and-filter
# (window: full shuffle + sort of the fact) or groupBy-max + join-back
# (two passes over the fact) — both do strictly more work than a single
# hash-agg carrying (extreme, witness) pairs with map-side partial merge.
# Ties: max_by is nondeterministic under ties in both engines, so the
# ordering value is made unique per group by construction — a composite
# scalar acctbal*1e9 +/- custkey (spacing 1e7 per cent dwarfs the key
# range and double rounding error, and both engines compute the identical
# product) — determinism is the operator's contract here, same reason the
# engine bans monotonically_increasing_id.
# --------------------------------------------------------------------------
@query(
    "q72_argmax_aggregates",
    oracle="""
    SELECT
        n.n_name AS nation_name,
        arg_max(c.c_custkey, c.c_acctbal * 1000000000.0 + c.c_custkey)
            AS richest_cust,
        CAST(arg_max(c.c_acctbal, c.c_acctbal * 1000000000.0 + c.c_custkey)
             AS DOUBLE) AS richest_bal,
        arg_min(c.c_custkey, c.c_acctbal * 1000000000.0 - c.c_custkey)
            AS poorest_cust,
        CAST(arg_min(c.c_acctbal, c.c_acctbal * 1000000000.0 - c.c_custkey)
             AS DOUBLE) AS poorest_bal,
        COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q72_argmax_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation richest/poorest customer via max_by/min_by over a
    tie-broken composite ordering scalar — one hash-agg, no window, no
    join-back; balance ties resolve to the highest key for max and the
    lowest for min on BOTH engines, so the witnesses are deterministic."""
    c = load(spark, "customer", sf_dir)
    n = load(spark, "nation", sf_dir)
    up = F.col("c_acctbal") * F.lit(1000000000.0) + F.col("c_custkey")
    down = F.col("c_acctbal") * F.lit(1000000000.0) - F.col("c_custkey")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.max_by("c_custkey", up).alias("richest_cust"),
            F.max_by("c_acctbal", up).cast("double").alias("richest_bal"),
            F.min_by("c_custkey", down).alias("poorest_cust"),
            F.min_by("c_acctbal", down).cast("double").alias("poorest_bal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


# --------------------------------------------------------------------------
# q73 — UNPIVOT (wide -> long): the inverse of q32's pivot. Spark's native
# DataFrame.unpivot (melt) keeps the reshape in the JVM as a single
# Expand-style projection — no explode-of-structs workaround, no Python —
# and the long form is what downstream per-metric operators (drift
# monitors, expectation suites) consume. Mirrored by DuckDB's UNPIVOT.
# --------------------------------------------------------------------------
@query(
    "q73_unpivot_metrics",
    oracle="""
    WITH wide AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS sum_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
                   AS sum_disc,
               CAST(COUNT(*) AS DOUBLE) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, value
    FROM wide
    UNPIVOT (value FOR metric IN (sum_qty, sum_price, sum_disc, n_rows))
    """,
)
def q73_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag metric summary reshaped wide -> long with native
    unpivot: one row per (flag, metric), the form per-metric consumers
    (drift monitors, dashboards) ingest. Decimal-accumulated sums cast to
    DOUBLE before the reshape so the long values hash identically."""
    li = load(spark, "lineitem", sf_dir)
    wide = li.groupBy("l_returnflag").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
        dsum(F.col("l_discount")).alias("sum_disc"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc", "n_rows"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# --------------------------------------------------------------------------
# q74 — HyperLogLog distinct-count sketch (Flajolet et al. 2007), built from
# scratch on an md5-derived hash family so the ENTIRE sketch — register
# values, their sum, and the estimate arithmetic — is SQL-mirrorable and
# value-hash verified, the same verification strategy as the Count-Min
# sketch (q69). Complements q69: CMS answers "how often", HLL answers "how
# many distinct" in O(m) memory with map-side-combinable registers.
# --------------------------------------------------------------------------

_HLL_P = 4                      # 2^4 = 16 registers
_HLL_M = 1 << _HLL_P
_HLL_TAIL_BITS = 60 - _HLL_P    # md5 prefix is 60 bits; top p pick the register
_HLL_ALPHA = 0.673              # alpha_16 (standard constant for m = 16)


@query(
    "q74_hll_distinct",
    oracle=f"""
    WITH h AS (
        SELECT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM orders
    ),
    slots AS (
        SELECT h >> {_HLL_TAIL_BITS} AS idx,
               h & {(1 << _HLL_TAIL_BITS) - 1} AS tail
        FROM h
    ),
    regs AS (
        SELECT idx,
               MAX(CASE WHEN tail = 0 THEN {_HLL_TAIL_BITS + 1}
                        ELSE {_HLL_TAIL_BITS + 1} - length(bin(tail)) END)
                   AS m_j
        FROM slots GROUP BY idx
    ),
    s AS (
        SELECT CAST(SUM(CAST(power(2, {_HLL_TAIL_BITS + 1} - m_j) AS BIGINT))
                    AS BIGINT) AS s_present,
               COUNT(*) AS n_present
        FROM regs
    ),
    x AS (
        SELECT CAST(s_present + ({_HLL_M} - n_present)
                    * {1 << (_HLL_TAIL_BITS + 1)} AS BIGINT) AS register_sum,
               CAST({_HLL_M} - n_present AS BIGINT) AS n_zero_registers,
               (({_HLL_ALPHA} * {_HLL_M * _HLL_M})
                * {float(1 << (_HLL_TAIL_BITS + 1))})
               / CAST(s_present + ({_HLL_M} - n_present)
                      * {1 << (_HLL_TAIL_BITS + 1)} AS DOUBLE) AS e_raw,
               (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_exact
        FROM s
    )
    SELECT CAST({_HLL_M} AS INT) AS m,
           n_exact,
           register_sum,
           n_zero_registers,
           floor(e_raw * 10000.0 + 0.5) / 10000.0 AS hll_estimate,
           CAST(floor(abs(e_raw - CAST(n_exact AS DOUBLE))
                      / CAST(n_exact AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)
               AS rel_error_e4
    FROM x
    """,
)
def q74_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality estimate of distinct customers over orders.

    Sketch construction: h = 60-bit md5 prefix; register = top 4 bits,
    rho = leading-zero count of the 56-bit tail + 1 (computed EXACTLY via
    the length of the tail's binary string — no float log), register
    value = max(rho). The estimator is the raw harmonic mean
    alpha_m * m^2 / sum(2^-M_j), kept in exact BIGINT by scaling to
    2^(57 - M_j) (empty registers contribute 2^57), so both engines
    divide the same two exact integers. Raw regime only by design
    (n >> 2.5m at every SF with m = 16); the small-range linear-counting
    branch needs ln(), whose libm rounding is not cross-engine stable —
    the zero-register count is emitted so a caller can apply it.

    Scale shape: ONE hash-agg to 16 registers (map-side combinable — the
    sketch merges across partitions/days by register max, like the CMS),
    plus the exact COUNT(DISTINCT) the report compares against. Sketch
    memory is O(m) regardless of corpus size."""
    tail_bits = _HLL_TAIL_BITS
    top = tail_bits + 1
    from data_engineering_nd_spark.functions.hashing import md5_prefix_long

    o = load(spark, "orders", sf_dir)
    h = md5_prefix_long(F.col("o_custkey").cast("string"), 15)
    slots = o.select(
        F.shiftright(h, tail_bits).alias("idx"),
        h.bitwiseAND(F.lit((1 << tail_bits) - 1)).alias("tail"),
    )
    rho = F.when(F.col("tail") == 0, F.lit(top)).otherwise(
        F.lit(top) - F.length(F.conv(F.col("tail").cast("string"), 10, 2))
    )
    regs = slots.select("idx", rho.alias("rho")).groupBy("idx").agg(
        F.max("rho").alias("m_j")
    )
    s = regs.agg(
        F.sum(F.expr(f"CAST(pow(2, {top} - m_j) AS BIGINT)")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("n_exact"))
    x = s.crossJoin(F.broadcast(exact)).select(
        (
            F.col("s_present")
            + (F.lit(_HLL_M) - F.col("n_present")) * F.lit(1 << top)
        )
        .cast("bigint")
        .alias("register_sum"),
        (F.lit(_HLL_M) - F.col("n_present")).cast("bigint").alias(
            "n_zero_registers"
        ),
        (
            F.lit(_HLL_ALPHA * (_HLL_M * _HLL_M))
            * F.lit(float(1 << top))
            / (
                F.col("s_present")
                + (F.lit(_HLL_M) - F.col("n_present")) * F.lit(1 << top)
            ).cast("double")
        ).alias("e_raw"),
        F.col("n_exact"),
    )
    from data_engineering_nd_spark.functions.numeric import (
        round_half_up,
        round_half_up_long,
    )

    return x.select(
        F.lit(_HLL_M).cast("int").alias("m"),
        "n_exact",
        "register_sum",
        "n_zero_registers",
        round_half_up(F.col("e_raw"), 4).alias("hll_estimate"),
        round_half_up_long(
            F.abs(F.col("e_raw") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double")
            * F.lit(10000.0)
        ).alias("rel_error_e4"),
    )


# --------------------------------------------------------------------------
# q77 — explicit GROUPING SETS with a grouping id: the third member of the
# multi-grain family (q25 ROLLUP, q41 CUBE). Unlike rollup/cube this picks
# a NON-LATTICE set of grains — exactly (flag, status), (status), and the
# grand total, skipping (flag) — which only GROUPING SETS can express in
# one Expand from one shuffle. Runs through the SQL API over a temp view
# (the reference's createOrReplaceTempView surface, S11).
# --------------------------------------------------------------------------
@query(
    "q77_grouping_sets",
    oracle="""
    SELECT
        COALESCE(l_returnflag, '<all>') AS returnflag,
        COALESCE(l_linestatus, '<all>') AS linestatus,
        GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS grain_id,
        COUNT(*) AS n_rows,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
)
def q77_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    li.createOrReplaceTempView("q77_lineitem")
    return spark.sql("""
        SELECT
            COALESCE(l_returnflag, '<all>') AS returnflag,
            COALESCE(l_linestatus, '<all>') AS linestatus,
            CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
                AS grain_id,
            COUNT(*) AS n_rows,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM q77_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """)


# --------------------------------------------------------------------------
# q78 — deterministic quantile binning (feature bucketization): NTILE with a
# total order. The per-group partitioning keeps every window bounded by the
# group's row count — no global single-partition window.
# --------------------------------------------------------------------------
@query(
    "q78_quantile_bins",
    oracle="""
    WITH binned AS (
        -- explicit NULLS LAST: Spark sorts nulls first by default while
        -- DuckDB defaults to NULLS LAST, so a nullable value column would
        -- silently shift every bin (latent cross-engine hazard; the
        -- current corpus has no null values, the contract should not
        -- depend on that)
        SELECT event_type, value,
               ntile(10) OVER (PARTITION BY event_type
                               ORDER BY value NULLS LAST, event_id) AS bin
        FROM events
    )
    SELECT event_type, CAST(bin AS INT) AS bin,
           COUNT(*) AS n_rows,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM binned
    GROUP BY event_type, bin
    """,
)
def q78_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bins of event value per event type — the feature-binning
    pass before bucketized histograms / monotonic feature encoding. NTILE
    over a TOTAL order (value, event_id): ties broken by the unique id,
    so bin assignment is engine- and rerun-exact; min/max per bin pass
    through untouched doubles (no arithmetic, no rounding hazard).

    Scale note: exact NTILE sorts each group in one partition — correct
    here (the contract under verification) and fine while groups fit a
    partition, but at 100 TB with few hot groups you bin against
    percentile_approx boundaries instead (one agg + a broadcast range
    join; approximate edges, no per-group sort). The exact form stays the
    oracle for that rewrite."""
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("value"), "event_id"
    )
    return (
        ev.withColumn("bin", F.ntile(10).over(w))
        .groupBy("event_type", F.col("bin").cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


# --------------------------------------------------------------------------
# q81: grouped HLL + the register-merge law — the property that makes the
# sketch a warehouse primitive: yesterday's registers max-merge with
# today's, per group, with no re-scan of history.
# --------------------------------------------------------------------------

@query(
    "q81_hll_grouped_merge",
    oracle=f"""
    WITH slots AS (
        SELECT o_orderpriority AS grp,
               o_orderkey % 2 AS half,
               o_custkey,
               CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
                    AS BIGINT) >> {_HLL_TAIL_BITS} AS idx,
               CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
                    AS BIGINT) & {(1 << _HLL_TAIL_BITS) - 1} AS tail
        FROM orders
    ),
    rho AS (
        SELECT grp, half, idx,
               CASE WHEN tail = 0 THEN {_HLL_TAIL_BITS + 1}
                    ELSE {_HLL_TAIL_BITS + 1} - length(bin(tail)) END AS r
        FROM slots
    ),
    half_regs AS (
        SELECT grp, half, idx, MAX(r) AS m_j FROM rho GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT grp, idx, MAX(m_j) AS m_j FROM half_regs GROUP BY 1, 2
    ),
    direct AS (
        SELECT grp, idx, MAX(r) AS m_j FROM rho GROUP BY 1, 2
    ),
    msum AS (
        SELECT grp,
               CAST(SUM(CAST(power(2, {_HLL_TAIL_BITS + 1} - m_j) AS BIGINT))
                    AS BIGINT) AS s_present,
               COUNT(*) AS n_present
        FROM merged GROUP BY grp
    ),
    dsum AS (
        SELECT grp,
               CAST(SUM(CAST(power(2, {_HLL_TAIL_BITS + 1} - m_j) AS BIGINT))
                    AS BIGINT) AS s_present,
               COUNT(*) AS n_present
        FROM direct GROUP BY grp
    ),
    exact AS (
        SELECT grp, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
        FROM slots GROUP BY grp
    )
    SELECT e.grp,
           e.n_exact,
           CAST(d.s_present + ({_HLL_M} - d.n_present)
                * {1 << (_HLL_TAIL_BITS + 1)} AS BIGINT) AS register_sum,
           CAST(m.s_present + ({_HLL_M} - m.n_present)
                * {1 << (_HLL_TAIL_BITS + 1)} AS BIGINT) AS register_sum_merged,
           floor((({_HLL_ALPHA} * {_HLL_M * _HLL_M})
                  * {float(1 << (_HLL_TAIL_BITS + 1))})
                 / CAST(m.s_present + ({_HLL_M} - m.n_present)
                        * {1 << (_HLL_TAIL_BITS + 1)} AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS hll_estimate
    FROM exact e
    JOIN msum m USING (grp)
    JOIN dsum d USING (grp)
    ORDER BY grp
    """,
)
def q81_hll_grouped_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority HLL distinct-customer estimates, built TWICE: directly
    over each group, and by max-merging the registers of two disjoint
    halves (o_orderkey parity — the daily-partition stand-in). The merge
    law max(max(A), max(B)) = max(A ∪ B) makes both register sums
    identical, and the value hash pins that equality per group — the
    property that lets 365 daily sketches roll up to a yearly distinct
    count without re-scanning a year of data.

    Same exact-BIGINT estimator arithmetic as q74 (no ln(), raw regime by
    design at every SF); sketch memory is O(groups x m). Both register
    builds are map-side-combinable hash-aggs; the halves never co-shuffle
    with the direct build."""
    tail_bits = _HLL_TAIL_BITS
    top = tail_bits + 1
    from data_engineering_nd_spark.functions.hashing import md5_prefix_long
    from data_engineering_nd_spark.functions.numeric import round_half_up

    o = load(spark, "orders", sf_dir)
    h = md5_prefix_long(F.col("o_custkey").cast("string"), 15)
    rho = F.when(F.col("tail") == 0, F.lit(top)).otherwise(
        F.lit(top) - F.length(F.conv(F.col("tail").cast("string"), 10, 2))
    )
    slots = o.select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_orderkey") % 2).alias("half"),
        F.col("o_custkey"),
        F.shiftright(h, tail_bits).alias("idx"),
        h.bitwiseAND(F.lit((1 << tail_bits) - 1)).alias("tail"),
    ).withColumn("r", rho)

    def reg_sum(regs: DataFrame, alias: str) -> DataFrame:
        return regs.groupBy("grp").agg(
            (
                F.sum(F.expr(f"CAST(pow(2, {top} - m_j) AS BIGINT)"))
                + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(1 << top)
            )
            .cast("bigint")
            .alias(alias)
        )

    half_regs = slots.groupBy("grp", "half", "idx").agg(F.max("r").alias("m_j"))
    merged = half_regs.groupBy("grp", "idx").agg(F.max("m_j").alias("m_j"))
    direct = slots.groupBy("grp", "idx").agg(F.max("r").alias("m_j"))
    msum = reg_sum(merged, "register_sum_merged")
    dsum = reg_sum(direct, "register_sum")
    exact = slots.groupBy("grp").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_exact")
    )
    return (
        exact.join(msum, "grp")
        .join(dsum, "grp")
        .select(
            "grp",
            "n_exact",
            "register_sum",
            "register_sum_merged",
            round_half_up(
                F.lit(_HLL_ALPHA * (_HLL_M * _HLL_M))
                * F.lit(float(1 << top))
                / F.col("register_sum_merged").cast("double"),
                4,
            ).alias("hll_estimate"),
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# q83 — grouped linear regression (closed-form OLS): the per-segment trend
# primitive (price-vs-quantity elasticity, tokens-vs-docs growth). One
# hash-agg produces the five sufficient statistics; slope/intercept/r2 are
# a fixed arithmetic tree over them, so a 100 TB fit costs exactly one
# shuffle and the model math never sees a second pass over the data.
# --------------------------------------------------------------------------

# The sufficient-statistic sums accumulate in DECIMAL (exact, order-free)
# and emit DOUBLE; every downstream op is the SAME IEEE expression tree on
# both engines, so slope/intercept/r2 are bit-identical before rounding.
_LINREG_STATS_SQL = """
    s AS (
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS sy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,4)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,4)))
                    AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice
                             AS DECIMAL(30,4))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY l_returnflag
    ),
    t AS (
        SELECT l_returnflag, n_rows, n, sx, sy,
               (n * sxy - sx * sy) AS cov_n,
               (n * sxx - sx * sx) AS varx_n,
               (n * syy - sy * sy) AS vary_n
        FROM s
    )
"""


@query(
    "q83_grouped_linreg",
    oracle=f"""
    WITH {_LINREG_STATS_SQL}
    SELECT l_returnflag,
           n_rows,
           floor((cov_n / varx_n) * 1000000.0 + 0.5) / 1000000.0 AS slope,
           floor(((sy - (cov_n / varx_n) * sx) / n) * 1000000.0 + 0.5)
               / 1000000.0 AS intercept,
           floor(((cov_n * cov_n) / (varx_n * vary_n)) * 1000000.0 + 0.5)
               / 1000000.0 AS r2
    FROM t
    """,
)
def q83_grouped_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of extendedprice on quantity from the five
    closed-form sufficient statistics (n, Sx, Sy, Sxx, Sxy, Syy):
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), intercept from the means,
    r2 = cov^2 / (varx * vary). Products of a <=2-decimal price with an
    integral quantity have <=2 true decimals, so the DECIMAL(30,4) casts
    land far from any rounding boundary; the sums are exact and the model
    arithmetic is the identical IEEE tree in both engines (registry
    determinism rules). floor-based half-up keeps the 6-dp display
    rounding cross-engine exact (functions/numeric.py).

    Scale shape: ONE map-side-combinable hash-agg over the fact table —
    the regression itself is free. This is the segmented-trend shape
    (Capstone/README.md:21-30's "monthly trends" questions) fitted
    in-warehouse instead of in a notebook."""
    li = load(spark, "lineitem", sf_dir)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(F.col("l_quantity")).alias("sx"),
        dsum(F.col("l_extendedprice")).alias("sy"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(30,4)"))
        .cast("double")
        .alias("sxx"),
        F.sum(
            (F.col("l_quantity") * F.col("l_extendedprice")).cast("decimal(30,4)")
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            (F.col("l_extendedprice") * F.col("l_extendedprice")).cast(
                "decimal(30,4)"
            )
        )
        .cast("double")
        .alias("syy"),
    )
    from data_engineering_nd_spark.functions.numeric import round_half_up

    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope_raw = cov_n / varx_n
    return s.select(
        "l_returnflag",
        "n_rows",
        round_half_up(slope_raw, 6).alias("slope"),
        round_half_up(
            (F.col("sy") - slope_raw * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
        round_half_up((cov_n * cov_n) / (varx_n * vary_n), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# q84 — KMV (k minimum values) distinct sketch with SET OPERATIONS: the
# third sketch family next to CMS (q69, "how often") and HLL (q74, "how
# many distinct"). KMV's extra power is estimating UNION / INTERSECTION /
# Jaccard between sketches (Beyer et al., "On Synopses for Distinct-Value
# Estimation Under Multiset Operations", SIGMOD 2007) — HLL registers
# cannot intersect. Same md5-derived hash as the other sketches, so build
# AND estimator arithmetic are SQL-mirrorable and value-hash verified.
# --------------------------------------------------------------------------

_KMV_K = 256
_KMV_SPACE = float(1 << 60)  # md5 60-bit prefix space, exact as a double


@query(
    "q84_kmv_distinct",
    oracle=f"""
    WITH ha AS (
        SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)),
                                                 1, 15)) AS BIGINT) AS h
        FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996
    ),
    hb AS (
        SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)),
                                                 1, 15)) AS BIGINT) AS h
        FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1997
    ),
    ak AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
    bk AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
    uk AS (
        SELECT h FROM (SELECT h FROM ak UNION SELECT h FROM bk) u
        ORDER BY h LIMIT {_KMV_K}
    ),
    sa AS (SELECT COUNT(*) AS cnt, MAX(h) AS kth FROM ak),
    sb AS (SELECT COUNT(*) AS cnt, MAX(h) AS kth FROM bk),
    su AS (SELECT COUNT(*) AS cnt, MAX(h) AS kth FROM uk),
    ov AS (
        SELECT COUNT(*) AS n FROM uk
        WHERE h IN (SELECT h FROM ak) AND h IN (SELECT h FROM bk)
    ),
    ex AS (
        SELECT (SELECT COUNT(*) FROM ha) AS a_exact,
               (SELECT COUNT(*) FROM hb) AS b_exact,
               (SELECT COUNT(*) FROM ha JOIN hb USING (h)) AS i_exact
    ),
    est AS (
        SELECT
            CASE WHEN sa.cnt < {_KMV_K} THEN CAST(sa.cnt AS DOUBLE)
                 ELSE {_KMV_K - 1}.0 * {_KMV_SPACE:.1f} / CAST(sa.kth AS DOUBLE)
            END AS a_raw,
            CASE WHEN sb.cnt < {_KMV_K} THEN CAST(sb.cnt AS DOUBLE)
                 ELSE {_KMV_K - 1}.0 * {_KMV_SPACE:.1f} / CAST(sb.kth AS DOUBLE)
            END AS b_raw,
            CASE WHEN su.cnt < {_KMV_K} THEN CAST(su.cnt AS DOUBLE)
                 ELSE {_KMV_K - 1}.0 * {_KMV_SPACE:.1f} / CAST(su.kth AS DOUBLE)
            END AS u_raw,
            CAST(ov.n AS DOUBLE) / CAST(su.cnt AS DOUBLE) AS jacc_raw,
            sa.kth AS a_kth, sb.kth AS b_kth, su.kth AS u_kth,
            CAST(ov.n AS BIGINT) AS overlap_k
        FROM sa, sb, su, ov
    )
    SELECT CAST({_KMV_K} AS INT) AS k,
           CAST(ex.a_exact AS BIGINT) AS a_exact,
           CAST(ex.b_exact AS BIGINT) AS b_exact,
           CAST(ex.i_exact AS BIGINT) AS i_exact,
           est.a_kth, est.b_kth, est.u_kth, est.overlap_k,
           floor(est.a_raw * 10000.0 + 0.5) / 10000.0 AS a_est,
           floor(est.b_raw * 10000.0 + 0.5) / 10000.0 AS b_est,
           floor(est.u_raw * 10000.0 + 0.5) / 10000.0 AS union_est,
           floor(est.jacc_raw * 1000000.0 + 0.5) / 1000000.0 AS jaccard_est,
           floor(est.jacc_raw * est.u_raw * 10000.0 + 0.5) / 10000.0
               AS intersect_est
    FROM est, ex
    """,
)
def q84_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketches of the distinct 1996- and 1997-customer sets, merged:
    distinct estimate (k-1) * 2^60 / h_(k) per set, union sketch = k
    smallest of the sketch union, Jaccard = |merged sketch elements in
    BOTH sketches| / |merged sketch|, intersection = Jaccard x union —
    the overlap arithmetic HLL registers cannot express. Exact counts
    ride along so the report is self-grading. When a set has fewer than k
    distinct hashes the sketch IS the set and the exact count is emitted
    (both engines take the same CASE branch).

    Determinism: hashes are exact md5-prefix BIGINTs; kth-min / overlap
    counts are integers; estimates are one IEEE division of exact values,
    identical tree both engines, floor-rounded for display.

    Scale shape: per-set k-min is sorted-LIMIT — Spark plans
    TakeOrderedAndProject (per-partition heap of k, merge of per-partition
    heads), never a global sort; sketch-on-sketch ops touch <= 3k rows.
    At 100 TB each day's sketch is k BIGINTs: union-merge is
    re-sort + limit, no re-scan of history — same warehouse-rollup story
    as the q81 HLL register merge, plus intersections."""
    from data_engineering_nd_spark.functions.hashing import md5_prefix_long
    from data_engineering_nd_spark.functions.numeric import round_half_up

    o = load(spark, "orders", sf_dir)
    h = md5_prefix_long(F.col("o_custkey").cast("string"), 15)

    def year_set(y: int) -> DataFrame:
        return (
            o.filter(F.year(F.col("o_orderdate").cast("date")) == y)
            .select(h.alias("h"))
            .distinct()
        )

    ha, hb = year_set(1996), year_set(1997)
    ak = ha.orderBy("h").limit(_KMV_K).localCheckpoint()
    bk = hb.orderBy("h").limit(_KMV_K).localCheckpoint()
    uk = (
        ak.unionByName(bk).distinct().orderBy("h").limit(_KMV_K).localCheckpoint()
    )

    def sketch_stats(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias(f"{tag}_cnt"),
            F.max("h").alias(f"{tag}_kth"),
        )

    sa = sketch_stats(ak, "a")
    sb = sketch_stats(bk, "b")
    su = sketch_stats(uk, "u")
    ov = (
        uk.join(ak, "h", "semi")
        .join(bk, "h", "semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("overlap_k"))
    )
    ex = (
        ha.join(hb, "h", "semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("i_exact"))
        .crossJoin(ha.agg(F.count(F.lit(1)).cast("bigint").alias("a_exact")))
        .crossJoin(hb.agg(F.count(F.lit(1)).cast("bigint").alias("b_exact")))
    )
    row = (
        sa.crossJoin(sb).crossJoin(su).crossJoin(ov).crossJoin(F.broadcast(ex))
    )

    def raw_est(tag: str) -> Column:
        return F.when(
            F.col(f"{tag}_cnt") < _KMV_K, F.col(f"{tag}_cnt").cast("double")
        ).otherwise(
            F.lit(float(_KMV_K - 1))
            * F.lit(_KMV_SPACE)
            / F.col(f"{tag}_kth").cast("double")
        )

    jacc_raw = F.col("overlap_k").cast("double") / F.col("u_cnt").cast("double")
    return row.select(
        F.lit(_KMV_K).cast("int").alias("k"),
        "a_exact",
        "b_exact",
        "i_exact",
        "a_kth",
        "b_kth",
        "u_kth",
        "overlap_k",
        round_half_up(raw_est("a"), 4).alias("a_est"),
        round_half_up(raw_est("b"), 4).alias("b_est"),
        round_half_up(raw_est("u"), 4).alias("union_est"),
        round_half_up(jacc_raw, 6).alias("jaccard_est"),
        round_half_up(jacc_raw * raw_est("u"), 4).alias("intersect_est"),
    )


# --------------------------------------------------------------------------
# q85 — time-decayed aggregates: recency-weighted revenue per priority with
# a 180-day half-life. The decay weight is DYADIC — 2^-floor(age/180) via
# an integer bit shift — so the weight itself is EXACT in both engines (a
# power of two scales a double's exponent only), term rounding is the only
# quantization, and the e6-scaled BIGINT accumulation makes the sum
# order-free (registry determinism rules; same pattern as BM25/PQ scores).
# --------------------------------------------------------------------------
_DECAY_ANCHOR = "2001-09-01"    # first month after max(o_orderdate)
_DECAY_HALF_LIFE_DAYS = 180


@query(
    "q85_decayed_revenue",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority AS priority,
               o_totalprice,
               CAST(date_diff('day', CAST(o_orderdate AS DATE),
                              DATE '{_DECAY_ANCHOR}') AS BIGINT)
                   // {_DECAY_HALF_LIFE_DAYS} AS k
        FROM orders
    ),
    terms AS (
        SELECT priority, o_totalprice,
               CAST(floor(o_totalprice
                          / CAST(CAST(1 AS BIGINT) << k AS DOUBLE)
                          * 1000000.0 + 0.5) AS BIGINT) AS term_e6
        FROM base
    )
    SELECT priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue_total,
           CAST(SUM(term_e6) AS BIGINT) AS revenue_decayed_e6,
           CAST(SUM(term_e6) AS DOUBLE) / 1000000.0 AS revenue_decayed,
           floor((CAST(SUM(term_e6) AS DOUBLE) / 1000000.0)
                 / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS retention_ratio
    FROM terms GROUP BY priority
    """,
)
def q85_decayed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted revenue per order priority: each order
    contributes totalprice * 2^-floor(age_days / 180) — a half-life decay
    whose weights halve every 180 days from the 2001-09-01 anchor. The
    feature-engineering shape behind "recent activity" signals (decayed
    engagement counters, freshness-weighted corpus mixes): a plain
    hash-agg, no window, because the decay depends on the anchor, not on
    neighboring rows.

    Determinism: the weight divisor is an integer bit shift (exact), the
    per-term product is one IEEE op, each TERM is floor-rounded to e6 and
    accumulated as BIGINT, so neither engine's summation order matters.
    retention_ratio = decayed / undecayed revenue (how "fresh" each
    priority's revenue mix is).

    Scale shape: one map-side-combinable hash-agg over orders; the decay
    math is whole-stage-codegen arithmetic on the scan. Refreshing the
    anchor daily re-scans nothing if revenue is stored e6-scaled per
    (priority, age-bucket): rolling the anchor forward one bucket is a
    BIGINT shift per bucket — the same merge-not-rescan story as the
    sketch family."""
    o = load(spark, "orders", sf_dir)
    days = F.datediff(
        F.lit(_DECAY_ANCHOR).cast("date"), F.col("o_orderdate").cast("date")
    ).cast("bigint")
    base = o.select(
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice",
        days.alias("days"),
    ).withColumn("k", F.expr(f"days DIV {_DECAY_HALF_LIFE_DAYS}"))
    terms = base.select(
        "priority",
        "o_totalprice",
        F.floor(
            F.col("o_totalprice")
            / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(k AS INT)) AS DOUBLE)")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("term_e6"),
    )
    sum_e6 = F.sum("term_e6").cast("bigint")
    total = dsum(F.col("o_totalprice"))
    from data_engineering_nd_spark.functions.numeric import round_half_up

    return terms.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        total.alias("revenue_total"),
        sum_e6.alias("revenue_decayed_e6"),
        (sum_e6.cast("double") / F.lit(1000000.0)).alias("revenue_decayed"),
        round_half_up(
            (sum_e6.cast("double") / F.lit(1000000.0)) / total, 6
        ).alias("retention_ratio"),
    )


# --------------------------------------------------------------------------
# q86 — last-touch attribution: each purchase is credited to the user's
# most recent click/view in the preceding hour, else 'direct'. The batch
# mirror of the streaming click->purchase join (streaming/queries.py:278)
# — same business rule, replayable over history, and the shape marketing
# warehouses run nightly at fact-table scale.
# --------------------------------------------------------------------------
@query(
    "q86_last_touch_attribution",
    oracle="""
    WITH p AS (
        SELECT event_id AS pid, user_id, ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT event_id AS tid, user_id, ts, event_type
        FROM events WHERE event_type IN ('click', 'view')
    ),
    ranked AS (
        SELECT p.pid, t.event_type,
               row_number() OVER (PARTITION BY p.pid
                                  ORDER BY t.ts DESC, t.tid DESC) AS rn
        FROM p JOIN t
          ON p.user_id = t.user_id
         AND t.ts < p.ts
         AND t.ts >= p.ts - INTERVAL 1 HOUR
    ),
    best AS (SELECT pid, event_type FROM ranked WHERE rn = 1)
    SELECT COALESCE(b.event_type, 'direct') AS channel,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE)
               AS attributed_value
    FROM p LEFT JOIN best b ON p.pid = b.pid
    GROUP BY 1
    """,
)
def q86_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase revenue attributed to the last qualifying touch (click or
    view) by the same user within the preceding hour; purchases with no
    touch in the window are 'direct'. The winning touch is the row_number
    = 1 row under the TOTAL order (ts DESC, event_id DESC) — microsecond
    timestamps compare exactly and the unique id breaks equal-timestamp
    ties, so attribution is engine- and rerun-exact. Values accumulate in
    DECIMAL (order-free) before the double emit.

    Scale shape: the candidate join is an equi-join on user_id with the
    hour range as a pushed residual — per-user event counts bound the
    fan-out, and the per-purchase window partitions by purchase id, so no
    global sort anywhere. At 100 TB you additionally bucket both sides by
    user_id (bucketing.py) to co-locate the join, and the hour bound maps
    to day-partition pruning on the touch scan (scan yesterday+today, not
    history)."""
    ev = load(spark, "events", sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("tid"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type"),
    )
    cand = p.join(
        t,
        (p["p_user"] == t["t_user"])
        & (t["t_ts"] < p["p_ts"])
        & (t["t_ts"] >= p["p_ts"] - F.expr("INTERVAL 1 HOUR")),
    )
    w = Window.partitionBy("pid").orderBy(
        F.col("t_ts").desc(), F.col("tid").desc()
    )
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("pid", "event_type")
    )
    return (
        p.join(best, "pid", "left")
        .select(
            F.coalesce(F.col("event_type"), F.lit("direct")).alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum(F.col("value")).alias("attributed_value"),
        )
    )


# --------------------------------------------------------------------------
# q87 — skyline (Pareto frontier): parts no other part beats on BOTH price
# (lower better) and size (higher better). The textbook formulation is a
# quadratic NOT-EXISTS anti-join; the scalable one is a PREFIX-MAX over
# the price order — a point is dominated iff some strictly-cheaper point
# has size >= its own, or a same-price point has size strictly greater.
# Implemented as the DISTRIBUTED two-pass prefix-max (range-bucket the
# price axis; per-bucket running max in parallel windows; carry bucket
# boundary maxima through one tiny window), so no global single-partition
# sort ever materializes. The oracle states the same frontier from the
# single global-window formulation — equivalent by construction.
# --------------------------------------------------------------------------

_SKYLINE_BUCKETS = 32


@query(
    "q87_skyline_pareto",
    oracle="""
    WITH pts AS (
        SELECT p_partkey,
               CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price_e2,
               p_size, p_retailprice
        FROM part
    ),
    w AS (
        SELECT p_partkey, p_retailprice, p_size, price_e2,
               max(p_size) OVER (ORDER BY price_e2
                                 RANGE BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS cheaper_max,
               max(p_size) OVER (PARTITION BY price_e2) AS same_price_max
        FROM pts
    )
    SELECT p_partkey, p_retailprice, CAST(p_size AS INT) AS p_size
    FROM w
    WHERE (cheaper_max IS NULL OR p_size > cheaper_max)
      AND p_size = same_price_max
    """,
)
def q87_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts (minimize retailprice, maximize size).

    Dominance: x dominates y iff price_x <= price_y AND size_x >= size_y
    with at least one strict. Keep y iff (a) no strictly-cheaper point
    reaches its size — size_y > max(size) over price < price_y — and (b)
    no same-price point strictly exceeds it — size_y = max(size) over its
    exact price. Prices are compared at exact e2 BIGINTs (2-decimal money;
    floor-half-up), so "strictly cheaper" is integer arithmetic.

    Scale shape: the prefix-max is bucketed — price_e2 range-buckets by
    INTEGER arithmetic from the global bounds (deterministic, unlike
    sampled repartitionByRange), each bucket computes its running max in
    a parallel window partition, and cross-bucket carry is a prefix-max
    over the <= 32-row bucket-maxima frame (the only global window, data-
    independent in size). Total cost: one bounds agg + one shuffle on the
    bucket key + one broadcast join — survives any SF; the quadratic
    NOT-EXISTS it replaces does not. Two dims only by design: for d >= 3
    the frontier loses the 1-D sort structure and you block on a grid
    instead (same bucket trick, d axes).
    """
    pt = load(spark, "part", sf_dir)
    pts = pt.select(
        "p_partkey",
        "p_retailprice",
        "p_size",
        F.floor(F.col("p_retailprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("price_e2"),
    )
    bounds = pts.agg(
        F.min("price_e2").alias("mn"), F.max("price_e2").alias("mx")
    )
    b = pts.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket",
        F.expr(
            f"CAST((price_e2 - mn) DIV ((mx - mn) DIV {_SKYLINE_BUCKETS} + 1)"
            " AS INT)"
        ),
    )
    in_bucket = (
        Window.partitionBy("bucket")
        .orderBy("price_e2")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    b = b.withColumn("in_bucket_max", F.max("p_size").over(in_bucket))
    bmax = b.groupBy("bucket").agg(F.max("p_size").alias("bucket_max"))
    carry_w = (
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = bmax.withColumn(
        "prev_buckets_max", F.max("bucket_max").over(carry_w)
    ).select("bucket", "prev_buckets_max")
    same_w = Window.partitionBy("price_e2")
    out = (
        b.join(F.broadcast(carry), "bucket")
        .withColumn(
            "cheaper_max",
            F.greatest(
                F.coalesce(F.col("in_bucket_max"), F.lit(-1)),
                F.coalesce(F.col("prev_buckets_max"), F.lit(-1)),
            ),
        )
        .withColumn("same_price_max", F.max("p_size").over(same_w))
        .filter(
            (F.col("p_size") > F.col("cheaper_max"))
            & (F.col("p_size") == F.col("same_price_max"))
        )
    )
    return out.select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("int").alias("p_size")
    )


# --------------------------------------------------------------------------
# q88 — bitmap-index distinct & retention: daily active users as bitmaps
# (one BIGINT word per 32 user ids; bit j of word w set iff user w*32+j
# was active), the Roaring-bitmap idea on native columns. DAU = popcount,
# day-over-day retention = popcount(today AND yesterday) — set
# intersection as ONE bitwise op per word, no re-shuffle of the raw
# events. The warehouse primitive behind fast audience/retention overlap
# queries; bit-exact in both engines (32-bit payload per word keeps every
# shift below the BIGINT sign bit).
# --------------------------------------------------------------------------
@query(
    "q88_bitmap_retention",
    oracle="""
    WITH words AS (
        SELECT CAST(ts AS DATE) AS day,
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
        LEFT JOIN words y ON y.word = t.word AND y.day = t.day - 1
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
def q88_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users and day-over-day retained users computed on
    bitmap words: build (day, word, bits) once — one hash-agg with
    bit_or, 32 users per BIGINT — then intersect consecutive days with a
    word-aligned self-join and popcount. DAU and retained are exact
    integers; retention is one IEEE division, floor-rounded.

    Scale shape: the bitmap build is map-side-combinable (bit_or is
    associative/commutative) and compresses n_users presence bits into
    n_users/32 words; the retention join touches words, not events, and
    is equi on (word, day) — at 100 TB the words table IS the audience
    index, reused across every overlap query (weekly retention, cohort
    intersections) with popcount arithmetic instead of re-scanning
    events. Words use 32-bit payloads so no shift ever reaches the BIGINT
    sign bit (two's-complement portability guard)."""
    ev = load(spark, "events", sf_dir)
    words = (
        ev.select(
            F.to_date("ts").alias("day"),
            F.expr("user_id DIV 32").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))"
            ).alias("bit"),
        )
        .groupBy("day", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    t = words.alias("t")
    y = words.select(
        F.date_add("day", 1).alias("yday_plus"),
        F.col("word").alias("y_word"),
        F.col("bits").alias("y_bits"),
    ).alias("y")
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
    from data_engineering_nd_spark.functions.numeric import round_half_up

    per_day = joined.groupBy("day").agg(
        F.sum(F.bit_count("today_bits")).cast("bigint").alias("dau"),
        F.sum(F.bit_count(F.expr("today_bits & yday_bits")))
        .cast("bigint")
        .alias("retained"),
    )
    return per_day.select(
        F.col("day").cast("timestamp_ntz").alias("day"),
        "dau",
        "retained",
        round_half_up(
            F.col("retained").cast("double") / F.col("dau").cast("double"), 6
        ).alias("retention"),
    )


# --------------------------------------------------------------------------
# q89 — robust outlier detection: median absolute deviation (MAD) per
# group, the estimator that survives the outliers it hunts (variance-based
# z-scores are dragged by the very tails they flag). Two exact-percentile
# passes + one closed-form rule; the 1.4826 normal-consistency constant is
# a shared literal, never computed.
# --------------------------------------------------------------------------

_MAD_SIGMA_K = 1.4826   # 1 / Phi^-1(3/4): MAD -> sigma under normality
_MAD_CUTOFF = 3.0


@query(
    "q89_mad_outliers",
    oracle=f"""
    WITH med AS (
        SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS median_price
        FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
        SELECT l.l_returnflag, l.l_extendedprice, m.median_price,
               abs(l.l_extendedprice - m.median_price) AS adev
        FROM lineitem l JOIN med m USING (l_returnflag)
    ),
    mad AS (
        SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad_raw
        FROM dev GROUP BY l_returnflag
    )
    SELECT d.l_returnflag,
           COUNT(*) AS n_rows,
           floor(MIN(d.median_price) * 10000.0 + 0.5) / 10000.0 AS median_price,
           floor(MIN(m.mad_raw) * 10000.0 + 0.5) / 10000.0 AS mad,
           CAST(SUM(CASE WHEN d.adev > {_MAD_CUTOFF} * {_MAD_SIGMA_K} * m.mad_raw
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           floor(CAST(SUM(CASE WHEN d.adev > {_MAD_CUTOFF} * {_MAD_SIGMA_K} * m.mad_raw
                              THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS outlier_share
    FROM dev d JOIN mad m USING (l_returnflag)
    GROUP BY d.l_returnflag
    """,
)
def q89_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag robust outlier report: median price, MAD, and the
    count of rows whose absolute deviation exceeds 3 * 1.4826 * MAD (the
    "3 robust sigmas" rule). Exact interpolated percentiles on both
    engines (Spark percentile == DuckDB quantile_cont: sort + linear
    interpolation, identical IEEE arithmetic on identical values), so the
    cut decisions agree row-for-row; the boundary compare uses the same
    unrounded values in both engines.

    Scale shape: two grouped exact percentiles (per-group sort, bounded
    by group size) + one broadcast join of the 3-row medians frame + one
    hash-agg. At 100 TB you swap the exact medians for
    approx_percentile with a pinned accuracy and keep this as the
    per-block oracle — the same exact-vs-approx split q28 gates."""
    li = load(spark, "lineitem", sf_dir)
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_price")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "median_price",
        F.abs(F.col("l_extendedprice") - F.col("median_price")).alias("adev"),
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.expr("percentile(adev, 0.5)").alias("mad_raw")
    )
    from data_engineering_nd_spark.functions.numeric import round_half_up

    cut = F.lit(_MAD_CUTOFF) * F.lit(_MAD_SIGMA_K) * F.col("mad_raw")
    flagged = F.sum(
        F.when(F.col("adev") > cut, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            round_half_up(F.min("median_price"), 4).alias("median_price"),
            round_half_up(F.min("mad_raw"), 4).alias("mad"),
            flagged.cast("bigint").alias("n_outliers"),
            round_half_up(
                flagged.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("outlier_share"),
        )
    )


# --------------------------------------------------------------------------
# q90 — ROLLING 7-day distinct users via windowed HLL register merge: the
# sliding-window distinct problem ("7-day actives, daily"), which exact
# COUNT(DISTINCT) solves by re-scanning 7 days of raw events PER DAY. The
# sketch solution: build per-day registers ONCE (q74/q81 arithmetic),
# then every day's 7-day estimate is a max-merge of 7 register sets —
# O(days * m) work on the register table, zero re-reads of events. The
# exact windowed count rides along (computed via the same explode so both
# engines enumerate identical (window, user) pairs) to grade the sketch.
# --------------------------------------------------------------------------

_ROLL_WINDOW_DAYS = 7


@query(
    "q90_rolling_distinct",
    oracle=f"""
    WITH base AS (
        SELECT CAST(ts AS DATE) AS day,
               user_id,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM events
    ),
    spine AS (SELECT DISTINCT day FROM base),
    regs AS (
        SELECT day,
               h >> {_HLL_TAIL_BITS} AS idx,
               MAX(CASE WHEN (h & {(1 << _HLL_TAIL_BITS) - 1}) = 0
                        THEN {_HLL_TAIL_BITS + 1}
                        ELSE {_HLL_TAIL_BITS + 1}
                             - length(bin(h & {(1 << _HLL_TAIL_BITS) - 1}))
                   END) AS m_j
        FROM base GROUP BY 1, 2
    ),
    win_regs AS (
        SELECT r.day + CAST(g.o AS INT) AS wday, r.idx, MAX(r.m_j) AS m_j
        FROM regs r CROSS JOIN generate_series(0, {_ROLL_WINDOW_DAYS - 1}) g(o)
        WHERE r.day + CAST(g.o AS INT) IN (SELECT day FROM spine)
        GROUP BY 1, 2
    ),
    win_sum AS (
        SELECT wday,
               CAST(SUM(CAST(power(2, {_HLL_TAIL_BITS + 1} - m_j) AS BIGINT))
                    AS BIGINT) AS s_present,
               COUNT(*) AS n_present
        FROM win_regs GROUP BY wday
    ),
    exact AS (
        SELECT b.day + CAST(g.o AS INT) AS wday, COUNT(DISTINCT b.user_id) AS n_exact
        FROM base b CROSS JOIN generate_series(0, {_ROLL_WINDOW_DAYS - 1}) g(o)
        WHERE b.day + CAST(g.o AS INT) IN (SELECT day FROM spine)
        GROUP BY 1
    )
    SELECT CAST(w.wday AS TIMESTAMP) AS window_day,
           CAST(e.n_exact AS BIGINT) AS n_exact,
           CAST(w.s_present + ({_HLL_M} - w.n_present)
                * {1 << (_HLL_TAIL_BITS + 1)} AS BIGINT) AS register_sum,
           floor((({_HLL_ALPHA} * {_HLL_M * _HLL_M})
                  * {float(1 << (_HLL_TAIL_BITS + 1))})
                 / CAST(w.s_present + ({_HLL_M} - w.n_present)
                        * {1 << (_HLL_TAIL_BITS + 1)} AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS hll_estimate
    FROM win_sum w JOIN exact e ON w.wday = e.wday
    """,
)
def q90_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct-user estimates per day, from per-day HLL
    registers max-merged across each trailing window (windows keyed by
    their END day; only days observed in the data emit a row). The merge
    is expressed as an EXPLODE — each day's registers contribute to the
    <= 7 window-ends they fall in — so the whole rolling computation is
    one explode + one hash-agg on the m=16-register-per-day table, the
    associative-merge shape that scales to years of history. Exact
    windowed distincts ride along via the same explode. Same exact-BIGINT
    estimator arithmetic as q74/q81 (no ln, raw regime by design).

    Scale shape: events are touched ONCE (per-day register build, map-
    side combinable); everything rolling happens on days x m rows. The
    exact side re-enumerates (window, user) pairs — the cost the sketch
    exists to avoid — and is retained here as the self-grading baseline,
    exactly like q74's n_exact column."""
    from data_engineering_nd_spark.functions.hashing import md5_prefix_long
    from data_engineering_nd_spark.functions.numeric import round_half_up

    tail_bits = _HLL_TAIL_BITS
    top = tail_bits + 1
    ev = load(spark, "events", sf_dir)
    h = md5_prefix_long(F.col("user_id").cast("string"), 15)
    base = ev.select(
        F.to_date("ts").alias("day"),
        "user_id",
        h.alias("h"),
    )
    spine = base.select("day").distinct()
    rho = F.when(F.col("tail") == 0, F.lit(top)).otherwise(
        F.lit(top) - F.length(F.conv(F.col("tail").cast("string"), 10, 2))
    )
    regs = (
        base.select(
            "day",
            F.shiftright(F.col("h"), tail_bits).alias("idx"),
            F.col("h").bitwiseAND(F.lit((1 << tail_bits) - 1)).alias("tail"),
        )
        .withColumn("rho", rho)
        .groupBy("day", "idx")
        .agg(F.max("rho").alias("m_j"))
    )
    offsets = F.explode(
        F.array(*[F.lit(i) for i in range(_ROLL_WINDOW_DAYS)])
    ).alias("o")
    win_regs = (
        regs.select("day", "idx", "m_j", offsets)
        .withColumn("wday", F.date_add(F.col("day"), F.col("o")))
        .join(spine.select(F.col("day").alias("wday")), "wday", "semi")
        .groupBy("wday", "idx")
        .agg(F.max("m_j").alias("m_j"))
    )
    win_sum = win_regs.groupBy("wday").agg(
        F.sum(F.expr(f"CAST(pow(2, {top} - m_j) AS BIGINT)")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    exact = (
        base.select("day", "user_id", offsets)
        .withColumn("wday", F.date_add(F.col("day"), F.col("o")))
        .join(spine.select(F.col("day").alias("wday")), "wday", "semi")
        .groupBy("wday")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    reg_sum = (
        F.col("s_present")
        + (F.lit(_HLL_M) - F.col("n_present")) * F.lit(1 << top)
    ).cast("bigint")
    return (
        win_sum.join(exact, "wday")
        .select(
            F.col("wday").cast("timestamp_ntz").alias("window_day"),
            "n_exact",
            reg_sum.alias("register_sum"),
            round_half_up(
                F.lit(_HLL_ALPHA * (_HLL_M * _HLL_M))
                * F.lit(float(1 << top))
                / reg_sum.cast("double"),
                4,
            ).alias("hll_estimate"),
        )
    )


# --------------------------------------------------------------------------
# q91 — fuzzy record linkage with blocking: the entity-resolution primitive
# (match "blue bolt" ~ "blue rod") done the way it survives scale — collapse
# to DISTINCT entity strings first (hash-agg), generate candidate pairs only
# WITHIN a blocking key (first token), verify with exact edit distance.
# Never all-pairs over rows: pairs are C(k,2) per block over distinct names,
# not C(n,2) over the table. Levenshtein is an exact integer in both engines.
# --------------------------------------------------------------------------

_FUZZY_MAX_DIST = 3


@query(
    "q91_fuzzy_blocking_join",
    oracle=f"""
    WITH names AS (
        SELECT p_name,
               split_part(p_name, ' ', 1) AS adj,
               CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY 1, 2
    )
    SELECT a.p_name AS name_a,
           b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
           CASE WHEN levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
                THEN 1 ELSE 0 END AS is_match,
           a.n_parts AS n_parts_a,
           b.n_parts AS n_parts_b
    FROM names a JOIN names b ON a.adj = b.adj AND a.p_name < b.p_name
    """,
)
def q91_fuzzy_blocking_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-linkage of part names: distinct-entity collapse -> first-token
    blocking -> in-block candidate pairs (a < b) -> exact Levenshtein
    verify, flagging pairs within edit distance 3. Row counts per name ride
    along so matches can be weighted back to the base table.

    Scale shape: the expensive string metric runs on C(k,2) pairs per
    block over DISTINCT entities — the distinct collapse is one
    map-side-combinable hash-agg, the pair generation is an equi-join on
    the blocking key (never a cross join), and block sizes bound the
    quadratic term exactly the way LSH bands bound dedup pairs. At 100 TB
    you add a second blocking key (length band) to split hot blocks; the
    plan shape — hash-agg, equi-join, filter — is unchanged. Levenshtein
    is integer-exact in both engines, so the verify decision is
    hash-stable."""
    part = load(spark, "part", sf_dir)
    names = part.groupBy("p_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    ).withColumn("adj", F.split(F.col("p_name"), " ").getItem(0))
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("adj").alias("adj_a"),
        F.col("n_parts").alias("n_parts_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("adj").alias("adj_b"),
        F.col("n_parts").alias("n_parts_b"),
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(
            b,
            (F.col("adj_a") == F.col("adj_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .select(
            "name_a",
            "name_b",
            dist.cast("int").alias("edit_dist"),
            F.when(dist <= _FUZZY_MAX_DIST, F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_match"),
            "n_parts_a",
            "n_parts_b",
        )
    )


# --------------------------------------------------------------------------
# q92 — seasonal anomaly detection: daily revenue vs a day-of-week robust
# baseline (median + MAD per DOW), the q89 rule applied to a seasonal
# profile — weekday/weekend level shifts don't trip it, genuine outlier
# days do. The workhorse "is today weird for a Tuesday" monitor.
# --------------------------------------------------------------------------
@query(
    "q92_seasonal_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY 1, 2
    ),
    med AS (
        SELECT dow, quantile_cont(revenue, 0.5) AS med_rev
        FROM daily GROUP BY dow
    ),
    dev AS (
        SELECT d.dow, d.revenue, m.med_rev,
               abs(d.revenue - m.med_rev) AS adev
        FROM daily d JOIN med m USING (dow)
    ),
    mad AS (
        SELECT dow, quantile_cont(adev, 0.5) AS mad_raw FROM dev GROUP BY dow
    )
    SELECT d.dow,
           COUNT(*) AS n_days,
           floor(MIN(d.med_rev) * 10000.0 + 0.5) / 10000.0 AS median_revenue,
           floor(MIN(m.mad_raw) * 10000.0 + 0.5) / 10000.0 AS mad,
           CAST(SUM(CASE WHEN d.adev > {_MAD_CUTOFF} * {_MAD_SIGMA_K} * m.mad_raw
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM dev d JOIN mad m USING (dow)
    GROUP BY d.dow
    """,
)
def q92_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day-of-week anomaly report over the daily order-revenue series:
    median and MAD of the ~343 daily revenues landing on each DOW, and the
    count of days exceeding the 3-robust-sigma band. DOW convention is
    Spark's dayofweek (1=Sunday), mirrored as dayofweek()+1 in DuckDB.
    Daily revenues come from exact decimal accumulation, so both engines
    interpolate percentiles over bit-identical doubles.

    Scale shape: one hash-agg events->days (map-side combinable; days is
    tiny forever after), two grouped exact percentiles over <= 7 groups of
    days, one broadcast of the 7-row medians/MADs. The raw fact table is
    touched exactly once. At 100 TB the daily rollup IS the persisted
    metrics table and this query never re-reads facts."""
    from data_engineering_nd_spark.functions.numeric import round_half_up

    o = load(spark, "orders", sf_dir)
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.dayofweek(F.to_date("o_orderdate")).alias("dow"),
    ).agg(dsum(F.col("o_totalprice")).alias("revenue"))
    med = daily.groupBy("dow").agg(
        F.expr("percentile(revenue, 0.5)").alias("med_rev")
    )
    dev = daily.join(F.broadcast(med), "dow").select(
        "dow",
        "revenue",
        "med_rev",
        F.abs(F.col("revenue") - F.col("med_rev")).alias("adev"),
    )
    mad = dev.groupBy("dow").agg(
        F.expr("percentile(adev, 0.5)").alias("mad_raw")
    )
    return (
        dev.join(F.broadcast(mad), "dow")
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            round_half_up(F.min("med_rev"), 4).alias("median_revenue"),
            round_half_up(F.min("mad_raw"), 4).alias("mad"),
            F.sum(
                F.when(
                    F.col("adev")
                    > F.lit(_MAD_CUTOFF) * F.lit(_MAD_SIGMA_K) * F.col("mad_raw"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_anomalies"),
        )
    )


# --------------------------------------------------------------------------
# q93 — A/B test readout: two-proportion pooled z-test in closed form over
# a deterministic hash split (user_id parity stands in for the assignment
# column). Conversion = user ever fired a 'purchase'. The whole test is
# counts + one sqrt — IEEE sqrt is correctly rounded in both engines, so
# even the significance flag (|z| vs the 1.96 literal) is hash-stable.
# --------------------------------------------------------------------------

_Z_CRIT_95 = 1.959964   # Phi^-1(0.975) to 6 dp — shared literal, never computed


@query(
    "q93_ab_conversion_ztest",
    oracle=f"""
    WITH assign AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY 1, 2, 3
    ),
    v AS (
        SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
               CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN variant = 'B' THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        FROM assign
    ),
    z AS (
        SELECT n_a, conv_a, n_b, conv_b,
               CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
               CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
               CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p_pool
        FROM v
    )
    SELECT n_a, conv_a,
           floor(p_a * 1000000.0 + 0.5) / 1000000.0 AS rate_a,
           n_b, conv_b,
           floor(p_b * 1000000.0 + 0.5) / 1000000.0 AS rate_b,
           floor((p_a - p_b) / NULLIF(sqrt(p_pool * (1.0 - p_pool)
                 * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 0.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS z_score,
           CASE WHEN abs((p_a - p_b) / NULLIF(sqrt(p_pool * (1.0 - p_pool)
                * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 0.0))
                > {_Z_CRIT_95} THEN 1 ELSE 0 END AS significant
    FROM z
    """,
)
def q93_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between variants A (even user_id) and B (odd)
    over user-DAYS: the unit is an active (user, day), converted iff that
    user purchased that day — the session-conversion readout (user-level
    "ever purchased" saturates at 1.0 here and its pooled variance is 0;
    the NULLIF guard keeps that case a NULL z, not an ANSI error). Emits
    per-variant exposures, conversions, rounded rates, the pooled z, and
    the two-sided 95% flag. The flag compares the UNROUNDED |z| to a
    shared 6-dp critical-value literal — identical IEEE arithmetic on
    identical inputs in both engines, so the decision cannot straddle.

    Scale shape: one (user, day) hash-agg (map-side combinable conversion
    max), one global conditional-sum agg to a single row, closed-form
    arithmetic on that row. No shuffle beyond the two aggs; at 100 TB the
    user-day frame is the only wide state and it partitions on user_id."""
    from data_engineering_nd_spark.functions.numeric import round_half_up

    ev = load(spark, "events", sf_dir)
    assign = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("converted")
    ).withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")),
    )
    v = assign.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == "A", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == "B", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (p_a - p_b) / F.nullif(
        F.sqrt(
            p_pool
            * (F.lit(1.0) - p_pool)
            * (
                F.lit(1.0) / F.col("n_a").cast("double")
                + F.lit(1.0) / F.col("n_b").cast("double")
            )
        ),
        F.lit(0.0),
    )
    return v.select(
        "n_a",
        "conv_a",
        round_half_up(p_a, 6).alias("rate_a"),
        "n_b",
        "conv_b",
        round_half_up(p_b, 6).alias("rate_b"),
        round_half_up(z, 6).alias("z_score"),
        F.when(F.abs(z) > F.lit(_Z_CRIT_95), F.lit(1))
        .otherwise(F.lit(0))
        .alias("significant"),
    )


# --------------------------------------------------------------------------
# q95 — interval sweep line: how many lineitems are IN TRANSIT each day
# (shipped but not yet received). The classic concurrent-intervals pattern:
# explode each interval into a +1/-1 boundary event, aggregate to daily
# nets FIRST (the 100 TB-sized fact collapses to ~one row per calendar
# day before any ordering), then one running sum over the tiny day series
# gives the concurrency curve. The global window runs over ~2.5k
# aggregated rows, never over the fact table — the same agg-then-window
# shape as q67. Peak in-transit inventory, capacity planning, and overlap
# counting are all this one shape.
# --------------------------------------------------------------------------
@query(
    "q95_intransit_inventory",
    oracle="""
    WITH iv AS (
        SELECT CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE) AS ship,
               CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE)
                   + CAST(1 + (l_orderkey + l_linenumber) % 14 AS INT)
                   AS receipt
        FROM lineitem
    ),
    deltas AS (
        SELECT ship AS d, 1 AS delta FROM iv
        UNION ALL
        SELECT receipt AS d, -1 AS delta FROM iv
    ),
    daily AS (
        SELECT d,
               SUM(delta) AS net,
               SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS shipped,
               SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS received
        FROM deltas GROUP BY d
    )
    SELECT CAST(d AS TIMESTAMP) AS day,
           CAST(shipped AS BIGINT) AS shipped,
           CAST(received AS BIGINT) AS received,
           CAST(SUM(net) OVER (ORDER BY d) AS BIGINT) AS in_transit
    FROM daily
    """,
)
def q95_intransit_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily in-transit lineitem count via +1(ship)/-1(receipt) boundary
    events: in_transit(d) = #(shipped <= d) - #(received <= d), i.e. the
    running sum of daily nets. Ship day inclusive, receipt day exclusive.
    The testdata lineitem carries no receipt date, so transit time is a
    deterministic content-derived 1-14 days (mirrored in the oracle)."""
    li = load(spark, "lineitem", sf_dir)
    iv = li.select(
        F.col("l_shipdate").cast("date").alias("ship"),
        F.date_add(
            F.col("l_shipdate").cast("date"),
            (F.lit(1) + (F.col("l_orderkey") + F.col("l_linenumber")) % 14)
            .cast("int"),
        ).alias("receipt"),
    )
    deltas = iv.select(
        F.col("ship").alias("d"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select(F.col("receipt").alias("d"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("d").agg(
        F.sum("delta").alias("net"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("shipped"),
        F.sum(F.when(F.col("delta") == -1, 1).otherwise(0)).alias("received"),
    )
    # the running sum orders the AGGREGATED day series (~2.5k rows), not
    # the fact table — a deliberate single-partition window over tiny data
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("d").cast("timestamp_ntz").alias("day"),
        F.col("shipped").cast("bigint").alias("shipped"),
        F.col("received").cast("bigint").alias("received"),
        F.sum("net").over(w).cast("bigint").alias("in_transit"),
    )


# --------------------------------------------------------------------------
# q96 — gaps and islands: each user's LONGEST consecutive-active-day
# streak. The classic trick: within a user, day minus row_number(day) is
# constant exactly along a run of consecutive days, so grouping by that
# anchor splits activity into islands with zero joins — one per-user
# window (bounded partitions) and two hash-aggs. Retention/engagement
# streaks, sensor uptime runs, and SLA windows are all this shape.
# --------------------------------------------------------------------------
@query(
    "q96_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        FROM events
    ),
    isl AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                        AS INT) AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, anchor, COUNT(*) AS len, MIN(d) AS start_day
        FROM isl GROUP BY user_id, anchor
    ),
    best AS (
        SELECT user_id, len, start_day,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY len DESC, start_day) AS rn
        FROM streaks
    )
    SELECT user_id,
           CAST(len AS BIGINT) AS streak_days,
           CAST(start_day AS TIMESTAMP) AS streak_start
    FROM best WHERE rn = 1
    """,
)
def q96_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (ties broken to
    the earliest streak), via the day-minus-rank island anchor."""
    ev = load(spark, "events", sf_dir)
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    wd = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(wd))
    )
    streaks = isl.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("start_day")
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("start_day")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").cast("bigint").alias("streak_days"),
            F.col("start_day").cast("timestamp_ntz").alias("streak_start"),
        )
    )


# --------------------------------------------------------------------------
# q97 — time-bounded conversion funnel (ClickHouse windowFunnel shape):
# signup -> view -> purchase where every later step must land within 72
# hours of the user's FIRST signup (the anchor). Unlike q56's unbounded
# funnel, the window bound is what product analytics actually asks ("did
# they convert within N days of signing up"). Each step is one conditional
# min-agg joined to the previous step's anchor — three hash-aggs and two
# broadcast-sized joins, never a per-user sort or window over the fact.
# Time-to-step stats accumulate exact epoch-microsecond BIGINTs; the only
# float op is one final division per row.
# --------------------------------------------------------------------------
@query(
    "q97_window_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    v AS (
        SELECT e.user_id, s.t1, min(CAST(e.ts AS TIMESTAMP)) AS t2
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'view'
          AND CAST(e.ts AS TIMESTAMP) > s.t1
          AND CAST(e.ts AS TIMESTAMP) <= s.t1 + INTERVAL 72 HOUR
        GROUP BY 1, 2
    ),
    p AS (
        SELECT e.user_id, v.t1, min(CAST(e.ts AS TIMESTAMP)) AS t3
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(e.ts AS TIMESTAMP) > v.t2
          AND CAST(e.ts AS TIMESTAMP) <= v.t1 + INTERVAL 72 HOUR
        GROUP BY 1, 2
    ),
    lv AS (
        SELECT 1 AS level, 'signup' AS step,
               COUNT(*) AS n_users, CAST(0 AS BIGINT) AS sum_us FROM s
        UNION ALL
        SELECT 2, 'view_within_72h', COUNT(*),
               CAST(SUM(epoch_us(t2) - epoch_us(t1)) AS BIGINT) FROM v
        UNION ALL
        SELECT 3, 'purchase_within_72h', COUNT(*),
               CAST(SUM(epoch_us(t3) - epoch_us(t1)) AS BIGINT) FROM p
    )
    SELECT CAST(level AS INT) AS level, step,
           CAST(n_users AS BIGINT) AS n_users,
           floor(CAST(sum_us AS DOUBLE) / CAST(n_users AS DOUBLE)
                 / 3600000000.0 * 1000000.0 + 0.5) / 1000000.0
               AS avg_hours_from_anchor
    FROM lv
    """,
)
def q97_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-level reach counts and mean hours-from-anchor for the
    72-hour-bounded signup->view->purchase funnel, anchored at each
    user's first signup."""
    from data_engineering_nd_spark.functions.numeric import round_half_up

    ev = load(spark, "events", sf_dir)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 72 HOURS"))
        )
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 72 HOURS"))
        )
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t3"))
    )

    def _level(df, level, step, t_to):
        # ntz -> ltz cast shifts both operands identically, so the
        # microsecond DIFFERENCE is timezone-invariant and exact
        diff = (
            F.unix_micros(F.col(t_to).cast("timestamp"))
            - F.unix_micros(F.col("t1").cast("timestamp"))
            if t_to
            else F.lit(0)
        )
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(diff).cast("bigint").alias("sum_us"),
        ).select(
            F.lit(level).cast("int").alias("level"),
            F.lit(step).alias("step"),
            "n_users",
            "sum_us",
        )

    lv = (
        _level(s, 1, "signup", None)
        .unionByName(_level(v, 2, "view_within_72h", "t2"))
        .unionByName(_level(p, 3, "purchase_within_72h", "t3"))
    )
    return lv.select(
        "level",
        "step",
        "n_users",
        round_half_up(
            F.col("sum_us").cast("double")
            / F.col("n_users").cast("double")
            / 3600000000.0,
            6,
        ).alias("avg_hours_from_anchor"),
    )


# --------------------------------------------------------------------------
# q98 — dynamic partition pruning: the star-schema scan killer. The fact
# is laid out partitioned by month; the quarter predicate lives on a
# SEPARATE dimension table, so no static pushdown can reach the fact —
# at plan time Spark injects a dynamicpruning subquery that broadcasts
# the dim's surviving join keys and prunes fact PARTITIONS at runtime
# (PartitionFilters: dynamicpruning#N in the scan). At 100 TB this is
# the difference between scanning 3 months and scanning 7 years when
# the filter arrives through a join instead of on the fact itself.
# tests/test_plans.py pins the dynamicpruning subquery in the live plan.
# --------------------------------------------------------------------------

def _dpp_frames(spark: SparkSession, sf_dir: str, work: str):
    """Partitioned fact + standalone dim for the DPP fixture; returns
    (fact_df, filtered_dim_df) reading from ``work``."""
    orders = load(spark, "orders", sf_dir)
    fact_src = orders.withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    ).select("o_orderkey", "o_totalprice", "o_month")
    # repartition BY the partition column: each month lands in one task →
    # one file per partition (~80 files) instead of round-robin writing
    # up to 4 files in every month directory (~320 tiny files — guide §6
    # small-files tax on both this write and the fixture's read-back)
    fact_src.repartition("o_month").write.partitionBy("o_month").parquet(
        work + "/fact"
    )
    dim_src = (
        fact_src.select("o_month")
        .distinct()
        .withColumn(
            "quarter",
            F.concat(
                F.substring("o_month", 1, 4),
                F.lit("Q"),
                (((F.substring("o_month", 6, 2).cast("int") - 1) / 3) + 1)
                .cast("int")
                .cast("string"),
            ),
        )
    )
    dim_src.repartition(1).write.parquet(work + "/dim")
    fact = spark.read.parquet(work + "/fact")
    dim = spark.read.parquet(work + "/dim").filter(
        F.col("quarter") == "1995Q1"
    )
    return fact, dim


def dpp_quarter_revenue(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """The DPP-shaped join: fact partitioned on the join key, predicate
    on the dim only."""
    return (
        fact.join(F.broadcast(dim), "o_month")
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "q98_dynamic_partition_pruning",
    oracle="""
    WITH m AS (
        SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS o_month,
               o_totalprice
        FROM orders
    )
    SELECT o_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue
    FROM m
    WHERE substr(o_month, 1, 4) = '1995'
      AND CAST(substr(o_month, 6, 2) AS INT) BETWEEN 1 AND 3
    GROUP BY o_month
    """,
)
def q98_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1995Q1 revenue by month through a dim-side quarter filter over a
    month-partitioned fact — correct results ARE the gate; the runtime
    partition-pruning plan shape is pinned in tests/test_plans.py."""
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="q98_dpp_")
    try:
        fact, dim = _dpp_frames(spark, sf_dir, work)
        # output-sized (3 rows); materialize so the scratch dirs can go
        return dpp_quarter_revenue(fact, dim).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# q99 — relational division: the "FOR ALL" quantifier SQL has no keyword
# for ("customers who ordered under EVERY priority class"). The classic
# set-cover formulation: per-customer distinct-class count equals the
# global class count. Two hash-aggs + one 1-row broadcast — never the
# double-NOT-EXISTS correlated form (which Catalyst would decorrelate
# into the same shape anyway, minus readability) and never a cross join
# against the class list. At 100 TB: one shuffle on the customer key.
# --------------------------------------------------------------------------
@query(
    "q99_relational_division",
    oracle="""
    WITH classes AS (
        SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_classes
        FROM orders
    ),
    per_cust AS (
        SELECT o_custkey,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey
    )
    SELECT p.o_custkey, p.n_orders, c.n_classes
    FROM per_cust p CROSS JOIN classes c
    WHERE p.n_prio = c.n_classes
    """,
)
def q99_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose orders cover EVERY priority class, with their
    order counts and the class count they had to cover."""
    orders = load(spark, "orders", sf_dir)
    classes = orders.agg(
        F.count_distinct("o_orderpriority").cast("bigint").alias("n_classes")
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.count_distinct("o_orderpriority").cast("bigint").alias("n_prio"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    return (
        per_cust.crossJoin(F.broadcast(classes))
        .filter(F.col("n_prio") == F.col("n_classes"))
        .select("o_custkey", "n_orders", "n_classes")
    )


# --------------------------------------------------------------------------
# q100 — market-basket association rules (support / confidence / lift):
# the co-occurrence classic. Baskets are orders, items the distinct part
# brands in each; pair generation is a WITHIN-BASKET self-join (bounded
# by basket size, ~4 items — never an item-catalog cross join), and the
# three rule metrics come from exact counts: lift's ranking key is one
# division of BIGINT products (c_ab * n_baskets / c_a * c_b — the PMI
# pattern), so cross-engine ordering is bit-stable and ln/doubles never
# enter the sort. At 100 TB: one shuffle to baskets, one self-join keyed
# on the basket id, two broadcast-sized item-count joins.
# --------------------------------------------------------------------------
@query(
    "q100_market_basket_lift",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l.l_orderkey AS bid, p.p_brand AS item
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT bid) AS BIGINT) AS n FROM baskets),
    items AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM baskets GROUP BY item
    ),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM baskets a JOIN baskets b
          ON a.bid = b.bid AND a.item < b.item
        GROUP BY 1, 2 HAVING COUNT(*) >= 10
    )
    SELECT item_a, item_b, c_ab,
           floor(CAST(c_ab AS DOUBLE) / CAST(nb.n AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS support,
           floor(CAST(c_ab AS DOUBLE) / CAST(ia.c AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS confidence,
           floor(CAST(c_ab * nb.n AS DOUBLE) / CAST(ia.c * ib.c AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM pairs
    JOIN items ia ON ia.item = item_a
    JOIN items ib ON ib.item = item_b
    CROSS JOIN nb
    ORDER BY CAST(c_ab * nb.n AS DOUBLE) / CAST(ia.c * ib.c AS DOUBLE)
             DESC, item_a, item_b
    LIMIT 20
    """,
)
def q100_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 brand pairs by lift (support floor 10 baskets), with
    support and confidence(a->b); the association-rules readout."""
    from data_engineering_nd_spark.functions.numeric import round_half_up

    li = load(spark, "lineitem", sf_dir)
    part = load(spark, "part", sf_dir)
    baskets = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("bid"),
                F.col("p_brand").alias("item"))
        .distinct()
    )
    nb = baskets.agg(
        F.count_distinct("bid").cast("bigint").alias("n")
    )
    items = baskets.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.bid") == F.col("b.bid"))
               & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("item_a"),
                 F.col("b.item").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= 10)
    )
    ia = items.select(F.col("item").alias("item_a"), F.col("c").alias("ca"))
    ib = items.select(F.col("item").alias("item_b"), F.col("c").alias("cb"))
    scored = (
        pairs.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(F.broadcast(nb))
        .withColumn(
            "lift_key",
            (F.col("c_ab") * F.col("n")).cast("double")
            / (F.col("ca") * F.col("cb")).cast("double"),
        )
    )
    return (
        scored.orderBy(F.desc("lift_key"), "item_a", "item_b")
        .limit(20)
        .select(
            "item_a", "item_b", "c_ab",
            round_half_up(
                F.col("c_ab").cast("double") / F.col("n").cast("double"), 6
            ).alias("support"),
            round_half_up(
                F.col("c_ab").cast("double") / F.col("ca").cast("double"), 6
            ).alias("confidence"),
            round_half_up(F.col("lift_key"), 6).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# q101 — mergeable grouped quantile sketch (VERDICT r08 task #5): the
# GK/KLL-style family member that stays fully deterministic and
# SQL-mirrorable.  Fixed compaction schedule, two mergeable stages:
#
#   stage 1 (per group x stratum, strata = a fixed md5 bucket of the row
#     key): sort by (value, key) and STRIDE-COMPACT — keep every T-th rank
#     (T = ceil(n_s / c), kept count <= c), each survivor carrying the
#     weight of the run it represents.  This is KLL's "keep every other
#     item, double the weight" compaction collapsed to one deterministic
#     stride (no random coin — the fixed schedule IS rank 1 mod T), with
#     rank error <= T_s - 1 per stratum.
#   stage 2 (merge, per group): union the weighted survivors from all
#     strata, cumulative-weight them in (value, key) order, and re-stride
#     at S = ceil(W / c) (keep an item iff its weight interval contains a
#     multiple of S, plus the max).  Adds <= S - 1 rank error.
#
# Quantile q is answered as the first kept value whose cumulative weight
# reaches the INTEGER target rank ceil(q * W) — targets are computed with
# integer arithmetic ((9W + 9) // 10, never float q*W) so both engines
# agree to the last row.  Total rank error <= sum_strata(T_s - 1) + S - 1
# ~ 2n/c; the report carries the exact ranks of each estimate (brute
# force at gate SF) and a within_bound flag, the CMS/HLL verification
# pattern.  At 100 TB: strata bound the sort width (raise _QSK_STRATA
# with the cluster — error is ~independent of strata count since
# sum(T_s) ~ n/c + strata), survivors are <= c per stratum, and the merge
# operates on (strata * c)-sized sketches, never raw rows.
# --------------------------------------------------------------------------

_QSK_C = 256       # sketch capacity per stratum and after merge
_QSK_STRATA = 32   # fixed stratum fan-out (scale knob, not a result knob)


@query(
    "q101_grouped_quantiles_sketch",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag, l_linestatus, l_extendedprice AS v,
               l_orderkey * 8 + l_linenumber AS k,
               CAST(concat('0x', substr(md5(CAST(l_orderkey * 8 +
                    l_linenumber AS VARCHAR)), 1, 2)) AS INT) % {_QSK_STRATA}
                   AS stratum
        FROM lineitem
    ),
    s1 AS (
        SELECT l_returnflag, l_linestatus, stratum, v, k,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus,
                                  stratum ORDER BY v, k) AS r,
               COUNT(*) OVER (PARTITION BY l_returnflag, l_linestatus,
                              stratum) AS n_s
        FROM base
    ),
    kept1 AS (
        SELECT l_returnflag, l_linestatus, stratum, v, k, t,
               LEAST(t, n_s - r + 1) AS wgt
        FROM (SELECT *, (n_s + {_QSK_C - 1}) // {_QSK_C} AS t FROM s1) z
        WHERE (r - 1) % t = 0
    ),
    m AS (
        SELECT l_returnflag, l_linestatus, v, k, wgt,
               SUM(wgt) OVER (PARTITION BY l_returnflag, l_linestatus
                              ORDER BY v, k ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(wgt) OVER (PARTITION BY l_returnflag, l_linestatus)
                   AS n_group
        FROM kept1
    ),
    m2 AS (
        SELECT *, (n_group + {_QSK_C - 1}) // {_QSK_C} AS s FROM m
    ),
    kept2 AS (
        SELECT * FROM m2
        WHERE (cw // s) > ((cw - wgt) // s) OR cw = n_group
    ),
    bounds AS (
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(t - 1) AS BIGINT) AS b1
        FROM (SELECT DISTINCT l_returnflag, l_linestatus, stratum, t
              FROM kept1) z
        GROUP BY l_returnflag, l_linestatus
    ),
    targets AS (
        SELECT g.l_returnflag, g.l_linestatus, g.n_group, g.s, lbl.q_label,
               CASE lbl.q_label
                    WHEN 'p50' THEN (g.n_group + 1) // 2
                    WHEN 'p90' THEN (9 * g.n_group + 9) // 10
                    ELSE (99 * g.n_group + 99) // 100 END AS rank_target
        FROM (SELECT DISTINCT l_returnflag, l_linestatus, n_group, s
              FROM m2) g
        CROSS JOIN (VALUES ('p50'), ('p90'), ('p99')) lbl(q_label)
    ),
    est AS (
        SELECT t.l_returnflag, t.l_linestatus, t.q_label, t.rank_target,
               t.n_group, t.s, MIN(k2.v) AS est_value
        FROM targets t
        JOIN kept2 k2
          ON k2.l_returnflag = t.l_returnflag
         AND k2.l_linestatus = t.l_linestatus
         AND k2.cw >= t.rank_target
        GROUP BY t.l_returnflag, t.l_linestatus, t.q_label, t.rank_target,
                 t.n_group, t.s
    ),
    ranks AS (
        SELECT e.l_returnflag, e.l_linestatus, e.q_label,
               CAST(SUM(CASE WHEN b.v < e.est_value THEN 1 ELSE 0 END)
                    AS BIGINT) AS rank_lt,
               CAST(SUM(CASE WHEN b.v <= e.est_value THEN 1 ELSE 0 END)
                    AS BIGINT) AS rank_le
        FROM est e
        JOIN base b ON b.l_returnflag = e.l_returnflag
                   AND b.l_linestatus = e.l_linestatus
        GROUP BY e.l_returnflag, e.l_linestatus, e.q_label
    )
    SELECT e.l_returnflag, e.l_linestatus, e.q_label,
           CAST(e.n_group AS BIGINT) AS n_group,
           CAST(e.est_value AS DOUBLE) AS est_value,
           CAST(e.rank_target AS BIGINT) AS rank_target,
           r.rank_lt, r.rank_le,
           CAST(bo.b1 + e.s - 1 AS BIGINT) AS rank_error_bound,
           CAST(CASE WHEN r.rank_lt <= e.rank_target - 1 + bo.b1 + e.s - 1
                      AND r.rank_le >= e.rank_target - (bo.b1 + e.s - 1)
                     THEN 1 ELSE 0 END AS BIGINT) AS within_bound
    FROM est e
    JOIN ranks r ON r.l_returnflag = e.l_returnflag
                AND r.l_linestatus = e.l_linestatus
                AND r.q_label = e.q_label
    JOIN bounds bo ON bo.l_returnflag = e.l_returnflag
                  AND bo.l_linestatus = e.l_linestatus
    """,
)
def q101_grouped_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group p50/p90/p99 of l_extendedprice from the deterministic
    stratified stride sketch (see block comment), with the exact rank of
    every estimate and the within_bound acceptance flag value-hashed."""
    from pyspark.sql.window import Window

    li = load(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("k"),
    )
    base = li.withColumn(
        "stratum",
        (
            F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 2), 16, 10)
            .cast("int")
            % _QSK_STRATA
        ),
    )
    grp = ["l_returnflag", "l_linestatus"]
    w1 = Window.partitionBy(*grp, "stratum").orderBy("v", "k")
    w1n = Window.partitionBy(*grp, "stratum")
    s1 = base.select(
        *grp,
        "stratum",
        "v",
        "k",
        F.row_number().over(w1).alias("r"),
        F.count(F.lit(1)).over(w1n).alias("n_s"),
    ).withColumn("t", F.expr(f"(n_s + {_QSK_C - 1}) div {_QSK_C}"))
    kept1 = s1.filter((F.col("r") - 1) % F.col("t") == 0).select(
        *grp,
        "stratum",
        "v",
        "k",
        "t",
        F.least(F.col("t"), F.col("n_s") - F.col("r") + 1).alias("wgt"),
    )
    # survivors are <= c per stratum: checkpoint the sketch so the merge
    # plans over the compacted size, not the raw-row lineage
    kept1 = kept1.localCheckpoint()
    w2 = (
        Window.partitionBy(*grp)
        .orderBy("v", "k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w2n = Window.partitionBy(*grp)
    m2 = kept1.select(
        *grp,
        "v",
        "k",
        "wgt",
        F.sum("wgt").over(w2).alias("cw"),
        F.sum("wgt").over(w2n).alias("n_group"),
    ).withColumn("s", F.expr(f"(n_group + {_QSK_C - 1}) div {_QSK_C}"))
    kept2 = m2.filter(
        (F.expr("cw div s") > F.expr("(cw - wgt) div s"))
        | (F.col("cw") == F.col("n_group"))
    )
    bounds = (
        kept1.select(*grp, "stratum", "t")
        .distinct()
        .groupBy(*grp)
        .agg(F.sum(F.col("t") - 1).cast("bigint").alias("b1"))
    )
    targets = (
        m2.select(*grp, "n_group", "s")
        .distinct()
        .select(
            *grp,
            "n_group",
            "s",
            F.explode(
                F.array(F.lit("p50"), F.lit("p90"), F.lit("p99"))
            ).alias("q_label"),
        )
        .withColumn(
            "rank_target",
            F.when(
                F.col("q_label") == "p50", F.expr("(n_group + 1) div 2")
            )
            .when(
                F.col("q_label") == "p90",
                F.expr("(9 * n_group + 9) div 10"),
            )
            .otherwise(F.expr("(99 * n_group + 99) div 100")),
        )
    )
    est = (
        targets.alias("t")
        .join(
            kept2.select(*grp, "v", "cw").alias("s2"),
            [
                F.col(f"t.{c}") == F.col(f"s2.{c}")
                for c in grp
            ]
            + [F.col("s2.cw") >= F.col("t.rank_target")],
        )
        .groupBy(
            *[F.col(f"t.{c}").alias(c) for c in grp],
            F.col("t.q_label").alias("q_label"),
            F.col("t.rank_target").alias("rank_target"),
            F.col("t.n_group").alias("n_group"),
            F.col("t.s").alias("s"),
        )
        .agg(F.min("s2.v").alias("est_value"))
    )
    # exact ranks of each estimate (12 rows broadcast onto the fact scan)
    ranks = (
        li.alias("b")
        .join(
            F.broadcast(est.select(*grp, "q_label", "est_value")).alias("e"),
            grp,
        )
        .groupBy(*grp, "q_label")
        .agg(
            F.sum(
                F.when(F.col("b.v") < F.col("e.est_value"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("rank_lt"),
            F.sum(
                F.when(F.col("b.v") <= F.col("e.est_value"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("rank_le"),
        )
    )
    bound_expr = F.col("b1") + F.col("s") - 1
    return (
        est.join(ranks, grp + ["q_label"])
        .join(bounds, grp)
        .select(
            *grp,
            "q_label",
            F.col("n_group").cast("bigint").alias("n_group"),
            F.col("est_value").cast("double").alias("est_value"),
            F.col("rank_target").cast("bigint").alias("rank_target"),
            "rank_lt",
            "rank_le",
            bound_expr.cast("bigint").alias("rank_error_bound"),
            F.when(
                (F.col("rank_lt") <= F.col("rank_target") - 1 + bound_expr)
                & (F.col("rank_le") >= F.col("rank_target") - bound_expr),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("within_bound"),
        )
    )


# --------------------------------------------------------------------------
# q102 — OHLC time-series downsampling: the classic financial/metrics bar
# aggregation (open/high/low/close + totals per bucket).  Open/close are
# SELECTED raw values (argmin/argmax by (ts, event_id) — deterministic
# tie-break on the unique id, realized as two row_number windows that
# both engines replay exactly); high/low/count are plain aggregates; the
# value total goes through DECIMAL accumulation.  One shuffle on
# (event_type, bucket), windows ride the same partitioning.
# --------------------------------------------------------------------------
@query(
    "q102_ohlc_bars",
    oracle="""
    WITH ev AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                   AS bucket,
               ts, event_id, value
        FROM events
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                                  ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM ev
    )
    SELECT event_type, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM ranked
    GROUP BY event_type, bucket
    """,
)
def q102_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type over the events stream table —
    the downsampling read a metrics/market pipeline materializes before
    charting or joining at coarser grain."""
    from pyspark.sql.window import Window

    ev = load(spark, "events", sf_dir).select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bucket"),
        "ts",
        "event_id",
        "value",
    )
    w_a = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    w_d = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn_a", F.row_number().over(w_a))
        .withColumn("rn_d", F.row_number().over(w_d))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# q104 — frequent triples (Apriori/SON second pass): the 3-itemset level
# above q100's pair rules. The naive 3-way basket self-join explodes
# combinatorially at scale; the Apriori property (every subset of a
# frequent set is frequent) turns the frequent-PAIR table into a
# broadcast prune that bounds candidate generation — the SON/Apriori
# "local candidates, global count" shape every distributed FIM system
# uses. The oracle states the UNPRUNED 3-way join — identical result,
# the cost class the prune exists to avoid.
# --------------------------------------------------------------------------

_TRIPLE_MIN_SUPPORT = 10


@query(
    "q104_frequent_triples",
    oracle=f"""
    WITH baskets AS (
        SELECT DISTINCT l.l_orderkey AS bid, p.p_brand AS item
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT bid) AS BIGINT) AS n FROM baskets),
    items AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM baskets GROUP BY item
    ),
    triples AS (
        SELECT a.item AS item_a, b.item AS item_b, c.item AS item_c,
               CAST(COUNT(*) AS BIGINT) AS c_abc
        FROM baskets a
        JOIN baskets b ON b.bid = a.bid AND a.item < b.item
        JOIN baskets c ON c.bid = a.bid AND b.item < c.item
        GROUP BY 1, 2, 3 HAVING COUNT(*) >= {_TRIPLE_MIN_SUPPORT}
    )
    SELECT t.item_a, t.item_b, t.item_c, t.c_abc,
           floor(CAST(t.c_abc AS DOUBLE) / CAST(nb.n AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS support,
           floor(CAST(t.c_abc AS DOUBLE) * CAST(nb.n AS DOUBLE)
                 * CAST(nb.n AS DOUBLE)
                 / CAST(ia.c AS DOUBLE) / CAST(ib.c AS DOUBLE)
                 / CAST(ic.c AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift3
    FROM triples t
    JOIN items ia ON ia.item = t.item_a
    JOIN items ib ON ib.item = t.item_b
    JOIN items ic ON ic.item = t.item_c
    CROSS JOIN nb
    """,
)
def q104_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent brand TRIPLES (support >= 10 baskets) with support and
    3-way lift, mined Apriori-style: frequent pairs are computed first
    and broadcast, and the triple join extends only (a, b) pairs that
    are themselves frequent with items c whose (a, c) and (b, c) pairs
    are also frequent — candidate triples are generated from surviving
    pairs, never from the raw basket cross product. Lift3 =
    P(abc) / (P(a) P(b) P(c)) as one IEEE expression over exact BIGINT
    counts, floor-rounded for display.

    At 100 TB: the basket self-join is shuffle-keyed on the basket id
    (bounded per-basket fanout); the Apriori prune is a broadcast
    semi-join (frequent pairs are tiny by construction — that is the
    point of a support floor), so candidate volume scales with the
    SURVIVING pair count, not items^3."""
    li = load(spark, "lineitem", sf_dir)
    part = load(spark, "part", sf_dir)
    baskets = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == part.p_partkey,
        )
        .select(F.col("l_orderkey").alias("bid"), F.col("p_brand").alias("item"))
        .distinct()
        .localCheckpoint()
    )
    n_baskets = baskets.select("bid").distinct().count()
    items = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    a = baskets.select(F.col("bid"), F.col("item").alias("item_a"))
    b = baskets.select(F.col("bid"), F.col("item").alias("item_b"))
    c = baskets.select(F.col("bid"), F.col("item").alias("item_c"))
    pairs = (
        a.join(b, "bid")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _TRIPLE_MIN_SUPPORT)
        .select("item_a", "item_b")
        .localCheckpoint()  # the Apriori prune set: tiny, broadcast below
    )
    cand = (
        a.join(b, "bid")
        .filter(F.col("item_a") < F.col("item_b"))
        .join(F.broadcast(pairs), ["item_a", "item_b"], "left_semi")
        .join(c, "bid")
        .filter(F.col("item_b") < F.col("item_c"))
        .join(
            F.broadcast(
                pairs.select(
                    F.col("item_a"), F.col("item_b").alias("item_c")
                )
            ),
            ["item_a", "item_c"],
            "left_semi",
        )
        .join(
            F.broadcast(
                pairs.select(
                    F.col("item_a").alias("item_b"),
                    F.col("item_b").alias("item_c"),
                )
            ),
            ["item_b", "item_c"],
            "left_semi",
        )
    )
    triples = (
        cand.groupBy("item_a", "item_b", "item_c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_abc"))
        .filter(F.col("c_abc") >= _TRIPLE_MIN_SUPPORT)
    )
    from data_engineering_nd_spark.functions.numeric import round_half_up

    n = F.lit(float(n_baskets))
    out = (
        triples.join(
            F.broadcast(items.select(F.col("item").alias("item_a"),
                                     F.col("c").alias("c_a"))), "item_a"
        )
        .join(
            F.broadcast(items.select(F.col("item").alias("item_b"),
                                     F.col("c").alias("c_b"))), "item_b"
        )
        .join(
            F.broadcast(items.select(F.col("item").alias("item_c"),
                                     F.col("c").alias("c_c"))), "item_c"
        )
        .select(
            "item_a", "item_b", "item_c", "c_abc",
            round_half_up(F.col("c_abc") / n, 6).alias("support"),
            round_half_up(
                F.col("c_abc") * n * n
                / F.col("c_a") / F.col("c_b") / F.col("c_c"),
                6,
            ).alias("lift3"),
        )
    )
    return out


# --------------------------------------------------------------------------
# q105 — interval coalescing (gaps-and-islands over RANGES): merge each
# customer's overlapping order-processing intervals into maximal islands.
# The unit-gap sibling is q96 (consecutive-day streaks); this is the
# general form — islands break where the next START clears the running
# MAX of all previous ENDS (not just the previous row's end, which is
# wrong for nested intervals).
# --------------------------------------------------------------------------


@query(
    "q105_interval_coalesce",
    oracle="""
    WITH iv AS (
        SELECT o_custkey AS ck,
               datediff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS s,
               datediff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE))
                   + o_orderkey % 14 + 1 AS e,
               o_orderkey AS k
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
    ),
    flagged AS (
        SELECT ck, s, e, k,
               CASE WHEN MAX(e) OVER (
                        PARTITION BY ck ORDER BY s, e, k
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                 OR s > MAX(e) OVER (
                        PARTITION BY ck ORDER BY s, e, k
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
               THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT ck, s, e, k,
               SUM(new_island) OVER (
                   PARTITION BY ck ORDER BY s, e, k
                   ROWS UNBOUNDED PRECEDING
               ) AS island_id
        FROM flagged
    ),
    merged AS (
        SELECT ck, island_id,
               MIN(s) AS island_s, MAX(e) AS island_e,
               CAST(COUNT(*) AS BIGINT) AS n_intervals
        FROM islands GROUP BY ck, island_id
    )
    SELECT ck AS custkey,
           CAST(SUM(n_intervals) AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(island_e - island_s + 1) AS BIGINT) AS covered_days,
           CAST(MAX(island_e - island_s + 1) AS BIGINT)
               AS longest_island_days
    FROM merged GROUP BY ck
    """,
)
def q105_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer coalescing of overlapping order-processing intervals
    [orderdate, orderdate + 1..14 days] over 1995-96 into maximal
    islands, reporting interval count, island count, exact covered days
    (no double counting inside overlaps) and the longest island.

    The island break condition uses the RUNNING MAX of previous ends —
    lag(e) alone misclassifies nested intervals (a short interval inside
    a long one would open a phantom island). Total order (s, e,
    orderkey) makes the running max and the island ids engine-exact.

    Scale shape: ONE shuffle on the customer key; both windows and the
    two aggregations run inside each customer partition (bounded by that
    customer's order count) — no global sort, no island-to-island
    shuffle. The canonical use at 100 TB is sessionizing validity
    ranges: SCD row merging, uptime/coverage accounting, contiguous
    availability spans."""
    from pyspark.sql.window import Window

    o = load(spark, "orders", sf_dir).filter(
        F.year(F.col("o_orderdate").cast("date")).isin(1995, 1996)
    )
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    iv = o.select(
        F.col("o_custkey").alias("ck"),
        day.alias("s"),
        (day + F.col("o_orderkey") % 14 + 1).alias("e"),
        F.col("o_orderkey").alias("k"),
    )
    w = (
        Window.partitionBy("ck")
        .orderBy("s", "e", "k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.max("e").over(w).isNull()
            | (F.col("s") > F.max("e").over(w)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w2 = (
        Window.partitionBy("ck")
        .orderBy("s", "e", "k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn(
        "island_id", F.sum("new_island").over(w2)
    )
    merged = islands.groupBy("ck", "island_id").agg(
        F.min("s").alias("island_s"),
        F.max("e").alias("island_e"),
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
    )
    return merged.groupBy(F.col("ck").alias("custkey")).agg(
        F.sum("n_intervals").cast("bigint").alias("n_intervals"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("island_e") - F.col("island_s") + 1)
        .cast("bigint")
        .alias("covered_days"),
        F.max(F.col("island_e") - F.col("island_s") + 1)
        .cast("bigint")
        .alias("longest_island_days"),
    )


# --------------------------------------------------------------------------
# q106 — time-weighted average (TWAP) over irregular samples: the
# IoT/finance aggregation a plain AVG gets wrong — samples that persist
# longer must weigh more. Weight = microseconds until the NEXT sample of
# the same series (lead over the (ts, event_id) total order); the last
# sample of a series carries no weight (no known validity span).
# Accumulation is exact: values e4-scale to BIGINT, value x duration
# products sum as DECIMAL(38,0) (span-bounded: the weighted sum is
# ~avg_value x series span regardless of row count), and the TWAP is
# read out with one fixed-shape division chain at the display edge.
# --------------------------------------------------------------------------


@query(
    "q106_time_weighted_average",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(ts AS TIMESTAMP) AS t,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4,
               LEAD(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS nt
        FROM events
    ),
    d AS (
        SELECT event_type, v4,
               epoch_us(nt) - epoch_us(t) AS dur_us
        FROM s WHERE nt IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
           CAST(MAX(dur_us) AS BIGINT) AS max_gap_us,
           floor(CAST(SUM(CAST(v4 * dur_us AS DECIMAL(38,0))) AS DOUBLE)
                 / CAST(SUM(dur_us) AS DOUBLE) / 10000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS twap,
           floor(CAST(SUM(v4) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) / 10000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS simple_mean
    FROM d GROUP BY event_type
    """,
)
def q106_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type TWAP vs naive mean over the events stream, with the
    sample count, covered span and largest gap. Each sample's weight is
    its validity duration (µs to the series' next sample); densely
    sampled bursts therefore stop dominating the average — the exact
    failure of simple AVG on irregular telemetry.

    Determinism: values e4-scale to BIGINT via floor(x*1e4 + 0.5),
    durations are exact epoch-µs differences (NTZ cast to timestamp on
    BOTH sides so the zone shift cancels), the weighted sum accumulates
    as DECIMAL(38,0) — bounded by avg_value x series SPAN, not row count
    — and the readout division chain has the same shape in both engines.

    Scale shape: one shuffle on the series key for the lead() window
    (per-series partitions, no global sort), then one map-side-
    combinable hash-agg to a row per series. At 100 TB TWAP rolls up
    the same way OHLC does: per-day partial (sum_wv, sum_dur) pairs are
    mergeable state."""
    from pyspark.sql.window import Window

    ev = load(spark, "events", sf_dir).select(
        "event_type", "ts", "event_id",
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("v4"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    nt = F.unix_micros(F.lead("ts").over(w).cast("timestamp"))
    d = (
        ev.withColumn("dur_us", nt - t)
        .where(F.col("dur_us").isNotNull())
    )
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
        F.max("dur_us").cast("bigint").alias("max_gap_us"),
        F.floor(
            F.sum((F.col("v4") * F.col("dur_us")).cast("decimal(38,0)"))
            .cast("double")
            / F.sum("dur_us").cast("double")
            / F.lit(10000.0)
            * 1000000.0
            + F.lit(0.5)
        ).cast("double").alias("__twap_raw"),
        F.floor(
            F.sum("v4").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(10000.0)
            * 1000000.0
            + F.lit(0.5)
        ).cast("double").alias("__mean_raw"),
    ).select(
        "event_type",
        "n_samples",
        "total_dur_us",
        "max_gap_us",
        (F.col("__twap_raw") / 1000000.0).alias("twap"),
        (F.col("__mean_raw") / 1000000.0).alias("simple_mean"),
    )


# --------------------------------------------------------------------------
# q107 — rolling volatility / Bollinger bands: fixed-width ROWS-window
# mean and population stddev per series, bands at +-2 sigma, and a
# breakout flag. The determinism trap is accumulating variance in
# floating point (rolling float sums diverge across partitionings and
# engines); instead both engines keep exact e4-scaled BIGINT rolling
# sums of x and x^2 and form variance as ONE fixed-shape expression
# (n*Sxx - Sx^2) / n^2 at the display edge — sqrt is IEEE
# correctly-rounded, so the readout is bit-stable.
# --------------------------------------------------------------------------

_VOL_WINDOW = 24  # samples per rolling window (ROWS, not time)


@query(
    "q107_rolling_volatility",
    oracle=f"""
    WITH s AS (
        SELECT event_type, ts, event_id,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS rn
        FROM events
    ),
    r AS (
        SELECT event_type, rn, v4,
               SUM(CAST(v4 AS HUGEINT)) OVER w AS sx,
               SUM(CAST(v4 AS HUGEINT) * CAST(v4 AS HUGEINT)) OVER w AS sxx,
               COUNT(*) OVER w AS n
        FROM s
        WINDOW w AS (PARTITION BY event_type ORDER BY rn
                     ROWS BETWEEN {_VOL_WINDOW - 1} PRECEDING AND CURRENT ROW)
    ),
    full_w AS (SELECT * FROM r WHERE n = {_VOL_WINDOW}),
    m AS (
        SELECT event_type, rn, v4, sx, sxx, n,
               CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS mean,
               sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE))
                   / CAST(n AS DOUBLE) / 10000.0 AS vol
        FROM full_w
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           floor(CAST(SUM(CAST(floor(vol * 1000000.0 + 0.5) AS BIGINT))
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5)
               / 1000000.0 AS mean_vol,
           floor(MAX(vol) * 1000000.0 + 0.5) / 1000000.0 AS max_vol,
           CAST(SUM(CASE WHEN CAST(v4 AS DOUBLE) / 10000.0
                              > mean + 2 * vol
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_upper_breakouts,
           CAST(SUM(CASE WHEN CAST(v4 AS DOUBLE) / 10000.0
                              < mean - 2 * vol
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lower_breakouts
    FROM m GROUP BY event_type
    """,
)
def q107_rolling_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type rolling 24-sample mean/volatility (population
    stddev) with Bollinger +-2-sigma breakout counts, summarized per
    series: window count, mean and max volatility, breakouts above and
    below the band. Only FULL windows report (the warm-up prefix is
    excluded in both engines).

    mean_vol follows the exact-accumulation rule: each per-window vol
    is an IEEE-identical readout, ROUNDED to an e6 BIGINT before the
    cross-window SUM (a multi-term float sum is order-dependent and
    engine-divergent; an integer sum is not), with one division at the
    display edge. max is order-independent and stays a double.

    Overflow guard (ADVICE r09): sx/sxx and the variance discriminant
    n*sxx - sx^2 accumulate in WIDE exact integers — DECIMAL(38,0) on
    the Spark side, HUGEINT (int128) in the oracle. Both are exact, so
    the double readout stays bit-identical; BIGINT would wrap silently
    in Spark (non-ANSI) but error in DuckDB for |value| above ~3e5.
    Exactness holds for |value| <= ~1e13 (n*sxx < 1e38), far beyond the
    events domain.

    Scale shape: one shuffle on the series key; the rolling frame is
    per-series ROWS-bounded (constant state per row, streaming-
    friendly); final rollup is a map-side-combinable hash-agg."""
    from pyspark.sql.window import Window

    ev = load(spark, "events", sf_dir).select(
        "event_type", "ts", "event_id",
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("v4"),
    )
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = ev.withColumn("rn", F.row_number().over(wo))
    wr = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(-(_VOL_WINDOW - 1), 0)
    )
    v4d = F.col("v4").cast("decimal(19,0)")
    r = (
        s.withColumn("sx", F.sum(v4d).over(wr))
        .withColumn("sxx", F.sum(v4d * v4d).over(wr))
        .withColumn("n", F.count(F.lit(1)).over(wr))
        .where(F.col("n") == _VOL_WINDOW)
    )
    mean = F.col("sx").cast("double") / F.col("n").cast("double") / 10000.0
    vol = (
        F.sqrt(
            (
                F.col("n").cast("decimal(38,0)") * F.col("sxx")
                - F.col("sx") * F.col("sx")
            ).cast("double")
        )
        / F.col("n").cast("double")
        / 10000.0
    )
    m = r.withColumn("mean", mean).withColumn("vol", vol)
    x = F.col("v4").cast("double") / 10000.0
    return m.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.floor(
            F.sum(F.floor(F.col("vol") * 1000000.0 + F.lit(0.5))
                  .cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
            + F.lit(0.5)
        ).cast("double").alias("__mv"),
        F.floor(F.max("vol") * 1000000.0 + F.lit(0.5))
        .cast("double")
        .alias("__xv"),
        F.sum(
            F.when(x > F.col("mean") + 2 * F.col("vol"), 1).otherwise(0)
        ).cast("bigint").alias("n_upper_breakouts"),
        F.sum(
            F.when(x < F.col("mean") - 2 * F.col("vol"), 1).otherwise(0)
        ).cast("bigint").alias("n_lower_breakouts"),
    ).select(
        "event_type",
        "n_windows",
        (F.col("__mv") / 1000000.0).alias("mean_vol"),
        (F.col("__xv") / 1000000.0).alias("max_vol"),
        "n_upper_breakouts",
        "n_lower_breakouts",
    )


# ---------------------------------------------------------------------------
# q108 — weighted median: exact order statistic under a weight column
# ---------------------------------------------------------------------------


@query(
    "q108_weighted_median",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, l_extendedprice AS p,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag ORDER BY l_extendedprice
               ) AS cum,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag
               ) AS tot
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(MIN(p) AS DOUBLE) AS weighted_median,
           CAST(MAX(tot) AS DOUBLE) AS total_weight
    FROM c WHERE 2 * cum >= tot
    GROUP BY l_returnflag
    """,
)
def q108_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag WEIGHTED median of extended price under quantity
    weights: the smallest price whose cumulative weight reaches half the
    group total — the exact order statistic behind weighted-percentile
    reporting (median price per unit sold, not per line).

    Computed by the WEIGHTED grouped selector in DEFERRED-rank mode
    (:func:`operators.selectors.exact_ranks_grouped_from_totals`,
    VERDICT r13 task #4): prices and quantities scale exactly to
    integer cents/hundredths, each group's weight threshold
    ``tot // 2 + 1`` (the smallest v with ``2 * weight(x > v) <=
    tot``, identical to the oracle's ``2 * cum >= tot`` crossing) is
    derived from the discovery pass's own totals — the separate
    per-group stats aggregate the r13 formulation ran before
    bisection is folded into the first histogram pass.  The r12
    formulation sorted each returnflag group through ONE window
    partition — per-partition rows grew as n/3, the same class of
    scale ceiling as the q115 tournament; the selector's passes are
    group-size-independent.  Exactness: ties share one cumulative
    value in both engines by construction (mass crossing is a
    function of the value, not row order), and the 2-decimal doubles
    round-trip the cents scaling losslessly.

    At 100 TB: one cached 3-column frame, ~3 scans aggregating to <=
    groups * 2^14 bucket rows, a literal 3-row result.  The mergeable-
    sketch path for heavy-cardinality group keys remains
    ``q101_grouped_quantiles_sketch``."""
    from data_engineering_nd_spark.operators.selectors import (
        exact_ranks_grouped_from_totals,
    )

    li = load(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("p"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("w"),
    ).localCheckpoint(eager=False)
    meds = exact_ranks_grouped_from_totals(
        li,
        "l_returnflag",
        "p",
        lambda g, tot, _nulls: [tot // 2 + 1] if tot else [],
        weight_col="w",
        need_sums=False,
    )
    return spark.createDataFrame(
        [
            (g, s.tails[0].value / 100, s.total_mass / 100)
            for g, s in sorted(meds.items())
            if s.tails
        ],
        "l_returnflag string, weighted_median double, "
        "total_weight double",
    )


# ---------------------------------------------------------------------------
# q109 — event path mining: top 3-step behavioral paths across user journeys
# ---------------------------------------------------------------------------


@query(
    "q109_event_path_trigrams",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    p AS (
        SELECT concat(event_type, '>', e2, '>', e3) AS path,
               COUNT(*) AS n
        FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1
    ),
    r AS (
        SELECT path, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rnk
        FROM p
    )
    SELECT path, CAST(n AS BIGINT) AS n_paths, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 10
    """,
)
def q109_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step behavioral paths (event-type trigrams) across
    all user journeys — the order-2 sequence-mining sibling of
    ``ds_markov_transitions`` (order-1): which CHAINS of actions recur,
    the feature behind funnel design and next-action models.

    Order is the total (ts, event_id) per user, so the lag pairing is
    engine- and rerun-exact; counts are exact integers; the top-10 rank
    breaks count ties on the path string (deterministic total order).

    Scale shape: ONE shuffle on user_id for both lead() windows
    (per-user partitions, no global sort), a map-side-combinable
    hash-agg to the path-vocabulary aggregate (|event_types|^3 rows at
    most — tiny), and the rank window runs over that aggregate, never
    the event log."""
    from pyspark.sql.window import Window

    ev = load(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        ev.withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    )
    p = s.groupBy(
        F.concat_ws(">", "event_type", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    r = p.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), F.col("path"))
        ),
    ).where(F.col("rnk") <= 10)
    return r.select(
        "path",
        F.col("n").cast("bigint").alias("n_paths"),
        F.col("rnk").cast("bigint").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# q110 — new vs returning: daily engagement split on first-seen dates
# ---------------------------------------------------------------------------


@query(
    "q110_new_vs_returning",
    oracle="""
    WITH f AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT CAST(d.day AS TIMESTAMP) AS day,
           CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
               AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END)
               AS BIGINT) AS n_returning
    FROM d JOIN f USING (user_id)
    GROUP BY d.day
    """,
)
def q110_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW (first-ever activity that day)
    vs RETURNING — the top-line engagement decomposition every product
    dashboard leads with, built on per-user first-seen dates.

    Scale shape: one hash-agg to user first-seen (map-side combinable),
    one distinct over (user, day), one shuffle join on the user key, one
    day-cardinality hash-agg. No windows, no global sorts; the join's
    build side is user-cardinality (the aggregate), not the event log."""
    ev = load(spark, "events", sf_dir).select(
        "user_id", F.to_date("ts").alias("day")
    )
    f = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    d = ev.distinct()
    return (
        d.join(f, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning"),
        )
        .select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            "n_new",
            "n_returning",
        )
    )


# ---------------------------------------------------------------------------
# q111 — equi-width 2D histogram: joint density profile of two measures
# ---------------------------------------------------------------------------

_H2D_QW = 10       # quantity bin width
_H2D_PW = 10000.0  # price bin width


@query(
    "q111_histogram2d",
    oracle=f"""
    SELECT CAST(floor((l_quantity - 1) / {_H2D_QW}) AS BIGINT) AS q_bin,
           CAST(floor(l_extendedprice / {_H2D_PW}) AS BIGINT) AS p_bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price_total
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q111_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 2D histogram over (quantity, extended price): the
    joint-density profile behind heatmap dashboards, outlier triage and
    CBO selectivity checks for conjunctive predicates (a 1D histogram
    per column cannot see correlation — exactly why engines keep
    multi-column stats).

    Bin ids are pure integer/float-floor arithmetic on the raw values
    (engine-exact: one floor of one division); per-cell price totals
    accumulate as DECIMAL. ONE map-side-combinable hash-agg to a
    bounded cell grid (5 × ~11 cells here) — at 100 TB the profile
    costs a single scan regardless of grid size."""
    li = load(spark, "lineitem", sf_dir)
    return (
        li.groupBy(
            F.floor((F.col("l_quantity") - 1) / _H2D_QW)
            .cast("bigint")
            .alias("q_bin"),
            F.floor(F.col("l_extendedprice") / _H2D_PW)
            .cast("bigint")
            .alias("p_bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_total"),
        )
    )


# ---------------------------------------------------------------------------
# q112: KMV sketch set operations — mergeable distinct-count algebra
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_DOMAIN = float(1 << 60)


def top_k_tournament(
    df: DataFrame,
    k: int,
    order_cols: list,
    salt_col: str,
    out_cols: list[str],
) -> DataFrame:
    """The top-k rows under ``order_cols`` as a two-stage tournament:
    parallel per-salt top-k windows (64-way hash partition on
    ``salt_col``, pushed into partial/final WindowGroupLimit), then a
    top-k over the BOUNDED 64·k candidate pool — which Catalyst
    collapses to a distributed TakeOrderedAndProject, so NO
    single-partition exchange appears anywhere (pinned in
    tests/test_plans.py). The one tournament serves both the KMV
    bottom-k and the top-decile spend cut."""
    w1 = Window.partitionBy("salt").orderBy(*order_cols)
    stage1 = (
        df.withColumn("salt", F.pmod(F.col(salt_col), F.lit(64)))
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= k)
        .select(*out_cols)
    )
    w2 = Window.orderBy(*order_cols)
    return (
        stage1.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select(*out_cols)
    )


def kmv_bottom_k(df: DataFrame, k: int = _KMV_K) -> DataFrame:
    """The k smallest values of column ``h`` — see
    :func:`top_k_tournament` for the plan shape."""
    return top_k_tournament(df, k, [F.col("h")], "h", ["h"])


@query(
    "q112_kmv_set_operations",
    oracle=f"""
    WITH a AS (
        SELECT DISTINCT o_custkey AS c FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ),
    b AS (
        SELECT DISTINCT o_custkey AS c FROM orders
        WHERE o_orderpriority = '2-HIGH'
    ),
    ha AS (
        SELECT CAST(concat('0x', substr(md5(CAST(c AS VARCHAR)), 1, 15))
               AS BIGINT) AS h FROM a
    ),
    hb AS (
        SELECT CAST(concat('0x', substr(md5(CAST(c AS VARCHAR)), 1, 15))
               AS BIGINT) AS h FROM b
    ),
    hu AS (SELECT h FROM ha UNION SELECT h FROM hb),
    ska AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
    skb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
    sku AS (SELECT h FROM hu ORDER BY h LIMIT {_KMV_K}),
    est AS (
        SELECT
            (SELECT COUNT(*) FROM ha) AS na,
            (SELECT COUNT(*) FROM hb) AS nb,
            (SELECT COUNT(*) FROM hu) AS nu,
            (SELECT MAX(h) FROM ska) AS hka,
            (SELECT MAX(h) FROM skb) AS hkb,
            (SELECT MAX(h) FROM sku) AS hku,
            (SELECT COUNT(*) FROM sku
             WHERE h IN (SELECT h FROM ska)
               AND h IN (SELECT h FROM skb)) AS n_overlap
    ),
    e2 AS (
        SELECT
            CASE WHEN na <= {_KMV_K} THEN na
                 ELSE CAST(floor({_KMV_K - 1}.0 *
                      ({_KMV_DOMAIN!r} / CAST(hka AS DOUBLE))) AS BIGINT)
            END AS est_a,
            CASE WHEN nb <= {_KMV_K} THEN nb
                 ELSE CAST(floor({_KMV_K - 1}.0 *
                      ({_KMV_DOMAIN!r} / CAST(hkb AS DOUBLE))) AS BIGINT)
            END AS est_b,
            CASE WHEN nu <= {_KMV_K} THEN nu
                 ELSE CAST(floor({_KMV_K - 1}.0 *
                      ({_KMV_DOMAIN!r} / CAST(hku AS DOUBLE))) AS BIGINT)
            END AS est_union,
            na, nb, nu, n_overlap
        FROM est
    )
    SELECT CAST(est_a AS BIGINT) AS est_a,
           CAST(na AS BIGINT) AS exact_a,
           CAST(est_b AS BIGINT) AS est_b,
           CAST(nb AS BIGINT) AS exact_b,
           CAST(est_union AS BIGINT) AS est_union,
           CAST(nu AS BIGINT) AS exact_union,
           CAST((n_overlap * est_union) // {_KMV_K} AS BIGINT)
               AS est_intersection,
           CAST(na + nb - nu AS BIGINT) AS exact_intersection
    FROM e2
    """,
)
def q112_kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SET ALGEBRA on KMV (k-minimum-values) sketches
    (Beyer et al., SIGMOD'07 — the mergeable bottom-k sketch behind
    Iceberg/Trino theta NDV): the customer sets behind URGENT and HIGH
    orders are sketched as their k=256 smallest 60-bit md5 hash values;
    |A| and |B| come from each sketch's kth value ((k-1)·D/h_k), the
    UNION estimate from the merged sketch (bottom-k of the combined
    stream — the merge is a k-way min, which is what makes the sketch
    shardable), and the INTERSECTION from the Jaccard fraction of the
    union sketch present in both input sketches — inclusion-exclusion
    without a pairwise join. Exact counterparts ride alongside.

    Deterministic by construction: the hash is md5 (engine-mirrorable),
    so Spark and the SQL oracle compute BIT-IDENTICAL sketches and
    estimates — the gate checks the estimator itself, not a tolerance.

    Scale shape: the k-min runs as a two-stage tournament — per-salt
    top-k windows in parallel, then one window over the bounded
    64·k candidate pool (never a global sort of the NDV stream); at
    100 TB each executor contributes k candidates and the driver-side
    state is 3·k hashes."""
    from data_engineering_nd_spark.functions.hashing import md5_prefix_long

    orders = load(spark, "orders", sf_dir)

    def hashes(priority: str) -> DataFrame:
        return (
            orders.where(F.col("o_orderpriority") == priority)
            .select("o_custkey")
            .distinct()
            .select(
                md5_prefix_long(
                    F.col("o_custkey").cast("string"), 15
                ).alias("h")
            )
        )

    ha = hashes("1-URGENT").localCheckpoint()
    hb = hashes("2-HIGH").localCheckpoint()
    hu = ha.union(hb).distinct()

    ska = kmv_bottom_k(ha).localCheckpoint()
    skb = kmv_bottom_k(hb).localCheckpoint()
    sku = kmv_bottom_k(hu).localCheckpoint()

    def est(n: int, sketch: DataFrame) -> int:
        if n <= _KMV_K:
            return n
        hk = sketch.agg(F.max("h")).collect()[0][0]
        import math

        return int(math.floor((_KMV_K - 1) * (_KMV_DOMAIN / float(hk))))

    na, nb, nu = ha.count(), hb.count(), hu.count()
    est_a, est_b = est(na, ska), est(nb, skb)
    est_u = est(nu, sku)
    n_overlap = (
        sku.join(ska, "h", "left_semi").join(skb, "h", "left_semi").count()
    )
    est_i = (n_overlap * est_u) // _KMV_K
    row = [
        (
            est_a, na, est_b, nb, est_u, nu, est_i,
            na + nb - nu,
        )
    ]
    return spark.createDataFrame(
        row,
        "est_a bigint, exact_a bigint, est_b bigint, exact_b bigint, "
        "est_union bigint, exact_union bigint, est_intersection bigint, "
        "exact_intersection bigint",
    )


# ---------------------------------------------------------------------------
# q113: Gini concentration of customer spend per nation — exact rank formula
# ---------------------------------------------------------------------------


@query(
    "q113_gini_by_nation",
    oracle="""
    WITH spend AS (
        SELECT o_custkey AS c,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT c_nationkey AS nk, x,
               ROW_NUMBER() OVER (
                   PARTITION BY c_nationkey ORDER BY x, c
               ) AS i
        FROM spend JOIN customer ON c = c_custkey
    ),
    g AS (
        SELECT nk, COUNT(*) AS n, SUM(x) AS s0, SUM(i * x) AS s1
        FROM ranked GROUP BY 1
    )
    SELECT n_name AS nation,
           CAST(n AS BIGINT) AS n_customers,
           CAST(s0 AS BIGINT) AS spend_cents,
           CAST(floor(
               CAST(2 * s1 - (n + 1) * s0 AS DOUBLE) * 1000000.0
               / CAST(n * s0 AS DOUBLE) + 0.5
           ) AS BIGINT) AS gini_e6
    FROM g JOIN nation ON nk = n_nationkey
    """,
)
def q113_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration index of customer spend per nation — the
    inequality profile behind revenue-concentration dashboards and
    long-tail curation decisions, via the exact sorted-rank identity
    G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) with x ascending and a
    deterministic (spend, custkey) tie-break.

    Exactness discipline: spend accumulates as DECIMAL cents, the rank
    moments Σx and Σ i·x as DECIMAL(38,0) (Spark's BIGINT sum would
    wrap silently at scale), and the single final division runs on
    integers exactly representable as doubles in the SAME operation
    order both engines — the e6 result is bit-stable.

    Scale shape: one hash-agg to per-customer spend, one shuffle to
    nation partitions for the rank window (each nation sorts its own
    customers — no global sort), one 25-row agg, broadcast nation-name
    join. At 100 TB the window is the cost, and it parallelizes per
    nation."""
    orders = load(spark, "orders", sf_dir)
    customer = load(spark, "customer", sf_dir)
    nation = load(spark, "nation", sf_dir)
    spend = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x")
    )
    ranked = (
        spend.join(customer, spend["c"] == customer["c_custkey"])
        .select(F.col("c_nationkey").alias("nk"), "x", "c")
        .withColumn(
            "i",
            F.row_number().over(
                Window.partitionBy("nk").orderBy("x", "c")
            ),
        )
    )
    g = ranked.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s0"),
        F.sum((F.col("i") * F.col("x")).cast("decimal(38,0)")).alias("s1"),
    )
    # the rank moments STAY DECIMAL(38,0) through the arithmetic (a
    # BIGINT 2*s1 would wrap silently at large SF while the oracle's
    # HUGEINT keeps going); only the final exact integers cross to
    # DOUBLE for the one division
    return g.join(
        F.broadcast(nation), g["nk"] == nation["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        F.col("n").alias("n_customers"),
        F.col("s0").cast("bigint").alias("spend_cents"),
        F.floor(
            (2 * F.col("s1") - (F.col("n") + 1) * F.col("s0"))
            .cast("double")
            * 1000000.0
            / (F.col("n") * F.col("s0")).cast("double")
            + 0.5
        ).cast("bigint").alias("gini_e6"),
    )


# ---------------------------------------------------------------------------
# q114: running-peak drawdown per year — the risk window kernel
# ---------------------------------------------------------------------------


@query(
    "q114_max_drawdown_by_year",
    oracle="""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    w AS (
        SELECT year(day) AS yr, rev,
               MAX(rev) OVER (
                   PARTITION BY year(day) ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS peak
        FROM d
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(rev) AS BIGINT) AS max_daily_rev_cents,
           CAST(MAX(peak - rev) AS BIGINT) AS max_drawdown_cents
    FROM w GROUP BY yr
    """,
)
def q114_max_drawdown_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily-revenue series per year (running
    peak minus current, maximized) — the risk kernel behind burn-rate
    monitors and anomaly dashboards, and the canonical prefix-max
    window shape.

    Exactness: daily revenue accumulates as DECIMAL cents before any
    window touches it; peak/drawdown are BIGINT comparisons — no
    floating point anywhere. Scale shape: one map-side-combinable
    hash-agg collapses the fact table to ~2.4k (day, cents) rows, the
    prefix-max window then runs PARTITIONED BY YEAR over day-sized
    frames (never a global sort of raw rows), and the final agg is
    7 rows."""
    orders = load(spark, "orders", sf_dir)
    d = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("rev")
    )
    w = Window.partitionBy(F.year("day")).orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    peaks = d.select(
        F.year("day").alias("yr"),
        "rev",
        F.max("rev").over(w).alias("peak"),
    )
    return peaks.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("rev").cast("bigint").alias("max_daily_rev_cents"),
        F.max(F.col("peak") - F.col("rev")).cast("bigint")
        .alias("max_drawdown_cents"),
    ).select(F.col("yr").cast("bigint").alias("yr"), "n_days",
             "max_daily_rev_cents", "max_drawdown_cents")


# ---------------------------------------------------------------------------
# q115: top-decile revenue concentration — distributed top-k, no global sort
# ---------------------------------------------------------------------------


@query(
    "q115_top_decile_revenue_share",
    oracle="""
    WITH spend AS (
        SELECT o_custkey AS c,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n FROM spend),
    top AS (
        SELECT x FROM spend ORDER BY x DESC, c
        LIMIT (SELECT (n + 9) // 10 FROM n)
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM n) AS n_customers,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM top) AS top_decile_n,
           (SELECT CAST(SUM(x) AS BIGINT) FROM top) AS top_cents,
           (SELECT CAST(SUM(x) AS BIGINT) FROM spend) AS total_cents,
           CAST((SELECT SUM(x) FROM top) * 1000000
                // (SELECT SUM(x) FROM spend) AS BIGINT) AS top_share_e6
    """,
)
def q115_top_decile_revenue_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue concentration in the top spend decile — the 80/20
    dashboard number, computed WITHOUT ranking any n-proportional row
    stream (VERDICT r11 task #2: a tournament would funnel Θ(n/10)
    rows through one no-partition WindowExec because k ∝ n).

    Threshold-select, all-aggregate, via the library selector
    (:mod:`operators.selectors`, VERDICT r12 tasks #3/#5):

    1. per-customer spend in one hash-agg (exact DECIMAL cents),
       cached so the bisection passes re-scan it for free — the
       discovery pass materializes the cache in the same job;
    2. :func:`selectors.exact_ranks_from_totals` (VERDICT r13 task
       #4) derives ``k = ceil(n / 10)`` from the discovery pass's own
       count — the r13 formulation's separate stats aggregate is
       folded into the first histogram pass, which also yields the
       exact total and per-bucket extents (the former min/max) as
       side effects; empty input returns the oracle's NULL-share row
       (ADVICE r12);
    3. the passes resolve the EXACT k-th largest spend t by
       shift-histogram bisection — ~2-3 scan passes for a cent range,
       pure int64 bucket arithmetic, no window, no join — and fold
       ``count(x > t)`` / ``sum(x > t)`` into the same aggregates, so
       no tail aggregate runs at all;
    4. the decile sum is pure driver algebra:
       ``sum(x > t) + (k - count(x > t)) · t`` — the (spend DESC,
       custkey) tie-break keeps the selection deterministic, and every
       cut-value tie contributes the same x, so the sum is exact.

    At 100 TB: the fact table collapses to per-customer spend in one
    hash-agg; everything after is ~3 re-scans of the cached spend
    frame aggregating to <= 2^14 bucket rows each — no
    TakeOrderedAndProject, no global window, no k rows on any single
    thread. All shares are BIGINT floor divisions."""
    from data_engineering_nd_spark.operators.selectors import (
        exact_ranks_from_totals,
    )

    orders = load(spark, "orders", sf_dir)
    spend = (
        orders.groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("x")
        )
        .localCheckpoint(eager=False)
    )
    sel = exact_ranks_from_totals(
        spend, {"x": lambda n: [(n + 9) // 10] if n else []}
    )["x"]
    n = sel.total_mass
    if n == 0:
        # oracle shape on zero orders: scalar subqueries still emit
        # one row — counts 0, sums/share NULL (ADVICE r12: the old
        # max()-over-stats raised, then the share divided by zero)
        return spark.range(1).select(
            F.lit(0).cast("bigint").alias("n_customers"),
            F.lit(0).cast("bigint").alias("top_decile_n"),
            F.lit(None).cast("bigint").alias("top_cents"),
            F.lit(None).cast("bigint").alias("total_cents"),
            F.lit(None).cast("bigint").alias("top_share_e6"),
        )
    total_cents = sel.total_sum
    k = (n + 9) // 10
    t, cnt_gt, sum_gt = sel.tails[0]
    top_cents = sum_gt + (k - cnt_gt) * t
    return spark.range(1).select(
        F.lit(n).cast("bigint").alias("n_customers"),
        F.lit(k).cast("bigint").alias("top_decile_n"),
        F.lit(top_cents).cast("bigint").alias("top_cents"),
        F.lit(total_cents).cast("bigint").alias("total_cents"),
        # exact unbounded-int share math on the driver — the oracle's
        # HUGEINT intermediate never outgrows Python ints
        F.lit(top_cents * 1_000_000 // total_cents)
        .cast("bigint")
        .alias("top_share_e6"),
    )


# ---------------------------------------------------------------------------
# q116: RFM segmentation with EXACT quintile cuts — no global window
# ---------------------------------------------------------------------------

_RFM_RANK_SQL = """
        SELECT {col} AS t FROM cust ORDER BY {col} DESC, c
        LIMIT 1 OFFSET (SELECT (n * {i} + 4) // 5 - 1 FROM nn)
"""


def _rfm_threshold_cte(col: str) -> str:
    return ", ".join(
        f"t_{col}_{i} AS ({_RFM_RANK_SQL.format(col=col, i=i)})"
        for i in (1, 2, 3)
    )


def _rfm_score_sql(col: str) -> str:
    return (
        "1 + "
        + " + ".join(
            f"(CASE WHEN {col} > (SELECT t FROM t_{col}_{i}) "
            f"THEN 1 ELSE 0 END)"
            for i in (1, 2, 3)
        )
    )


@query(
    "q116_rfm_segments",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey AS c,
               DATE_DIFF('day', DATE '1970-01-01',
                         CAST(MAX(o_orderdate) AS DATE)) AS r,
               CAST(COUNT(*) AS BIGINT) AS f,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS m
        FROM orders GROUP BY 1
    ),
    nn AS (SELECT COUNT(*) AS n FROM cust),
    {_rfm_threshold_cte("r")},
    {_rfm_threshold_cte("f")},
    {_rfm_threshold_cte("m")},
    scored AS (
        SELECT ({_rfm_score_sql("r")}) AS r_score,
               ({_rfm_score_sql("f")}) AS f_score,
               ({_rfm_score_sql("m")}) AS m_score,
               m
        FROM cust
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(m) AS BIGINT) AS segment_cents
    FROM scored GROUP BY 1, 2, 3
    """,
)
def q116_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary) with EXACT
    rank cuts: per-customer R (days-since-epoch of last order),
    F (order count), M (cent spend) collapse in one hash-agg, then the
    three cut points per metric (ranks ceil(i*n/5), i = 1..3,
    larger-is-better) come from :func:`operators.selectors.exact_ranks`
    — the multi-rank exact selector: ~3 shared shift-histogram
    bisection passes (pure int64 bucket arithmetic, one scan-agg per
    pass serving every open (column, rank) pair; VERDICT r12 task
    #3), NO ntile window, no global sort, nothing n-proportional on
    one thread. Scores are ``1 + #{cuts strictly
    below the value}`` so ties score identically in both engines;
    output is the 4^3-bounded segment grid with customer counts and
    exact cent totals.

    At 100 TB: the selector re-scans the checkpointed per-customer
    frame ~3 times, aggregating to <= 2^14 bucket rows per open
    window; the segment agg is map-side combinable into <=64
    groups."""
    orders = load(spark, "orders", sf_dir)
    cust = (
        orders.groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.datediff(
                F.max("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).cast("long").alias("r"),
            F.count(F.lit(1)).cast("long").alias("f"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("m"),
        )
        .localCheckpoint()
    )
    stats = cust.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            g
            for c in ("r", "f", "m")
            for g in (
                F.min(c).alias(f"mn_{c}"),
                F.max(c).alias(f"mx_{c}"),
            )
        ],
    ).collect()[0]
    n = int(stats.n)
    if n == 0:  # empty input: the selector has no bounds to bisect
        return spark.createDataFrame(
            [],
            "r_score bigint, f_score bigint, m_score bigint, "
            "n_customers bigint, segment_cents bigint",
        )
    ranks = [(n * i + 4) // 5 for i in (1, 2, 3)]
    from data_engineering_nd_spark.operators.selectors import exact_ranks

    cuts = exact_ranks(
        cust,
        {c: ranks for c in ("r", "f", "m")},
        bounds={
            c: (int(stats[f"mn_{c}"]), int(stats[f"mx_{c}"]))
            for c in ("r", "f", "m")
        },
    )

    def score(c: str):
        s = F.lit(1)
        for t in cuts[c]:
            s = s + F.when(F.col(c) > t, 1).otherwise(0)
        return s.cast("bigint")

    return (
        cust.select(
            score("r").alias("r_score"),
            score("f").alias("f_score"),
            score("m").alias("m_score"),
            "m",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("m").cast("bigint").alias("segment_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q117: inter-order gap survival — the churn curve
# ---------------------------------------------------------------------------

_SURV_GRID = (7, 14, 30, 60, 90, 180)


@query(
    "q117_order_gap_survival",
    oracle=f"""
    WITH gaps AS (
        SELECT DATE_DIFF('day',
                   CAST(LAG(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap
        FROM orders
    ),
    g AS (SELECT gap FROM gaps WHERE gap IS NOT NULL),
    grid(d) AS (VALUES {", ".join(f"({d})" for d in _SURV_GRID)})
    SELECT CAST(d AS BIGINT) AS gap_days,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_gaps,
           CAST(SUM(CASE WHEN gap > d THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exceeding,
           CAST(SUM(CASE WHEN gap > d THEN 1 ELSE 0 END) * 1000000
                // (SELECT COUNT(*) FROM g) AS BIGINT) AS survival_e6
    FROM g CROSS JOIN grid GROUP BY d
    """,
)
def q117_order_gap_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap survival curve — the churn-analysis primitive:
    consecutive order gaps per customer (LAG window PARTITIONED BY
    customer — never global), then the share of gaps exceeding each
    grid day as an exact e6 floor division. A gap distribution's tail
    is what a retention team reads to set win-back windows.

    At 100 TB: one shuffle to (customer)-partitioned windows, then a
    6-row aggregate; the grid expansion is a literal 6-value cross
    join, map-side combinable."""
    orders = load(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate")).over(w).cast("date"),
            ).alias("gap")
        )
        .where(F.col("gap").isNotNull())
    )
    agg = gaps.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(F.col("gap") > d, 1).otherwise(0)).alias(f"e_{d}")
            for d in _SURV_GRID
        ],
    )
    # ONE scan + window + aggregate, exploded to the 6 grid rows — a
    # unionAll of per-day selects would re-plan the whole input per day
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("bigint").alias("gap_days"),
                        F.col("n").cast("bigint").alias("n_gaps"),
                        F.col(f"e_{d}").cast("bigint")
                        .alias("n_exceeding"),
                        F.expr(
                            f"cast(e_{d} as decimal(38,0)) * 1000000 "
                            f"div cast(n as decimal(38,0))"
                        ).cast("bigint").alias("survival_e6"),
                    )
                    for d in _SURV_GRID
                ]
            )
        ).alias("g")
    ).select("g.*").where(
        # empty input: the global agg still emits one NULL-filled row,
        # while the oracle's CROSS JOIN over zero gaps emits none
        F.col("n_gaps") > 0
    )


# ---------------------------------------------------------------------------
# q118: supplier revenue concentration (HHI) per nation
# ---------------------------------------------------------------------------


@query(
    "q118_supplier_hhi_by_nation",
    oracle="""
    WITH rev AS (
        SELECT s_nationkey AS nk, l_suppkey AS sk,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS r
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT nk, SUM(r) AS t, COUNT(*) AS ns FROM rev GROUP BY 1),
    sh AS (
        SELECT rev.nk,
               CAST(CAST(rev.r AS HUGEINT) * 1000000 // tot.t
                    AS BIGINT) AS share_e6
        FROM rev JOIN tot ON rev.nk = tot.nk
    )
    SELECT n_name AS nation,
           CAST(tot.ns AS BIGINT) AS n_suppliers,
           CAST(tot.t AS BIGINT) AS revenue_micro,
           CAST((SELECT SUM(share_e6 * share_e6) FROM sh
                 WHERE sh.nk = tot.nk) // 1000000 AS BIGINT) AS hhi_e6,
           CAST((SELECT MAX(share_e6) FROM sh WHERE sh.nk = tot.nk)
                AS BIGINT) AS top_share_e6
    FROM tot JOIN nation ON tot.nk = n_nationkey
    """,
)
def q118_supplier_hhi_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue within
    each nation — the antitrust dashboard number next to q113's Gini:
    HHI = sum of squared e6 market shares (floor-exact BIGINT algebra;
    10,000-scale HHI readers divide by 100). Revenue is the
    repo-standard exact money path: per-row double product cast to
    DECIMAL(18,6), exact decimal sum, lifted to BIGINT micro-units —
    both engines aggregate identical ints, and the share division runs
    on DECIMAL(38)/HUGEINT intermediates.

    At 100 TB: lineitem collapses to (nation, supplier) revenue in one
    hash-agg behind a broadcast supplier join; shares and HHI are a
    25-group second agg — nothing wider than the supplier count ever
    shuffles."""
    li = load(spark, "lineitem", sf_dir)
    sup = load(spark, "supplier", sf_dir)
    nat = load(spark, "nation", sf_dir)
    rev = (
        li.join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            li["l_suppkey"] == sup["s_suppkey"],
        )
        .groupBy(
            F.col("s_nationkey").alias("nk"),
            F.col("l_suppkey").alias("sk"),
        )
        .agg(
            # the repo's standard money path (registry docstring):
            # per-row double product -> DECIMAL(18,6) -> exact sum; x1e6
            # lifts to exact BIGINT micro-units for the share algebra
            (
                F.sum(
                    (
                        F.col("l_extendedprice")
                        * (F.lit(1) - F.col("l_discount"))
                    ).cast("decimal(18,6)")
                )
                * 1000000
            )
            .cast("bigint")
            .alias("r")
        )
    )
    w = Window.partitionBy("nk")
    sh = rev.select(
        "nk",
        F.count(F.lit(1)).over(w).alias("ns"),
        F.sum("r").over(w).alias("t"),
        F.expr(
            "cast(cast(r as decimal(38,0)) * 1000000 "
            "div sum(cast(r as decimal(38,0))) "
            "over (partition by nk) as bigint)"
        ).alias("share_e6"),
    )
    out = sh.groupBy("nk").agg(
        F.max("ns").cast("bigint").alias("n_suppliers"),
        F.max("t").cast("bigint").alias("revenue_micro"),
        F.expr("sum(share_e6 * share_e6) div 1000000")
        .cast("bigint")
        .alias("hhi_e6"),
        F.max("share_e6").cast("bigint").alias("top_share_e6"),
    )
    return out.join(
        F.broadcast(nat.select("n_nationkey", "n_name")),
        out["nk"] == F.col("n_nationkey"),
    ).select(
        F.col("n_name").alias("nation"),
        "n_suppliers",
        "revenue_micro",
        "hhi_e6",
        "top_share_e6",
    )


# ---------------------------------------------------------------------------
# q119: exact order-value percentiles — multi-rank selector, no sort
# ---------------------------------------------------------------------------

_PCTL_PERMILLE = (500, 900, 990, 999)


@query(
    "q119_exact_percentiles",
    oracle=f"""
    WITH spend AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x
        FROM orders
    ),
    nn AS (SELECT COUNT(*) AS n FROM spend),
    ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC) AS rn FROM spend
    ),
    grid(pm) AS (VALUES {", ".join(f"({p})" for p in _PCTL_PERMILLE)}),
    ranks AS (
        SELECT pm,
               GREATEST((n * (1000 - pm) + 999) // 1000, 1) AS k, n
        FROM grid CROSS JOIN nn
    )
    SELECT CAST(pm AS BIGINT) AS permille,
           CAST(k AS BIGINT) AS rank_desc,
           (SELECT x FROM ranked WHERE rn = ranks.k) AS value_cents,
           CAST(n AS BIGINT) AS n_orders
    FROM ranks
    """,
)
def q119_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99/p99.9 of order value in cents — the latency-
    style percentile table, with NO sort and NO approx_percentile: the
    p-th percentile is the k-th LARGEST value at k = ceil((1-p)·n)
    (clamped to 1), and all four ranks resolve in ONE
    :func:`operators.selectors.exact_ranks_from_totals` call — the
    ranks are derived from the discovery pass's own count (VERDICT
    r13 task #4: no separate count/min/max job), and the shared
    shift-histogram passes cost the same ~3 column-pruned scans as a
    single rank.  approx_percentile trades error bounds for one pass;
    this is exact in the same number of passes.

    At 100 TB: each pass scans one cached BIGINT column and aggregates
    to <= 2^14 bucket rows; nothing n-proportional on one thread, no
    TakeOrderedAndProject, no global window."""
    from data_engineering_nd_spark.operators.selectors import (
        exact_ranks_from_totals,
    )

    orders = load(spark, "orders", sf_dir)
    spend = orders.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x")
    ).localCheckpoint(eager=False)
    sel = exact_ranks_from_totals(
        spend,
        {
            "x": lambda n: [
                max((n * (1000 - pm) + 999) // 1000, 1)
                for pm in _PCTL_PERMILLE
            ]
            if n
            else []
        },
        need_sums=False,
    )["x"]
    n = sel.total_mass
    if n == 0:
        # oracle shape on empty input: the grid CROSS JOIN still
        # emits one row per permille — rank clamps to 1, value NULL
        return spark.createDataFrame(
            [(pm, 1, None, 0) for pm in _PCTL_PERMILLE],
            "permille bigint, rank_desc bigint, value_cents bigint, "
            "n_orders bigint",
        )
    ks = [
        max((n * (1000 - pm) + 999) // 1000, 1)
        for pm in _PCTL_PERMILLE
    ]
    return spark.createDataFrame(
        [
            (pm, k, t.value, n)
            for pm, k, t in zip(_PCTL_PERMILLE, ks, sel.tails)
        ],
        "permille bigint, rank_desc bigint, value_cents bigint, "
        "n_orders bigint",
    )


# ---------------------------------------------------------------------------
# q120: exact Lorenz decile table — multi-rank selector WITH tails
# ---------------------------------------------------------------------------


@query(
    "q120_lorenz_decile_table",
    oracle="""
    WITH spend AS (
        SELECT o_custkey AS c,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    nn AS (SELECT COUNT(*) AS n, SUM(x) AS tot FROM spend),
    ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC, c) AS rn
        FROM spend
    ),
    grid(i) AS (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)),
    cuts AS (
        SELECT i, (n * i + 9) // 10 AS k, n, tot
        FROM grid CROSS JOIN nn
    )
    SELECT CAST(i AS BIGINT) AS decile,
           CAST(k AS BIGINT) AS rank_desc,
           (SELECT x FROM ranked WHERE rn = cuts.k) AS cut_cents,
           (SELECT CAST(SUM(x) AS BIGINT) FROM ranked
            WHERE rn <= cuts.k) AS top_cents,
           CAST((SELECT SUM(x) FROM ranked WHERE rn <= cuts.k)
                * 1000000 // tot AS BIGINT) AS cum_share_e6
    FROM cuts
    """,
)
def q120_lorenz_decile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Lorenz curve over customer spend: all nine decile cut
    points plus the cumulative top-decile revenue shares — the
    inequality table behind Gini dashboards — from ONE
    :func:`operators.selectors.exact_ranks_from_totals` call, whose
    discovery pass yields n, the total and the value extent in the
    same job (VERDICT r13 task #4: no separate stats aggregate).  The
    tails make every cumulative sum pure driver algebra (q115's
    identity, per cut): ``sum(top k) = sum(x > v_k) + (k - count(x >
    v_k)) · v_k`` — exact under any tie distribution, because every
    tied row contributes the same x.  Nine ranks share the same ~3
    histogram passes; NO ntile, no global window, no per-cut
    aggregates.

    At 100 TB: one hash-agg collapse to per-customer spend, ~3 scans
    of the cached frame aggregating to <= 2^14 rows per open window,
    then a literal 9-row result.  Shares are BIGINT floor divisions
    (HUGEINT-safe on the driver)."""
    from data_engineering_nd_spark.operators.selectors import (
        exact_ranks_from_totals,
    )

    orders = load(spark, "orders", sf_dir)
    spend = (
        orders.groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("x")
        )
        .localCheckpoint(eager=False)
    )
    sel = exact_ranks_from_totals(
        spend,
        {
            "x": lambda n: [
                (n * i + 9) // 10 for i in range(1, 10)
            ]
            if n
            else []
        },
    )["x"]
    n = sel.total_mass
    if n == 0:
        # oracle shape on empty input: nine grid rows, rank 0 and
        # every value column NULL (scalar subqueries over nothing)
        return spark.createDataFrame(
            [(i, 0, None, None, None) for i in range(1, 10)],
            "decile bigint, rank_desc bigint, cut_cents bigint, "
            "top_cents bigint, cum_share_e6 bigint",
        )
    tot = sel.total_sum
    ks = [(n * i + 9) // 10 for i in range(1, 10)]
    rows = []
    for i, (k, t) in enumerate(zip(ks, sel.tails), start=1):
        top = t.sum_gt + (k - t.cnt_gt) * t.value
        rows.append((i, k, t.value, top, top * 1_000_000 // tot))
    return spark.createDataFrame(
        rows,
        "decile bigint, rank_desc bigint, cut_cents bigint, "
        "top_cents bigint, cum_share_e6 bigint",
    )


# ---------------------------------------------------------------------------
# q121: exact per-group median — the selector's bounded-pivot pattern
# ---------------------------------------------------------------------------


@query(
    "q121_median_acctbal_by_nation",
    oracle="""
    WITH bal AS (
        SELECT c_custkey AS c, c_nationkey AS nk,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x
        FROM customer
    ),
    cnts AS (SELECT nk, COUNT(*) AS n FROM bal GROUP BY nk),
    ranked AS (
        SELECT nk, x,
               ROW_NUMBER() OVER (PARTITION BY nk ORDER BY x DESC, c)
                   AS rn
        FROM bal
    )
    SELECT n_name AS nation,
           CAST(cnts.n AS BIGINT) AS n_customers,
           (SELECT x FROM ranked
            WHERE ranked.nk = cnts.nk AND rn = (cnts.n + 1) // 2)
               AS median_cents
    FROM cnts JOIN nation ON nk = n_nationkey
    """,
)
def q121_median_acctbal_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT upper median of customer account balance (cents) PER
    NATION — grouped rank selection with NO per-group window and no
    sort: all <= 25 medians resolve in one
    :func:`operators.selectors.exact_ranks_grouped_from_totals` call,
    whose discovery pass yields each nation's row count, NULL-balance
    count and value extent in ONE job (VERDICT r13 task #4 — the
    former per-nation stats aggregate is folded into the first
    histogram pass) and whose ~2 further shared passes serve every
    group at once (per-group window parameters ride broadcast map
    literals, so 25 nations cost the same per-row work as one).  The
    median rank is over ALL rows with NULLs sorting last (the
    oracle's ROW_NUMBER order), so a rank landing past the non-null
    region IS a NULL median — the callable returns [] and the
    selector never overshoots and raises.  The pattern is for BOUNDED
    group cardinality (dimension-keyed groups): per-group state is a
    driver dict.

    At 100 TB: one cached narrow frame, ~2-3 scans aggregating to <=
    groups * 2^14 bucket rows, a 25-row broadcast for nation names.
    The oracle replays via PARTITION BY windows — affordable at
    oracle scale, the exact shape this query avoids at data scale."""
    from data_engineering_nd_spark.operators.selectors import (
        exact_ranks_grouped_from_totals,
    )

    cust = load(spark, "customer", sf_dir)
    nat = load(spark, "nation", sf_dir)
    bal = cust.select(
        F.col("c_nationkey").cast("int").alias("nk"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x"),
    ).localCheckpoint(eager=False)
    meds = exact_ranks_grouped_from_totals(
        bal,
        "nk",
        "x",
        lambda nk, nn, nl: (
            [(nn + nl + 1) // 2]
            if 0 < (nn + nl + 1) // 2 <= nn
            else []
        ),
        need_sums=False,
    )
    rows = spark.createDataFrame(
        [
            (
                nk,
                s.total_mass + s.null_rows,
                s.tails[0].value if s.tails else None,
            )
            for nk, s in sorted(meds.items())
        ],
        "nk int, n_customers bigint, median_cents bigint",
    )
    return rows.join(
        F.broadcast(nat),
        rows["nk"] == F.col("n_nationkey"),
    ).select(
        F.col("n_name").alias("nation"), "n_customers", "median_cents"
    )


# ---------------------------------------------------------------------------
# q122: weighted quartiles per group — multi-threshold weighted selection
# ---------------------------------------------------------------------------


@query(
    "q122_weighted_price_quartiles",
    oracle="""
    WITH c AS (
        SELECT concat(l_returnflag, '/', l_linestatus) AS grp,
               l_extendedprice AS p,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag, l_linestatus
                   ORDER BY l_extendedprice
               ) AS cum,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag, l_linestatus
               ) AS tot
        FROM lineitem
    ),
    qs(q) AS (VALUES (1), (2), (3))
    SELECT grp,
           CAST(q AS BIGINT) AS quartile,
           CAST(MIN(p) AS DOUBLE) AS weighted_value,
           CAST(MAX(tot) AS DOUBLE) AS total_weight
    FROM c CROSS JOIN qs
    WHERE 4 * cum >= q * tot
    GROUP BY grp, q
    """,
)
def q122_weighted_price_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-WEIGHTED price quartiles (p25/p50/p75) per
    (returnflag, linestatus) — the full weighted-quantile table from
    ONE :func:`operators.selectors.exact_ranks_grouped_from_totals`
    call: each group's three cut masses
    ``k_q = ((4 - q) * tot) // 4 + 1`` (the smallest v with
    ``4 * weight(x <= v) >= q * tot``, matching the oracle's crossing
    exactly in integer arithmetic) are derived from the discovery
    pass's own totals (VERDICT r13 task #4 — the separate stats
    aggregate is folded into the first histogram pass), and all 12
    (group, quartile) pairs share the same ~3 histogram passes.  No
    per-group cumulative window — the q108 scale note applies: window
    partitions here grow as n/4, the selector's passes are group-size
    independent.

    At 100 TB: one cached 3-column frame, ~3 scans aggregating to <=
    groups * slots * 2^14 bucket rows, a literal 12-row result."""
    from data_engineering_nd_spark.operators.selectors import (
        exact_ranks_grouped_from_totals,
    )

    li = load(spark, "lineitem", sf_dir).select(
        F.concat(
            F.col("l_returnflag"), F.lit("/"), F.col("l_linestatus")
        ).alias("grp"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("p"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("w"),
    ).localCheckpoint(eager=False)
    cuts = exact_ranks_grouped_from_totals(
        li,
        "grp",
        "p",
        lambda g, tot, _nulls: (
            [((4 - q) * tot) // 4 + 1 for q in (1, 2, 3)]
            if tot
            else []
        ),
        weight_col="w",
        need_sums=False,
    )
    return spark.createDataFrame(
        [
            (g, q, s.tails[q - 1].value / 100, s.total_mass / 100)
            for g, s in sorted(cuts.items())
            if s.tails
            for q in (1, 2, 3)
        ],
        "grp string, quartile bigint, weighted_value double, "
        "total_weight double",
    )

# ---------------------------------------------------------------------------
# q123: GLOBAL weighted percentiles — the ungrouped weighted selector
# ---------------------------------------------------------------------------


@query(
    "q123_weighted_global_percentiles",
    oracle="""
    WITH c AS (
        SELECT l_extendedprice AS p,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                   ORDER BY l_extendedprice
               ) AS cum,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER () AS tot
        FROM lineitem
    ),
    qs(pct) AS (VALUES (25), (50), (75), (90))
    SELECT CAST(pct AS BIGINT) AS pct,
           CAST(MIN(p) AS DOUBLE) AS weighted_value,
           CAST(MAX(tot) AS DOUBLE) AS total_weight
    FROM c CROSS JOIN qs
    WHERE 100 * cum >= pct * tot
    GROUP BY pct
    """,
)
def q123_weighted_global_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GLOBAL quantity-weighted price percentiles (p25/p50/p75/p90) —
    the ungrouped twin of q122, exercising ``weight_col`` on the
    UNGROUPED selector (VERDICT r13 task #3: before r14 this shape
    needed a fake single-group call through the grouped machinery).
    All four cut masses ``k_pct = ((100 - pct) * tot) // 100 + 1``
    (the smallest v with ``100 * weight(x <= v) >= pct * tot``,
    matching the oracle's crossing exactly in integer arithmetic) are
    derived from the discovery pass's own total weight
    (:func:`operators.selectors.exact_ranks_from_totals` — no stats
    job), and share the same ~3 histogram passes.  The reference
    anchor is the README.md:21-30 "average stay duration" class
    generalized to exact distribution cuts.

    At 100 TB: one checkpointed 2-column frame, ~3 scans aggregating
    to <= 2^14 bucket rows per open window, a literal 4-row result;
    no window function anywhere on the data path."""
    from data_engineering_nd_spark.operators.selectors import (
        exact_ranks_from_totals,
    )

    pcts = (25, 50, 75, 90)
    li = load(spark, "lineitem", sf_dir).select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("p"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("w"),
    ).localCheckpoint(eager=False)
    sel = exact_ranks_from_totals(
        li,
        {
            "p": lambda tot: [
                ((100 - pct) * tot) // 100 + 1 for pct in pcts
            ]
            if tot
            else []
        },
        weight_col="w",
        need_sums=False,
    )["p"]
    return spark.createDataFrame(
        [
            (pct, t.value / 100, sel.total_mass / 100)
            for pct, t in zip(pcts, sel.tails)
        ],
        "pct bigint, weighted_value double, total_weight double",
    )


# ---------------------------------------------------------------------------
# q124: exact per-group mode — deterministic argmax without a window
# ---------------------------------------------------------------------------


@query(
    "q124_modal_order_priority",
    oracle="""
    WITH c AS (
        SELECT o_orderstatus AS orderstatus,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)
                   AS order_year,
               o_orderpriority AS mode, COUNT(*) AS cnt
        FROM orders
        GROUP BY 1, 2, 3
    ),
    r AS (
        SELECT orderstatus, order_year, mode, cnt,
               SUM(cnt) OVER (
                   PARTITION BY orderstatus, order_year
               ) AS total,
               ROW_NUMBER() OVER (
                   PARTITION BY orderstatus, order_year
                   ORDER BY cnt DESC, mode
               ) AS rn
        FROM c
    )
    SELECT orderstatus, order_year,
           mode AS modal_priority,
           CAST(cnt AS BIGINT) AS modal_count,
           CAST(total AS BIGINT) AS total_rows,
           CAST(cnt * 1000000 // total AS BIGINT) AS modal_share_e6
    FROM r WHERE rn = 1
    """,
)
def q124_modal_order_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT per-group mode (most frequent ``o_orderpriority`` per
    (orderstatus, order-year)) with a DETERMINISTIC tie-break
    (smallest priority string wins) — the categorical "argmax of
    counts" kernel behind dominant-category dashboards, implemented
    as two hash-aggregations and ZERO window functions: the inner
    ``groupBy`` counts (group, candidate) pairs, the outer reduces
    each group with ``MIN(struct(-cnt, mode))`` — lexicographic
    struct ordering IS the (count desc, value asc) argmax, and
    Catalyst partial-aggregates both levels map-side.

    At 100 TB: the only shuffles are the two hash-agg exchanges, the
    second over <= groups x |priority| rows; a PARTITION-BY window
    (the oracle's formulation) would instead sort every group's
    candidate set.  The mode surfaces a genuine scale asymmetry: the
    candidate table after pass 1 is BOUNDED by the category
    cardinality, so the argmax never sees raw rows."""
    orders = load(spark, "orders", sf_dir)
    c = orders.groupBy(
        F.col("o_orderstatus").alias("orderstatus"),
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.col("o_orderpriority").alias("mode"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    best = c.groupBy("orderstatus", "order_year").agg(
        F.min(
            F.struct(
                (-F.col("cnt")).alias("neg"), F.col("mode").alias("m")
            )
        ).alias("best"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
    )
    return best.select(
        "orderstatus",
        "order_year",
        F.col("best.m").alias("modal_priority"),
        (-F.col("best.neg")).cast("bigint").alias("modal_count"),
        "total_rows",
        F.expr("(-best.neg) * 1000000L div total_rows")
        .cast("bigint")
        .alias("modal_share_e6"),
    )


# ---------------------------------------------------------------------------
# q125: chi-squared independence — exact-integer contingency algebra
# ---------------------------------------------------------------------------


@query(
    "q125_chi2_priority_status",
    oracle="""
    WITH cell AS (
        SELECT o_orderstatus AS f, o_orderpriority AS m, COUNT(*) AS o
        FROM orders GROUP BY 1, 2
    ),
    rm AS (SELECT f, SUM(o) AS r FROM cell GROUP BY 1),
    cm AS (SELECT m, SUM(o) AS c FROM cell GROUP BY 1),
    tot AS (SELECT SUM(o) AS n, COUNT(*) AS n_cells FROM cell),
    terms AS (
        SELECT CAST(cell.o * tot.n - rm.r * cm.c AS DOUBLE) AS d,
               CAST(tot.n AS DOUBLE) * CAST(rm.r AS DOUBLE)
                   * CAST(cm.c AS DOUBLE) AS denom,
               tot.n AS n
        FROM cell JOIN rm USING (f) JOIN cm USING (m) CROSS JOIN tot
    ),
    s AS (
        SELECT MAX(n) AS n,
               SUM(CAST(floor(d * d / denom * 1e12 + 0.5)
                        AS HUGEINT)) AS chi2_e12
        FROM terms
    ),
    dims AS (
        SELECT (SELECT COUNT(*) FROM rm) AS nr,
               (SELECT COUNT(*) FROM cm) AS nc
    )
    SELECT CAST(s.n AS BIGINT) AS n_rows,
           CAST((dims.nr - 1) * (dims.nc - 1) AS BIGINT) AS dof,
           CAST(s.chi2_e12 // 1000000 AS BIGINT) AS chi2_e6,
           CAST(floor(
               sqrt(CAST(s.chi2_e12 AS DOUBLE) / 1e12
                    / (CAST(s.n AS DOUBLE)
                       * least(dims.nr - 1, dims.nc - 1)))
               * 1e6 + 0.5
           ) AS BIGINT) AS cramers_v_e6
    FROM s CROSS JOIN dims
    """,
)
def q125_chi2_priority_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chi-squared test of independence between ``o_orderstatus`` and
    ``o_orderpriority`` plus Cramer's V — the categorical-association
    kernel of feature-selection and drift dashboards — with the
    repo's exactness discipline: every margin is an exact integer
    count, each cell's term is evaluated as
    ``(o*n - r*c)^2 / (n*r*c)`` in ONE identical IEEE-double
    expression in both engines (the inputs are integers exactly
    representable as doubles), snapped to an e12 integer per cell
    BEFORE the sum so the cross-engine total is order-independent,
    and accumulated in unbounded integer arithmetic (HUGEINT in the
    oracle — a BIGINT sum would wrap at extreme scale).

    At 100 TB: ONE distributed hash-agg to the |status x priority|
    cell table (~15 rows, map-side partial combine), then margins and
    terms are driver arithmetic over that bounded collect — the cell
    cardinality is fixed by the category domains, never by n.  Each
    term is floored in arbitrary-precision Python (a BIGINT floor
    would saturate at 2^63 once a term exceeds ~9.2e6 — terms grow
    O(n)); the HUGEINT oracle mirrors the same unbounded arithmetic.
    The chi-squared statistic itself scales linearly with n, which is
    exactly why the accumulator is unbounded."""
    import math

    orders = load(spark, "orders", sf_dir)
    cells = (
        orders.groupBy(
            F.col("o_orderstatus").alias("f"),
            F.col("o_orderpriority").alias("m"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
        .collect()
    )
    obs = {(r["f"], r["m"]): int(r["o"]) for r in cells}
    rmarg: dict = {}
    cmarg: dict = {}
    for (f, mm), o in obs.items():
        rmarg[f] = rmarg.get(f, 0) + o
        cmarg[mm] = cmarg.get(mm, 0) + o
    n = sum(obs.values())
    chi2_e12 = 0
    for (f, mm), o in obs.items():
        # ONE identical IEEE-double expression in both engines: the
        # integer inputs are exact as doubles, the product order is
        # the oracle's left-associative order
        d = float(o * n - rmarg[f] * cmarg[mm])
        denom = float(n) * float(rmarg[f]) * float(cmarg[mm])
        chi2_e12 += math.floor(d * d / denom * 1e12 + 0.5)
    nr, nc = len(rmarg), len(cmarg)
    k = min(nr - 1, nc - 1)
    cramers = math.floor(
        math.sqrt(float(chi2_e12) / 1e12 / (float(n) * float(k))) * 1e6
        + 0.5
    )
    return spark.createDataFrame(
        [(n, (nr - 1) * (nc - 1), chi2_e12 // 1_000_000, cramers)],
        "n_rows bigint, dof bigint, chi2_e6 bigint, cramers_v_e6 bigint",
    )


# ---------------------------------------------------------------------------
# q126: per-nation quartile dispersion — the selector's IQR consumer
# ---------------------------------------------------------------------------


@query(
    "q126_acctbal_dispersion_by_nation",
    oracle="""
    WITH bal AS (
        SELECT c_nationkey AS nk,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x
        FROM customer WHERE c_acctbal IS NOT NULL
    ),
    c AS (
        SELECT nk, x,
               ROW_NUMBER() OVER (PARTITION BY nk ORDER BY x) AS rn,
               COUNT(*) OVER (PARTITION BY nk) AS n
        FROM bal
    ),
    qs(q) AS (VALUES (1), (3)),
    cut AS (
        SELECT nk, q, MIN(x) AS v, MAX(n) AS n
        FROM c CROSS JOIN qs
        WHERE 4 * rn >= q * n
        GROUP BY nk, q
    ),
    p AS (
        SELECT nk, MAX(n) AS n,
               MAX(CASE WHEN q = 1 THEN v END) AS q1,
               MAX(CASE WHEN q = 3 THEN v END) AS q3
        FROM cut GROUP BY nk
    )
    SELECT n_name AS nation,
           CAST(n AS BIGINT) AS n_customers,
           q1 AS q1_cents, q3 AS q3_cents,
           q3 - q1 AS iqr_cents,
           CASE WHEN q3 + q1 > 0
                THEN CAST((q3 - q1) * 1000000 // (q3 + q1) AS BIGINT)
           END AS dispersion_e6
    FROM p JOIN nation ON nk = n_nationkey
    """,
)
def q126_acctbal_dispersion_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT quartile coefficient of dispersion
    ``(Q3-Q1)/(Q3+Q1)`` of customer account balance per nation — the
    robust spread metric next to q113's Gini and q121's median — with
    both quartile cuts for all <= 25 nations resolved in ONE
    :func:`operators.selectors.exact_ranks_grouped_from_totals` call
    (the q121/q122 pattern: ~3 shared group-size-independent
    histogram passes, no per-nation window or sort).  Cut convention
    matches the oracle's crossing in integer arithmetic: Q_j is the
    smallest v with ``4 * count(x <= v) >= j * n``, i.e. descending
    rank ``k_j = ((4 - j) * n) // 4 + 1``.  NULL balances are
    excluded on both sides; the ratio is NULL when ``Q3 + Q1 <= 0``
    (balances may be negative — a signed midhinge makes the
    coefficient meaningless), identically CASEd in both engines.

    At 100 TB: one checkpointed 2-column frame, ~3 scans aggregating
    to <= nations x 2 x 2^14 bucket rows, a 25-row broadcast join
    for names."""
    from data_engineering_nd_spark.operators.selectors import (
        exact_ranks_grouped_from_totals,
    )

    cust = load(spark, "customer", sf_dir)
    nat = load(spark, "nation", sf_dir)
    bal = (
        cust.where(F.col("c_acctbal").isNotNull())
        .select(
            F.col("c_nationkey").cast("int").alias("nk"),
            (F.col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("x"),
        )
        .localCheckpoint(eager=False)
    )
    cuts = exact_ranks_grouped_from_totals(
        bal,
        "nk",
        "x",
        lambda nk, n, _nulls: (
            [((4 - q) * n) // 4 + 1 for q in (1, 3)] if n else []
        ),
        need_sums=False,
    )
    rows = spark.createDataFrame(
        [
            (
                nk,
                s.total_mass,
                s.tails[0].value,
                s.tails[1].value,
            )
            for nk, s in sorted(cuts.items())
            if s.tails
        ],
        "nk int, n_customers bigint, q1_cents bigint, q3_cents bigint",
    )
    return rows.join(
        F.broadcast(nat), rows["nk"] == F.col("n_nationkey")
    ).select(
        F.col("n_name").alias("nation"),
        "n_customers",
        "q1_cents",
        "q3_cents",
        (F.col("q3_cents") - F.col("q1_cents")).alias("iqr_cents"),
        F.when(
            F.col("q3_cents") + F.col("q1_cents") > 0,
            F.expr(
                "(q3_cents - q1_cents) * 1000000L"
                " div (q3_cents + q1_cents)"
            ),
        )
        .cast("bigint")
        .alias("dispersion_e6"),
    )


# ---------------------------------------------------------------------------
# q127: exact trimmed + winsorized mean — the selector's tail-sum consumer
# ---------------------------------------------------------------------------


@query(
    "q127_trimmed_winsorized_mean",
    oracle="""
    WITH x AS (
        SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM lineitem
    ),
    p AS (SELECT COUNT(*) AS n, SUM(v) AS s, COUNT(*) // 10 AS t FROM x),
    r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC) AS rn FROM x),
    mid AS (
        SELECT SUM(r.v) AS ms, COUNT(*) AS mc
        FROM r CROSS JOIN p WHERE r.rn > p.t AND r.rn <= p.n - p.t
    ),
    cuts AS (
        SELECT
            (SELECT v FROM r CROSS JOIN p WHERE rn = p.t + 1) AS hi_cut,
            (SELECT v FROM r CROSS JOIN p WHERE rn = p.n - p.t) AS lo_cut
    )
    SELECT CAST(p.n AS BIGINT) AS n_rows,
           CAST(p.t AS BIGINT) AS t_trim,
           CAST(CASE WHEN p.t > 0 THEN cuts.lo_cut END AS BIGINT)
               AS lo_cut_cents,
           CAST(CASE WHEN p.t > 0 THEN cuts.hi_cut END AS BIGINT)
               AS hi_cut_cents,
           CAST(p.s * 1000000 // p.n AS BIGINT) AS mean_e6,
           CAST(mid.ms * 1000000 // mid.mc AS BIGINT) AS trimmed_mean_e6,
           CAST((mid.ms + p.t * cuts.hi_cut + p.t * cuts.lo_cut)
                * 1000000 // p.n AS BIGINT) AS winsorized_mean_e6
    FROM p CROSS JOIN mid CROSS JOIN cuts
    """,
)
def q127_trimmed_winsorized_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT 10%-two-sided trimmed mean and winsorized mean of
    ``l_extendedprice`` (cents) — the outlier-robust location estimates
    next to q119's percentile cuts — from ONE
    :func:`operators.selectors.exact_ranks_from_totals` call: with
    ``t = n // 10`` known from the discovery pass, the three tail
    resolutions at descending ranks ``t``, ``t+1`` and ``n-t`` give
    top-k sums ``topsum(k) = sum_gt + (k - cnt_gt) * value`` (the q120
    identity, tie-exact on duplicate prices), so

    - ``trimmed = (topsum(n-t) - topsum(t)) / (n - 2t)``,
    - ``winsorized = (trimmed_sum + t * v_(t+1) + t * v_(n-t)) / n``

    are pure driver algebra over exact integers — no sort, no window,
    no second scan for the replaced tails.  All means are floor-divided
    e6 integers computed in arbitrary-precision driver arithmetic (the
    oracle's HUGEINT mirror).  ``t == 0`` degenerates to the plain
    mean, identically in both engines.

    At 100 TB: one checkpointed single-column frame, ~3 shared
    histogram passes, a literal 1-row result."""
    from data_engineering_nd_spark.operators.selectors import (
        exact_ranks_from_totals,
    )

    li = load(spark, "lineitem", sf_dir).select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v")
    ).localCheckpoint(eager=False)

    def _ranks(tot: int) -> list[int]:
        t = tot // 10
        if t == 0:
            return []
        return sorted({t, t + 1, tot - t})

    sel = exact_ranks_from_totals(li, {"v": _ranks})["v"]
    n, s = sel.total_mass, sel.total_sum
    t = n // 10
    if t == 0:
        mean_e6 = s * 1_000_000 // n
        row = (n, 0, None, None, mean_e6, mean_e6, mean_e6)
    else:
        by_rank = dict(zip(_ranks(n), sel.tails))

        def topsum(k: int) -> int:
            tl = by_rank[k]
            return tl.sum_gt + (k - tl.cnt_gt) * tl.value

        hi_cut = by_rank[t + 1].value
        lo_cut = by_rank[n - t].value
        trim_sum = topsum(n - t) - topsum(t)
        row = (
            n,
            t,
            lo_cut,
            hi_cut,
            s * 1_000_000 // n,
            trim_sum * 1_000_000 // (n - 2 * t),
            (trim_sum + t * hi_cut + t * lo_cut) * 1_000_000 // n,
        )
    return spark.createDataFrame(
        [row],
        "n_rows bigint, t_trim bigint, lo_cut_cents bigint, "
        "hi_cut_cents bigint, mean_e6 bigint, trimmed_mean_e6 bigint, "
        "winsorized_mean_e6 bigint",
    )


# ---------------------------------------------------------------------------
# q128: exact-moment Pearson correlation matrix — covariance discipline
# ---------------------------------------------------------------------------


@query(
    "q128_correlation_matrix",
    oracle="""
    WITH x AS (
        SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS q,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS p,
               CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                    AS BIGINT) AS d,
               CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT) AS t
        FROM lineitem
    ),
    s AS (
        SELECT COUNT(*) AS n,
               SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd, SUM(t) AS st,
               SUM(q*q) AS sqq, SUM(p*p) AS spp,
               SUM(d*d) AS sdd, SUM(t*t) AS stt,
               SUM(q*p) AS sqp, SUM(q*d) AS sqd, SUM(q*t) AS sqt,
               SUM(p*d) AS spd, SUM(p*t) AS spt, SUM(d*t) AS sdt
        FROM x
    )
    SELECT var_a, var_b, CAST(s.n AS BIGINT) AS n_rows,
           CAST(CASE WHEN da = 0 OR db = 0 THEN NULL ELSE floor(
               CAST(num AS DOUBLE)
               / sqrt(CAST(da AS DOUBLE) * CAST(db AS DOUBLE))
               * 1e6 + 0.5
           ) END AS BIGINT) AS r_e6
    FROM s, LATERAL (
        SELECT * FROM (VALUES
            ('discount', 'extendedprice', n*spd - sd*sp,
             n*sdd - sd*sd, n*spp - sp*sp),
            ('discount', 'quantity', n*sqd - sd*sq,
             n*sdd - sd*sd, n*sqq - sq*sq),
            ('discount', 'tax', n*sdt - sd*st,
             n*sdd - sd*sd, n*stt - st*st),
            ('extendedprice', 'quantity', n*sqp - sp*sq,
             n*spp - sp*sp, n*sqq - sq*sq),
            ('extendedprice', 'tax', n*spt - sp*st,
             n*spp - sp*sp, n*stt - st*st),
            ('quantity', 'tax', n*sqt - sq*st,
             n*sqq - sq*sq, n*stt - st*st)
        ) AS v(var_a, var_b, num, da, db)
    )
    """,
)
def q128_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the four lineitem numerics
    (quantity, extendedprice, discount, tax) — the feature-screening
    table in front of any modeling pipeline — with the repo's exactness
    discipline: ONE hash-aggregate computes all 15 raw moments (4 sums,
    4 sum-of-squares, 6 cross-products, count) as exact integers
    (DECIMAL(38,0) accumulation; a BIGINT Σx² wraps at warehouse
    scale), then every pairwise
    ``r = (nΣab − ΣaΣb) / sqrt((nΣa²−(Σa)²)(nΣb²−(Σb)²))``
    is ARBITRARY-PRECISION driver arithmetic down to one identical
    IEEE-double expression per pair (the oracle mirrors it in HUGEINT:
    numerator and radicands exact, one cast-to-double each, same
    operation order) — the e6 result is bit-stable cross-engine.

    Versus ``F.corr``: the built-in accumulates doubles and its result
    differs between engines in the last ulps (partition-order
    dependent); exact integer moments make the SINGLE rounding the
    only float step.

    At 100 TB: one scan, one 1-row aggregate (map-side partial
    combine), a literal 6-row result; moment count grows as the
    SQUARE of the variable count — 4 variables is 15 moments, the
    practical envelope for one pass."""
    import math

    li = load(spark, "lineitem", sf_dir).select(
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("q"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("p"),
        (F.col("l_discount").cast("decimal(18,4)") * 10000)
        .cast("bigint").alias("d"),
        (F.col("l_tax").cast("decimal(18,4)") * 10000)
        .cast("bigint").alias("t"),
    )

    def dsum38(e):
        return F.sum(e.cast("decimal(38,0)"))

    cols = {"q": "quantity", "p": "extendedprice",
            "d": "discount", "t": "tax"}
    aggs = [F.count(F.lit(1)).alias("n")]
    for a in cols:
        aggs.append(dsum38(F.col(a)).alias(f"s{a}"))
        aggs.append(dsum38(F.col(a) * F.col(a)).alias(f"s{a}{a}"))
    pairs = [("q", "p"), ("q", "d"), ("q", "t"),
             ("p", "d"), ("p", "t"), ("d", "t")]
    for a, b in pairs:
        aggs.append(dsum38(F.col(a) * F.col(b)).alias(f"s{a}{b}"))
    m = li.agg(*aggs).collect()[0].asDict()
    n = int(m["n"])
    if n == 0:
        # oracle shape on empty input: every SUM is NULL, the CASE
        # falls through — 6 rows, zero count, NULL correlation
        rows = [
            (*sorted((cols[a], cols[b])), 0, None) for a, b in pairs
        ]
        return spark.createDataFrame(
            sorted(rows),
            "var_a string, var_b string, n_rows bigint, r_e6 bigint",
        )
    s = {k: int(v) for k, v in m.items() if k != "n"}
    rows = []
    for a, b in pairs:
        sab = s[f"s{a}{b}"]
        num = n * sab - s[f"s{a}"] * s[f"s{b}"]
        da = n * s[f"s{a}{a}"] - s[f"s{a}"] ** 2
        db = n * s[f"s{b}{b}"] - s[f"s{b}"] ** 2
        # a zero-variance (constant) column has no defined correlation
        # — NULL, identically CASEd in the oracle
        r_e6 = (
            None
            if da == 0 or db == 0
            else math.floor(
                float(num) / math.sqrt(float(da) * float(db)) * 1e6
                + 0.5
            )
        )
        va, vb = sorted((cols[a], cols[b]))
        rows.append((va, vb, n, r_e6))
    return spark.createDataFrame(
        sorted(rows),
        "var_a string, var_b string, n_rows bigint, r_e6 bigint",
    )
