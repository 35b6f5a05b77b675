"""Driver-contract smoke tests: entry() returns rows; every registered query
runs at sf0.001; every oracle key has a matching query."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) == 4


def test_oracle_keys_subset_of_queries():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 20


@pytest.fixture(scope="session")
def query_sweep(spark, request):
    """On first use, submit every ``test_query_runs`` case pytest selected
    to a small driver thread pool (guide §2.6), and memoize one future of
    (columns, exception-or-None) per query at sf0.001. ``-k q01`` runs
    one query; a full run still overlaps all of them. Each query executes
    exactly as it would alone (conf scopes are reference-counted, see
    catalog.scoped_conf) and a failure is reported against its own test
    id."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as e

    qs = e.queries()

    def run(name):
        try:
            df = qs[name](spark, SF_DIR)
            cols = list(df.columns)
            df.count()
            return cols, None
        except Exception as ex:  # surfaced by the per-query test
            return [], ex

    selected = sorted(
        item.callspec.params["name"]
        for item in request.session.items
        if getattr(item, "function", None) is test_query_runs
    )
    pool = ThreadPoolExecutor(max_workers=4)
    yield {name: pool.submit(run, name) for name in selected}
    pool.shutdown(cancel_futures=True)


@pytest.mark.parametrize(
    "name",
    sorted(__import__("__spark_entry__").queries()),
)
def test_query_runs(query_sweep, name):
    # every query must produce a stable schema and execute; most return rows
    cols, err = query_sweep[name].result()
    if err is not None:
        raise err
    assert cols


def test_approx_aggregates_within_bounds(spark):
    """q28's sketches must track the exact answers (HLL++ rsd=1%,
    percentile_approx accuracy=10000) — the in-query booleans assert a 2%
    gate-level contract; this pytest pins the tighter local bounds and the
    cross-engine HLL agreement."""
    from pyspark.sql import functions as F

    from data_engineering_nd_spark.analytics import q28_approx_vs_exact
    from data_engineering_nd_spark.catalog import load

    sf = "/root/testdata/sf0.01"
    rows = {r.l_returnflag: r for r in q28_approx_vs_exact(spark, sf).collect()}
    exact = {
        r.l_returnflag: r
        for r in load(spark, "lineitem", sf)
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("orders"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
        )
        .collect()
    }
    for flag, e in exact.items():
        r = rows[flag]
        # the query's own exact columns must equal the straight aggregate
        assert r.exact_orders == e.orders
        assert abs(r.exact_p50 - e.p50) < 1e-3
        # and the 2% booleans the oracle pins as TRUE must hold locally too
        assert r.orders_within_2pct and r.p50_within_2pct

    # cross-engine delta: DuckDB's own HLL estimate must agree with the
    # exact cardinality within the combined error budget (both engines'
    # sketches target the same truth; their estimates may differ, not
    # diverge).
    import duckdb

    duck = {
        flag: n
        for flag, n in duckdb.sql(
            f"SELECT l_returnflag, approx_count_distinct(l_orderkey) "
            f"FROM '{sf}/lineitem.parquet' GROUP BY l_returnflag"
        ).fetchall()
    }
    for flag, e in exact.items():
        assert abs(duck[flag] - e.orders) / e.orders < 0.08


def test_stratified_sample_fractions(spark):
    """q40: per-stratum sample sizes track the requested fractions, and
    fraction-1.0 strata are complete."""
    from data_engineering_nd_spark.analytics import q40_stratified_sample
    from data_engineering_nd_spark.catalog import load

    sf = "/root/testdata/sf0.01"
    sampled = {r.event_type: r.n_sampled for r in q40_stratified_sample(spark, sf).collect()}
    totals = {
        r.event_type: r["count"]
        for r in load(spark, "events", sf).groupBy("event_type").count().collect()
    }
    assert sampled["purchase"] == totals["purchase"]
    assert sampled["error"] == totals["error"]
    assert 0.05 < sampled["click"] / totals["click"] < 0.2  # ~0.1
    assert 0.3 < sampled["signup"] / totals["signup"] < 0.7  # ~0.5


def test_vocab_encode_known_corpus(spark):
    """Tiny corpus with a hand-computable vocabulary: ids follow frequency
    rank (ties lexicographic), OOV maps to V+1, checksum is position-
    weighted — verified against a by-hand encoding."""
    from data_engineering_nd_spark.operators.text_analysis import (
        vocab_encode_summary,
    )

    docs = spark.createDataFrame(
        [(1, "b a b"), (2, "a c b")], "doc_id long, text string"
    )
    # counts: b=3, a=2, c=1 -> vocab(size=2): b=1, a=2; c is OOV -> 3
    out = {r.doc_id: r for r in
           vocab_encode_summary(docs, "doc_id", "text", vocab_size=2).collect()}
    # doc 1: ids [1,2,1] -> 1*1 + 2*2 + 3*1 = 8
    assert (out[1].n_tokens, out[1].n_oov, out[1].encoding_checksum) == (3, 0, 8)
    # doc 2: ids [2,3,1] -> 1*2 + 2*3 + 3*1 = 11
    assert (out[2].n_tokens, out[2].n_oov, out[2].encoding_checksum) == (3, 1, 11)
