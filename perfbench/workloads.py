"""The benchmark's workloads.

Each workload has ``prepare`` (input generation, run several times; the
inputs go to disk and the program reads only those), ``warm`` (one untimed
pass, so first-use costs land in set-up), ``passes`` (an endless, seeded
sequence of operation lists: a pass is one unit of the workload) and
``verify`` (the correctness checks that need the whole run). An operation
is ``(kind, label, fn)``; ``fn()`` does the timed work and returns a
``check`` callable that is run after the clock stops and returns True when
the output was right.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle


def dir_digest(path: str) -> str:
    """sha256 over the relative names and bytes of every file under path."""
    h = hashlib.sha256()
    for dp, dns, fns in os.walk(path):
        dns.sort()
        for fn in sorted(fns):
            full = os.path.join(dp, fn)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class Workload:
    name = ""
    sf = 0.0
    #: nominal length of one pass on 4 cores; sets the passes per run
    pass_seconds = 10.0

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.data_dir = os.path.join(work, "data")

    def prepare(self) -> str:
        """Write this seed's inputs; returns a digest of everything written."""
        shutil.rmtree(self.data_dir, ignore_errors=True)
        gen.write_tables(self.data_dir, self.sf, self.seed)
        return dir_digest(self.data_dir)

    def setup(self) -> None:
        """Work that needs the inputs and a session, done once."""

    def warm(self) -> None:
        for _kind, _label, fn in next(self.passes(random.Random(self.seed ^ 0x5EED))):
            fn()()

    def passes(self, rng: random.Random):
        raise NotImplementedError

    def verify(self) -> bool:
        return True

    # -- tracing hooks (table workloads override them) -----------------------

    def trace_pass_begin(self) -> None:
        """Called before each traced pass."""

    def trace_pass_end(self) -> None:
        """Called after each traced pass."""

    def after_traced_op(self, tracer) -> None:
        """Called after each traced operation, outside its interval."""

    def table_io_counts(self) -> dict[str, int]:
        return {}

    def bytes_written_per_user_byte(self) -> float:
        return 0.0

    def stored_ratio(self) -> float:
        return 0.0


# -- olap_queries -------------------------------------------------------------

#: A fixed set, so every seed times the same work (the seed sets the data and
#: the order). The q* members span the middle of the registered q* queries'
#: sf0.01 latency range (0.2s to 0.9s warm on 4 cores) and the driver paths
#: they use: a Python UDF worker (q34), broadcast joins, windows, a sketch,
#: string kernels. graph_kcore is a fixpoint loop (the graph layer).
OLAP_QUERIES = (
    "q01_pricing_summary",
    "q02_top_nations_by_revenue",
    "q06_top_customers_per_nation",
    "q12_string_kernels",
    "q16_sessionize",
    "q22_running_total",
    "q34_pandas_udf_score",
    "q47_correlated_subqueries",
    "q74_hll_distinct",
    "graph_kcore",
)
#: the paper's ETL job, ``pipeline.run``: read raw i94 files, build the
#: tables, write them partitioned, audit them (the pipeline, transforms, io
#: and quality layers)
PIPELINE_OP = "pipeline_run"
OLAP_OPS = OLAP_QUERIES + (PIPELINE_OP,)


class OlapQueries(Workload):
    """Registered queries, results collected, plus ``pipeline.run`` over raw
    i94 parquet and the airport and demographics CSVs. The raw files are
    synthesised once from this seed's tables by the ``i94_parity``
    generators, with the 1/3 row slice of the registered ``i94_pipeline_run``
    gate, whose DuckDB oracle then checks every landing."""

    name = "olap_queries"
    sf = 0.01
    pass_seconds = 10.0

    def setup(self) -> None:
        import duckdb
        from pyspark.sql import functions as F

        import __spark_entry__ as entry
        from data_engineering_nd_spark import i94_parity as ip

        queries, sqls = entry.queries(), entry.oracle_sql()
        self.fns = {q: queries[q] for q in OLAP_QUERIES}
        con = duckdb.connect()
        oracle.duckdb_views(con, self.data_dir)
        self.expected = {q: oracle.duckdb_hash(con, sqls[q]) for q in OLAP_QUERIES}
        self.landings = {
            r[0]: (int(r[1]), int(r[2]), bool(r[3]))
            for r in con.execute(sqls["i94_pipeline_run"]).fetchall()
        }
        con.close()

        raw = os.path.join(self.work, "i94_in")
        self.i94 = {
            "raw_paths": [os.path.join(raw, "i94_raw")],
            "airport_codes_path": os.path.join(raw, "airport_codes"),
            "demographics_path": os.path.join(raw, "demographics"),
        }
        ip.synth_i94_raw(self.spark, self.data_dir).filter(
            F.col("cicid") % 3 == 0
        ).write.parquet(self.i94["raw_paths"][0])
        ip.synth_airport_codes(self.spark, self.data_dir).write.option(
            "header", "true"
        ).csv(self.i94["airport_codes_path"])
        ip.synth_demographics(self.spark, self.data_dir).write.option(
            "header", "true"
        ).option("sep", ";").csv(self.i94["demographics_path"])
        self.years = ip._YEARS
        self.runs = 0

    def _landed_ok(self, res) -> bool:
        """Row count, content checksum and PK audit of every landed table,
        read back from disk, against the gate's oracle."""
        from pyspark.sql import functions as F

        from data_engineering_nd_spark import i94_parity as ip

        if not res.ok or set(res.tables) != set(self.landings):
            return False
        for table, (n, checksum, dq) in self.landings.items():
            audit = res.quality.get(table)
            if res.tables[table].rows != n or (audit is not None and audit.ok != dq):
                return False
            row = self.spark.read.parquet(res.tables[table].path).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(ip._checksum_digest_spark(ip._PIPELINE_CHECKSUM_COLS[table])).alias("c"),
            ).collect()[0]
            if (row["n"], row["c"] or 0) != (n, checksum):
                return False
        return True

    def _pipeline_op(self):
        from data_engineering_nd_spark import pipeline

        self.runs += 1
        out = os.path.join(self.work, f"warehouse_{self.runs}")

        def run():
            res = pipeline.run(
                self.spark, out_dir=out, raw_fmt="parquet", valid_years=self.years, **self.i94
            )

            def check():
                ok = self._landed_ok(res)
                shutil.rmtree(out, ignore_errors=True)
                return ok

            return check

        return ("pipeline", PIPELINE_OP, run)

    def _op(self, q: str):
        if q == PIPELINE_OP:
            return self._pipeline_op()

        def run():
            df = self.fns[q](self.spark, self.data_dir)
            rows = df.collect()
            return lambda: oracle.value_hash(df.columns, rows) == self.expected[q]

        return ("query", q, run)

    def warm(self) -> None:
        """One untimed run of every query, on a pool of ``nproc`` threads:
        the first-run JIT and codegen cost is driver CPU, so it overlaps.
        The graph loop runs alone, because it scopes a session conf."""
        from concurrent.futures import ThreadPoolExecutor

        loops = [q for q in OLAP_OPS if q.startswith("graph_")]
        rest = [q for q in OLAP_OPS if q not in loops]
        with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
            for check in pool.map(lambda q: self._op(q)[2](), rest):
                check()
        for q in loops:
            self._op(q)[2]()()

    def passes(self, rng):
        while True:
            order = list(OLAP_OPS)
            rng.shuffle(order)
            yield [self._op(q) for q in order]


# -- lakehouse_cdc ------------------------------------------------------------

KEY = "o_orderkey"
#: rounds of batches written in set-up: the warm round plus 15 timed ones
MAX_ROUNDS = 16
BATCH_ROWS = 400
DELETE_WIDTH = 40
TIME_TRAVEL_BACK = 3
FEED_APP = "perfbench-feed"


def cdc_batches(orders: pa.Table, seed: int):
    """Seeded change batches: per round an ``ingest`` and a ``merge_dv``
    batch (4 updates : 1 insert, keys uniform over the order keys) and a
    narrow ``delete`` key range."""
    rng = np.random.default_rng([seed, 7])
    n = orders.num_rows
    next_key = n
    out = []
    for _ in range(MAX_ROUNDS):
        rnd = {}
        for kind in ("ingest", "merge_dv"):
            n_upd = BATCH_ROWS * 4 // 5
            upd = rng.choice(n, n_upd, replace=False)
            ins = np.arange(next_key, next_key + BATCH_ROWS - n_upd)
            next_key += len(ins)
            keys = np.concatenate([upd, ins])
            rows = len(keys)
            src = orders.take(pa.array(rng.integers(0, n, rows)))
            rnd[kind] = pa.table({
                KEY: pa.array(keys, pa.int64()),
                "o_custkey": src.column("o_custkey"),
                "o_orderstatus": src.column("o_orderstatus"),
                "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, rows), 2),
                "o_orderdate": src.column("o_orderdate"),
                "o_orderpriority": src.column("o_orderpriority"),
            })
        lo = int(rng.integers(0, n - DELETE_WIDTH))
        rnd["delete"] = (lo, lo + DELETE_WIDTH - 1)
        rnd["lookup"] = int(rng.integers(0, n))
        out.append(rnd)
    return out


class LakehouseCdc(Workload):
    """A ``VersionedTable`` seeded from ``orders`` under a seeded loop of
    streaming upserts, merge-on-read upserts, range deletes, change-feed
    syncs, reads and periodic optimize/vacuum. The final table must equal a
    DuckDB replay of the same operations, and replaying the pumped feed
    with ``tables.apply_change_feed`` must rebuild it."""

    name = "lakehouse_cdc"
    sf = 0.02
    pass_seconds = 12.0

    def prepare(self) -> str:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        gen.write_tables(self.data_dir, self.sf, self.seed, ("orders",))
        orders = pq.read_table(os.path.join(self.data_dir, "orders.parquet"))
        batches = os.path.join(self.data_dir, "batches")
        os.makedirs(batches)
        rounds = []
        for i, rnd in enumerate(cdc_batches(orders, self.seed)):
            for kind in ("ingest", "merge_dv"):
                pq.write_table(rnd[kind], os.path.join(batches, f"{kind}_{i:03d}.parquet"))
            rounds.append({"delete": rnd["delete"], "lookup": rnd["lookup"]})
        with open(os.path.join(self.data_dir, "rounds.json"), "w") as f:
            json.dump(rounds, f)
        return dir_digest(self.data_dir)

    def setup(self) -> None:
        from data_engineering_nd_spark.streaming import sink
        from data_engineering_nd_spark.tables import VersionedTable

        root = os.path.join(self.work, "lake")
        shutil.rmtree(root, ignore_errors=True)
        self.src = VersionedTable(self.spark, os.path.join(root, "orders"))
        self.feed = VersionedTable(self.spark, os.path.join(root, "orders_feed"))
        self.stream_in = os.path.join(root, "stream_in")
        self.stream_ckpt = os.path.join(root, "stream_ckpt")
        os.makedirs(self.stream_in)
        base = self.spark.read.parquet(os.path.join(self.data_dir, "orders.parquet"))
        self.schema = base.schema
        self.src.commit(base.repartitionByRange(8, KEY))
        # the feed starts from the v0 snapshot; every timed sync is incremental
        sink.pump_change_feed(self.src, self.feed, [KEY], FEED_APP)
        with open(os.path.join(self.data_dir, "rounds.json")) as f:
            self.rounds = json.load(f)
        self.round = 0
        #: the operations applied, in order, for the DuckDB replay
        self.log: list[tuple] = []
        self.user_bytes = 0
        self.traced_user_bytes = 0
        self.written = 0
        self.traced_io: dict[str, int] = {}

    def _batch(self, kind: str, i: int) -> str:
        return os.path.join(self.data_dir, "batches", f"{kind}_{i:03d}.parquet")

    def _round(self, i: int):
        from data_engineering_nd_spark.streaming import sink

        spec = self.rounds[i]
        ok = lambda: True  # noqa: E731 - whole-run checks live in verify()

        def ingest():
            src_file = self._batch("ingest", i)
            self.user_bytes += os.path.getsize(src_file)
            shutil.copyfile(src_file, os.path.join(self.stream_in, f"part-{i:03d}.parquet"))
            q = sink.upsert_stream(
                self.spark.readStream.schema(self.schema).parquet(self.stream_in),
                self.src, [KEY], self.stream_ckpt,
            )
            q.awaitTermination()
            self.log.append(("upsert", src_file))
            return lambda: q.exception() is None

        def merge_dv():
            path = self._batch("merge_dv", i)
            self.user_bytes += os.path.getsize(path)
            self.src.merge_dv(self.spark.read.parquet(path), [KEY])
            self.log.append(("upsert", path))
            return ok

        def delete():
            lo, hi = spec["delete"]
            self.src.delete_where(KEY, lo, hi)
            self.log.append(("delete", lo, hi))
            return ok

        def feed_sync():
            rep = sink.pump_change_feed(self.src, self.feed, [KEY], FEED_APP)
            return lambda: not rep["skipped"]

        def read():
            from pyspark.sql import functions as F

            latest = self.src.latest_version()
            hit = self.src.lookup(KEY, spec["lookup"]).collect()
            agg = (
                self.src.snapshot()
                .groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
                .collect()
            )
            back = self.src.snapshot(max(latest - TIME_TRAVEL_BACK, 0)).count()
            return lambda: len(hit) <= 1 and sum(r["n"] for r in agg) > 0 and back > 0

        def maintenance():
            self.src.optimize()
            # two manifests stay readable: the next feed sync still reads
            # the files the optimize commit replaced
            self.src.vacuum(retain_last=2)
            return ok

        ops = [("ingest", ingest), ("merge_dv", merge_dv), ("delete", delete),
               ("feed_sync", feed_sync), ("read", read), ("maintenance", maintenance)]
        return [(kind, kind, fn) for kind, fn in ops]

    def passes(self, rng):
        """A pass is one round; the seed acts through the batches."""
        while self.round < MAX_ROUNDS:
            self.round += 1
            yield self._round(self.round - 1)
        raise RuntimeError("lakehouse_cdc ran out of pre-generated rounds")

    def _files(self) -> dict[str, int]:
        return {
            os.path.join(dp, fn): os.path.getsize(os.path.join(dp, fn))
            for t in (self.src, self.feed)
            for dp, _, fns in os.walk(t.root) for fn in fns
        }

    def trace_pass_begin(self) -> None:
        self.seen = set(self._files())
        self.user_bytes0 = self.user_bytes
        self.io0 = self._io_totals()

    def trace_pass_end(self) -> None:
        self.traced_user_bytes += self.user_bytes - self.user_bytes0
        for k, v in self._io_totals().items():
            self.traced_io[k] = self.traced_io.get(k, 0) + v - self.io0.get(k, 0)

    def after_traced_op(self, tracer) -> None:
        for path, size in self._files().items():
            if path not in self.seen:
                self.seen.add(path)
                self.written += size

    def _io_totals(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for t in (self.src, self.feed):
            for k, v in t.io_counts.items():
                out[k] = out.get(k, 0) + v
        return out

    def table_io_counts(self) -> dict[str, int]:
        """The tables' own log-I/O counters, over the traced passes."""
        return self.traced_io

    def bytes_written_per_user_byte(self) -> float:
        """Bytes of new files under both tables per byte of landed batches,
        over the traced passes."""
        return self.written / self.traced_user_bytes if self.traced_user_bytes else 0.0

    def stored_ratio(self) -> float:
        """Bytes under the table root over bytes the latest manifest reads."""
        root = self.src.root
        m = self.src._manifest(self.src.latest_version())
        live = sum(
            os.path.getsize(os.path.join(root, f))
            for f in list(m["files"]) + list(m.get("dv") or [])
        )
        stored = sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _, fns in os.walk(root) for fn in fns
        )
        return stored / live

    def verify(self) -> bool:
        import duckdb

        from data_engineering_nd_spark.streaming import sink
        from data_engineering_nd_spark.tables import apply_change_feed

        # bring the feed up to the latest source version first
        sink.pump_change_feed(self.src, self.feed, [KEY], FEED_APP)
        out = os.path.join(self.work, "verify")
        shutil.rmtree(out, ignore_errors=True)
        snap = os.path.join(out, "snapshot")
        self.src.snapshot().write.parquet(snap)
        feed = self.feed.snapshot()
        empty = self.spark.createDataFrame([], self.schema)
        applied = os.path.join(out, "applied")
        apply_change_feed(empty, feed, [KEY]).select(*self.schema.names).write.parquet(applied)

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE s AS SELECT * FROM read_parquet(?)",
            [os.path.join(self.data_dir, "orders.parquet")],
        )
        for op in self.log:
            if op[0] == "upsert":
                con.execute(f"CREATE OR REPLACE TEMP VIEW b AS SELECT * FROM read_parquet('{op[1]}')")
                con.execute(f"DELETE FROM s WHERE {KEY} IN (SELECT {KEY} FROM b)")
                con.execute("INSERT INTO s SELECT * FROM b")
            else:
                con.execute(f"DELETE FROM s WHERE {KEY} BETWEEN ? AND ?", [op[1], op[2]])
        cols = ", ".join(self.schema.names)
        ok = True
        for path in (snap, applied):
            got = f"(SELECT {cols} FROM read_parquet('{path}/*.parquet'))"
            n_got = con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
            n_exp = con.execute("SELECT count(*) FROM s").fetchone()[0]
            diff = con.execute(
                f"SELECT count(*) FROM ((SELECT {cols} FROM s EXCEPT ALL {got}) "
                f"UNION ALL ({got} EXCEPT ALL SELECT {cols} FROM s))"
            ).fetchone()[0]
            ok = ok and n_got == n_exp and diff == 0
        con.close()
        shutil.rmtree(out, ignore_errors=True)
        return ok


WORKLOADS = {w.name: w for w in (OlapQueries, LakehouseCdc)}
