"""The repo benchmark: one workload per invocation, timed on collected
results, outputs checked, one JSON result line last on stdout.

    python3 perfbench/run.py --workload olap_queries --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` alternates untraced and traced passes and prints the
per-layer metrics plus the tracing overhead. Spans and the host record land
in ``.perfbench_out/``; scratch data in ``.perfbench_work/`` is removed on
exit. See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

from stats import percentile, self_times, supports_percentile, union_seconds
from tracing import JobWindow, Tracer, attribute
from workloads import OLAP_OPS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineering_nd_spark"
#: input generation is repeated this many times; setup_s takes the median
PREPARE_REPEATS = 3

TABLE_METHODS = ("commit", "merge", "merge_dv", "delete_where", "change_feed",
                 "optimize", "vacuum", "snapshot", "lookup")
IO_COUNTS = ("manifest_reads", "checkpoint_reads", "list_scans", "exists_probes")
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "triggerExecution")
CDC_OPS = ("ingest", "merge_dv", "delete", "feed_sync", "read", "maintenance")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_session(work: str):
    from data_engineering_nd_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def timed_loop(wl, n_passes: int, rng: random.Random, tracer=None, jobs=None):
    """Closed loop, one client: the next operation starts when the previous
    one returns. With a tracer, odd passes are traced and even ones are not;
    an untraced pass on each side of a traced one cancels the warm-up trend
    out of the overhead figure."""
    samples = []
    for i, ops in zip(range(n_passes), wl.passes(rng)):
        traced = tracer is not None and i % 2 == 1
        if traced:
            install_tracer(tracer)
            wl.trace_pass_begin()
        for kind, label, fn in ops:
            sample = {"kind": kind, "label": label, "ok": False, "traced": traced}
            if traced:
                tracer.op_id = len(samples)
                sp = tracer.open(f"op.{label}")
                tracer.op_span = sp["id"]
                calls0 = tracer.py4j_calls
            w0, t0 = time.time(), time.perf_counter()
            try:
                check = fn()
            except Exception as ex:  # a failed operation is counted, not fatal
                check = None
                print(f"op {label} raised: {ex!r}"[:500], file=sys.stderr)
            sample["seconds"] = time.perf_counter() - t0
            w1 = time.time()
            if traced:
                tracer.close(sp)
                tracer.op_span = None
                sample["py4j_calls"] = tracer.py4j_calls - calls0
                sample.update(attribute(jobs.new_jobs(), w0, w1))
                wl.after_traced_op(tracer)
            if check is not None:
                try:
                    sample["ok"] = bool(check())
                except Exception as ex:
                    print(f"check {label} raised: {ex!r}"[:500], file=sys.stderr)
            samples.append(sample)
        if traced:
            wl.trace_pass_end()
            tracer.unwrap_all()
    return samples


def op_medians(samples) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for s in samples:
        by.setdefault(s["label"], []).append(s["seconds"])
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def wall_s(samples) -> float:
    """One pass of the workload: the sum of each operation's median time."""
    return sum(op_medians(samples).values())


def end_to_end(samples, setup_s: float, rss: float) -> tuple[dict, dict]:
    """The end-to-end metrics, and extras for the host record."""
    times = [s["seconds"] for s in samples]
    m = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s(samples), "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    extra = {
        "op_samples": len(times),
        "op_medians_s": {k: round(v, 4) for k, v in op_medians(samples).items()},
    }
    if supports_percentile(len(times), 0.9):
        extra["op_p90_s"] = percentile(times, 0.9)
    return m, extra


def install_tracer(tracer) -> None:
    from data_engineering_nd_spark import io as engine_io
    from data_engineering_nd_spark import pipeline, transforms
    from data_engineering_nd_spark.streaming import sink
    from data_engineering_nd_spark.tables import VersionedTable

    def rewritten(result):
        if isinstance(result, dict) and isinstance(result.get("files_rewritten"), int):
            tracer.add("tables.files_rewritten", result["files_rewritten"])

    for meth in TABLE_METHODS:
        tracer.wrap(VersionedTable, meth, f"tables.{meth}",
                    rewritten if meth in ("merge", "merge_dv", "delete_where", "optimize") else None)
    tracer.wrap(sink, "upsert_stream", "stream.upsert_stream",
                tracer.streams.append)
    tracer.wrap(sink, "pump_change_feed", "stream.pump_change_feed")
    tracer.wrap(pipeline, "run", "pipeline.run")
    tracer.wrap(engine_io, "read_many", "io.read_many")
    tracer.wrap(transforms, "build_all", "transforms.build_all")
    tracer.wrap(engine_io, "write", "io.write",
                lambda r: tracer.add("io.rows_written", r.rows or 0))
    tracer.wrap(pipeline, "null_audit", "quality.null_audit")
    tracer.count_py4j()


def per_layer(tracer, samples, wl, session_spans, overhead) -> dict:
    spans = tracer.spans
    selfs = self_times(spans)
    by_name: dict[str, list[dict]] = {}
    for sp in spans:
        by_name.setdefault(sp["name"], []).append(sp)

    def total(name):
        return sum(sp["end"] - sp["start"] for sp in by_name.get(name, []))

    def self_total(name):
        return sum(selfs[sp["id"]] for sp in by_name.get(name, []))

    m = {
        "session.start_s": (session_spans["start"], "s"),
        "session.warmup_s": (session_spans["warmup"], "s"),
        "spark.jobs": (sum(s["jobs"] for s in samples), "count"),
        "spark.tasks": (sum(s["tasks"] for s in samples), "count"),
        "spark.busy_s": (sum(s["busy_s"] for s in samples), "s"),
        "spark.failed_jobs": (sum(s["failed_jobs"] for s in samples), "count"),
        "driver.only_s": (sum(s["seconds"] - s["busy_s"] for s in samples), "s"),
        "py4j.calls": (sum(s["py4j_calls"] for s in samples), "count"),
    }
    for meth in TABLE_METHODS:
        m[f"tables.{meth}.self_s"] = (self_total(f"tables.{meth}"), "s")
        m[f"tables.{meth}.calls"] = (len(by_name.get(f"tables.{meth}", [])), "count")
    counts = wl.table_io_counts()
    for k in IO_COUNTS:
        m[f"tables.{k}"] = (counts.get(k, 0), "count")
    m["tables.files_rewritten"] = (tracer.counts.get("tables.files_rewritten", 0), "count")
    m["tables.bytes_written_per_user_byte"] = (wl.bytes_written_per_user_byte(), "ratio")
    m["tables.stored_bytes_per_live_byte"] = (wl.stored_ratio(), "ratio")

    progress = [p for q in tracer.streams for p in q.recentProgress]
    m["stream.batches"] = (len(progress), "count")
    m["stream.input_rows"] = (sum(_field(p, "numInputRows") or 0 for p in progress), "count")
    for phase in STREAM_PHASES:
        m[f"stream.{phase}_s"] = (
            sum((_field(p, "durationMs") or {}).get(phase, 0) for p in progress) / 1000.0, "s"
        )

    writes = [(sp["start"], sp["end"]) for sp in by_name.get("io.write", [])]
    m["io.read_many_s"] = (total("io.read_many"), "s")
    m["transforms.build_all_s"] = (total("transforms.build_all"), "s")
    m["io.write_s"] = (sum(e - s for s, e in writes), "s")
    m["io.write_wall_s"] = (union_seconds(writes), "s")
    m["io.rows_written"] = (tracer.counts.get("io.rows_written", 0), "count")
    m["quality.null_audit_s"] = (total("quality.null_audit"), "s")

    for kind in CDC_OPS:
        xs = [s["seconds"] for s in samples if s["kind"] == kind]
        m[f"cdc.{kind}_p50_s"] = (statistics.median(xs) if xs else 0.0, "s")

    for q in OLAP_OPS:
        xs = [s for s in samples if s["label"] == q]
        med = lambda key: statistics.median(s[key] for s in xs) if xs else 0.0  # noqa: E731
        m[f"op.{q}.wall_s"] = (med("seconds"), "s")
        m[f"op.{q}.jobs"] = (med("jobs"), "count")
        m[f"op.{q}.busy_s"] = (med("busy_s"), "s")
        m[f"op.{q}.py4j_calls"] = (med("py4j_calls"), "count")

    m["trace.untraced_wall_s"] = (overhead[0], "s")
    m["trace.traced_wall_s"] = (overhead[1], "s")
    m["trace.overhead_frac"] = (overhead[1] / overhead[0] - 1.0, "ratio")
    return m


def _field(progress, key):
    if isinstance(progress, dict):
        return progress.get(key)
    return getattr(progress, key, None)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: no {PACKAGE} package beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cpus = str(os.cpu_count() or 1)
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in (os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher and the driver) keeps its temp files in the
    # work dir and writes no hsperfdata file, which would go under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.chdir(work)

    spark = None
    try:
        steal0 = steal_ticks()
        t0 = time.perf_counter()
        spark = start_session(work)
        t_start = time.perf_counter() - t0

        wl = WORKLOADS[args.workload](spark, work, args.seed)
        prep_times, digests = [], set()
        for _ in range(PREPARE_REPEATS):
            t = time.perf_counter()
            digests.add(wl.prepare())
            prep_times.append(time.perf_counter() - t)
        if len(digests) != 1:
            raise RuntimeError("input generation is not deterministic for one seed")
        t = time.perf_counter()
        wl.setup()
        t_wl = time.perf_counter() - t
        # the warm-up pays the first-use costs (JIT, codegen, Python workers,
        # footers) the first timed operations would otherwise pay
        t = time.perf_counter()
        wl.warm()
        t_warm = time.perf_counter() - t
        setup_s = t_start + statistics.median(prep_times) + t_wl + t_warm

        # a run is a fixed number of passes, so its work does not depend on
        # how fast the program is; about --seconds on the reference host
        n_passes = max(1, round(args.seconds / wl.pass_seconds))
        rng = random.Random(args.seed)
        tracer = jobs = None
        if args.trace:
            n_passes = max(n_passes, 3)
            tracer = Tracer()
            jobs = JobWindow(spark)
        try:
            all_samples = timed_loop(wl, n_passes, rng, tracer, jobs)
        finally:
            if tracer is not None:
                tracer.unwrap_all()
        samples = [s for s in all_samples if not s["traced"]]
        traced = [s for s in all_samples if s["traced"]]
        rss = max(vm_hwm_mb("self"), vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid()))
        try:
            verified = wl.verify()
        except Exception as ex:
            verified = False
            print(f"verify raised: {ex!r}"[:500], file=sys.stderr)
        steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")

        failed = sum(1 for s in all_samples if not s["ok"])
        if not verified:
            failed = len(all_samples)
        host = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": cpus, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "master": spark.sparkContext.master, "sf": wl.sf,
            "cpu_steal_s": steal_s, "seconds": args.seconds, "passes": n_passes,
            "failed_frac": failed / len(all_samples), "verified": verified,
            "prepare_s": prep_times, "session_start_s": t_start,
            "session_warmup_s": t_warm, "workload_setup_s": t_wl,
        }
        if args.trace:
            metrics = per_layer(
                tracer, traced, wl, {"start": t_start, "warmup": t_warm},
                (wall_s(samples), wall_s(traced)),
            )
            stem = f"{args.workload}-seed{args.seed}-{os.getpid()}"
            tracer.dump(os.path.join(out_dir, f"spans-{stem}.jsonl"))
        else:
            metrics, extra = end_to_end(samples, setup_s, rss)
            host.update(extra)
        with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
            ops = [[s["label"], round(s["seconds"], 4)] for s in all_samples]
            f.write(json.dumps(dict(host, ops=ops)) + "\n")
        print(json.dumps({"host": host}), file=sys.stderr)
        result = {
            "correct": failed == 0,
            "attempted": len(all_samples),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers under it)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the launcher exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
