"""Job-level time breakdown for one query: runs the query with the Spark
event log enabled, then prints per-job wall time with stage names so the
cost centers inside multi-job fixtures are visible.

    python tools/job_profile.py [--sf DIR] [--n N] <query>
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("query")
    args = ap.parse_args()

    import shutil

    evdir = "/tmp/spark-events-jobprofile"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    import __spark_entry__ as entry_mod
    from bench import warmup
    from data_engineering_nd_spark.session import get_spark

    spark = get_spark(
        app_name="jobprofile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            # sandboxes may lack both the zstd binary and the zstandard
            # module — write the log uncompressed
            "spark.eventLog.compress": "false",
        },
    )
    qs = entry_mod.queries()
    warmup(spark, args.sf)
    fn = qs[args.query]
    marks = []
    for i in range(args.n):
        spark.sparkContext.setJobDescription(f"== iter {i} start ==")
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        df.count()
        dt = time.perf_counter() - t0
        marks.append(dt)
        print(f"iter {i}: {dt:.3f}s", flush=True)
    spark.sparkContext.setJobDescription(None)
    spark.stop()
    time.sleep(1)

    import subprocess

    logs = sorted(
        glob.glob(evdir + "/*/events_*") + glob.glob(evdir + "/local-*"),
        key=os.path.getmtime,
    )
    jobs: dict[int, dict] = {}

    def _lines(path):
        if path.endswith(".zstd"):
            # fall through to the zstandard module on BOTH a missing
            # binary and a present-but-failing one (ADVICE r14 #3: the
            # old code returned silently-empty lines on nonzero exit)
            try:
                p = subprocess.run(
                    ["zstd", "-dc", path], capture_output=True, text=True
                )
                if p.returncode == 0:
                    return p.stdout.splitlines()
            except FileNotFoundError:
                pass
            try:
                import zstandard  # bundled with pyarrow envs
            except ImportError as ex:  # pragma: no cover
                raise RuntimeError(
                    f"cannot decode {path}: no zstd binary and no "
                    "zstandard module; re-run with eventLog compression "
                    "disabled"
                ) from ex
            with open(path, "rb") as f:
                raw = zstandard.ZstdDecompressor().stream_reader(f).read()
            return raw.decode("utf-8", "replace").splitlines()
        with open(path) as f:
            return f.read().splitlines()

    for line in _lines(logs[-1]):
        if True:
            try:
                ev = json.loads(line)
            except Exception:
                continue
            k = ev.get("Event")
            if k == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "t0": ev["Submission Time"],
                    "desc": props.get("spark.job.description", "")[:110],
                    "callsite": (props.get("callSite.short") or "")[:60],
                }
            elif k == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["dur"] = (ev["Completion Time"] - jobs[jid]["t0"]) / 1000.0

    # print jobs in order with gaps (driver-side time between jobs)
    order = sorted(jobs.items())
    prev_end = None
    total_job = 0.0
    total_gap = 0.0
    for jid, j in order:
        if "dur" not in j:
            continue
        gap = ""
        if prev_end is not None:
            g = (j["t0"] - prev_end) / 1000.0
            if g > 0.02:
                gap = f"   [driver gap {g:.2f}s]"
                total_gap += g
        print(f"job {jid:4d}  {j['dur']:7.3f}s  {j['callsite']:<45} {j['desc']}{gap}")
        prev_end = j["t0"] + j["dur"] * 1000.0
        total_job += j["dur"]
    print(f"\nn_jobs={len(order)} sum_job_time={total_job:.2f}s sum_gaps={total_gap:.2f}s iters={[round(m,2) for m in marks]}")


if __name__ == "__main__":
    main()
