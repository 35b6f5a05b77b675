"""Per-query profiling loop for the optimization rounds.

Mirrors bench.py's methodology exactly (same session, same warmup, timed
``fn(spark, sf_dir)`` + ``df.count()``) but loops a handful of named
queries N times so plan changes can be compared warm-to-warm, and can dump
``explain("formatted")`` for the evidence files in plans/r*/.

    python tools/profile_query.py [--sf DIR] [--n N] [--explain OUT.txt] q1 [q2 ...]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--explain", default=None, help="write explain('formatted') of the LAST named query here")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from bench import warmup
    from data_engineering_nd_spark.session import get_spark

    spark = get_spark(app_name="profile")
    qs = entry_mod.queries()
    warmup(spark, args.sf)

    for name in args.queries:
        fn = qs[name]
        times = []
        for i in range(args.n):
            spark.sparkContext.setJobDescription(f"{name} iter {i}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            n = df.count()
            times.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        if times:
            print(
                f"{name}: rows={n} min={min(times):.3f} "
                f"median={statistics.median(times):.3f} all={[round(t, 3) for t in times]}",
                flush=True,
            )
        if args.explain:
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = (
                args.explain
                if len(args.queries) == 1
                else os.path.join(args.explain, f"{name}.txt")
            )
            with open(out, "w") as f:
                f.write(plan)
            print(f"# explain {name} -> {out}", flush=True)


if __name__ == "__main__":
    main()
