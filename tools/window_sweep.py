"""No-partition-window runtime sweep (VERDICT r11 task #3).

Runs every registered query at TWO scale factors, scanning the executed
plan of the returned DataFrame AND of every internal materialization
(collect/count/toPandas/localCheckpoint hook) for ``WindowExec`` nodes
with an empty partition spec that are not structurally bounded by an
upstream limit/aggregate. A hit whose measured input rows GROW between
the scale factors is n-proportional — the q115 failure mode.

    python tools/window_sweep.py [queries ...]

Writes a JSON report to /tmp/window_sweep.json and prints a summary.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def main() -> None:
    from data_engineering_nd_spark import registry
    from data_engineering_nd_spark.plancheck import install_collect_hook
    from data_engineering_nd_spark.session import get_spark

    registry.load_all_modules()
    spark = get_spark()
    names = sys.argv[1:] or list(registry.QUERIES)

    report: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES[name]
        per_sf: dict[str, list] = {}
        for sf in (SF_A, SF_B):
            sink: list = []
            uninstall = install_collect_hook(sink)
            try:
                df = fn(spark, sf)
                df.collect()
            except Exception as ex:  # noqa: BLE001 — sweep must finish
                per_sf[sf] = [["ERROR", str(ex)[:200], -1]]
                continue
            finally:
                uninstall()
            # the collect hook already scanned the result plan on
            # df.collect() above — no second scan, or every result-plan
            # window would be double-counted
            per_sf[sf] = [
                [m, h.input_node, h.input_rows] for m, h in sink
            ]
        a, b = per_sf[SF_A], per_sf[SF_B]
        if a or b:
            rows_a = max((h[2] for h in a), default=0)
            rows_b = max((h[2] for h in b), default=0)
            growing = rows_b > max(3 * rows_a, rows_a + 64)
            report[name] = {
                "sf0.001": a,
                "sf0.01": b,
                "max_rows": [rows_a, rows_b],
                "n_proportional": bool(growing),
            }
            flag = "GROWS" if growing else "static"
            print(f"HIT   {name}: {len(b)} window(s), "
                  f"rows {rows_a} -> {rows_b}  [{flag}]")
        else:
            print(f"clean {name}")

    with open("/tmp/window_sweep.json", "w") as f:
        json.dump(report, f, indent=1)
    n_grow = sum(1 for r in report.values() if r["n_proportional"])
    print(f"\n{len(report)} queries with no-partition windows, "
          f"{n_grow} n-proportional; report at /tmp/window_sweep.json")


if __name__ == "__main__":
    main()
