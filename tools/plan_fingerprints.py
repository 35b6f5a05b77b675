"""Generate/refresh tests/plan_fingerprints.json — the committed operator
multiset (exchanges, broadcasts, scans, join kinds, Python stages) of every
PLANS.md headliner at sf0.001.

tests/test_plans.py::test_plan_fingerprint_no_silent_drift compares live
plans against this snapshot and fails on UN-ANNOTATED growth in shuffle
count / nested loops / row-wise Python / scan count — the silent
regressions the bench's noise band hides (VERDICT r06 #7).

Refresh after a DELIBERATE plan change (and say why in the commit):

    python tools/plan_fingerprints.py
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tests",
                   "plan_fingerprints.json")


def main() -> None:
    import plans_report  # noqa: E402  (shares the headliner list)

    from data_engineering_nd_spark.plans.inspect import plan_fingerprint
    from data_engineering_nd_spark.registry import QUERIES, load_all_modules
    from data_engineering_nd_spark.session import get_spark

    load_all_modules()
    spark = get_spark(app_name="plan-fingerprints")
    out: dict[str, dict[str, int]] = {}
    for name in plans_report.HEADLINERS:
        df = QUERIES[name](spark, plans_report.SF_DIR)
        out[name] = plan_fingerprint(df)
        print(name, out[name], flush=True)
    with open(OUT, "w") as f:
        json.dump(dict(sorted(out.items())), f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} fingerprints to {OUT}")


if __name__ == "__main__":
    main()
