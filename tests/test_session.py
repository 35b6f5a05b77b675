"""Engine-wide session settings that a query's result cannot show."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Deterministic codegen (a warm re-run compiles nothing new) and, together,
# about 170 distinct generated classes at sf0.001: more than Spark's
# default generated-class cache of 100 entries.
QUERIES = (
    "q02_top_nations_by_revenue",
    "q06_top_customers_per_nation",
    "q104_frequent_triples",
    "q109_event_path_trigrams",
    "q112_kmv_set_operations",
    "q116_rfm_segments",
)

# Runs in its own JVM: the cache is JVM-wide and sized at the first codegen,
# so only a fresh session built by get_spark shows what get_spark sets, and
# the first pass then counts the whole working set.
_TWO_PASSES = """
import json, sys
root, sf_dir, *names = sys.argv[1:]
sys.path.insert(0, root)
import __spark_entry__ as entry
from data_engineering_nd_spark.session import get_spark
spark = get_spark(app_name="codegen-cache", master="local[2]")
qs = entry.queries()
metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
counts = []
for _ in range(2):
    before = compiles.getCount()
    for name in names:
        qs[name](spark, sf_dir).collect()
    counts.append(compiles.getCount() - before)
spark.stop()
print(json.dumps(counts))
"""


def test_codegen_cache_holds_the_working_set():
    """A second pass over a working set larger than Spark's default
    codegen cache compiles nothing: ``get_spark`` sizes the LRU above
    it. At the default of 100 entries every class is evicted before its
    reuse and the second pass recompiles all of them."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _TWO_PASSES, ROOT, SF_DIR, *QUERIES],
        env=env, capture_output=True, text=True, timeout=600, check=True,
    )
    first, second = json.loads(out.stdout.strip().splitlines()[-1])
    assert first > 100
    assert second == 0
