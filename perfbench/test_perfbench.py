"""Tests for the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import percentile, self_times, supports_percentile, union_seconds  # noqa: E402
from tracing import attribute  # noqa: E402
from workloads import LakehouseCdc, OlapQueries  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 0.5) == 50.0
    assert percentile(xs, 0.9) == 90.0
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_percentile_needs_ten_samples_beyond_it():
    assert not supports_percentile(99, 0.9)
    assert supports_percentile(100, 0.9)
    assert not supports_percentile(19, 0.5)
    assert supports_percentile(20, 0.5)
    for n in range(1, 300):
        for q in (0.5, 0.9, 0.99):
            beyond = n - sum(1 for i in range(1, n + 1) if i <= percentile(list(range(1, n + 1)), q))
            assert supports_percentile(n, q) == (beyond >= 10)


def test_union_merges_overlaps_and_skips_gaps():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 2), (1, 3)]) == 3.0
    assert union_seconds([(5, 6), (0, 1), (0.5, 1.5)]) == 2.5
    assert union_seconds([(0, 4), (1, 2), (2, 3)]) == 4.0
    assert union_seconds([(0, 1), (1, 2)]) == 2.0
    assert union_seconds([(2, 1), (0, 0)]) == 0.0


def test_job_attribution_by_submission_window():
    jobs = [
        {"start": 9.0, "end": 10.5, "tasks": 4, "failed": False},   # before the op
        {"start": 10.0, "end": 11.0, "tasks": 2, "failed": False},
        {"start": 10.5, "end": 12.5, "tasks": 3, "failed": True},   # runs past the op
        {"start": 13.0, "end": 14.0, "tasks": 1, "failed": False},  # after the op
        {"start": None, "end": 11.0, "tasks": 1, "failed": False},  # never submitted
    ]
    got = attribute(jobs, 10.0, 12.0)
    assert got == {"jobs": 2, "tasks": 5, "failed_jobs": 1, "busy_s": 2.0}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},   # overlaps 2: a pool thread
        {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},  # outlives its parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(3.0)


@pytest.mark.parametrize("workload", [LakehouseCdc, OlapQueries])
def test_same_seed_same_bytes(tmp_path, workload):
    def digest(seed, sub):
        return workload(None, str(tmp_path / sub), seed).prepare()

    a = digest(7, "a")
    assert digest(7, "b") == a
    assert digest(8, "c") != a


def test_cdc_batches_are_mostly_updates_with_unique_keys(tmp_path):
    import pyarrow.parquet as pq

    wl = LakehouseCdc(None, str(tmp_path), 3)
    wl.prepare()
    n = pq.read_metadata(os.path.join(wl.data_dir, "orders.parquet")).num_rows
    batch = pq.read_table(os.path.join(wl.data_dir, "batches", "ingest_000.parquet"))
    keys = batch.column("o_orderkey").to_pylist()
    assert len(set(keys)) == len(keys)
    updates = sum(1 for k in keys if k < n)
    assert updates == 4 * (len(keys) - updates)


def _benchmark_json():
    import json

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_runner_prints(tmp_path):
    import run
    from tracing import Tracer
    from workloads import WORKLOADS, Workload

    spec = _benchmark_json()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    samples = [{"label": "a", "seconds": 1.0}, {"label": "b", "seconds": 2.0}]
    e2e, _ = run.end_to_end(samples, 3.0, 100.0)
    assert {k: u for k, (_v, u) in e2e.items()} == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = run.per_layer(Tracer(), [], Workload(None, str(tmp_path), 1),
                           {"start": 1.0, "warmup": 1.0}, (1.0, 1.0))
    assert {k: u for k, (_v, u) in layers.items()} == {m["name"]: m["unit"] for m in spec["per_layer"]}
