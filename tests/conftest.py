from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from data_engineering_nd_spark.session import get_spark

    # Size RDD-level parallelism to the tiny test fixtures, like the
    # existing shuffle_partitions=4: createDataFrame(list) otherwise
    # slices 2-row frames into defaultParallelism (=32) Python-RDD
    # partitions, and every action pays ~32 Python-worker round trips
    # (a constant-key self-join paid 32x32 cartesian tasks — 20s for a
    # 4-pair result). Values are partition-count independent by the
    # engine's determinism contract (tests/test_determinism.py).
    s = get_spark(
        app_name="tests",
        shuffle_partitions=4,
        extra_conf={"spark.default.parallelism": "8"},
    )
    yield s
