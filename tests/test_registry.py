"""Gate-window order and a dead-code guard (no Spark session needed).

``gate_ordered`` derives the driver's window order from the committed
``CORRECTNESS_r{N}.json`` files: never-recorded names lead (by cost
class), names the newest file recorded come last.
"""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pytest

from data_engineering_nd_spark import registry

REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def names() -> list[str]:
    registry.load_all_modules()
    return list(registry.QUERIES)


def _by_cost_class(subset, names):
    return sorted(subset, key=lambda n: (registry._cost_class(n), names.index(n)))


def test_gate_window_follows_committed_records(names):
    files = {
        int(p.stem.removeprefix("CORRECTNESS_r")): json.loads(p.read_text())
        for p in REPO.glob("CORRECTNESS_r[0-9]*.json")
        if p.stem.removeprefix("CORRECTNESS_r").isdigit()
    }
    assert files, "no committed correctness records"
    recorded = set().union(*files.values())
    never = [n for n in names if n not in recorded]
    newest = set(files[max(files)]) & set(names)

    order = list(registry.gate_ordered(registry.QUERIES))
    assert sorted(order) == sorted(names)
    assert order[: len(never)] == _by_cost_class(never, names)
    assert set(order[len(order) - len(newest):]) == newest


def test_gate_window_without_records_is_cost_class_order(names, monkeypatch, tmp_path):
    monkeypatch.setattr(registry, "_RECORD_DIR", tmp_path)
    assert list(registry.gate_ordered(registry.QUERIES)) == _by_cost_class(names, names)


def test_last_recorded_round_takes_highest_round(monkeypatch, tmp_path):
    def record(fname, entries):
        (tmp_path / fname).write_text(json.dumps(entries))

    ok = {"hash_match": True, "err": None}
    record("CORRECTNESS_r2.json", {"q_a": ok, "q_b": ok})
    record("CORRECTNESS_r10.json", {"q_a": {"hash_match": None, "err": "no_oracle"}})
    record("CORRECTNESS_r11_c8.json", {"q_b": ok})  # not a round record
    monkeypatch.setattr(registry, "_RECORD_DIR", tmp_path)
    assert registry._last_recorded_round() == {"q_a": 10, "q_b": 2}

    d = {n: None for n in ("q_a", "q_b", "stream_x", "q_c")}
    assert list(registry.gate_ordered(d)) == ["q_c", "stream_x", "q_b", "q_a"]


def _top_level_defs_nothing_references() -> list[str]:
    """Undecorated top-level functions/classes of the package that no
    module of the package, tests, tools, perfbench, bench.py or the
    driver contract names (decorated defs are registered queries)."""
    pkg = REPO / "data_engineering_nd_spark"
    sources = [
        *pkg.rglob("*.py"),
        *(REPO / "tests").rglob("*.py"),
        *(REPO / "tools").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    defs: list[tuple[str, str]] = []
    refs: set[str] = set()
    for path in sources:
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rsplit(".", 1)[-1])
        if pkg in path.parents:
            rel = str(path.relative_to(REPO))
            defs += [
                (rel, node.name)
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
            ]
    return [f"{rel}:{name}" for rel, name in defs if name not in refs]


def test_no_unreferenced_top_level_defs():
    assert _top_level_defs_nothing_references() == []
