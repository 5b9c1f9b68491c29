"""The gate inventory is pinned: the driver contract's ``queries()`` and
``oracle_sql()`` expose exactly the keys in ``tests/data/registry_pin.json``
with byte-identical oracle SQL, and every name the benchmark lists is a
registered gate.  Refactors of the gate modules must leave both green."""

from __future__ import annotations

import hashlib
import importlib.util
import json
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PIN = json.loads((Path(__file__).parent / "data" / "registry_pin.json").read_text())


def _load(name: str):
    spec = importlib.util.spec_from_file_location(name, ROOT / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def entry():
    return _load("__spark_entry__")


def test_queries_match_pin(entry):
    qs = entry.queries()
    assert sorted(qs) == sorted(PIN)
    assert all(callable(fn) for fn in qs.values())


def test_oracle_texts_match_pin(entry):
    oracles = entry.oracle_sql()
    assert sorted(oracles) == sorted(PIN)
    drift = [
        k for k, sql in oracles.items()
        if hashlib.sha256(sql.encode()).hexdigest() != PIN[k]
    ]
    assert not drift, f"oracle SQL changed: {drift}"


@pytest.mark.parametrize(
    "name, size",
    [("HEADLINE", 128), ("STREAMING", 13), ("R1_SUBSET", 24),
     ("SCALE_PATH", 13), ("TAGS", 24)],
)
def test_bench_lists_name_registered_gates(name, size):
    listed = list(getattr(_load("bench"), name))
    assert len(listed) == size
    assert len(set(listed)) == len(listed), f"{name} repeats a gate"
    assert not set(listed) - set(PIN), f"{name} names unregistered gates"
