"""The driver window — the first ``WINDOW`` registry entries, the ones
the driver hash-checks each round — is computed from the
``CORRECTNESS_r<N>.json`` history by one sort: never-checked queries
first, then the stalest green ones, ties by name. These tests pin the
reader's green predicate, the sort, the ≤3-round staleness invariant
over future rounds, that the registry really is in that order, and
the import's name-order fallback without a usable history."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from duckdb_retail_pipeline_spark.queries import (
    REGISTRY,
    WINDOW,
    driver_order,
    last_green_rounds,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _write(d, rnd, rows):
    (d / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_green_predicate_and_sort_on_synthetic_history(tmp_path):
    _write(tmp_path, 1, {"a": GREEN, "b": GREEN, "c": GREEN, "d": GREEN, "e": GREEN})
    _write(
        tmp_path,
        2,
        {
            "a": GREEN,
            "b": {**GREEN, "rows_match": False},
            "c": {**GREEN, "err": "boom"},
            "d": {**GREEN, "hash_match": None},
            "note": "not a row",
        },
    )
    # only CORRECTNESS_r<N>.json counts: these would make "e" fresh
    (tmp_path / "CORRECTNESS_r03.json.bak").write_text(json.dumps({"e": GREEN}))
    (tmp_path / "BENCH_r04.json").write_text(json.dumps({"e": GREEN}))

    last = last_green_rounds(tmp_path)
    assert last == {"a": 2, "b": 1, "c": 1, "d": 2, "e": 1}

    names = ["e", "d", "c", "b", "a", "z_new", "m_new"]
    assert driver_order(names, last) == ["m_new", "z_new", "b", "c", "e", "a", "d"]
    assert driver_order(names, {}) == sorted(names)


@pytest.mark.parametrize("content", ["{not json", "[1, 2]"])
def test_malformed_history_file_raises(tmp_path, content):
    _write(tmp_path, 1, {"a": GREEN})
    (tmp_path / "CORRECTNESS_r02.json").write_text(content)
    with pytest.raises(ValueError):
        last_green_rounds(tmp_path)


def test_rolled_forward_windows_stay_within_three_rounds(tmp_path):
    for fname in os.listdir(REPO):
        if fname.startswith("CORRECTNESS_r"):
            shutil.copy(os.path.join(REPO, fname), tmp_path)
    last = last_green_rounds(tmp_path)
    start = max(last.values()) + 1
    for rnd in range(start, start + 6):
        window = driver_order(REGISTRY, last)[:WINDOW]
        assert len(set(window)) == WINDOW and set(window) <= set(REGISTRY)
        _write(tmp_path, rnd, {name: GREEN for name in window})
        last = last_green_rounds(tmp_path)
        stalest = max(rnd + 1 - last.get(name, 0) for name in REGISTRY)
        assert stalest <= 3, f"a query is {stalest} rounds stale at r{rnd + 1}"


def test_registry_window_holds_every_owed_query():
    last = last_green_rounds(REPO)
    current = max(last.values(), default=0) + 1
    never = {name for name in REGISTRY if name not in last}
    owed = {name for name in REGISTRY if name in last and current - last[name] >= 3}
    window = set(list(REGISTRY)[:WINDOW])
    assert never | owed <= window, sorted((never | owed) - window)
    assert list(REGISTRY) == driver_order(REGISTRY, last)


def _import_order(root):
    """Import the registry from a package copy under ``root`` in a
    fresh interpreter; return (first three names, warnings printed)."""
    code = (
        "import sys, warnings; warnings.simplefilter('always'); sys.path.insert(0, sys.argv[1])\n"
        "from duckdb_retail_pipeline_spark.queries import REGISTRY\n"
        "print(','.join(list(REGISTRY)[:3]))"
    )
    r = subprocess.run(
        [sys.executable, "-c", code, str(root)], capture_output=True, text=True, timeout=300
    )
    assert r.returncode == 0, r.stderr[-800:]
    return r.stdout.strip().split(","), [ln for ln in r.stderr.splitlines() if "Warning" in ln]


def test_import_without_or_with_malformed_history_uses_name_order(tmp_path):
    shutil.copytree(
        os.path.join(REPO, "duckdb_retail_pipeline_spark"),
        tmp_path / "duckdb_retail_pipeline_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    first = sorted(REGISTRY)[:3]
    assert _import_order(tmp_path) == (first, [])
    (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
    names, warned = _import_order(tmp_path)
    assert names == first
    assert len(warned) == 1 and "CORRECTNESS_r01.json" in warned[0], warned
