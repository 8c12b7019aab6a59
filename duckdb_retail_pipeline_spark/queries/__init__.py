"""Named query registry — the driver-contract surface.

Every implemented operator from SURVEY.md §2 (plus the extension
surface) is registered here as a QuerySpec: a Spark callable
``(spark, sf_dir) -> DataFrame`` twinned with the ANSI-SQL string a
DuckDB oracle runs on the same parquet tables. ``__spark_entry__``
re-exports this registry in driver order: the driver hash-checks the
first ``WINDOW`` entries each round (ROTATION.md).
"""

from __future__ import annotations

import json
import os
import re
import warnings

from duckdb_retail_pipeline_spark.queries.base import REGISTRY, QuerySpec, register
from duckdb_retail_pipeline_spark.queries import (  # noqa: F401 — importing registers
    advanced, core, retail, extensions, analytics,
)

WINDOW = 50


def last_green_rounds(history_dir: str) -> dict[str, int]:
    """Query name → last round N whose ``CORRECTNESS_r<N>.json`` row is
    green: rows and schema match, the hash matches or is null, no error.
    Other file names are ignored; a malformed file raises."""
    last: dict[str, int] = {}
    for fname in os.listdir(history_dir):
        if m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname):
            try:
                with open(os.path.join(history_dir, fname)) as f:
                    rows = json.load(f).items()  # a list or scalar has no rows
            except (ValueError, AttributeError) as exc:
                raise ValueError(f"{fname}: {exc}") from exc
            for name, row in rows:
                ok = isinstance(row, dict) and row.get("rows_match") and row.get("schema_match")
                if ok and (row.get("hash_match") or row.get("hash_match") is None) and not row.get("err"):
                    last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def driver_order(names, last_green: dict[str, int]) -> list[str]:
    """Never-checked names first, then the stalest green; ties by name.
    With at most 3 × WINDOW names, none is ever more than 3 rounds stale."""
    return sorted(names, key=lambda n: (last_green.get(n, 0), n))


_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
try:
    _last_green = last_green_rounds(_REPO)
except (OSError, ValueError) as exc:
    warnings.warn(f"driver window falls back to name order: {exc}", stacklevel=2)
    _last_green = {}
for _name in driver_order(REGISTRY, _last_green):
    REGISTRY[_name] = REGISTRY.pop(_name)  # re-insert at the end: dict order is driver order

__all__ = ["REGISTRY", "QuerySpec", "WINDOW", "driver_order", "last_green_rounds", "register"]
