"""Seeded input generator for the benchmark workloads.

Every workload reads a directory of parquet tables with the schemas of
the TPC-H-ish star schema the program is written against (region,
nation, customer, supplier, part, orders, lineitem). The tables are
synthesised here from ``--seed`` alone, so the benchmark needs no data
outside its checkout:

- ``etl_build``: the retail tables at a small base scale, grown k-fold
  with the ``tools/scale_testdata.py --grow-groups`` semantics (copy i
  strides every key by i * 1e9 and shifts every timestamp by i * the
  joint date span + 2 days, so distinct dates, months and orders grow
  k-fold while dimension tables stay fixed).
- ``analyst_session``: the retail tables at one scale, no growth.

Generation is deterministic: the same seed gives byte-identical files
and the same checksum; another seed gives the same shapes (row counts,
schemas) with other content. Output is cached per (workload, seed) and
``GEN_VERSION``; a directory is complete once its manifest is written.

Usage: python3 perfbench/gen.py --workload analyst_session --seed 1
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 2
HERE = Path(__file__).resolve().parent
CACHE_DIR = HERE / ".data"
MANIFEST = "manifest.json"

# Per-workload sizes. ``sf`` scales the retail tables like TPC-H (sf 0.01
# gives 60k lineitem rows); ``days`` is the order-date span from
# 1995-01-01 (ship dates run 4% past it); ``grow`` is the k of the k-fold
# growth. The date span sets how many months the warehouse partitions.
SIZES: dict[str, dict] = {
    "etl_build": {"sf": 0.005, "days": 400, "grow": 3},
    "analyst_session": {"sf": 0.01, "days": 730},
}

STRIDE = 1_000_000_000
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")

NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "green", "shiny")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _rng(seed: int, table: str) -> np.random.Generator:
    """One independent stream per (seed, table), stable across runs."""
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform exact-2dp amounts (integer cents, one division)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, lo_day: int, hi_day: int, n: int) -> np.ndarray:
    days = rng.integers(lo_day, hi_day + 1, n)
    return _EPOCH_1995 + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def retail_tables(seed: int, sf: float, days: int) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = 4 * n_ord

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(NATIONS), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(NATIONS)], pa.string()),
            "n_regionkey": pa.array([i % len(REGIONS) for i in range(NATIONS)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(r.integers(0, NATIONS, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _choice(r, SEGMENTS, n_cust),
        }
    )
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(r.integers(0, NATIONS, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
        }
    )
    r = _rng(seed, "part")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _choice(r, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in r.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": _choice(r, PART_TYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }
    )
    r = _rng(seed, "orders")
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _choice(r, ORDER_STATUS, n_ord),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(_days(r, 0, days, n_ord)),
            "o_orderpriority": _choice(r, PRIORITIES, n_ord),
        }
    )
    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_li).astype(np.float64)
    flag = r.integers(0, 3, n_li)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[flag], pa.string()),
            "l_linestatus": _choice(r, ("F", "O"), n_li),
            "l_shipdate": pa.array(_days(r, 1, days + days // 25, n_li)),
        }
    )
    return out


def _ts_cols(table: pa.Table) -> list[str]:
    return [f.name for f in table.schema if pa.types.is_timestamp(f.type)]


def grow_retail(tables: dict[str, pa.Table], k: int) -> dict[str, pa.Table]:
    """k-fold growth of orders/lineitem with disjoint keys and dates
    (``tools/scale_testdata.py --grow-groups``); dimensions unchanged."""
    facts = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
    lo = min(pc.min(tables[t][c]).as_py() for t in facts for c in _ts_cols(tables[t]))
    hi = max(pc.max(tables[t][c]).as_py() for t in facts for c in _ts_cols(tables[t]))
    period = int((hi - lo).total_seconds() * 1_000_000) + 2 * _DAY_US
    out = dict(tables)
    for t, key in facts.items():
        base = tables[t]
        copies = [base]
        for i in range(1, k):
            cols = {}
            for name in base.column_names:
                col = base.column(name)
                if name == key:
                    col = pc.add(col, pa.scalar(i * STRIDE, pa.int64()))
                elif pa.types.is_timestamp(col.type):
                    col = pc.add(col, pa.scalar(i * period, pa.duration("us")))
                cols[name] = col
            copies.append(pa.table(cols, schema=base.schema))
        out[t] = pa.concat_tables(copies).combine_chunks()
    return out


def build_tables(workload: str, seed: int) -> dict[str, pa.Table]:
    size = SIZES[workload]
    if workload == "etl_build":
        return grow_retail(retail_tables(seed, size["sf"], size["days"]), size["grow"])
    if workload == "analyst_session":
        return retail_tables(seed, size["sf"], size["days"])
    raise ValueError(f"unknown workload {workload!r}")


def _file_sha256(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def ensure_inputs(workload: str, seed: int, cache_dir: Path = CACHE_DIR) -> tuple[Path, dict]:
    """Return (directory, manifest) for the workload's input at ``seed``,
    generating it on first use. The manifest lists per-table rows, bytes
    and sha256, plus one checksum over all tables."""
    dest = cache_dir / f"{workload}-seed{seed}-v{GEN_VERSION}"
    manifest_path = dest / MANIFEST
    if manifest_path.exists():
        return dest, json.loads(manifest_path.read_text())
    tmp = cache_dir / f".tmp-{workload}-seed{seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    tables = {}
    for name, table in sorted(build_tables(workload, seed).items()):
        path = tmp / f"{name}.parquet"
        pq.write_table(table, path)
        tables[name] = {
            "rows": table.num_rows,
            "bytes": path.stat().st_size,
            "sha256": _file_sha256(path),
        }
    checksum = hashlib.sha256(
        "".join(f"{n}:{t['sha256']};" for n, t in sorted(tables.items())).encode()
    ).hexdigest()
    manifest = {
        "workload": workload,
        "seed": seed,
        "gen_version": GEN_VERSION,
        "sizes": SIZES[workload],
        "tables": tables,
        "rows": sum(t["rows"] for t in tables.values()),
        "bytes": sum(t["bytes"] for t in tables.values()),
        "checksum": checksum,
    }
    (tmp / MANIFEST).write_text(json.dumps(manifest, indent=1, sort_keys=True))
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    return dest, manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    path, manifest = ensure_inputs(args.workload, args.seed)
    for name, t in sorted(manifest["tables"].items()):
        print(f"{name}: rows={t['rows']} bytes={t['bytes']} sha256={t['sha256'][:16]}")
    print(f"dir={path} rows={manifest['rows']} bytes={manifest['bytes']} checksum={manifest['checksum']}")


if __name__ == "__main__":
    main()
