"""Correctness gate: compare the program's outputs with the registered
DuckDB oracles on the same generated input. Runs outside the timed
region. Every check returns an error string, or None when it passes.

Comparison is order-insensitive over rows and columns: columns are
matched by name, floats compared at 9 decimals and timestamps at whole
seconds (the same normalisation as the repository's oracle tests), and
the two row multisets must be equal.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from typing import Any

# the tables an oracle may name; each becomes a DuckDB view over the
# generated parquet when the input directory has it
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# run_pipeline layer -> registry query whose oracle defines it.
# raw_uk_holidays has no registered oracle and gets a rows-only check.
LAYER_ORACLES = {
    "raw_retail_data": "pl01_staging_retail",
    "raw_fx_rates": "pl02_staging_fx",
    "raw_uk_holidays": None,
    "dim_calendar": "pl03_dim_calendar",
    "dim_product": "pl04_dim_product",
    "dim_customer": "pl05_dim_customer",
    "fct_sales": "pl06_fct_sales",
    "daily_fx_rates": "pl07_daily_fx_rates",
    "fct_sales_eur": "pl08_fct_sales_eur",
    "agg_country_day": "pl09_agg_country_day",
    "v_monthly_sales_summary": "pl10_monthly_sales_summary",
    "validation": "pl11_validation",
}
PARTITION_COLS = ("sales_month",)
THREADS = 4


def _cell(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9) if abs(v) < 1e12 else v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()[:19]
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def normalize(rows: list[tuple], cols: list[str]) -> Counter:
    """Row multiset with columns in name order and cells normalised."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_cell(r[i]) for i in order) for r in rows)


def fingerprint(rows: list[tuple], cols: list[str]) -> int:
    return hash((tuple(sorted(cols)), frozenset(normalize(rows, cols).items())))


def compare(got_rows, got_cols, want_rows, want_cols, decimal_cols=()) -> str | None:
    if decimal_cols:
        return f"decimal-typed output columns {sorted(decimal_cols)}"
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != oracle {len(want_rows)}"
    g, w = normalize(got_rows, got_cols), normalize(want_rows, want_cols)
    if g != w:
        extra, missing = list((g - w).elements())[:2], list((w - g).elements())[:2]
        return f"values differ from oracle: unexpected {extra}, missing {missing}"
    return None


class Oracle:
    """A DuckDB connection with the input tables registered as views."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def run(self, sql: str, con=None) -> tuple[list[tuple], list[str]]:
        res = (con or self.con).execute(sql)
        return [tuple(r) for r in res.fetchall()], [c[0] for c in res.description]

    def map(self, fn, items: list) -> list:
        """``fn(cursor, item)`` for every item, on THREADS DuckDB cursors."""

        def call(item):
            cur = self.con.cursor()
            try:
                return fn(cur, item)
            finally:
                cur.close()

        with ThreadPoolExecutor(THREADS) as pool:
            return list(pool.map(call, items))

    def close(self) -> None:
        self.con.close()


def check_queries(oracle: Oracle, items: list[tuple]) -> list[str | None]:
    """items: (oracle_sql or None, rows, cols, decimal_cols) per query.
    A query without an oracle passes if it returned a result."""
    wanted = oracle.map(
        lambda cur, sql: oracle.run(sql, cur) if sql else None, [it[0] for it in items]
    )
    out = []
    for (sql, rows, cols, dec), want in zip(items, wanted):
        if sql is None:
            out.append(None if rows is not None else "no result")
        else:
            out.append(compare(rows, cols, want[0], want[1], dec))
    return out


def _layer_source(path: str) -> str:
    """SQL reading a materialised layer back, without the partition
    columns run_pipeline adds for the directory layout."""
    parts = [d for d in os.listdir(path) if "=" in d]
    if not parts:
        return f"SELECT * FROM read_parquet('{path}/*.parquet')"
    cols = [c for c in PARTITION_COLS if any(d.startswith(c + "=") for d in parts)]
    return (
        f"SELECT * EXCLUDE ({', '.join(cols)}) "
        f"FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true)"
    )


def _normalized_select(cur, sql: str) -> tuple[list[str], str]:
    """Column names of ``sql`` and a SELECT over it that normalises cells
    like ``_cell`` does, with columns in name order."""
    desc = cur.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
    exprs = []
    for name, dtype, *_ in sorted(desc, key=lambda d: d[0]):
        col = f'"{name}"'
        if dtype in ("DOUBLE", "FLOAT"):
            exprs.append(f"round({col}, 9)")
        elif dtype.startswith("TIMESTAMP") or dtype == "DATE":
            exprs.append(f"left(CAST({col} AS VARCHAR), 19)")
        else:
            exprs.append(col)
    return [d[0] for d in desc], f"SELECT {', '.join(exprs)} FROM ({sql})"


def _check_layer(cur, item: tuple) -> str | None:
    layer, path, oracle_sql = item
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return "layer not written"
    got = _layer_source(path)
    if oracle_sql is None:
        n = cur.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
        return None if n else "layer is empty"
    got_cols, g = _normalized_select(cur, got)
    want_cols, w = _normalized_select(cur, oracle_sql)
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
    n_got, n_want, extra, missing = cur.execute(
        f"WITH g AS MATERIALIZED ({g}), w AS MATERIALIZED ({w}) SELECT "
        "(SELECT count(*) FROM g), (SELECT count(*) FROM w), "
        "(SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM w)), "
        "(SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL SELECT * FROM g))"
    ).fetchone()
    if n_got != n_want:
        return f"{n_got} rows != oracle {n_want}"
    if extra or missing:
        return f"{extra} rows differ from oracle"
    if layer == "validation":
        bad = cur.execute(f"SELECT * FROM ({got})").fetchall()
        bad = [r for r in bad if any(isinstance(v, int) and v != 0 for v in r)]
        if bad:
            return f"validation violations {bad}"
    return None


def check_layers(oracle: Oracle, items: list[tuple]) -> list[str | None]:
    """items: (layer, layer directory, oracle_sql or None) per layer."""
    return oracle.map(_check_layer, items)
