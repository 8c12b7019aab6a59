"""pl09 fact-layout A/B: bucket fct_sales_eur by invoice_no (r10
verdict #4 / ROADMAP item 9 — "the at-scale lever is fact-table
layout, not a third aggregate shape").

The invoice-level pre-agg groups by (date, country, invoice_no);
HashPartitioning(invoice_no) satisfies ClusteredDistribution over any
superset of keys, so a table bucketed by invoice_no feeds the first
groupBy WITHOUT its full-fact shuffle — the only full-fact-sized
exchange left in pl09's plan. The A/B measures whether removing it
moves the ~40 s 100× floor, which the r10 correction attributed to
the bare cached scan + 2-key agg under the 16g harness.

Methodology (the r10 decade-integrity upgrade): every timing row
prints the DIR, the fct ROW COUNT, and an order-independent result
CHECKSUM (column names attached — the r10 ADVICE fix), so a dir
mix-up or a value drift is visible in the record itself.

Usage:
    python tools/pl09_bucket_ab.py [SF_DIR] [WARM_RUNS] [BUCKETS]
defaults: /tmp/sf10_grow (the true-100× grow dir), 3, 32.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_retail_pipeline_spark.operators.scale import write_bucketed
from duckdb_retail_pipeline_spark.pipeline.aggregates import (
    build_agg_country_day,
)
from duckdb_retail_pipeline_spark.pipeline.run import build_layer
from duckdb_retail_pipeline_spark.session import get_spark
from tools._util import row_set_checksum as checksum


def timed(label: str, sf_dir: str, n_fct: int, fn, warm_runs: int) -> None:
    t0 = time.time()
    rows = fn().collect()
    cold = time.time() - t0
    print(
        f"{label}: cold={cold:.2f}s result_rows={len(rows)} "
        f"checksum={checksum(rows)} fct_rows={n_fct} dir={sf_dir}",
        flush=True,
    )
    ts = []
    for _ in range(warm_runs):
        t0 = time.time()
        fn().collect()
        ts.append(time.time() - t0)
    print(
        f"{label}: warm={[round(x, 2) for x in ts]} "
        f"median={statistics.median(ts):.2f}s dir={sf_dir}",
        flush=True,
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10_grow"
    warm_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    spark = get_spark(app_name="pl09-bucket-ab")
    spark.sparkContext.setLogLevel("ERROR")

    fct = build_layer(spark, sf_dir, "fct_sales_eur")
    n_fct = fct.count()  # the A side: build_layer materialized it already
    dim_customer = build_layer(spark, sf_dir, "dim_customer")
    dim_calendar = build_layer(spark, sf_dir, "dim_calendar")

    # A: current shape — pre-agg over the session-memoized fct leaf
    timed(
        "pl09_cached_fct",
        sf_dir,
        n_fct,
        lambda: build_agg_country_day(fct, dim_customer, dim_calendar),
        warm_runs,
    )

    # B: fct persisted as a managed table bucketed by invoice_no —
    # the first groupBy reads pre-clustered data and skips the
    # full-fact exchange
    t0 = time.time()
    write_bucketed(fct, "fct_sales_eur_binv", "invoice_no", buckets)
    print(f"bucket_write: {time.time() - t0:.2f}s buckets={buckets}", flush=True)
    bfct = spark.table("fct_sales_eur_binv")
    assert bfct.count() == n_fct
    timed(
        f"pl09_bucketed_fct_b{buckets}",
        sf_dir,
        n_fct,
        lambda: build_agg_country_day(bfct, dim_customer, dim_calendar),
        warm_runs,
    )

    # plan check: count exchanges in the first-groupBy subtree
    from duckdb_retail_pipeline_spark.plans import explain as X

    a_n = X.exchange_count(build_agg_country_day(fct, dim_customer, dim_calendar))
    b_n = X.exchange_count(build_agg_country_day(bfct, dim_customer, dim_calendar))
    print(f"exchanges: cached={a_n} bucketed={b_n}", flush=True)

    spark.sql("DROP TABLE IF EXISTS fct_sales_eur_binv")
    spark.stop()


if __name__ == "__main__":
    main()
