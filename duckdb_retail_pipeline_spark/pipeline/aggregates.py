"""Aggregation layer (reference src/models/facts.py:347-412).

agg_country_day: the reference's explicit pre-aggregation "for
performance" — its whole performance strategy (SURVEY.md §4) — here
one shuffle on the 8 grouping keys with map-side partial aggregation.
Money sums use integer-cents arithmetic (exact at any partition
count); EUR is 4-dp exact by construction (facts.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.functions.aggregates import cents


def build_agg_country_day(
    fct_sales_eur: DataFrame,
    dim_customer: DataFrame,
    dim_calendar: DataFrame,
) -> DataFrame:
    """agg_country_day(date, country, orders, items, net_qty,
    net_revenue_gbp, net_revenue_eur, is_weekend, is_uk_holiday,
    iso_week, iso_year, month, year) — reference facts.py:366-412.

    orders excludes 'C'-prefixed cancellations via conditional
    count-distinct (A5); calendar context comes from broadcast dim
    joins (J8).

    The calendar attributes are functionally dependent on ``date``
    (one calendar row per spine day), so the join happens AFTER the
    aggregation: the shuffle carries 2 grouping keys per fact row
    instead of 8, and the broadcast calendar lands on the few-K
    aggregated rows. Equivalent result, ~4× narrower shuffle — the
    plan that survives a 100 TB fact table.

    The distinct-order count runs as an invoice-level pre-aggregation
    (groupBy(date, country, invoice_no) partials, then the final
    2-key rollup counting non-cancelled invoice ROWS) instead of a
    direct conditional count_distinct: the count-distinct plan's
    Expand doubles every fact row through the shuffle. Measured over
    the explicitly persisted fct frame (late-r10 correction — the
    numbers first recorded for this swap, 5.40 vs 7.25 s "at 100×",
    actually match the 10× regime; a dir mix-up): sf0.1 equal
    (1.01 vs 0.98), 10× 7.8 vs 9.6 (−19%), TRUE 100× 97 vs 152 s
    warm (−36%). The swap direction holds at every decade, but note
    the 100× honesty findings: the (date, country, invoice) group
    cardinality is ≈ the fact row count there (invoices span up to
    16 dates in the grown data), so the pre-agg collapses little
    and ~40 s of the cost is the bare 57M-row cached-scan +
    2-key-agg floor under the 16g harness — the at-scale lever is
    fact-table layout (bucket by invoice), not a third aggregation
    shape. Value-identical by construction — the invoice rows are
    distinct per group, and the integer-cent partials re-sum
    associatively — and verified bit-exact against the
    count_distinct form at sf0.001/sf0.01 before the swap.

    Fact-layout lever, MEASURED r11 (tools/pl09_bucket_ab.py at the
    true 100× decade, dir + row count + checksum printed): feeding
    this aggregate a fct table BUCKETED BY invoice_no (32 buckets,
    operators/scale.py write_bucketed — HashPartitioning(invoice_no)
    satisfies the 3-key group's ClusteredDistribution, so the
    full-fact exchange disappears) beats the session-cached frame at
    every point — warm median 59.0 vs 89.4 s, warm min 54.1 vs
    62.8, COLD 50.1 vs 116.3, identical result checksum on 57.68M
    fct rows, and the one-off bucket write costs 12.1 s. The 100 TB
    deployment should therefore persist fct_sales_eur bucketed by
    invoice_no; the driver-gated small-SF path keeps the cached
    frame (bucketing is pure overhead when the whole fact fits one
    exchange)."""
    # dim_customer grows with the corpus (distinct ids) — no forced
    # broadcast; threshold/AQE broadcasts it while small and shuffles
    # at cluster scale (the r7 q02/q17 adjudication, applied to the
    # pl layer in r12; dim_calendar below stays hinted — bounded at
    # one row per spine day at any corpus size)
    base = fct_sales_eur.join(dim_customer, "customer_id", "inner")
    inv = base.groupBy("date", "country", "invoice_no").agg(
        F.count(F.lit(1)).cast("bigint").alias("_items"),
        F.sum("qty").cast("bigint").alias("_qty"),
        F.sum(cents(F.col("gross_amount_gbp"), 100)).alias("_gbp_cents"),
        F.sum(cents(F.col("gross_amount_eur"), 10000)).alias("_eur_cents"),
    )
    agg = inv.groupBy("date", "country").agg(
        F.sum(
            F.when(~F.col("invoice_no").like("C%"), 1).otherwise(0)
        ).cast("bigint").alias("orders"),
        F.sum("_items").cast("bigint").alias("items"),
        F.sum("_qty").cast("bigint").alias("net_qty"),
        (F.sum("_gbp_cents") / F.lit(100.0)).alias("net_revenue_gbp"),
        (F.sum("_eur_cents") / F.lit(10000.0)).alias("net_revenue_eur"),
    )
    return agg.join(F.broadcast(dim_calendar), "date", "inner").select(
        "date",
        "country",
        "orders",
        "items",
        "net_qty",
        "net_revenue_gbp",
        "net_revenue_eur",
        "is_weekend",
        "is_uk_holiday",
        "iso_week",
        "iso_year",
        "month",
        "year",
    )
