"""View layer (reference sql/views/monthly_sales_summary.sql).

The monthly sales summary over agg_country_day — time + geography
grouping with trading-day and order-value ratios. ``pipeline/analysis.py``
registers it as a session view, matching the reference's CREATE OR
REPLACE VIEW surface (S6)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.functions.aggregates import cents


def build_monthly_sales_summary(agg_country_day: DataFrame) -> DataFrame:
    """v_monthly_sales_summary (reference
    sql/views/monthly_sales_summary.sql:5-39): monthly rollup of the
    daily pre-aggregation, returns-only days excluded, NULLIF-guarded
    ratios. Ratio divisions happen once on exact inputs (cents-exact
    revenue, integer counts) so results are engine-stable without
    ROUND.

    Precondition: ``agg_country_day`` is unique on (date, country),
    as its builder groups by that key and inner-joins a one-row-per-
    date calendar. Each (month, country) group then holds each date
    at most once, so ``trading_days`` — the reference's
    ``COUNT(DISTINCT date)`` — is a plain count, with no distinct
    aggregate's extra exchange and aggregation levels. A frame with
    repeated (date, country) rows would over-count it."""
    d = F.col("date")
    filtered = agg_country_day.filter(F.col("net_revenue_gbp") > 0)
    grouped = filtered.groupBy(
        # re-derived from date on purpose, though agg_country_day
        # carries year/month: the builder accepts any (date, country,
        # measures) frame (tests feed minimal ones), and the carried
        # columns are year(date)/month(date) by construction anyway
        F.year(d).cast("bigint").alias("year"),
        F.month(d).cast("bigint").alias("month"),
        F.date_trunc("month", d).cast("date").alias("month_start_date"),
        "country",
    ).agg(
        F.count("date").alias("trading_days"),
        F.sum("orders").cast("bigint").alias("total_orders"),
        F.sum("items").cast("bigint").alias("total_items"),
        F.sum("net_qty").cast("bigint").alias("total_quantity"),
        (F.sum(cents(F.col("net_revenue_gbp"), 100)) / F.lit(100.0)).alias(
            "total_revenue_gbp"
        ),
        (F.sum(cents(F.col("net_revenue_eur"), 10000)) / F.lit(10000.0)).alias(
            "total_revenue_eur"
        ),
    )
    return grouped.select(
        "year",
        "month",
        "month_start_date",
        "country",
        "trading_days",
        "total_orders",
        "total_items",
        "total_quantity",
        "total_revenue_gbp",
        "total_revenue_eur",
        (
            F.col("total_revenue_gbp")
            / F.nullif(F.col("trading_days"), F.lit(0)).cast("double")
        ).alias("avg_daily_revenue_gbp"),
        (
            F.col("total_orders").cast("double")
            / F.nullif(F.col("trading_days"), F.lit(0)).cast("double")
        ).alias("avg_daily_orders"),
        (
            F.col("total_revenue_gbp")
            / F.nullif(F.col("total_orders"), F.lit(0)).cast("double")
        ).alias("avg_order_value_gbp"),
    )
