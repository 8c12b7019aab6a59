"""Dimension builders (reference src/models/dimensions.py).

Spark-first translations:
- dim_calendar: sequence/explode date spine + date-part functions +
  a left-join holiday flag — replacing the reference's
  ALTER TABLE + UPDATE (dimensions.py:79-94) with a re-derivation,
  since DataFrames are immutable (SURVEY.md §1.3).
- dim_product / dim_customer: one two-level aggregate each. The
  first level counts every (key, value) pair (dim_product also takes
  the pair's first/last dates); the second groups by the key and takes
  the deterministic MODE with ``top_counted`` (pinned (count DESC,
  value ASC) tie-break, NULL values skipped — SURVEY.md §4) beside the
  rolled-up dates. No window, no join back: every key keeps its row,
  with a NULL value when all of its values are NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.functions import datetime_fns as DT
from duckdb_retail_pipeline_spark.functions.aggregates import top_counted


def _valid_stock() -> F.Column:
    """P3 cleaning predicate (reference src/models/dimensions.py:166-168,
    src/models/facts.py:51-53): NULL / empty / pandas-'nan' sentinels.
    (Built lazily — Column exprs need an active session.)"""
    return (
        F.col("stock_code").isNotNull()
        & (F.col("stock_code") != "")
        & (F.col("stock_code") != "nan")
    )


def build_dim_calendar(raw_retail: DataFrame, raw_holidays: DataFrame) -> DataFrame:
    """dim_calendar(date, is_weekend, iso_year, iso_week, month,
    year, day_of_week, day_name, month_name, is_uk_holiday) — dense
    daily spine from first-of-first-month to last-of-last-month of
    the sales range (reference dimensions.py:39-75), holiday flag via
    left join (replaces ALTER+UPDATE, dimensions.py:79-94)."""
    bounds = raw_retail.agg(
        F.trunc(F.min(F.to_date("invoice_ts")), "month").alias("lo"),
        F.last_day(F.max(F.to_date("invoice_ts"))).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("date")
    )
    holidays = raw_holidays.select("holiday_date").dropna().dropDuplicates()
    d = F.col("date")
    return (
        spine.join(
            F.broadcast(holidays), spine.date == holidays.holiday_date, "left"
        )
        .select(
            d,
            DT.is_weekend(d).alias("is_weekend"),
            DT.iso_year(d).cast("bigint").alias("iso_year"),
            DT.iso_week(d).cast("bigint").alias("iso_week"),
            F.month(d).cast("bigint").alias("month"),
            F.year(d).cast("bigint").alias("year"),
            DT.duck_dow(d).cast("bigint").alias("day_of_week"),
            DT.day_name(d).alias("day_name"),
            DT.month_name(d).alias("month_name"),
            F.col("holiday_date").isNotNull().alias("is_uk_holiday"),
        )
    )


def build_dim_product(raw_retail: DataFrame) -> DataFrame:
    """dim_product(stock_code, description, first_seen, last_seen)
    (reference dimensions.py:157-171): P3-cleaned, MODE(description)
    with pinned tie-break, min/max first/last seen dates."""
    day = F.to_date("invoice_ts")
    pairs = (
        raw_retail.filter(_valid_stock())
        .groupBy("stock_code", "description")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(day).alias("first_seen"),
            F.max(day).alias("last_seen"),
        )
    )
    return pairs.groupBy("stock_code").agg(
        top_counted(F.col("description"), F.col("n")).alias("description"),
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen"),
    )


def build_dim_customer(raw_retail: DataFrame) -> DataFrame:
    """dim_customer(customer_id, country) (reference
    dimensions.py:203-214): -1 surrogate for NULL ids, 'UNKNOWN'
    country for the surrogate, else MODE(country)."""
    customer_id = F.coalesce(F.col("customer_id"), F.lit(-1.0)).alias("customer_id")
    pairs = raw_retail.groupBy(customer_id, "country").agg(F.count(F.lit(1)).alias("n"))
    return pairs.groupBy("customer_id").agg(
        F.when(F.col("customer_id") == -1, F.lit("UNKNOWN"))
        .otherwise(top_counted(F.col("country"), F.col("n")))
        .alias("country")
    )
