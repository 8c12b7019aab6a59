"""Staging layer: retail-shaped raw tables.

The reference ingests three raw sources into staging tables
(reference src/ingestion/: retail_data.py, fx_data.py,
holidays_data.py). This module produces the same staging schemas two
ways:

1. ``retail_from_tpch`` — a deterministic adapter that derives the
   retail shape from the driver's TPC-H-ish parquet so the full
   pipeline is exercised (and oracle-checkable) on driver testdata.
   Every derivation is pure column arithmetic — the identical
   expressions are reproducible in ANSI SQL (queries/retail.py holds
   the twins).
2. ``sources/`` connectors (excel/xml) for reference-shaped raw
   files, gated on the optional libs.

Deterministic dirt is injected (empty/'nan' stock codes, NULL
qty/price/customer) so the cleaning operators P3/P5/P11 have
something to clean — mirroring the real dataset's warts
(FIXTURES.md §1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.catalog import load_table as tbl
from duckdb_retail_pipeline_spark.functions import datetime_fns as DT
from duckdb_retail_pipeline_spark.functions.aggregates import cents


def build_raw_retail_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """raw_retail_data(invoice_no, stock_code, description, qty,
    invoice_ts, unit_price_gbp, customer_id, country, source_sheet)

    Mapping (deterministic, oracle-reproducible):
    - returns (l_returnflag='R') become 'C'-prefixed cancellation
      invoices with negative qty (reference retail_data.py:77-80,
      facts.py:63-66)
    - unit price = extendedprice/quantity pinned to exact 2 dp
    - ~20% NULL customer_id (o_custkey % 5 = 0), FIXTURES.md §1
    - dirt: stock_code '' / 'nan' and NULL qty/price on fixed key
      residues (exercises P3/P5 cleaning)
    """
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders")
    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    part = tbl(spark, sf_dir, "part")

    base = (
        # customer/part scale linearly with SF, so they carry no
        # broadcast hint — AQE/threshold broadcasts them at small SF
        # and falls back to shuffle join at cluster scale. nation is
        # fixed at 25 rows → explicit hint stays.
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(part, li.l_partkey == part.p_partkey)
    )
    is_return = F.col("l_returnflag") == "R"
    okey = F.col("l_orderkey")
    return base.select(
        F.when(is_return, F.concat(F.lit("C"), okey.cast("string")))
        .otherwise(okey.cast("string"))
        .alias("invoice_no"),
        F.when(okey % 97 == 0, F.lit("nan"))
        .when(okey % 101 == 0, F.lit(""))
        .otherwise(F.col("l_partkey").cast("string"))
        .alias("stock_code"),
        F.col("p_name").alias("description"),
        F.when(okey % 103 == 0, F.lit(None).cast("bigint"))
        .when(is_return, -F.col("l_quantity").cast("bigint"))
        .otherwise(F.col("l_quantity").cast("bigint"))
        .alias("qty"),
        F.col("l_shipdate").alias("invoice_ts"),
        F.when(okey % 107 == 0, F.lit(None).cast("double"))
        .otherwise(
            cents(F.col("l_extendedprice") / F.col("l_quantity"), 100)
            / F.lit(100.0)
        )
        .alias("unit_price_gbp"),
        F.when(F.col("o_custkey") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_custkey").cast("double"))
        .alias("customer_id"),
        F.col("n_name").alias("country"),
        F.when(okey % 2 == 0, F.lit("sheet_2009_2010"))
        .otherwise(F.lit("sheet_2010_2011"))
        .alias("source_sheet"),
    )


def build_raw_fx_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """raw_fx_rates(date, gbp_per_eur): synthetic ECB-shaped daily
    series — trading days only (weekends and day%13==0 'holidays'
    excluded, giving the forward-fill gaps the reference handles,
    reference src/ingestion/fx_data.py + facts.py:187-197), rate in
    [0.83, 0.91] from exact integer arithmetic."""
    li = tbl(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.date_sub(F.min(F.to_date("l_shipdate")), 7).alias("lo"),
        F.max(F.to_date("l_shipdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("date")
    )
    d = F.col("date")
    rate_key = (F.dayofmonth(d) * 31 + F.month(d) * 7 + F.year(d)) % 9
    return (
        spine.filter(~DT.is_weekend(d) & (F.dayofmonth(d) % 13 != 0))
        .select(
            d,
            ((F.lit(83) + rate_key).cast("double") / F.lit(100.0)).alias(
                "gbp_per_eur"
            ),
        )
    )


def build_raw_uk_holidays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """raw_uk_holidays(holiday_date): deterministic pseudo-holidays
    (1st of Jan/May and 25/26 Dec within the sales range). Emitted
    WITH duplicates so the dedup cleaning step (reference
    holidays_data.py:36-46, P12) has work to do."""
    from duckdb_retail_pipeline_spark.functions.datetime_fns import date_spine_over

    li = tbl(spark, sf_dir, "lineitem")
    spine = date_spine_over(li, "l_shipdate", col_name="holiday_date")
    d = F.col("holiday_date")
    hol = spine.filter(
        ((F.month(d) == 1) & (F.dayofmonth(d) == 1))
        | ((F.month(d) == 5) & (F.dayofmonth(d) == 1))
        | ((F.month(d) == 12) & (F.dayofmonth(d).isin(25, 26)))
    )
    return hol.unionAll(hol.filter(F.month(d) == 12))  # duplicate some rows


def load_staging(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {
        "raw_retail_data": build_raw_retail_data(spark, sf_dir),
        "raw_fx_rates": build_raw_fx_rates(spark, sf_dir),
        "raw_uk_holidays": build_raw_uk_holidays(spark, sf_dir),
    }
