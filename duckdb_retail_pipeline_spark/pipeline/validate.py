"""Validation layer: the reference's seven inline checks as
first-class operators (SURVEY.md §5 — the reference only LOGS
warnings; here each check returns a violation count that tests
assert to be zero).

Checks (reference citations):
1. calendar continuity / gaps        (dimensions.py:129-143, W2)
2. orphan facts vs dim_calendar      (facts.py:114-150, J5)
3. orphan facts vs dim_product
4. orphan facts vs dim_customer
5. FX coverage of sales dates        (facts.py:210-221, J6)
6. NULL EUR conversions              (facts.py:332-344)
7. quality: no negative orders/items; GBP ≈ EUR×0.8654 ±10%
                                     (facts.py:523-555)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.operators.windows import gaps


def _rows(df: DataFrame) -> DataFrame:
    """A one-row aggregate whose columns are named after checks, as one
    ``(check_name, violations)`` row per column, in column order."""
    return df.unpivot([], df.columns, "check_name", "violations")


def validation_checks(
    dim_calendar: DataFrame,
    dim_product: DataFrame,
    dim_customer: DataFrame,
    fct_sales: DataFrame,
    daily_fx_rates: DataFrame,
    fct_sales_eur: DataFrame,
    agg_country_day: DataFrame,
) -> DataFrame:
    """UNION ALL of labeled violation counts — all must be zero on a
    healthy build. Eight rows, in the order of the module docstring.

    The four fact checks share one pass over ``fct_sales``: it is
    left-joined once to each key set (calendar dates, product and
    customer keys, FX dates) and each check is one ``count_if`` over the
    unmatched rows; FX coverage counts the DISTINCT unmatched dates
    (``date`` is never NULL: fct_sales inner-joins the calendar on it).
    Every key set is unique by construction — one calendar and one FX
    row per spine day, one dim row per grouped key — so no left join can
    fan a fact row out. The two agg_country_day checks are one aggregate
    too."""

    def keys(df: DataFrame, col: str, flag: str) -> DataFrame:
        return df.select(col, F.lit(True).alias(flag))

    unmatched = lambda flag: F.col(flag).isNull()  # noqa: E731
    facts = (
        fct_sales.select("date", "stock_code", "customer_id")
        .join(keys(dim_calendar, "date", "_cal"), "date", "left")
        .join(keys(dim_product, "stock_code", "_prod"), "stock_code", "left")
        .join(keys(dim_customer, "customer_id", "_cust"), "customer_id", "left")
        .join(keys(daily_fx_rates, "date", "_fx"), "date", "left")
        .agg(
            F.count_if(unmatched("_cal")).alias("orphan_vs_calendar"),
            F.count_if(unmatched("_prod")).alias("orphan_vs_product"),
            F.count_if(unmatched("_cust")).alias("orphan_vs_customer"),
            F.count_distinct(F.when(unmatched("_fx"), F.col("date"))).alias(
                "fx_uncovered_dates"
            ),
        )
    )
    null_eur = fct_sales_eur.agg(
        F.count_if(
            F.col("unit_price_eur").isNull() | F.col("gross_amount_eur").isNull()
        ).alias("null_eur_conversion")
    )
    agg = agg_country_day.agg(
        F.count_if((F.col("orders") < 0) | (F.col("items") < 0)).alias(
            "negative_orders_or_items"
        ),
        # |net_gbp − net_eur×0.8654| / |net_gbp| must stay ≤10%
        # (reference facts.py:544's constant); guard zero-revenue rows.
        F.count_if(
            (F.col("net_revenue_gbp") != 0)
            & (
                F.abs(F.col("net_revenue_gbp") - F.col("net_revenue_eur") * F.lit(0.8654))
                / F.abs(F.col("net_revenue_gbp"))
                > 0.1
            )
        ).alias("fx_sanity_ratio"),
    )
    cal_gaps = gaps(dim_calendar).agg(
        F.count(F.lit(1)).alias("calendar_gaps")
    )
    out = _rows(cal_gaps)
    for part in (facts, null_eur, agg):
        out = out.unionByName(_rows(part))
    return out
