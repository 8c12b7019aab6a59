"""Fact builders (reference src/models/facts.py).

- fct_sales: the three-way expression join against the dimensions
  (reference facts.py:37-57, J1) with the P3 cleaning filters.
- daily_fx_rates: date spine + left join + LAST_VALUE-ignore-nulls
  forward fill (facts.py:178-202, W1) — the highest-parity-risk op.
- fct_sales_eur: FX enrichment join + currency conversion
  (facts.py:269-288, J2). EUR amounts are pinned to exact 4-dp
  (integer-cents arithmetic) — a deliberate determinism deviation
  from the reference's full-float division, documented here: the
  reference's floats make cross-engine comparison ill-defined; 4 dp
  keeps sub-cent precision while making every downstream aggregate
  bit-exact.

At 100 TB: dims broadcast; the FX table is ~1k rows/decade → always broadcast;
the forward-fill window is per-currency (single series here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.functions.aggregates import cents
from duckdb_retail_pipeline_spark.operators.windows import forward_fill


def build_fct_sales(
    raw_retail: DataFrame,
    dim_calendar: DataFrame,
    dim_product: DataFrame,
    dim_customer: DataFrame,
) -> DataFrame:
    """fct_sales(invoice_no, stock_code, customer_id, date, qty,
    unit_price_gbp, gross_amount_gbp) — reference facts.py:37-57.

    Joins are on *expressions* (DATE(ts), COALESCE(id,-1)) exactly as
    the reference's J1. Broadcast hints are applied ONLY to the dim
    that is bounded at any corpus size — dim_calendar (one row per
    spine day). dim_product and dim_customer grow with the corpus
    (distinct SKUs / customer ids — linear in the driver's grow
    decades), so they carry NO hint: the threshold/AQE broadcasts
    them while they are actually small and falls back to a shuffle
    join at cluster scale, exactly the r7 adjudication that dropped
    the forced customer broadcast from q02/q17 (r12 review: the
    previous forced hints here contradicted staging.py's own
    comment making that argument for the SAME tables one layer
    up — a forced broadcast of a corpus-growing dim is the 100 TB
    OOM)."""
    from duckdb_retail_pipeline_spark.pipeline.dimensions import _valid_stock

    r = raw_retail.filter(
        F.col("qty").isNotNull()
        & F.col("unit_price_gbp").isNotNull()
        # the ONE P3 stock-code cleaning predicate — shared with
        # dim_product so the fact and dim populations cannot drift
        & _valid_stock()
    ).select(
        "invoice_no",
        "stock_code",
        F.coalesce(F.col("customer_id"), F.lit(-1.0)).alias("customer_id"),
        F.to_date("invoice_ts").alias("date"),
        "qty",
        "unit_price_gbp",
        (F.col("qty") * F.col("unit_price_gbp")).alias("gross_amount_gbp"),
    )
    return (
        r.join(F.broadcast(dim_calendar.select("date")), "date", "inner")
        .join(dim_product.select("stock_code"), "stock_code", "inner")
        .join(dim_customer.select("customer_id"), "customer_id", "inner")
        .select(
            "invoice_no",
            "stock_code",
            "customer_id",
            "date",
            "qty",
            "unit_price_gbp",
            "gross_amount_gbp",
        )
    )


def build_daily_fx_rates(raw_fx: DataFrame, fct_sales: DataFrame) -> DataFrame:
    """daily_fx_rates(date, gbp_per_eur): dense daily series over the
    sales date range, forward-filled from sparse trading-day rates,
    leading-NULL days dropped (reference facts.py:178-202; W1 + P10).

    Known reference-parity behavior, on purpose: the spine starts AT
    min(sales date) — exactly the reference's generate_series bounds
    — so a rate published BEFORE the first sales date is never seen
    by the fill. If a dataset's earliest sales day is a non-trading
    day, its leading days have no rate, those sales drop out of the
    EUR join, and the pl11 fx-coverage check fires (>0 uncovered
    dates) — the same LOUD failure the reference produces on the
    same data (its WHERE gbp_per_eur IS NOT NULL + coverage check).
    Widening the spine to min(fx date) would diverge from the
    reference's goldens; parity wins."""
    from duckdb_retail_pipeline_spark.functions.datetime_fns import date_spine_over

    spine = date_spine_over(fct_sales, "date")
    joined = spine.join(raw_fx, "date", "left")
    filled = forward_fill(joined, "gbp_per_eur")
    return filled.filter(F.col("gbp_per_eur").isNotNull())


def build_fct_sales_eur(fct_sales: DataFrame, daily_fx: DataFrame) -> DataFrame:
    """fct_sales_eur = fct_sales + (unit_price_eur, gross_amount_eur,
    fx_rate_used) — reference facts.py:269-288 (J2 FX join).

    One design deviation from the reference, on purpose: the EUR
    columns live in the SAME table as the GBP columns, so the
    reference's 4-key fct⋈fct join (facts.py:394-399, J4) is never
    needed downstream (SURVEY §2.3 recommends exactly this; the J4
    operator itself is covered by q08)."""
    eur = lambda col: (  # noqa: E731 — exact 4-dp pin, see module doc
        cents(col / F.col("gbp_per_eur"), 10000) / F.lit(10000.0)
    )
    return fct_sales.join(F.broadcast(daily_fx), "date", "inner").select(
        "invoice_no",
        "stock_code",
        "customer_id",
        "date",
        "qty",
        "unit_price_gbp",
        "gross_amount_gbp",
        eur(F.col("unit_price_gbp")).alias("unit_price_eur"),
        eur(F.col("gross_amount_gbp")).alias("gross_amount_eur"),
        F.col("gbp_per_eur").alias("fx_rate_used"),
    )
