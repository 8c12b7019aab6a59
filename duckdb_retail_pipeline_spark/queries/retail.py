"""Retail-pipeline parity queries: every layer of the reference
pipeline (staging → dims → facts → agg → view → validation) as a
registered query whose DuckDB oracle rebuilds the same layer from
the raw parquet in one WITH chain.

This is the strongest parity evidence the engine has: the oracle SQL
below *is* the reference pipeline's dataflow (citations inline),
re-derived independently by DuckDB, and the driver hash-compares
every layer's full contents against the Spark build.
"""

from __future__ import annotations

# per-module-execution nonce for the registry's paste-vs-reload
# discrimination (queries/base.py register): reload re-executes this
# line and mints a new token; a pasted duplicate registers under the
# same one
_EXEC_TOKEN = object()

from pyspark.sql import DataFrame, SparkSession

from duckdb_retail_pipeline_spark.pipeline.run import build_layer
from duckdb_retail_pipeline_spark.queries.base import register

# ---------------------------------------------------------------------------
# Shared WITH prefix: the full pipeline in ANSI SQL. Mirrors
# pipeline/staging.py + dimensions.py + facts.py + aggregates.py +
# views.py expression-for-expression; every float follows the
# engine's exactness conventions (queries/base.py).
# ---------------------------------------------------------------------------
PIPELINE_SQL_PREFIX = """
WITH raw_retail_data AS (
    SELECT
        CASE WHEN l_returnflag = 'R' THEN 'C' || CAST(l_orderkey AS VARCHAR)
             ELSE CAST(l_orderkey AS VARCHAR) END AS invoice_no,
        CASE WHEN l_orderkey % 97 = 0 THEN 'nan'
             WHEN l_orderkey % 101 = 0 THEN ''
             ELSE CAST(l_partkey AS VARCHAR) END AS stock_code,
        p_name AS description,
        CASE WHEN l_orderkey % 103 = 0 THEN NULL
             WHEN l_returnflag = 'R' THEN -CAST(l_quantity AS BIGINT)
             ELSE CAST(l_quantity AS BIGINT) END AS qty,
        l_shipdate AS invoice_ts,
        CASE WHEN l_orderkey % 107 = 0 THEN NULL
             ELSE CAST(CAST(ROUND(l_extendedprice / l_quantity * 100, 0) AS BIGINT) / 100.0 AS DOUBLE)
             END AS unit_price_gbp,
        CASE WHEN o_custkey % 5 = 0 THEN NULL
             ELSE CAST(o_custkey AS DOUBLE) END AS customer_id,
        n_name AS country,
        CASE WHEN l_orderkey % 2 = 0 THEN 'sheet_2009_2010'
             ELSE 'sheet_2010_2011' END AS source_sheet
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
), fx_bounds AS (
    SELECT CAST(MIN(l_shipdate) AS DATE) - 7 AS lo,
           CAST(MAX(l_shipdate) AS DATE) AS hi
    FROM lineitem
), fx_spine AS (
    SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date
    FROM fx_bounds
), raw_fx_rates AS (
    SELECT date,
           CAST(83 + ((day(date) * 31 + month(date) * 7 + year(date)) % 9) AS DOUBLE) / 100.0 AS gbp_per_eur
    FROM fx_spine
    WHERE dayofweek(date) NOT IN (0, 6) AND day(date) % 13 != 0
), hol_bounds AS (
    SELECT CAST(MIN(l_shipdate) AS DATE) AS lo,
           CAST(MAX(l_shipdate) AS DATE) AS hi
    FROM lineitem
), hol_spine AS (
    SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS holiday_date
    FROM hol_bounds
), hol_base AS (
    SELECT holiday_date FROM hol_spine
    WHERE (month(holiday_date) = 1 AND day(holiday_date) = 1)
       OR (month(holiday_date) = 5 AND day(holiday_date) = 1)
       OR (month(holiday_date) = 12 AND day(holiday_date) IN (25, 26))
), raw_uk_holidays AS (
    SELECT holiday_date FROM hol_base
    UNION ALL
    SELECT holiday_date FROM hol_base WHERE month(holiday_date) = 12
), cal_bounds AS (
    SELECT CAST(date_trunc('month', MIN(invoice_ts)) AS DATE) AS lo,
           last_day(CAST(MAX(invoice_ts) AS DATE)) AS hi
    FROM raw_retail_data
), cal_spine AS (
    SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date
    FROM cal_bounds
), hol_distinct AS (
    SELECT DISTINCT holiday_date FROM raw_uk_holidays WHERE holiday_date IS NOT NULL
), dim_calendar AS (
    SELECT s.date,
           dayofweek(s.date) IN (0, 6) AS is_weekend,
           CAST(isoyear(s.date) AS BIGINT) AS iso_year,
           CAST(week(s.date) AS BIGINT) AS iso_week,
           CAST(month(s.date) AS BIGINT) AS month,
           CAST(year(s.date) AS BIGINT) AS year,
           CAST(dayofweek(s.date) AS BIGINT) AS day_of_week,
           dayname(s.date) AS day_name,
           monthname(s.date) AS month_name,
           (h.holiday_date IS NOT NULL) AS is_uk_holiday
    FROM cal_spine s
    LEFT JOIN hol_distinct h ON s.date = h.holiday_date
), prod_clean AS (
    SELECT * FROM raw_retail_data
    WHERE stock_code IS NOT NULL AND stock_code != '' AND stock_code != 'nan'
), prod_mode AS (
    SELECT stock_code, description FROM (
        SELECT stock_code, description,
               ROW_NUMBER() OVER (
                   PARTITION BY stock_code
                   ORDER BY COUNT(*) DESC, description ASC
               ) AS rn
        FROM prod_clean WHERE description IS NOT NULL
        GROUP BY stock_code, description
    ) t WHERE rn = 1
), dim_product AS (
    SELECT c.stock_code, m.description,
           MIN(CAST(c.invoice_ts AS DATE)) AS first_seen,
           MAX(CAST(c.invoice_ts AS DATE)) AS last_seen
    FROM prod_clean c LEFT JOIN prod_mode m ON c.stock_code = m.stock_code
    GROUP BY c.stock_code, m.description
), cust_keyed AS (
    SELECT COALESCE(customer_id, -1) AS customer_id, country FROM raw_retail_data
), cust_mode AS (
    SELECT customer_id, country FROM (
        SELECT customer_id, country,
               ROW_NUMBER() OVER (
                   PARTITION BY customer_id
                   ORDER BY COUNT(*) DESC, country ASC
               ) AS rn
        FROM cust_keyed WHERE country IS NOT NULL
        GROUP BY customer_id, country
    ) t WHERE rn = 1
), dim_customer AS (
    SELECT k.customer_id,
           CASE WHEN k.customer_id = -1 THEN 'UNKNOWN' ELSE m.country END AS country
    FROM (SELECT DISTINCT customer_id FROM cust_keyed) k
    LEFT JOIN cust_mode m ON k.customer_id = m.customer_id
), fct_sales AS (
    SELECT r.invoice_no, r.stock_code,
           COALESCE(r.customer_id, -1) AS customer_id,
           CAST(r.invoice_ts AS DATE) AS date,
           r.qty, r.unit_price_gbp,
           r.qty * r.unit_price_gbp AS gross_amount_gbp
    FROM raw_retail_data r
    JOIN dim_calendar c ON CAST(r.invoice_ts AS DATE) = c.date
    JOIN dim_product p ON r.stock_code = p.stock_code
    JOIN dim_customer cu ON COALESCE(r.customer_id, -1) = cu.customer_id
    WHERE r.qty IS NOT NULL AND r.unit_price_gbp IS NOT NULL
      AND r.stock_code IS NOT NULL AND r.stock_code != '' AND r.stock_code != 'nan'
), sales_bounds AS (
    SELECT MIN(date) AS lo, MAX(date) AS hi FROM fct_sales
), fx_dense AS (
    SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date
    FROM sales_bounds
), fx_filled AS (
    SELECT d.date,
           LAST_VALUE(r.gbp_per_eur IGNORE NULLS) OVER (
               ORDER BY d.date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS gbp_per_eur
    FROM fx_dense d LEFT JOIN raw_fx_rates r ON d.date = r.date
), daily_fx_rates AS (
    SELECT * FROM fx_filled WHERE gbp_per_eur IS NOT NULL
), fct_sales_eur AS (
    SELECT f.invoice_no, f.stock_code, f.customer_id, f.date, f.qty,
           f.unit_price_gbp, f.gross_amount_gbp,
           CAST(CAST(ROUND(f.unit_price_gbp / fx.gbp_per_eur * 10000, 0) AS BIGINT) / 10000.0 AS DOUBLE) AS unit_price_eur,
           CAST(CAST(ROUND(f.gross_amount_gbp / fx.gbp_per_eur * 10000, 0) AS BIGINT) / 10000.0 AS DOUBLE) AS gross_amount_eur,
           fx.gbp_per_eur AS fx_rate_used
    FROM fct_sales f JOIN daily_fx_rates fx ON f.date = fx.date
), agg_country_day AS (
    SELECT f.date, cu.country,
           CAST(COUNT(DISTINCT CASE WHEN f.invoice_no NOT LIKE 'C%' THEN f.invoice_no END) AS BIGINT) AS orders,
           CAST(COUNT(*) AS BIGINT) AS items,
           CAST(SUM(f.qty) AS BIGINT) AS net_qty,
           CAST(SUM(CAST(ROUND(f.gross_amount_gbp * 100, 0) AS BIGINT)) / 100.0 AS DOUBLE) AS net_revenue_gbp,
           CAST(SUM(CAST(ROUND(f.gross_amount_eur * 10000, 0) AS BIGINT)) / 10000.0 AS DOUBLE) AS net_revenue_eur,
           c.is_weekend, c.is_uk_holiday, c.iso_week, c.iso_year, c.month, c.year
    FROM fct_sales_eur f
    JOIN dim_customer cu ON f.customer_id = cu.customer_id
    JOIN dim_calendar c ON f.date = c.date
    GROUP BY f.date, cu.country, c.is_weekend, c.is_uk_holiday,
             c.iso_week, c.iso_year, c.month, c.year
), v_monthly_base AS (
    SELECT CAST(year(date) AS BIGINT) AS year,
           CAST(month(date) AS BIGINT) AS month,
           CAST(date_trunc('month', date) AS DATE) AS month_start_date,
           country,
           CAST(COUNT(DISTINCT date) AS BIGINT) AS trading_days,
           CAST(SUM(orders) AS BIGINT) AS total_orders,
           CAST(SUM(items) AS BIGINT) AS total_items,
           CAST(SUM(net_qty) AS BIGINT) AS total_quantity,
           CAST(SUM(CAST(ROUND(net_revenue_gbp * 100, 0) AS BIGINT)) / 100.0 AS DOUBLE) AS total_revenue_gbp,
           CAST(SUM(CAST(ROUND(net_revenue_eur * 10000, 0) AS BIGINT)) / 10000.0 AS DOUBLE) AS total_revenue_eur
    FROM agg_country_day
    WHERE net_revenue_gbp > 0
    GROUP BY 1, 2, 3, 4
), v_monthly_sales_summary AS (
    SELECT *,
           CAST(total_revenue_gbp / CAST(NULLIF(trading_days, 0) AS DOUBLE) AS DOUBLE) AS avg_daily_revenue_gbp,
           CAST(CAST(total_orders AS DOUBLE) / CAST(NULLIF(trading_days, 0) AS DOUBLE) AS DOUBLE) AS avg_daily_orders,
           CAST(total_revenue_gbp / CAST(NULLIF(total_orders, 0) AS DOUBLE) AS DOUBLE) AS avg_order_value_gbp
    FROM v_monthly_base
)
"""

VALIDATION_SQL = (
    PIPELINE_SQL_PREFIX
    + """
    , cal_gaps AS (
        SELECT date, LAG(date) OVER (ORDER BY date) AS prev_date FROM dim_calendar
    )
    SELECT 'calendar_gaps' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS violations
    FROM cal_gaps WHERE date_diff('day', prev_date, date) > 1
    UNION ALL
    SELECT 'orphan_vs_calendar', CAST(COUNT(*) AS BIGINT)
    FROM fct_sales f LEFT JOIN dim_calendar c ON f.date = c.date
    WHERE c.date IS NULL
    UNION ALL
    SELECT 'orphan_vs_product', CAST(COUNT(*) AS BIGINT)
    FROM fct_sales f LEFT JOIN dim_product p ON f.stock_code = p.stock_code
    WHERE p.stock_code IS NULL
    UNION ALL
    SELECT 'orphan_vs_customer', CAST(COUNT(*) AS BIGINT)
    FROM fct_sales f LEFT JOIN dim_customer cu ON f.customer_id = cu.customer_id
    WHERE cu.customer_id IS NULL
    UNION ALL
    SELECT 'fx_uncovered_dates', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT DISTINCT date FROM fct_sales) s
    LEFT JOIN daily_fx_rates fx ON s.date = fx.date
    WHERE fx.date IS NULL
    UNION ALL
    SELECT 'null_eur_conversion', CAST(COUNT(*) AS BIGINT)
    FROM fct_sales_eur
    WHERE unit_price_eur IS NULL OR gross_amount_eur IS NULL
    UNION ALL
    SELECT 'negative_orders_or_items', CAST(COUNT(*) AS BIGINT)
    FROM agg_country_day WHERE orders < 0 OR items < 0
    UNION ALL
    SELECT 'fx_sanity_ratio', CAST(COUNT(*) AS BIGINT)
    FROM agg_country_day
    WHERE net_revenue_gbp != 0
      AND ABS(net_revenue_gbp - net_revenue_eur * 0.8654) / ABS(net_revenue_gbp) > 0.1
"""
)


def _layer_query(layer: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return build_layer(spark, sf_dir, layer)

    fn.__name__ = f"pl_{layer}"
    fn.layer = layer  # tools/capture_plans.py captures the layer's layer_plan
    return fn


def _sql(final_select: str) -> str:
    return PIPELINE_SQL_PREFIX + final_select


register(
    "pl01_staging_retail",
    oracle=_sql("SELECT * FROM raw_retail_data"),
    doc="Pipeline phase 1 staging (reference src/ingestion/"
    "retail_data.py): rename/clean/derive projection over the joined "
    "raw sources (SURVEY §2.1 S1-S4, §2.2 P1/P2/P11).",
    tags=("pipeline", "staging"),
)(_layer_query("raw_retail_data"))

register(
    "pl02_staging_fx",
    oracle=_sql("SELECT * FROM raw_fx_rates"),
    doc="Pipeline FX staging (reference src/ingestion/fx_data.py): "
    "sparse trading-day rate series (S3).",
    tags=("pipeline", "staging"),
)(_layer_query("raw_fx_rates"))

register(
    "pl03_dim_calendar",
    oracle=_sql("SELECT * FROM dim_calendar"),
    doc="dim_calendar (reference src/models/dimensions.py:55-94): "
    "dense month-aligned date spine, DuckDB-parity date parts, "
    "holiday flag as left join instead of ALTER+UPDATE (S7→§1.3).",
    headline=True,
    tags=("pipeline", "dims", "datetime"),
)(_layer_query("dim_calendar"))

register(
    "pl04_dim_product",
    oracle=_sql("SELECT * FROM dim_product"),
    doc="dim_product (reference src/models/dimensions.py:157-171): "
    "P3 cleaning + deterministic MODE(description) + first/last seen "
    "(A1).",
    tags=("pipeline", "dims"),
)(_layer_query("dim_product"))

register(
    "pl05_dim_customer",
    oracle=_sql("SELECT * FROM dim_customer"),
    doc="dim_customer (reference src/models/dimensions.py:200-214): "
    "-1 surrogate key + MODE(country)/'UNKNOWN' (A2).",
    tags=("pipeline", "dims"),
)(_layer_query("dim_customer"))

register(
    "pl06_fct_sales",
    oracle=_sql("SELECT * FROM fct_sales"),
    doc="fct_sales (reference src/models/facts.py:34-57): three-way "
    "expression join against dims (J1), P3 filters, computed gross "
    "amount (P2).",
    headline=True,
    tags=("pipeline", "facts", "join"),
)(_layer_query("fct_sales"))

register(
    "pl07_daily_fx_rates",
    oracle=_sql("SELECT * FROM daily_fx_rates"),
    doc="daily_fx_rates (reference src/models/facts.py:166-202): "
    "date spine + left join + LAST_VALUE-ignore-nulls forward fill "
    "(W1) + leading-NULL drop (P10).",
    tags=("pipeline", "facts", "window"),
)(_layer_query("daily_fx_rates"))

register(
    "pl08_fct_sales_eur",
    oracle=_sql("SELECT * FROM fct_sales_eur"),
    doc="fct_sales_eur (reference src/models/facts.py:269-288): FX "
    "broadcast join (J2) + 4-dp-pinned currency conversion. EUR "
    "columns carried in-table so the reference's J4 self-join is "
    "unnecessary downstream (SURVEY §2.3).",
    tags=("pipeline", "facts", "join"),
)(_layer_query("fct_sales_eur"))

register(
    "pl09_agg_country_day",
    oracle=_sql("SELECT * FROM agg_country_day"),
    doc="agg_country_day (reference src/models/facts.py:347-412): "
    "8-key pre-aggregation (A6) with cancellation-excluding "
    "conditional count-distinct (A5) and calendar context joins (J8).",
    headline=True,
    tags=("pipeline", "agg"),
)(_layer_query("agg_country_day"))

register(
    "pl10_monthly_sales_summary",
    oracle=_sql("SELECT * FROM v_monthly_sales_summary"),
    doc="v_monthly_sales_summary (reference sql/views/"
    "monthly_sales_summary.sql:5-39): monthly rollup view with "
    "NULLIF-guarded ratios (A7-A9, S6).",
    tags=("pipeline", "view"),
)(_layer_query("v_monthly_sales_summary"))

register(
    "pl11_validation",
    oracle=VALIDATION_SQL,
    doc="The reference's 7 inline validation checks as one UNION ALL "
    "of labeled violation counts (SURVEY §5; reference facts.py:"
    "114-150,210-221,332-344,523-555, dimensions.py:129-143). All "
    "rows must be zero on a healthy build.",
    tags=("pipeline", "validation"),
)(_layer_query("validation"))
