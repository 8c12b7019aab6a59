"""Reference-parity operator queries (SURVEY.md §2) on the driver's
TPC-H-ish tables. Each query exercises one or more inventory rows
(S/P/J/A/W/O/U/Q ids cited per query) and carries a DuckDB oracle
twin with identical column names and semantics.

Money aggregates follow the exact integer-cents convention from
``queries.base`` (bit-exact across engines and partition counts).
"""

from __future__ import annotations

# per-module-execution nonce for the registry's paste-vs-reload
# discrimination (queries/base.py register): reload re-executes this
# line and mints a new token; a pasted duplicate registers under the
# same one
_EXEC_TOKEN = object()

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.functions import aggregates as AGG
from duckdb_retail_pipeline_spark.functions import datetime_fns as DT
from duckdb_retail_pipeline_spark.operators import joins as J
from duckdb_retail_pipeline_spark.operators import windows as W
from duckdb_retail_pipeline_spark.queries.base import (
    money_avg,
    money_sum,
    plan_memo,
    register,
    sql_money_avg,
    sql_money_sum,
    tbl,
)

DISC_PRICE = "l_extendedprice * (1 - l_discount)"
CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"


# ---------------------------------------------------------------- q01
@register(
    "q01_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               {sql_money_sum('l_extendedprice')} AS sum_base_price,
               {sql_money_sum(DISC_PRICE, 4)} AS sum_disc_price,
               {sql_money_sum(CHARGE, 6)} AS sum_charge,
               {sql_money_avg('l_quantity')} AS avg_qty,
               {sql_money_avg('l_extendedprice')} AS avg_price,
               {sql_money_avg('l_discount')} AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '2001-06-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H-Q1-shaped pricing summary: filter→8-agg groupBy "
    "(SURVEY §2.4 A3/A4/A6; §2.2 P6). Headline scan+agg benchmark.",
    headline=True,
    tags=("agg", "filter"),
)
@plan_memo("q01")
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("2001-06-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc_price, 4).alias("sum_disc_price"),
            money_sum(charge, 6).alias("sum_charge"),
            money_avg(F.col("l_quantity")).alias("avg_qty"),
            money_avg(F.col("l_extendedprice")).alias("avg_price"),
            money_avg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------- q02
@register(
    "q02_monthly_revenue_by_nation",
    oracle=f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
               CAST(month(o_orderdate) AS BIGINT) AS month,
               n_name AS nation,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
               {sql_money_sum('o_totalprice')} AS total_revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2, 3
    """,
    doc="Monthly revenue by nation — the flagship star join + "
    "expression groupBy (SURVEY §2.3 J1/J8, §2.4 A7; reference "
    "sql/views/monthly_sales_summary.sql:5-39). Dims broadcast.",
    headline=True,
    tags=("join", "agg"),
)
@plan_memo("q02")
def q02_monthly_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    return (
        # no broadcast hint on customer — it scales with SF (the q03
        # convention); at test SF the threshold still picks a
        # broadcast-hash join, at 100× AQE degrades it to a shuffle
        # instead of a forced-hint driver OOM. nation is a true dim.
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("year"),
            F.month("o_orderdate").cast("bigint").alias("month"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.count_distinct("o_orderkey").alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------- q03
@register(
    "q03_top_customers",
    oracle=f"""
        SELECT c_custkey, c_name,
               {sql_money_sum('o_totalprice')} AS total_spend,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY total_spend DESC, c_custkey ASC
        LIMIT 10
    """,
    doc="Top-k by aggregate: groupBy→orderBy desc→limit (SURVEY §2.4 "
    "A11, §2.6 O2; reference src/models/facts.py:445-455). "
    "TakeOrderedAndProject, tie-broken on key.",
    tags=("agg", "topk"),
)
def q03_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    customer = tbl(spark, sf_dir, "customer")
    return (
        # no broadcast hint: customer grows with SF — AQE/threshold
        # broadcasts it at small SF and degrades to shuffle at 100×
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            money_sum(F.col("o_totalprice")).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------- q04
@register(
    "q04_filter_like_prefix",
    oracle=f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_urgent,
               {sql_money_sum('o_totalprice')} AS urgent_revenue
        FROM orders
        WHERE o_orderpriority LIKE '1-%'
        GROUP BY o_orderstatus
    """,
    doc="Prefix-LIKE filter (SURVEY §2.2 P4 — the reference's "
    "cancellation predicate invoice_no LIKE 'C%', "
    "src/ingestion/retail_data.py:77-80). Pushed to scan as "
    "StringStartsWith.",
    tags=("filter",),
)
def q04_filter_like_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderpriority").like("1-%"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_urgent"),
            money_sum(F.col("o_totalprice")).alias("urgent_revenue"),
        )
    )


# ---------------------------------------------------------------- q05
@register(
    "q05_null_sentinel_filters",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_open,
               CAST(COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS BIGINT) AS n_null_price
        FROM orders
        WHERE o_orderpriority IS NOT NULL
          AND o_orderpriority != ''
          AND o_orderpriority != 'nan'
    """,
    doc="NULL / empty-string / 'nan'-sentinel filtering (SURVEY §2.2 "
    "P3/P5/P11 — pandas astype(str) NaN sentinels, reference "
    "src/models/dimensions.py:166-168).",
    tags=("filter",),
)
def q05_null_sentinel_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    clean = orders.filter(
        F.col("o_orderpriority").isNotNull()
        & (F.col("o_orderpriority") != "")
        & (F.col("o_orderpriority") != "nan")
    )
    return clean.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("n_null_price"),
    )


# ---------------------------------------------------------------- q06
@register(
    "q06_semi_join_in_subquery",
    oracle="""
        SELECT n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_customers_with_urgent
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1-%')
        GROUP BY n_name
    """,
    doc="IN-subquery as left-semi join (SURVEY §2.2 P9 / §2.3 J7; "
    "reference src/models/dimensions.py:88-93).",
    tags=("join", "semi"),
)
def q06_semi_join_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    orders = tbl(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority").like("1-%")).select("o_custkey")
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_customers_with_urgent"))
    )


# ---------------------------------------------------------------- q07
@register(
    "q07_anti_join_orphans",
    oracle="""
        SELECT n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_customers_no_orders
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN orders ON c_custkey = o_custkey
        WHERE o_orderkey IS NULL
        GROUP BY n_name
    """,
    doc="Left-anti orphan detection (SURVEY §2.3 J5/J6 — the "
    "reference's referential-integrity checks, "
    "src/models/facts.py:114-139).",
    tags=("join", "anti"),
)
def q07_anti_join_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    orders = tbl(spark, sf_dir, "orders")
    no_orders = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        no_orders.join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_customers_no_orders"))
    )


# ---------------------------------------------------------------- q08
@register(
    "q08_composite_key_join",
    oracle=f"""
        WITH last_ship AS (
            SELECT l_orderkey, MAX(l_shipdate) AS l_shipdate
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT l.l_orderkey,
               CAST(l.l_shipdate AS DATE) AS last_ship_date,
               CAST(COUNT(*) AS BIGINT) AS n_lines_last_day,
               {sql_money_sum('l.l_extendedprice')} AS last_day_value
        FROM lineitem l
        JOIN last_ship s ON l.l_orderkey = s.l_orderkey AND l.l_shipdate = s.l_shipdate
        GROUP BY 1, 2
    """,
    doc="Composite-key join (SURVEY §2.3 J4 — the reference's 4-key "
    "fct_sales⋈fct_sales_eur join, src/models/facts.py:394-399): "
    "lineitem joined to its per-order max-shipdate on (key, date).",
    tags=("join",),
)
def q08_composite_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("l_shipdate"))
    return (
        li.join(last_ship, ["l_orderkey", "l_shipdate"], "inner")
        .groupBy("l_orderkey", F.to_date("l_shipdate").alias("last_ship_date"))
        .agg(
            F.count(F.lit(1)).alias("n_lines_last_day"),
            money_sum(F.col("l_extendedprice")).alias("last_day_value"),
        )
    )


# ---------------------------------------------------------------- q09
@register(
    "q09_conditional_agg",
    oracle=f"""
        SELECT l_linestatus,
               {sql_money_sum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END")} AS returned_value,
               {sql_money_sum("CASE WHEN l_returnflag != 'R' THEN l_extendedprice ELSE 0 END")} AS kept_value,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returns
        FROM lineitem
        GROUP BY l_linestatus
    """,
    doc="Conditional SUM(CASE WHEN...) split (SURVEY §2.4 A4 — sales "
    "vs returns, reference src/models/facts.py:75-77).",
    tags=("agg",),
)
def q09_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    is_ret = F.col("l_returnflag") == "R"
    ret_val = F.when(is_ret, F.col("l_extendedprice")).otherwise(F.lit(0))
    kept_val = F.when(~is_ret, F.col("l_extendedprice")).otherwise(F.lit(0))
    return li.groupBy("l_linestatus").agg(
        money_sum(ret_val).alias("returned_value"),
        money_sum(kept_val).alias("kept_value"),
        F.sum(F.when(is_ret, 1).otherwise(0)).cast("bigint").alias("n_returns"),
    )


# ---------------------------------------------------------------- q10
@register(
    "q10_conditional_count_distinct",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(DISTINCT CASE WHEN o_orderstatus != 'F' THEN o_orderkey END) AS BIGINT) AS open_orders,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="Conditional COUNT DISTINCT (SURVEY §2.4 A5 — the reference's "
    "cancellation-excluding order count, src/models/facts.py:375-378).",
    tags=("agg",),
)
def q10_conditional_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        AGG.count_distinct_if(
            F.col("o_orderstatus") != "F", F.col("o_orderkey")
        ).alias("open_orders"),
        F.count_distinct("o_custkey").alias("n_customers"),
    )


# ---------------------------------------------------------------- q11
@register(
    "q11_scalar_multi_agg",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(MIN(o_orderdate) AS DATE) AS first_order,
               CAST(MAX(o_orderdate) AS DATE) AS last_order,
               {sql_money_avg('o_totalprice')} AS avg_price,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM orders
    """,
    doc="Ungrouped multi-aggregate probe in one pass (SURVEY §2.4 "
    "A3/A10; reference src/models/facts.py:69-79).",
    tags=("agg",),
)
def q11_scalar_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderkey").alias("n_orders"),
        F.count_distinct("o_custkey").alias("n_customers"),
        F.min(F.to_date("o_orderdate")).alias("first_order"),
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        money_avg(F.col("o_totalprice")).alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# ---------------------------------------------------------------- q12
@register(
    "q12_ratio_nullif",
    oracle=f"""
        SELECT n_name AS nation,
               {sql_money_sum('o_totalprice')}
                   / NULLIF(COUNT(DISTINCT CAST(o_orderdate AS DATE)), 0) AS avg_daily_revenue,
               {sql_money_sum('o_totalprice')}
                   / NULLIF(COUNT(DISTINCT o_orderkey), 0) AS avg_order_value,
               CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS trading_days
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    doc="Derived ratios over aggregates with NULLIF guard (SURVEY "
    "§2.4 A8/A9; reference sql/views/monthly_sales_summary.sql:16,26-28).",
    tags=("agg",),
)
def q12_ratio_nullif(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    # customer scales with SF → no hint (AQE/threshold decides);
    # nation is fixed 25 rows → hint stays
    base = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
    return base.groupBy(F.col("n_name").alias("nation")).agg(
        (
            money_sum(F.col("o_totalprice"))
            / F.nullif(F.count_distinct(F.to_date("o_orderdate")), F.lit(0))
        ).alias("avg_daily_revenue"),
        (
            money_sum(F.col("o_totalprice"))
            / F.nullif(F.count_distinct("o_orderkey"), F.lit(0))
        ).alias("avg_order_value"),
        F.count_distinct(F.to_date("o_orderdate")).alias("trading_days"),
    )


# ---------------------------------------------------------------- q13
@register(
    "q13_weekend_cohort",
    oracle=f"""
        SELECT dayofweek(o_orderdate) IN (0, 6) AS is_weekend,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_money_sum('o_totalprice')} AS revenue,
               {sql_money_avg('o_totalprice')} AS avg_order_value
        FROM orders
        GROUP BY 1
    """,
    doc="Boolean-cohort aggregation on the DuckDB dow semantics "
    "(SURVEY §2.4 A12 + §2.8 — dow 0/6=weekend maps to Spark "
    "dayofweek 1/7; reference src/models/dimensions.py:59, "
    "src/models/facts.py:463-473).",
    tags=("agg", "datetime"),
)
def q13_weekend_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    return orders.groupBy(DT.is_weekend("o_orderdate").alias("is_weekend")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(F.col("o_totalprice")).alias("revenue"),
        money_avg(F.col("o_totalprice")).alias("avg_order_value"),
    )


# ---------------------------------------------------------------- q14
@register(
    "q14_date_parts",
    oracle="""
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS date,
               CAST(year(o_orderdate) AS BIGINT) AS year,
               CAST(month(o_orderdate) AS BIGINT) AS month,
               CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year,
               CAST(week(o_orderdate) AS BIGINT) AS iso_week,
               CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
               dayname(o_orderdate) AS day_name,
               monthname(o_orderdate) AS month_name,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               dayofweek(o_orderdate) IN (0, 6) AS is_weekend
        FROM orders
    """,
    doc="Full date-part extraction surface with DuckDB parity "
    "(SURVEY §2.8 — dow numbering, ISO week/year, day/month names, "
    "date_trunc; reference src/models/dimensions.py:55-75).",
    tags=("datetime",),
)
def q14_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        F.to_date(d).alias("date"),
        F.year(d).cast("bigint").alias("year"),
        F.month(d).cast("bigint").alias("month"),
        DT.iso_year(d).cast("bigint").alias("iso_year"),
        DT.iso_week(d).cast("bigint").alias("iso_week"),
        DT.duck_dow(d).cast("bigint").alias("dow"),
        DT.day_name(d).alias("day_name"),
        DT.month_name(d).alias("month_name"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        DT.is_weekend(d).alias("is_weekend"),
    ).distinct()


# ---------------------------------------------------------------- q15
@register(
    "q15_forward_fill",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS date,
                   {sql_money_sum('o_totalprice')} AS daily_total
            FROM orders GROUP BY 1
        ), bounds AS (
            SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
                   MAX(CAST(o_orderdate AS DATE)) AS hi
            FROM orders
        ), spine AS (
            SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date
            FROM bounds
        )
        SELECT s.date,
               LAST_VALUE(d.daily_total IGNORE NULLS) OVER (
                   ORDER BY s.date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_total
        FROM spine s LEFT JOIN daily d ON s.date = d.date
    """,
    doc="Date-spine densification + LAST_VALUE-ignore-nulls forward "
    "fill — the reference's FX-rate treatment end-to-end (SURVEY "
    "§2.5 W1, §2.9 Q5; reference src/models/facts.py:178-202). "
    "Single-series window; partition by series key at scale.",
    headline=True,
    tags=("window", "datetime"),
)
@plan_memo("q15")
def q15_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("date")).agg(
        money_sum(F.col("o_totalprice")).alias("daily_total")
    )
    spine = DT.date_spine_over(orders, "o_orderdate")
    joined = spine.join(daily, "date", "left")
    filled = W.forward_fill(joined, "daily_total", out_col="filled_total")
    return filled.select("date", "filled_total")


# ---------------------------------------------------------------- q16
@register(
    "q16_lag_gap_detection",
    oracle="""
        WITH dates AS (
            SELECT DISTINCT CAST(o_orderdate AS DATE) AS date FROM orders
        ), with_prev AS (
            SELECT date, LAG(date) OVER (ORDER BY date) AS prev_date FROM dates
        )
        SELECT date, prev_date,
               CAST(date_diff('day', prev_date, date) AS BIGINT) AS gap_days
        FROM with_prev
        WHERE date_diff('day', prev_date, date) > 1
    """,
    doc="LAG-window gap detection — the reference's calendar "
    "continuity check (SURVEY §2.5 W2; reference "
    "src/models/dimensions.py:129-143).",
    tags=("window",),
)
def q16_lag_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    dates = orders.select(F.to_date("o_orderdate").alias("date")).distinct()
    return W.gaps(dates).select(
        "date", "prev_date", F.col("gap_days").cast("bigint").alias("gap_days")
    )


# ---------------------------------------------------------------- q17
@register(
    "q17_union_all_checks",
    oracle="""
        SELECT 'orders_without_customer' AS check_name,
               CAST(COUNT(*) AS BIGINT) AS violations
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        WHERE c_custkey IS NULL
        UNION ALL
        SELECT 'lineitem_without_order',
               CAST(COUNT(*) AS BIGINT)
        FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderkey IS NULL
        UNION ALL
        SELECT 'negative_quantity', CAST(COUNT(*) AS BIGINT)
        FROM lineitem WHERE l_quantity < 0
    """,
    doc="UNION ALL of heterogeneous data-quality checks (SURVEY §2.7 "
    "U1 + §2.3 J5; reference src/models/facts.py:114-150,523-555).",
    tags=("setops", "validation"),
)
def q17_union_all_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    customer = tbl(spark, sf_dir, "customer")
    li = tbl(spark, sf_dir, "lineitem")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("violations")).select(
            F.lit(name).alias("check_name"), "violations"
        )

    c1 = check(
        "orders_without_customer",
        # plain left_anti (no hint): customer scales with SF
        orders.join(
            customer, orders.o_custkey == customer.c_custkey, "left_anti"
        ),
    )
    c2 = check(
        "lineitem_without_order",
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti"),
    )
    c3 = check("negative_quantity", li.filter(F.col("l_quantity") < 0))
    return c1.unionByName(c2).unionByName(c3)


# ---------------------------------------------------------------- q18
@register(
    "q18_cte_scalar_subquery",
    oracle=f"""
        WITH bounds AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS max_d FROM orders
        ), recent AS (
            SELECT * FROM orders
            WHERE CAST(o_orderdate AS DATE)
                  BETWEEN (SELECT max_d - 90 FROM bounds) AND (SELECT max_d FROM bounds)
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_money_sum('o_totalprice')} AS revenue
        FROM recent
        GROUP BY o_orderpriority
    """,
    doc="CTE chain + scalar-subquery range bounds, run as Spark SQL "
    "text (SURVEY §2.9 Q1/Q3; reference src/models/facts.py:180-197, "
    "src/models/dimensions.py:91-92).",
    tags=("sql", "subquery"),
)
def q18_cte_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        WITH bounds AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS max_d FROM orders
        ), recent AS (
            SELECT * FROM orders
            WHERE CAST(o_orderdate AS DATE)
                  BETWEEN (SELECT date_sub(max_d, 90) FROM bounds) AND (SELECT max_d FROM bounds)
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_money_sum('o_totalprice')} AS revenue
        FROM recent
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------- q19
@register(
    "q19_view_over_join",
    oracle=f"""
        SELECT r_name AS region,
               CAST(year(o_orderdate) AS BIGINT) AS year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_money_sum('o_totalprice')} AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    """,
    doc="CREATE OR REPLACE VIEW + query-through-view (SURVEY §2.1 S6; "
    "reference sql/views/monthly_sales_summary.sql). The view text is "
    "the 4-table star join; the query aggregates through it.",
    tags=("sql", "view", "join"),
)
def q19_view_over_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("orders", "customer", "nation", "region"):
        tbl(spark, sf_dir, t).createOrReplaceTempView(t)
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW v_order_geo AS
        SELECT o.*, n.n_name, r.r_name
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        """
    )
    return spark.sql(
        f"""
        SELECT r_name AS region,
               CAST(year(o_orderdate) AS BIGINT) AS year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_money_sum('o_totalprice')} AS revenue
        FROM v_order_geo
        GROUP BY 1, 2
        """
    )


# ---------------------------------------------------------------- q20
@register(
    "q20_deterministic_mode",
    oracle="""
        WITH counted AS (
            SELECT p_brand, p_type, COUNT(*) AS cnt
            FROM part WHERE p_type IS NOT NULL
            GROUP BY p_brand, p_type
        ), ranked AS (
            SELECT p_brand, p_type,
                   ROW_NUMBER() OVER (
                       PARTITION BY p_brand ORDER BY cnt DESC, p_type ASC
                   ) AS rn
            FROM counted
        )
        SELECT p_brand, p_type AS mode_type FROM ranked WHERE rn = 1
    """,
    doc="Deterministic MODE with pinned (count DESC, value ASC) "
    "tie-break (SURVEY §2.4 A1/A2 + §4 — MODE() tie-breaking is "
    "arbitrary in both engines, so the engine pins it; reference "
    "src/models/dimensions.py:157-171): a count per (brand, type), "
    "then per brand the minimum (-count, type) struct — two "
    "aggregates, no window (the oracle keeps its ROW_NUMBER "
    "ranking as the independent twin). MODE is over NON-NULL "
    "values (pandas .mode() drops NaN — the reference's behavior; "
    "deterministic_mode filters them): the oracle's IS NOT NULL "
    "mirrors that (r12 probe — without it a NULL-majority group "
    "made DuckDB crown NULL the mode while the engine returned the "
    "top non-NULL value, and an all-NULL group changed the row "
    "count; latent on the NULL-free driver corpus, pinned by the "
    "q20 probe test).",
    tags=("agg",),
)
def q20_deterministic_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = tbl(spark, sf_dir, "part")
    return AGG.deterministic_mode(part, ["p_brand"], "p_type", "mode_type")


# ---------------------------------------------------------------- q21
@register(
    "q21_multikey_star_agg",
    oracle=f"""
        SELECT CAST(o_orderdate AS DATE) AS date,
               n_name AS nation,
               r_name AS region,
               dayofweek(o_orderdate) IN (0, 6) AS is_weekend,
               CAST(week(o_orderdate) AS BIGINT) AS iso_week,
               CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year,
               CAST(month(o_orderdate) AS BIGINT) AS month,
               CAST(year(o_orderdate) AS BIGINT) AS year,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS orders,
               {sql_money_sum('o_totalprice')} AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2, 3, 4, 5, 6, 7, 8
    """,
    doc="8-key groupBy over the full star (SURVEY §2.4 A6 — the "
    "reference's agg_country_day, src/models/facts.py:366-412). "
    "Fixed-size dims broadcast by hint, customer by AQE/threshold "
    "only; one fact shuffle on the grouping keys.",
    headline=True,
    tags=("agg", "join"),
)
@plan_memo("q21")
def q21_multikey_star_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    region = tbl(spark, sf_dir, "region")
    base = (
        # customer scales with SF → no hint; nation/region are fixed
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
    )
    # the five date attributes are functions of the date key, so the
    # shuffle carries only (date, nation, region) and the date parts
    # are derived on the few-K aggregated rows — same result as an
    # 8-key groupBy at a fraction of the exchange width (the plan
    # that survives 100 TB of orders)
    d = F.col("date")
    agg = base.groupBy(
        F.to_date("o_orderdate").alias("date"),
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
    ).agg(
        F.count_distinct("o_orderkey").alias("orders"),
        money_sum(F.col("o_totalprice")).alias("revenue"),
    )
    return agg.select(
        "date",
        "nation",
        "region",
        DT.is_weekend(d).alias("is_weekend"),
        DT.iso_week(d).cast("bigint").alias("iso_week"),
        DT.iso_year(d).cast("bigint").alias("iso_year"),
        F.month(d).cast("bigint").alias("month"),
        F.year(d).cast("bigint").alias("year"),
        "orders",
        "revenue",
    )


# ---------------------------------------------------------------- q22
@register(
    "q22_distinct_dedup",
    oracle="""
        SELECT DISTINCT o_orderpriority, o_orderstatus
        FROM orders
    """,
    doc="DISTINCT / dropDuplicates (SURVEY §2.2 P12; reference "
    "src/ingestion/holidays_data.py:36-46).",
    tags=("dedup",),
)
def q22_distinct_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    return orders.select("o_orderpriority", "o_orderstatus").distinct()


# ---------------------------------------------------------------- q23
@register(
    "q23_top_per_group",
    oracle="""
        WITH ranked AS (
            SELECT p_brand, p_partkey, p_name, p_retailprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY p_brand
                       ORDER BY p_retailprice DESC, p_partkey ASC
                   ) AS rn
            FROM part
        )
        SELECT p_brand, p_partkey, p_name, p_retailprice
        FROM ranked WHERE rn <= 2
    """,
    doc="Top-k per group via row_number window (guide 'Common OLAP "
    "patterns'; extension beyond the reference's global top-k O2).",
    tags=("window", "topk"),
)
def q23_top_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = tbl(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


# ---------------------------------------------------------------- q24
@register(
    "q24_between_range_scan",
    oracle=f"""
        SELECT CAST(l_shipdate AS DATE) AS ship_date,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sql_money_sum(DISC_PRICE, 4)} AS revenue
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
          AND l_discount BETWEEN 0.02 AND 0.06
          AND l_quantity > 10
        GROUP BY 1
    """,
    doc="BETWEEN range + threshold predicates pushed to the scan "
    "(SURVEY §2.2 P6/P7/P8; reference src/ingestion/holidays_data.py:72-78).",
    tags=("filter",),
)
def q24_between_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            F.to_date("l_shipdate").between(
                F.lit("1996-01-01").cast("date"), F.lit("1996-03-31").cast("date")
            )
            & F.col("l_discount").between(0.02, 0.06)
            & (F.col("l_quantity") > 10)
        )
        .groupBy(F.to_date("l_shipdate").alias("ship_date"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money_sum(disc_price, 4).alias("revenue"),
        )
    )


# ---------------------------------------------------------------- q25
@register(
    "q25_asof_join",
    oracle=f"""
        WITH marks AS (
            SELECT CAST(o_orderdate AS DATE) AS mark_date, o_orderkey
            FROM orders
        ), daily_rate AS (
            SELECT CAST(o_orderdate AS DATE) AS rate_date,
                   {sql_money_avg('o_totalprice')} AS day_avg
            FROM orders
            WHERE dayofweek(o_orderdate) NOT IN (0, 6)
            GROUP BY 1
        )
        SELECT m.o_orderkey, m.mark_date,
               (SELECT r.day_avg FROM daily_rate r
                 WHERE r.rate_date <= m.mark_date
                 ORDER BY r.rate_date DESC LIMIT 1) AS day_avg
        FROM marks m
    """,
    doc="As-of join (backward): attach the most recent weekday "
    "average at-or-before each order date. Spark lacks a native "
    "as-of join — implemented as union + last-ignore-nulls window "
    "(operators/joins.py asof_join), one shuffle, no range explosion.",
    tags=("join", "asof", "window"),
)
def q25_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    marks = orders.select("o_orderkey", F.to_date("o_orderdate").alias("mark_date"))
    daily_rate = (
        orders.filter(~DT.is_weekend("o_orderdate"))
        .groupBy(F.to_date("o_orderdate").alias("rate_date"))
        .agg(money_avg(F.col("o_totalprice")).alias("day_avg"))
    )
    joined = J.asof_join(
        marks,
        daily_rate,
        on_time="mark_date",
        right_time="rate_date",
        direction="backward",
    )
    return joined.select("o_orderkey", "mark_date", "day_avg")
