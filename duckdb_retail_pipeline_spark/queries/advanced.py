"""Advanced relational surface: operators the reference never uses
(SURVEY notes "no grouping sets / cube / rollup / approximate
aggregates appear", "no INTERSECT/EXCEPT") but that a complete
engine offers. Each gets the same oracle treatment.
"""

from __future__ import annotations

# per-module-execution nonce for the registry's paste-vs-reload
# discrimination (queries/base.py register): reload re-executes this
# line and mints a new token; a pasted duplicate registers under the
# same one
_EXEC_TOKEN = object()

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.functions.aggregates import cents
from duckdb_retail_pipeline_spark.queries.base import (
    dround,
    money_sum,
    register,
    sql_dround,
    sql_money_sum,
    tbl,
)


# ---------------------------------------------------------------- a01
@register(
    "a01_rollup",
    oracle=f"""
        SELECT r_name AS region, n_name AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               {sql_money_sum('c_acctbal')} AS total_balance
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
    """,
    doc="ROLLUP hierarchy totals (region → nation → grand total): "
    "subtotal rows carry NULL grouped-out keys in both engines. "
    "ZERO-ROW input is a documented engine divergence (r13 probe, "
    "pinned): Spark's Expand-based grouping sets emit NO rows on "
    "empty input, while DuckDB (SQL-standard scalar-aggregate "
    "semantics for the () set) emits one grand-total row with "
    "count 0 — every registered corpus is non-empty, so the gates "
    "never see it.",
    tags=("agg", "grouping-sets"),
)
def a01_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    region = tbl(spark, sf_dir, "region")
    base = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
    return base.rollup(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        money_sum(F.col("c_acctbal")).alias("total_balance"),
    )


# ---------------------------------------------------------------- a02
@register(
    "a02_cube",
    oracle="""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    doc="CUBE: all 2^k grouping-set combinations of (status, "
    "priority). Zero-row input: same documented engine divergence "
    "as a01 (Spark emits no rows; DuckDB emits the () grand-total "
    "row — r13 probe, pinned).",
    tags=("agg", "grouping-sets"),
)
def a02_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    return orders.cube(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))


# ---------------------------------------------------------------- a03
@register(
    "a03_intersect_except",
    oracle="""
        SELECT 'both' AS cohort, c_custkey FROM (
            SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        )
        UNION ALL
        SELECT 'urgent_only', c_custkey FROM (
            SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        )
    """,
    doc="INTERSECT / EXCEPT (distinct set semantics) — absent from "
    "the reference (SURVEY §2.7), present in the engine.",
    tags=("setops",),
)
def a03_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("c_custkey")
    )
    both = urgent.intersect(low).select(F.lit("both").alias("cohort"), "c_custkey")
    # subtract = ANSI EXCEPT (set semantics); exceptAll would keep
    # surplus multiplicity
    only = urgent.subtract(low).select(
        F.lit("urgent_only").alias("cohort"), "c_custkey"
    )
    return both.unionByName(only)


# ---------------------------------------------------------------- a04
@register(
    "a04_unpivot",
    oracle="""
        SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
    """,
    doc="Unpivot/melt wide→long (DataFrame.unpivot; oracle as the "
    "equivalent UNION ALL).",
    tags=("reshape",),
)
def a04_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = tbl(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.col("p_retailprice"), F.col("p_size").cast("double")
    ).unpivot("p_partkey", ["p_retailprice", "p_size"], "metric", "value")


# ---------------------------------------------------------------- a05
@register(
    "a05_approx_aggregates",
    # The sketches themselves are engine-specific (Spark HLL++ vs
    # whatever DuckDB would use), so the compared frame carries the
    # EXACT values (hash-matched) plus booleans asserting the sketch
    # error bound — the oracle side states the contract as TRUE; a
    # sketch drifting out of tolerance flips the boolean and fails the
    # hash. Raw sketch values are tolerance-tested in
    # tests/test_advanced.py.
    # median over integer cents, one /100 division at the end (the
    # a15 pattern): interpolation between two raw 2-dp doubles can
    # land exactly on a .xx5 boundary where a last-ulp difference in
    # the engines' lerp flips dround(2); on exact ints it can't.
    oracle=f"""
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
               {sql_dround('quantile_cont(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT), 0.5) / 100.0', 6)}
                   AS exact_median_price,
               TRUE AS approx_orders_within_tol,
               TRUE AS approx_median_within_tol
        FROM lineitem
    """,
    doc="Approximate aggregates for 100 TB interactive work: "
    "approx_count_distinct (HyperLogLog++, rsd 0.05) and "
    "percentile_approx (KLL-style) — sketch-based, single-pass, "
    "mergeable across partitions. Exact columns hash-matched; sketch "
    "error bounds driver-checked as boolean contracts.",
    tags=("agg", "approx"),
)
def a05_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    price_cents = cents(F.col("l_extendedprice"), 100)
    agg = li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.count_distinct("l_orderkey").cast("bigint").alias("exact_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median_raw"),
        (F.percentile(price_cents, F.lit(0.5)) / 100.0).alias("exact_median_cents"),
    )
    return agg.select(
        F.col("exact_orders"),
        dround("exact_median_cents", 6).alias("exact_median_price"),
        # HLL++ at rsd=0.05: assert 2× headroom (10% relative error)
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 0.10 * F.col("exact_orders")
        ).alias("approx_orders_within_tol"),
        # percentile_approx default accuracy 10000 → rank error ≤1e-4;
        # assert the value lands within 5% of the exact median. On a
        # ZERO-ROW corpus both medians are NULL and the comparison
        # would emit NULL where the oracle states the contract as
        # literal TRUE (r13 zero-row probe) — the tolerance holds
        # VACUOUSLY when there is nothing to compare, so that one
        # case is pinned TRUE explicitly; a sketch returning NULL
        # against a real exact median still falls through to the
        # comparison (NULL ≠ TRUE fails the hash — not masked).
        F.when(
            F.col("approx_median_price").isNull()
            & F.col("exact_median_raw").isNull(),
            F.lit(True),
        )
        .otherwise(
            F.abs(F.col("approx_median_price") - F.col("exact_median_raw"))
            <= 0.05 * F.col("exact_median_raw")
        )
        .alias("approx_median_within_tol"),
    )


# ---------------------------------------------------------------- a07
@register(
    "a07_merge_upsert",
    oracle=f"""
        WITH updates AS (
            SELECT c_custkey, c_name, c_nationkey,
                   c_acctbal + 100.0 AS c_acctbal, c_mktsegment
            FROM customer WHERE c_custkey % 7 = 0
        ), inserts AS (
            SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey,
                   0.0 AS c_acctbal, 'NEW' AS c_mktsegment
            FROM customer WHERE c_custkey % 11 = 0
        ), upd AS (
            SELECT * FROM updates UNION ALL SELECT * FROM inserts
        ), kept AS (
            SELECT t.* FROM customer t LEFT JOIN upd u ON t.c_custkey = u.c_custkey
            WHERE u.c_custkey IS NULL
        ), merged AS (
            SELECT * FROM kept UNION ALL SELECT * FROM upd
        )
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_money_sum('c_acctbal')} AS total_balance
        FROM merged
        GROUP BY c_mktsegment
    """,
    doc="MERGE/upsert emulation (no Delta in the image): matched rows "
    "replaced, new rows inserted, via anti-join + union "
    "(operators/merge.py upsert) — summarized per segment.",
    tags=("merge", "cdc"),
)
def a07_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.operators.merge import upsert

    customer = tbl(spark, sf_dir, "customer")
    updates = customer.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100.0
    )
    inserts = customer.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        "c_name",
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    merged = upsert(customer, updates.unionByName(inserts), ["c_custkey"])
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("c_acctbal")).alias("total_balance"),
    )


# ---------------------------------------------------------------- a08
@register(
    "a08_scd2_history",
    oracle="""
        WITH v1 AS (
            SELECT c_custkey, c_mktsegment,
                   DATE '2020-01-01' AS effective_from
            FROM customer
        ), changes AS (
            SELECT c_custkey, 'MOVED' AS c_mktsegment,
                   DATE '2021-06-01' AS effective_from
            FROM customer WHERE c_custkey % 4 = 0
        ), combined AS (
            SELECT * FROM v1 UNION ALL SELECT * FROM changes
        ), hist AS (
            SELECT *,
                   LEAD(effective_from) OVER (
                       PARTITION BY c_custkey ORDER BY effective_from
                   ) AS effective_to
            FROM combined
        )
        SELECT c_custkey, c_mktsegment, effective_from, effective_to,
               effective_to IS NULL AS is_current
        FROM hist
    """,
    doc="SCD2 dimension versioning: changes append as new versions; "
    "a lead window closes superseded rows (operators/merge.py "
    "scd2_apply). History stays as-of-queryable.",
    tags=("merge", "scd2", "window"),
)
def a08_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.operators.merge import scd2_apply

    customer = tbl(spark, sf_dir, "customer")
    v1 = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2020-01-01").cast("date").alias("effective_from"),
    )
    changes = customer.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        F.lit("MOVED").alias("c_mktsegment"),
        F.lit("2021-06-01").cast("date").alias("effective_from"),
    )
    return scd2_apply(v1, changes, ["c_custkey"])


# ---------------------------------------------------------------- a09
@register(
    "a09_moving_average",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS date,
                   SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1
        ), win AS (
            SELECT date,
                   SUM(cents) OVER (
                       ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
                   ) AS w_cents,
                   SUM(n) OVER (
                       ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
                   ) AS w_n
            FROM daily
        )
        SELECT date,
               CAST(w_cents / (w_n * 100.0) AS DOUBLE) AS avg_order_value_7d
        FROM win
    """,
    doc="7-day moving average over a sliding ROWS frame — exact "
    "integer-cents inside the window so the result is bit-stable.",
    tags=("window",),
)
def a09_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = tbl(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("date")).agg(
        F.sum(cents(F.col("o_totalprice"), 100)).alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy("date").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "date",
        (
            F.sum("cents").over(w) / (F.sum("n").over(w) * F.lit(100.0))
        ).alias("avg_order_value_7d"),
    )


# ---------------------------------------------------------------- a10
@register(
    "a10_string_functions",
    oracle="""
        SELECT o_orderkey,
               upper(o_orderpriority) AS pri_upper,
               substr(o_orderpriority, 1, 1) AS pri_code,
               CAST(length(o_orderclerk) AS BIGINT) AS clerk_len,
               regexp_extract(o_orderclerk, '([0-9]+)', 1) AS clerk_num,
               lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS padded_key,
               replace(o_orderpriority, '-', '_') AS pri_snake,
               split_part(o_orderpriority, '-', 2) AS pri_word
        FROM (
            SELECT o_orderkey, o_orderpriority,
                   'Clerk#' || CAST(o_custkey AS VARCHAR) AS o_orderclerk
            FROM orders
        ) t
    """,
    doc="String-function surface: upper/substr/length/regexp_extract/"
    "lpad/replace/split_part — dialect-aligned between engines.",
    tags=("strings",),
)
def a10_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    t = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.concat(F.lit("Clerk#"), F.col("o_custkey").cast("string")).alias(
            "o_orderclerk"
        ),
    )
    return t.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("pri_upper"),
        F.substring("o_orderpriority", 1, 1).alias("pri_code"),
        F.length("o_orderclerk").cast("bigint").alias("clerk_len"),
        F.regexp_extract("o_orderclerk", "([0-9]+)", 1).alias("clerk_num"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("padded_key"),
        F.replace(
            F.col("o_orderpriority"), F.lit("-"), F.lit("_")
        ).alias("pri_snake"),
        F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(2)).alias(
            "pri_word"
        ),
    )


# ---------------------------------------------------------------- a06
@register(
    "a06_grouping_sets_sql",
    oracle="""
        SELECT o_orderstatus AS status,
               CAST(year(o_orderdate) AS BIGINT) AS year,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), ())
    """,
    doc="Explicit GROUPING SETS via Spark SQL text. Zero-row input: "
    "same documented engine divergence as a01 (Spark emits no rows; "
    "DuckDB emits the () grand-total row — r13 probe, pinned).",
    tags=("agg", "grouping-sets", "sql"),
)
def a06_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus AS status,
               CAST(year(o_orderdate) AS BIGINT) AS year,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), ())
        """
    )


# ---------------------------------------------------------------- a11
@register(
    "a11_window_rank_surface",
    oracle="""
        SELECT n_name AS nation, c_custkey, c_acctbal,
               CAST(RANK() OVER w AS BIGINT) AS bal_rank,
               CAST(DENSE_RANK() OVER w AS BIGINT) AS bal_dense_rank,
               PERCENT_RANK() OVER w AS bal_pct_rank,
               CUME_DIST() OVER w AS bal_cume_dist,
               CAST(NTILE(4) OVER w AS BIGINT) AS bal_quartile,
               LEAD(c_custkey, 1, -1) OVER w AS next_custkey,
               NTH_VALUE(c_custkey, 2) OVER (
                   PARTITION BY n_name
                   ORDER BY c_acctbal DESC, c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS runnerup_custkey
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey)
    """,
    doc="Ranking-window surface in one pass: rank / dense_rank / "
    "percent_rank / cume_dist / ntile / lead / nth_value per nation. "
    "The window ORDER BY carries the unique custkey tie-break so "
    "every function is total-ordered (base.py convention 4 applied "
    "to window frames).",
    tags=("window",),
)
def a11_window_rank_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    base = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return base.select(
        F.col("n_name").alias("nation"),
        "c_custkey",
        "c_acctbal",
        F.rank().over(w).cast("bigint").alias("bal_rank"),
        F.dense_rank().over(w).cast("bigint").alias("bal_dense_rank"),
        F.percent_rank().over(w).alias("bal_pct_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
        F.ntile(4).over(w).cast("bigint").alias("bal_quartile"),
        F.lead("c_custkey", 1, -1).over(w).alias("next_custkey"),
        F.nth_value("c_custkey", 2).over(wfull).alias("runnerup_custkey"),
    )


# ---------------------------------------------------------------- a12
@register(
    "a12_array_agg_surface",
    oracle="""
        WITH g AS (
            SELECT n_name AS nation,
                   -- COALESCE to []: an all-NULL group's FILTERed
                   -- aggregate is NULL in DuckDB, but Spark's
                   -- collect_set is the EMPTY ARRAY there
                   list_sort(COALESCE(list(DISTINCT o_orderpriority)
                             FILTER (o_orderpriority IS NOT NULL), [])) AS ps
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT nation,
               -- empty-list string is NULL in DuckDB, '' in Spark
               COALESCE(array_to_string(ps, '|'), '') AS priorities,
               CAST(len(ps) AS BIGINT) AS n_priorities,
               list_contains(ps, '1-URGENT') AS has_urgent,
               ps[1] AS first_priority
        FROM g
    """,
    doc="Array aggregation surface: collect_set → array_sort → size / "
    "array_contains / try_element_at — Spark ArrayType vs DuckDB "
    "LIST. The collected set is over NON-NULL values (Spark's "
    "collect_set drops NULLs; the oracle's FILTER mirrors that — r12 "
    "probe: DuckDB's list(DISTINCT) KEEPS NULL, so n_priorities "
    "diverged on NULL-priority data), and the first element reads "
    "via try_element_at (ANSI element_at THROWS on the empty array "
    "an all-NULL group produces; DuckDB ps[1] is NULL there). The "
    "array itself is serialized with array_join('|') for the "
    "compared frame (the driver's canonicalizer hashes scalar cells "
    "only); the array ops stay in the plan. `customer` scales with SF "
    "so it carries no broadcast hint — AQE/threshold picks the join.",
    tags=("agg", "arrays"),
)
def a12_array_agg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    base = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
    agg = base.groupBy(F.col("n_name").alias("nation")).agg(
        F.array_sort(F.collect_set("o_orderpriority")).alias("priorities_arr")
    )
    return agg.select(
        "nation",
        F.array_join("priorities_arr", "|").alias("priorities"),
        F.size("priorities_arr").cast("bigint").alias("n_priorities"),
        F.array_contains("priorities_arr", "1-URGENT").alias("has_urgent"),
        # try_element_at, not element_at: ANSI mode throws
        # INVALID_ARRAY_INDEX on the empty array an all-NULL-priority
        # group produces (r12 probe); NULL is the cross-engine answer
        F.try_element_at("priorities_arr", F.lit(1)).alias("first_priority"),
    )


# ---------------------------------------------------------------- a13
@register(
    "a13_correlated_subqueries",
    oracle="""
        SELECT c_custkey, c_name,
               CAST((SELECT COUNT(*) FROM orders o
                     WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
        FROM customer c
        WHERE EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '5-LOW')
    """,
    doc="Correlated subquery surface: EXISTS (semi), NOT EXISTS "
    "(anti) and a correlated scalar COUNT — Catalyst decorrelates "
    "all three into joins (RewritePredicateSubquery / "
    "RewriteCorrelatedScalarSubquery), so the executed plan is "
    "join-based, not nested-loop.",
    tags=("subquery", "join"),
)
def a13_correlated_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               CAST((SELECT COUNT(*) FROM orders o
                     WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
        FROM customer c
        WHERE EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '5-LOW')
        """
    )


# ---------------------------------------------------------------- a14
@register(
    "a14_regex_surface",
    oracle="""
        SELECT p_partkey,
               CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT)
                   AS brand_number,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
               string_split(p_type, ' ')[1] AS type_head,
               CAST(len(string_split(p_type, ' ')) AS BIGINT) AS type_words,
               regexp_matches(p_name, 'red|blue') AS has_color
        FROM part
    """,
    doc="Regex + split surface: regexp_extract with capture group, "
    "regexp_replace (global), split + element_at, rlike — patterns "
    "kept to the RE2/Java-regex common subset so both engines agree.",
    tags=("strings", "regex"),
)
def a14_regex_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = tbl(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"([0-9]+)", 1).cast("bigint").alias(
            "brand_number"
        ),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
        F.element_at(F.split("p_type", " "), 1).alias("type_head"),
        F.size(F.split("p_type", " ")).cast("bigint").alias("type_words"),
        F.col("p_name").rlike("red|blue").alias("has_color"),
    )


# ---------------------------------------------------------------- a15
@register(
    "a15_exact_percentiles",
    oracle="""
        SELECT n_name AS nation,
               CAST(CAST(quantile_cont(bal_cents, 0.25) / 100.0
                    AS DECIMAL(28,6)) AS DOUBLE) AS p25,
               CAST(CAST(quantile_cont(bal_cents, 0.5) / 100.0
                    AS DECIMAL(28,6)) AS DOUBLE) AS median,
               CAST(CAST(quantile_cont(bal_cents, 0.75) / 100.0
                    AS DECIMAL(28,6)) AS DOUBLE) AS p75,
               CAST(CAST(quantile_cont(bal_cents, 0.9) / 100.0
                    AS DECIMAL(28,6)) AS DOUBLE) AS p90
        FROM (
            SELECT n_name,
                   CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        )
        GROUP BY n_name
    """,
    doc="Exact (interpolated) percentiles per group — Spark "
    "percentile() vs DuckDB quantile_cont over integer cents; the "
    "linear interpolation on exact ints is bit-identical, decimal "
    "rounding guards the /100 rescale.",
    tags=("agg", "percentile"),
)
def a15_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.queries.base import dround

    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    base = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        cents(F.col("c_acctbal"), 100).alias("bal_cents"),
    )
    # ONE percentile buffer for all four fractions (array form): four
    # scalar percentile() calls build four identical per-group
    # count-map buffers and merge each through the shuffle — measured
    # on x68 at the 100× decade, the array form was 3.9× faster on
    # the aggregation (r9); values identical, same exact
    # interpolation
    agg = base.groupBy("nation").agg(
        F.percentile(
            "bal_cents", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.9)])
        ).alias("pcts"),
    )
    return agg.select(
        "nation",
        dround(F.col("pcts")[0] / 100.0, 6).alias("p25"),
        dround(F.col("pcts")[1] / 100.0, 6).alias("median"),
        dround(F.col("pcts")[2] / 100.0, 6).alias("p75"),
        dround(F.col("pcts")[3] / 100.0, 6).alias("p90"),
    )


# ---------------------------------------------------------------- a16
@register(
    "a16_correlated_avg_filter",
    oracle=f"""
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_small_lines,
               {sql_money_sum('l_extendedprice')} AS small_line_revenue
        FROM lineitem l1
        JOIN part ON l_partkey = p_partkey
        WHERE l_quantity < (
            SELECT AVG(l_quantity) / CAST(5 AS DOUBLE)
            FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
        )
        GROUP BY p_brand
    """,
    doc="Correlated scalar AGGREGATE subquery (the TPC-H Q17 "
    "pattern): lines below 20% of their part's average quantity. "
    "Catalyst decorrelates into an aggregate + join on l_partkey — "
    "the fact-fact correlated pattern, distinct from a13's "
    "dim-correlated probes.",
    tags=("subquery", "agg", "join"),
)
def a16_correlated_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    tbl(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        f"""
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_small_lines,
               {sql_money_sum('l_extendedprice')} AS small_line_revenue
        FROM lineitem l1
        JOIN part ON l_partkey = p_partkey
        WHERE l_quantity < (
            SELECT AVG(l_quantity) / CAST(5 AS DOUBLE)
            FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
        )
        GROUP BY p_brand
        """
    )


# ---------------------------------------------------------------- a17
_A17_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _a17_cols() -> list[tuple[str, str]]:
    return [(r, r.lower().replace(" ", "_")) for r in _A17_REGIONS]


@register(
    "a17_pivot_surface",
    oracle=f"""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
               {", ".join(
                   sql_money_sum(f"CASE WHEN r_name = '{r}' THEN o_totalprice END")
                   + f" AS {alias}"
                   for r, alias in _a17_cols()
               )}
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1
    """,
    doc="PIVOT long→wide (DataFrame.groupBy().pivot() with an "
    "EXPLICIT value list — the implicit form adds a distinct-scan "
    "job and a nondeterministic column order; oracle as the "
    "equivalent conditional aggregation): yearly revenue per "
    "region as columns. The pivot compiles to one hash aggregate "
    "over (year) with conditional sums — a single shuffle on the "
    "group key at any scale; region/nation/customer joins stay "
    "broadcast (fixed-size dims).",
    tags=("reshape", "agg"),
)
def a17_pivot_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        tbl(spark, sf_dir, "orders")
        .join(tbl(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(tbl(spark, sf_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(tbl(spark, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    pivoted = (
        o.withColumn("order_year", F.year("o_orderdate").cast("bigint"))
        .groupBy("order_year")
        .pivot("r_name", _A17_REGIONS)
        .agg(money_sum(F.col("o_totalprice")))
    )
    return pivoted.select(
        "order_year",
        *[F.col(f"`{r}`").alias(alias) for r, alias in _a17_cols()],
    )
