from __future__ import annotations



from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.operators import scale
from duckdb_retail_pipeline_spark.plans import explain as X
from duckdb_retail_pipeline_spark.queries import REGISTRY
from duckdb_retail_pipeline_spark.queries.base import tbl


def test_approx_aggregates_within_tolerance(spark, sf_dir):
    row = REGISTRY["a05_approx_aggregates"].fn(spark, sf_dir).first()
    assert row["exact_orders"] > 0
    assert row["exact_median_price"] > 0
    # the driver-compared contract columns: sketch error within bound
    assert row["approx_orders_within_tol"] is True
    assert row["approx_median_within_tol"] is True
    # independently RE-DERIVE the tolerances rather than trusting the
    # plan's own booleans: a sketch regression inside the generous
    # in-plan bounds must still be visible somewhere
    li = tbl(spark, sf_dir, "lineitem")
    raw = li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median"),
    ).first()
    assert (
        abs(raw["approx_orders"] - raw["exact_orders"]) / raw["exact_orders"]
        <= 0.10
    )
    assert (
        abs(raw["approx_median"] - raw["exact_median"]) / raw["exact_median"]
        <= 0.05
    )


def test_salted_join_matches_plain_join(spark, sf_dir):
    orders = tbl(spark, sf_dir, "orders")
    customer = tbl(spark, sf_dir, "customer").select("c_custkey", "c_name")
    plain = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        scale.salted_join(
            orders.withColumnRenamed("o_custkey", "c_custkey"), customer, "c_custkey"
        )
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_group_sum_matches_plain(spark, sf_dir):
    li = tbl(spark, sf_dir, "lineitem")
    plain = {
        r["l_returnflag"]: r["t"]
        for r in li.groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("t"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: r["total"]
        for r in scale.salted_group_sum(
            li.withColumn("q", F.col("l_quantity").cast("bigint")),
            ["l_returnflag"],
            "q",
        ).collect()
    }
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    orders = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    scale.write_bucketed(
        orders.select("o_orderkey", "o_totalprice").withColumnRenamed(
            "o_orderkey", "key"
        ),
        "t_orders_b",
        "key",
        8,
    )
    scale.write_bucketed(
        li.withColumnRenamed("l_orderkey", "key"), "t_lineitem_b", "key", 8
    )
    joined = spark.table("t_orders_b").join(spark.table("t_lineitem_b"), "key", "inner")
    # disable broadcast so the join strategy must rely on bucketing;
    # restore the SAVED value, not a hardcoded default (r10 ADVICE)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert joined.count() > 0
        assert X.exchange_count(joined) == 0, X.formatted_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_salted_join_rejects_right_preserving_modes(spark, sf_dir):
    """Right-side replication emits one null-padded phantom per
    unmatched replica under right/full outer — the operator must
    refuse those modes instead of silently corrupting."""
    import pytest

    orders = tbl(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    customer = tbl(spark, sf_dir, "customer").select("c_custkey", "c_name")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError):
            scale.salted_join(orders, customer, "c_custkey", how=how)
    # left joins stay expressible: unmatched LEFT rows appear once
    left = scale.salted_join(orders, customer, "c_custkey", how="left")
    plain = orders.join(customer, "c_custkey", "left")
    assert left.count() == plain.count()


def test_grouped_ols_nonstring_group_and_null_pairs(spark):
    """A bigint group key must flow through (the output schema follows
    the input type), and NULL (x, y) pairs are skipped like the SQL
    regr_* family — not crash the Arrow worker on int(NaN)."""
    from duckdb_retail_pipeline_spark.operators.grouped import grouped_ols

    rows = [
        (7, 0, 0),
        (7, 1, 100),
        (7, 2, 200),
        (7, None, 999999),  # null x — skipped
        (7, 3, None),  # null y — skipped
        (8, 1, 50),
        (8, 2, 50),
    ]
    df = spark.createDataFrame(rows, "uid long, x long, y long")
    out = {r["uid"]: r for r in grouped_ols(df, "uid").collect()}
    assert out[7]["slope"] == 1.0  # cents slope 100/unit → /100.0
    assert out[7]["n"] == 3
    assert out[8]["slope"] == 0.0
    assert grouped_ols(df, "uid").schema["uid"].dataType.simpleString() == "bigint"


def test_write_bucketed_reclaims_orphaned_location(spark, sf_dir):
    """A crashed prior session leaves the managed table's directory
    on disk with NO catalog entry; saveAsTable(mode=overwrite) then
    fails LOCATION_ALREADY_EXISTS because overwrite only replaces
    tables the metastore knows (hit for real while benchmarking at
    the 100× decade). write_bucketed must reclaim the orphan — and
    must NOT touch the location of a table the catalog DOES know,
    where plain overwrite semantics apply."""
    import os

    orders = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    orphan_dir = os.path.join(wh, "t_orphan_b")
    os.makedirs(os.path.join(orphan_dir, "junk"), exist_ok=True)
    with open(os.path.join(orphan_dir, "junk", "part-stale.parquet"), "w") as f:
        f.write("not parquet")
    assert not spark.catalog.tableExists("t_orphan_b")

    scale.write_bucketed(orders, "t_orphan_b", "o_orderkey", 4)
    got = spark.table("t_orphan_b").count()
    assert got == orders.count()
    # the stale junk did not survive into the reclaimed table dir
    assert not os.path.exists(os.path.join(orphan_dir, "junk"))

    # registered-table path: second overwrite goes through saveAsTable
    # overwrite (no orphan branch) and still lands the right rows
    scale.write_bucketed(orders.limit(10), "t_orphan_b", "o_orderkey", 4)
    assert spark.table("t_orphan_b").count() == 10
    spark.sql("DROP TABLE t_orphan_b")


def test_write_bucketed_reclaims_orphan_qualified_name(spark, sf_dir):
    """Qualified db.table names locate under <wh>/<db>.db/<tbl> —
    the reclaim must derive THAT path (self-review: the unsplit leaf
    derived <wh>/db.tbl, a path saveAsTable never writes, silently
    skipping the reclaim)."""
    import os

    orders = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("CREATE DATABASE IF NOT EXISTS tdb")
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    orphan_dir = os.path.join(wh, "tdb.db", "t_orphan_q")
    os.makedirs(orphan_dir, exist_ok=True)
    with open(os.path.join(orphan_dir, "stale"), "w") as f:
        f.write("x")
    assert not spark.catalog.tableExists("tdb.t_orphan_q")

    scale.write_bucketed(orders, "tdb.t_orphan_q", "o_orderkey", 4)
    assert spark.table("tdb.t_orphan_q").count() == orders.count()
    assert not os.path.exists(os.path.join(orphan_dir, "stale"))
    spark.sql("DROP TABLE tdb.t_orphan_q")
    spark.sql("DROP DATABASE tdb")


def test_orphan_location_case_and_catalog_qualified_names(spark, sf_dir):
    """r10 ADVICE + r11 review: (a) the metastore lowercases BOTH
    name segments when deriving managed locations, so a mixed-case
    db.table name must probe the lowercased path — on a
    case-sensitive FS the un-lowered db silently skipped the reclaim
    and saveAsTable then failed LOCATION_ALREADY_EXISTS; (b) an
    EXISTING table spelled with a valid 3-part catalog-qualified
    name must keep its working no-reclaim overwrite path (the r11
    review caught an up-front rejection regressing it); (c) an
    ABSENT 3-part name must be rejected loudly, not mis-split into
    db='cat.db'; (d) an unknown catalog stays loud via tableExists'
    own error."""
    import os

    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    spark.sql("CREATE DATABASE IF NOT EXISTS casedb")
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    orphan_dir = os.path.join(wh, "casedb.db", "t_case_orphan")
    os.makedirs(orphan_dir, exist_ok=True)
    try:
        # (a) mixed-case spelling of BOTH segments must find the orphan
        got = scale._orphaned_table_location(spark, "CaseDB.T_Case_Orphan")
        assert got is not None and got.getName() == "t_case_orphan"

        # (b) existing table via its valid 3-part spelling: no
        # reclaim, and the overwrite write path still works
        orders = tbl(spark, sf_dir, "orders").select("o_orderkey").limit(3)
        scale.write_bucketed(orders, "t_threepart_ok", "o_orderkey", 2)
        assert (
            scale._orphaned_table_location(
                spark, "spark_catalog.default.t_threepart_ok"
            )
            is None
        )
        scale.write_bucketed(
            orders.limit(1), "spark_catalog.default.t_threepart_ok",
            "o_orderkey", 2,
        )
        assert spark.table("t_threepart_ok").count() == 1

        # (c) absent 3-part name: loud ValueError, never a mis-split
        with pytest.raises(ValueError, match="3-part"):
            scale._orphaned_table_location(
                spark, "spark_catalog.default.t_absent_3p"
            )

        # (d) unknown catalog: tableExists' own error propagates
        with pytest.raises(AnalysisException):
            scale._orphaned_table_location(spark, "cat.db.tbl")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_threepart_ok")
        os.rmdir(orphan_dir)
        spark.sql("DROP DATABASE casedb")


def test_orphan_reclaim_is_blind_across_processes(spark, sf_dir, tmp_path):
    """r10 verdict #5c: the harness's in-memory session catalog has
    NO cross-process coordination — a second process sharing the
    same warehouse dir cannot see this process's live tables, so its
    orphan probe reports a LIVE table's location as reclaimable.
    This pins the documented single-writer contract (scale.py
    write_bucketed): concurrent processes must own distinct
    warehouse dirs; shared-metastore deployments get the
    coordination from the metastore instead."""
    import os
    import subprocess
    import sys

    orders = tbl(spark, sf_dir, "orders").select("o_orderkey").limit(5)
    scale.write_bucketed(orders, "t_xproc_live", "o_orderkey", 2)
    try:
        assert spark.catalog.tableExists("t_xproc_live")
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        probe = tmp_path / "probe.py"
        probe.write_text(
            "import sys\n"
            f"sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})\n"
            "from pyspark.sql import SparkSession\n"
            "spark = (SparkSession.builder.master('local[2]')\n"
            f"    .config('spark.sql.warehouse.dir', {wh!r})\n"
            "    .config('spark.ui.enabled', 'false').getOrCreate())\n"
            "spark.sparkContext.setLogLevel('ERROR')\n"
            "from duckdb_retail_pipeline_spark.operators.scale import (\n"
            "    _orphaned_table_location,\n"
            ")\n"
            "loc = _orphaned_table_location(spark, 't_xproc_live')\n"
            "print('ORPHAN' if loc is not None else 'VISIBLE')\n"
        )
        r = subprocess.run(
            [sys.executable, str(probe)],
            capture_output=True,
            text=True,
            timeout=300,
            cwd=str(tmp_path),
        )
        assert "ORPHAN" in r.stdout, (r.stdout, r.stderr[-500:])
    finally:
        spark.sql("DROP TABLE IF EXISTS t_xproc_live")
