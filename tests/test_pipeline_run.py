from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark import memo
from duckdb_retail_pipeline_spark.pipeline import staging
from duckdb_retail_pipeline_spark.pipeline.run import (
    _CACHED,
    LAYER_ORDER,
    build_layer,
    layer_plan,
    run_pipeline,
)
from duckdb_retail_pipeline_spark.pipeline.validate import validation_checks


def test_run_pipeline_materializes_and_validates(spark, sf_dir):
    with tempfile.TemporaryDirectory() as wh:
        paths = run_pipeline(spark, sf_dir, wh, rebuild=True)
        assert set(paths) == set(LAYER_ORDER)
        for name, path in paths.items():
            assert os.path.isdir(path), name

        # every layer is flat: no key=value partition directory, and the
        # facts read back with exactly their builders' columns
        for name, path in paths.items():
            parts = [
                d for d in os.listdir(path)
                if "=" in d and os.path.isdir(os.path.join(path, d))
            ]
            assert not parts, (name, parts)
        for fact in ("fct_sales", "fct_sales_eur"):
            got = spark.read.parquet(paths[fact]).columns
            assert got == layer_plan(spark, sf_dir, fact).columns, (fact, got)

        # every reference-ported validation check must be clean
        validation = spark.read.parquet(paths["validation"]).collect()
        assert len(validation) == 8
        bad = {r["check_name"]: r["violations"] for r in validation if r["violations"]}
        assert not bad, f"validation violations: {bad}"

        # golden-surface schema contract (FIXTURES.md §2)
        agg = spark.read.parquet(paths["agg_country_day"])
        # the view's trading_days counts dates: it needs this key unique
        assert agg.count() == agg.select("date", "country").distinct().count()
        assert set(agg.columns) == {
            "date", "country", "orders", "items", "net_qty",
            "net_revenue_gbp", "net_revenue_eur", "is_weekend",
            "is_uk_holiday", "iso_week", "iso_year", "month", "year",
        }
        view = spark.read.parquet(paths["v_monthly_sales_summary"])
        assert set(view.columns) == {
            "year", "month", "month_start_date", "country", "trading_days",
            "total_orders", "total_items", "total_quantity",
            "total_revenue_gbp", "total_revenue_eur",
            "avg_daily_revenue_gbp", "avg_daily_orders", "avg_order_value_gbp",
        }


def test_run_pipeline_reads_back_on_demand_with_written_schema(spark, sf_dir, monkeypatch):
    """Every warehouse read-back carries the schema just written (a
    schema-inferring read runs a footer-reading Spark job), each layer
    is read at most once, and a layer no builder asks for is never
    read."""
    from pyspark.sql.readwriter import DataFrameReader

    reads = []
    orig = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        reads.append((paths, self._jreader.userSpecifiedSchema().isDefined()))
        return orig(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    with tempfile.TemporaryDirectory() as wh:
        run_pipeline(spark, sf_dir, wh)
    back = [(p, given) for paths, given in reads for p in paths if p.startswith(wh)]
    assert back and all(given for _, given in back), back
    layers = [os.path.basename(p) for p, _ in back]
    assert len(layers) == len(set(layers)), layers
    assert set(layers) == set(LAYER_ORDER) - {"validation", "v_monthly_sales_summary"}


def test_rebuild_false_refuses_overwrite(spark, sf_dir):
    with tempfile.TemporaryDirectory() as wh:
        run_pipeline(spark, sf_dir, wh, rebuild=True)
        with pytest.raises(Exception):  # noqa: B017 — AnalysisException: path exists
            run_pipeline(spark, sf_dir, wh, rebuild=False)


@pytest.fixture
def data_copy(sf_dir, tmp_path):
    """A tmp COPY of the dataset, so unpersisting the test's cache
    entries cannot drop plan-canonical-equal entries shared with the
    session-memoized layers other tests use. Its memo entries are
    unpersisted and dropped afterwards."""
    data = str(tmp_path / "data")
    shutil.copytree(sf_dir, data)
    yield data
    for key in [k for k in memo._MEMO if k[1] == data]:
        memo._unpersist(memo._MEMO.pop(key)[1])


def _layer_entries(data: str) -> dict:
    """tag -> memoized value of every ``layer:`` entry for ``data``."""
    return {
        k[2]: v
        for k, (_, v) in memo._MEMO.items()
        if k[1] == data and k[2].startswith("layer:")
    }


def test_layer_fill_is_dependency_pruned(spark, data_copy):
    """build_layer builds only the requested layer's ancestor chain —
    dim_calendar must not construct fct/eur/agg/validation plans (an
    eager whole-pipeline build billed ~1.5 s of downstream py4j plan
    construction to a pl03-only caller), a staging frame alone does not
    checkpoint ``raw_retail_data`` — and a repeat call returns the SAME
    handle."""
    build_layer(spark, data_copy, "raw_fx_rates")
    assert set(_layer_entries(data_copy)) == {"layer:raw_fx_rates"}
    cal = build_layer(spark, data_copy, "dim_calendar")
    assert set(_layer_entries(data_copy)) == {
        "layer:raw_fx_rates", "layer:raw_retail_data", "layer:raw_uk_holidays",
        "layer:dim_calendar",
    }
    assert build_layer(spark, data_copy, "dim_calendar") is cal
    assert cal.count() > 0  # and it executes
    # every declared layer is reachable, each under its own entry
    for name in LAYER_ORDER:
        assert build_layer(spark, data_copy, name) is not None
    assert set(_layer_entries(data_copy)) == {f"layer:{name}" for name in LAYER_ORDER}


def test_concurrent_build_layer_builds_each_layer_once(spark, data_copy, monkeypatch):
    """Threads racing a first build_layer call on one dataset must share
    ONE handle per layer: the memo's per-key locks serialize same-layer
    builds while a nested build resolves its ancestors."""
    import threading
    import time

    real_load = staging.load_staging
    loads, results, errors = [], [], []

    def slow_load(spark, sf_dir):
        loads.append(1)
        time.sleep(0.2)  # widen the race window
        return real_load(spark, sf_dir)

    monkeypatch.setattr(staging, "load_staging", slow_load)
    gate = threading.Barrier(8)

    def worker():
        try:
            gate.wait(timeout=10)
            results.append(build_layer(spark, data_copy, "agg_country_day"))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(loads) == 1, f"staging loaded {len(loads)} times"
    entries = _layer_entries(data_copy)
    assert len(results) == 8
    assert all(df is entries["layer:agg_country_day"] for df in results)
    assert set(entries) == {
        "layer:raw_retail_data", "layer:raw_fx_rates", "layer:raw_uk_holidays",
        "layer:dim_calendar", "layer:dim_product",
        "layer:dim_customer", "layer:fct_sales", "layer:daily_fx_rates",
        "layer:fct_sales_eur", "layer:agg_country_day",
    }


def _leaf_rdd_id(df) -> int:
    return df._jdf.queryExecution().logical().rdd().id()


def _stored_rdd_ids(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_cached_layers_are_checkpointed_leaves(spark, data_copy):
    """Every materialized layer is served as ONE LogicalRDD leaf, so a
    query over it is planned without its upstream chain."""
    for name in sorted(_CACHED):
        plan = build_layer(spark, data_copy, name)._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        assert leaves.size() == 1, (name, plan.toString())
        assert leaves.apply(0).getClass().getSimpleName() == "LogicalRDD", (name, plan.toString())


def test_dataset_change_frees_evicted_leaf_blocks(spark, data_copy):
    """DataFrame.unpersist() does not free checkpoint blocks; the memo's
    eviction must, as soon as a dataset change replaces the entries."""
    old = {name: _leaf_rdd_id(build_layer(spark, data_copy, name)) for name in _CACHED}
    assert set(old.values()) <= _stored_rdd_ids(spark)

    part = next(
        os.path.join(data_copy, f) for f in sorted(os.listdir(data_copy))
        if f.endswith(".parquet") and os.path.isfile(os.path.join(data_copy, f))
    )
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))

    build_layer(spark, data_copy, "agg_country_day")  # re-signs every cached layer
    stored = _stored_rdd_ids(spark)
    assert not set(old.values()) & stored, {n: i for n, i in old.items() if i in stored}
    assert _leaf_rdd_id(build_layer(spark, data_copy, "agg_country_day")) in stored


def test_validation_counts_injected_violations(spark, sf_dir):
    """Each fused check still sees its own kind of bad row: two fact rows
    whose date, product and customer are in no dimension (one uncovered
    date between them), and one EUR row with a NULL amount."""
    L = {name: build_layer(spark, sf_dir, name) for name in LAYER_ORDER[3:10]}
    orphans = (
        L["fct_sales"].limit(2)
        .withColumn("date", F.to_date(F.lit("1900-01-01")))
        .withColumn("stock_code", F.lit("NO-SUCH-SKU"))
        .withColumn("customer_id", F.lit(-999.0))
    )
    null_eur = L["fct_sales_eur"].limit(1).withColumn(
        "gross_amount_eur", F.lit(None).cast("double")
    )
    rows = validation_checks(
        L["dim_calendar"],
        L["dim_product"],
        L["dim_customer"],
        L["fct_sales"].unionByName(orphans),
        L["daily_fx_rates"],
        L["fct_sales_eur"].unionByName(null_eur),
        L["agg_country_day"],
    ).collect()
    assert [r["check_name"] for r in rows] == [
        "calendar_gaps", "orphan_vs_calendar", "orphan_vs_product",
        "orphan_vs_customer", "fx_uncovered_dates", "null_eur_conversion",
        "negative_orders_or_items", "fx_sanity_ratio",
    ]
    assert {r["check_name"]: r["violations"] for r in rows} == {
        "calendar_gaps": 0,
        "orphan_vs_calendar": 2,
        "orphan_vs_product": 2,
        "orphan_vs_customer": 2,
        "fx_uncovered_dates": 1,
        "null_eur_conversion": 1,
        "negative_orders_or_items": 0,
        "fx_sanity_ratio": 0,
    }
