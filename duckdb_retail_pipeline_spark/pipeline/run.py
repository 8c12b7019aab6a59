"""Pipeline orchestration (reference src/run.py:50-87).

The layer graph is declared once, in ``_LAYERS``: each layer's plan
builder over a lookup of its upstream layers. Two modes read it:

- ``build_layer``: one layer as a lazy DataFrame, memoized per
  (session, dataset, layer) — what the query registry uses; Catalyst
  sees the layer's whole ancestor chain and optimizes across it.
- ``run_pipeline``: materialized mode — each layer written to a
  parquet warehouse dir (the Spark analogue of the reference's
  DROP+CTAS layering), facts **partitioned by month** so downstream
  date-range queries prune partitions; this is the 100 TB layout.
  ``--rebuild`` maps to mode("overwrite") (reference src/run.py:41-42).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark import memo
from duckdb_retail_pipeline_spark.pipeline import staging
from duckdb_retail_pipeline_spark.pipeline.aggregates import build_agg_country_day
from duckdb_retail_pipeline_spark.pipeline.dimensions import (
    build_dim_calendar,
    build_dim_customer,
    build_dim_product,
)
from duckdb_retail_pipeline_spark.pipeline.facts import (
    build_daily_fx_rates,
    build_fct_sales,
    build_fct_sales_eur,
)
from duckdb_retail_pipeline_spark.pipeline.validate import validation_checks
from duckdb_retail_pipeline_spark.pipeline.views import build_monthly_sales_summary

_STAGING_KEYS = ("raw_retail_data", "raw_fx_rates", "raw_uk_holidays")

# layer -> plan builder over ``L``, a lookup of upstream layers by name.
# Builders stay lambdas that resolve ``build_*`` at call time, so a
# wrapper installed on this module's attributes sees every call.
_LAYERS = {
    "dim_calendar": lambda L: build_dim_calendar(L("raw_retail_data"), L("raw_uk_holidays")),
    "dim_product": lambda L: build_dim_product(L("raw_retail_data")),
    "dim_customer": lambda L: build_dim_customer(L("raw_retail_data")),
    "fct_sales": lambda L: build_fct_sales(
        L("raw_retail_data"), L("dim_calendar"), L("dim_product"), L("dim_customer")
    ),
    "daily_fx_rates": lambda L: build_daily_fx_rates(L("raw_fx_rates"), L("fct_sales")),
    "fct_sales_eur": lambda L: build_fct_sales_eur(L("fct_sales"), L("daily_fx_rates")),
    "agg_country_day": lambda L: build_agg_country_day(
        L("fct_sales_eur"), L("dim_customer"), L("dim_calendar")
    ),
    "v_monthly_sales_summary": lambda L: build_monthly_sales_summary(L("agg_country_day")),
    "validation": lambda L: validation_checks(
        L("dim_calendar"),
        L("dim_product"),
        L("dim_customer"),
        L("fct_sales"),
        L("daily_fx_rates"),
        L("fct_sales_eur"),
        L("agg_country_day"),
    ),
}

LAYER_ORDER = _STAGING_KEYS + tuple(_LAYERS)

# Layers build_layer caches: staging feeds four consumers, dims feed
# fct_sales + the agg layer, fct_sales feeds fx/eur/agg, eur facts feed
# agg/view/validation, and the agg layer is the reference's explicitly
# materialized pre-aggregation table (facts.py:347-412; uncached it was
# the only layer whose every action replayed the full fact aggregation —
# bench r13: pl09 warm ~0.97 s vs 0.05-0.12 s for the cached layers).
# daily_fx_rates and the view are dimension-cheap projections.
_CACHED = frozenset(
    {"raw_retail_data", "dim_calendar", "dim_product", "dim_customer",
     "fct_sales", "fct_sales_eur", "agg_country_day"}
)
# Layers run_pipeline writes partitioned by month: month granularity
# keeps file counts sane while letting date-range scans prune.
_BY_MONTH = frozenset({"fct_sales", "fct_sales_eur"})


def build_layer(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One pipeline layer as a lazy DataFrame, memoized through
    ``dataset_memo`` under the tag ``layer:<name>`` (staging's three
    frames share the one ``layer:staging`` entry). A first call builds
    only the layer's ancestor chain — a ``pl03`` caller pays for staging
    and calendar plan construction, never for fct/eur/agg/validation
    plans it does not execute. Repeat calls
    return the SAME handle, so ``.cache()`` entries are shared; a fresh
    ``spark.read.parquet`` does not canonicalize equal to a cached plan
    (file-index identity), so rebuilding would register duplicates.

    Concurrent first calls build each layer once: ``dataset_memo``
    holds the key lock of ``layer:<name>`` while the builder resolves
    its upstream layers, each under its own key lock. Nested builds
    take key locks from descendant to ancestor along the acyclic
    ``_LAYERS`` graph (and last the base-table locks of ``catalog``,
    whose builds take none), so they cannot deadlock."""
    if name in _STAGING_KEYS:

        def load() -> dict[str, DataFrame]:
            raw = staging.load_staging(spark, sf_dir)
            return {k: df.cache() if k in _CACHED else df for k, df in raw.items()}

        return memo.dataset_memo(spark, sf_dir, "layer:staging", load)[name]
    build = _LAYERS[name]

    def plan() -> DataFrame:
        df = build(lambda up: build_layer(spark, sf_dir, up))
        return df.cache() if name in _CACHED else df

    return memo.dataset_memo(spark, sf_dir, f"layer:{name}", plan)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    rebuild: bool = True,
) -> dict[str, str]:
    """Materialize every layer to parquet, each layer reading the
    PREVIOUS layer's parquet (not its lazy plan) — same dataflow as
    the reference's sequential CTAS phases, and at scale the right
    call: each phase's shuffle output is persisted once and every
    consumer scans columnar files with pushdown."""
    mode = "overwrite" if rebuild else "errorifexists"
    paths: dict[str, str] = {}
    written: dict[str, DataFrame] = {}

    def write(name: str, df: DataFrame) -> None:
        path = os.path.join(warehouse_dir, name)
        if name in _BY_MONTH:
            df = df.withColumn("sales_month", F.date_format("date", "yyyy-MM"))
            df.write.mode(mode).partitionBy("sales_month").parquet(path)
            written[name] = spark.read.parquet(path).drop("sales_month")
        else:
            df.write.mode(mode).parquet(path)
            written[name] = spark.read.parquet(path)
        paths[name] = path

    for name, df in staging.load_staging(spark, sf_dir).items():
        write(name, df)
    for name, build in _LAYERS.items():
        write(name, build(written.__getitem__))
    return paths
