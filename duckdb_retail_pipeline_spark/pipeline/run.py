"""Pipeline orchestration (reference src/run.py:50-87).

The layer graph is declared once, in ``_LAYERS``: each layer's plan
builder over a lookup of its upstream layers. Two modes read it:

- ``build_layer``: one layer, memoized per (session, dataset, layer) —
  what the query registry uses. A layer in ``_CACHED`` is served as an
  eagerly materialized, lineage-truncated leaf (a local checkpoint at
  the serialized ``MEMORY_AND_DISK`` level), so a query over it is
  planned over one small ``LogicalRDD`` instead of re-describing the
  whole upstream chain on every action. ``layer_plan`` is the layer's
  plan before truncation (its own joins and exchanges over the memoized
  upstream leaves).
- ``run_pipeline``: materialized mode — each layer written to a flat
  parquet warehouse dir (the Spark analogue of the reference's
  DROP+CTAS layering). No layer is partitioned: every warehouse
  reader reads whole layers, so a month partitioning would prune
  nothing and only multiply writers, files and listings.
  ``--rebuild`` maps to mode("overwrite") (reference src/run.py:41-42).
  A layer is read back only when a later builder asks for it, and with
  the schema just written, so no read-back runs a schema-inference job.

Both modes cut lineage at every materialized layer: ``run_pipeline`` by
reading the written parquet back, ``build_layer`` by checkpointing. No
cross-layer rewrite is lost: Catalyst does not optimize across a cached
or checkpointed boundary.

The trade-off of a local checkpoint: its blocks cannot be recomputed
from lineage. If an executor holding a layer's blocks is lost (on a
cluster), actions over that layer fail loudly with Spark's missing
checkpoint-block error, where a ``.cache()`` would have recomputed
silently. The memo does not rebuild on that error; a new session (or a
change to the dataset, which re-signs the entry) does.
"""

from __future__ import annotations

import functools
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

# Layers build_layer materializes as checkpointed leaves: staging feeds
# four consumers, dims feed fct_sales + the agg layer, fct_sales feeds
# fx/eur/agg, eur facts feed agg/view/validation, and the agg layer is
# the reference's explicitly materialized pre-aggregation table
# (facts.py:347-412; unmaterialized it was the only layer whose every
# action replayed the full fact aggregation — bench r13: pl09 warm
# ~0.97 s vs 0.05-0.12 s for the cached layers).
# daily_fx_rates and the view are dimension-cheap projections.
_CACHED = frozenset(
    {"raw_retail_data", "dim_calendar", "dim_product", "dim_customer",
     "fct_sales", "fct_sales_eur", "agg_country_day"}
)


def layer_plan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One layer's plan before lineage truncation: its builder over the
    memoized upstream layers (``build_layer``), so the frame shows the
    layer's own joins and exchanges, not its ancestors'. Not memoized,
    except staging's: one ``load_staging`` call builds all three staging
    plans, so they are memoized together, as plans only, under the tag
    ``staging``. Plan tests and ``tools/capture_plans.py`` read it."""
    if name in _STAGING_KEYS:
        return memo.dataset_memo(
            spark, sf_dir, "staging", lambda: staging.load_staging(spark, sf_dir)
        )[name]
    return _LAYERS[name](lambda up: build_layer(spark, sf_dir, up))


def _leaf(name: str, df: DataFrame) -> DataFrame:
    """``df`` as an eagerly materialized, lineage-truncated leaf when
    ``name`` is in ``_CACHED``. PySpark's ``MEMORY_AND_DISK`` stores
    serialized blocks, near the columnar cache's footprint; the default
    level stores deserialized rows, several times larger."""
    if name not in _CACHED:
        return df
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)


def build_layer(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One pipeline layer, memoized through ``dataset_memo`` under the
    tag ``layer:<name>`` (each staging frame under its own entry, so a
    caller of ``raw_fx_rates`` alone never checkpoints
    ``raw_retail_data``). A first call builds only the layer's ancestor
    chain — a ``pl03`` caller pays for staging and calendar, never for
    fct/eur/agg/validation it does not read. Repeat calls return the
    SAME handle.

    A ``_CACHED`` layer is materialized by its first call (an eager
    local checkpoint of ``layer_plan``) and served as a leaf: its
    logical plan is one ``LogicalRDD`` over the checkpoint blocks,
    so downstream layers and queries are planned over small leaves and
    an action no longer re-plans the whole upstream chain. The blocks
    cannot be recomputed from lineage: losing an executor that holds
    them fails the actions over that layer (see the module docstring).
    ``memo`` frees them when a dataset change evicts the entry.

    Concurrent first calls build each layer once: ``dataset_memo``
    holds the key lock of ``layer:<name>`` while the builder resolves
    its upstream layers, each under its own key lock. Nested builds
    take key locks from descendant to ancestor along the acyclic
    ``_LAYERS`` graph (then the ``staging`` plans lock, and last the
    base-table locks of ``catalog``, whose builds take none), so they
    cannot deadlock."""
    return memo.dataset_memo(
        spark, sf_dir, f"layer:{name}", lambda: _leaf(name, layer_plan(spark, sf_dir, name))
    )


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
    consumer scans columnar files with pushdown.

    A layer is read back on demand, when a later builder asks for it,
    with the schema it was written with: a given schema skips the
    footer-reading job a schema-inferring read runs, and a layer no
    builder asks for (``v_monthly_sales_summary``, ``validation``) is
    never read. Each layer is read (its files listed) at most once."""
    mode = "overwrite" if rebuild else "errorifexists"
    paths: dict[str, str] = {}
    schemas: dict[str, StructType] = {}

    def write(name: str, df: DataFrame) -> None:
        path = os.path.join(warehouse_dir, name)
        df.write.mode(mode).parquet(path)
        paths[name], schemas[name] = path, df.schema

    @functools.cache
    def read(name: str) -> DataFrame:
        return spark.read.schema(schemas[name]).parquet(paths[name])

    for name, df in staging.load_staging(spark, sf_dir).items():
        write(name, df)
    for name, build in _LAYERS.items():
        write(name, build(read))
    return paths
