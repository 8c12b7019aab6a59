"""Testdata catalog: memoized loads of the parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table
under /root/testdata/sf{0.001,0.01,0.1}/.

At 100 TB these would be directory-per-table, partitioned (facts by
date) — `load_table` takes any path Spark can read, so the same code
path serves both. Reads are plain `spark.read.parquet`: Catalyst
handles column pruning + predicate pushdown into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return _table_memo(spark, sf_dir, name, lambda: spark.read.parquet(table_path(sf_dir, name)))


def _table_memo(spark, sf_dir, tag, build):
    """Session-scoped relation memo for base-table reads. A bare
    ``spark.read.parquet`` costs ~90 ms of driver work PER CALL
    (footer/schema read + file listing + py4j) — measured r13: the
    headline bench spent ~1.9 s of its ~11 s warm total re-reading
    footers for tables whose files had not changed, and q21 alone
    paid 4 reads x 90 ms per pass. Memoizing the DataFrame HANDLE
    per (session, dataset, table) removes that driver-side re-read
    while keeping every action on the frame a full computation from
    the parquet inputs — the same plan-level (never result-level)
    memo the pipeline layers use (run.py build_layer), applied one
    layer down. dataset_memo's per-file mtime signature re-validates
    on every call, so an in-session regeneration of the dataset still
    rebuilds instead of serving a stale file index — the exact
    staleness contract build_layer relies on. At 100 TB the
    equivalent driver cost is the partitioned-table file listing,
    which this memo likewise pays once per session instead of once
    per query.

    The build is the session's first read of the table and the only
    point where its parquet schema is inferred, so it applies the
    session contract (session.RUNTIME_CONFS) first: the driver may hand
    over a session it built itself. A memo hit makes no conf call."""
    from duckdb_retail_pipeline_spark.memo import dataset_memo
    from duckdb_retail_pipeline_spark.session import tune_for_session

    def first_read():
        tune_for_session(spark)
        return build()

    return dataset_memo(spark, sf_dir, f"table:{tag}", first_read)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` event-time column to TIMESTAMP (LTZ) from
    any of the source layouts the testdata has shipped over time:

    - ``bigint``: parquet TIMESTAMP(NANOS) read as raw longs via
      spark.sql.legacy.parquet.nanosAsLong — integer-divide to µs
      (``DIV 1000`` stays exact where double division would lose
      precision above 2^53; matches DuckDB's truncating ns→µs cast).
    - ``timestamp_ntz``: parquet TIMESTAMP(µs, isAdjustedToUTC=false)
      — cast to TIMESTAMP, which interprets the naive value in the
      session timezone. Exact under the pinned-UTC session
      (session.RUNTIME_CONFS), matching the oracle's epoch()
      semantics on the same naive values.
    - ``timestamp``: already LTZ — no-op.

    The single normalization point for batch load, streaming read,
    and any operator that needs watermark-able event time (Spark
    requires TIMESTAMP, not NTZ, for ``withWatermark``).
    """
    from pyspark.sql import functions as F

    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("`ts` DIV 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with a usable TIMESTAMP (LTZ) ``ts`` regardless of the
    parquet layout — see normalize_event_ts. Direct callers exist
    (x31's batch twin); the session contract applies here through the
    same table memo as load_table."""
    return _table_memo(
        spark,
        sf_dir,
        "events:normalized",
        lambda: normalize_event_ts(spark.read.parquet(table_path(sf_dir, "events"))),
    )
