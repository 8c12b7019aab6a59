"""SparkSession factory.

Defaults are tuned for the driver's local[{32}] harness but every
knob is chosen to also be the right call on a 1000-executor cluster
reading ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, plan re-opt),
- broadcast threshold generous enough that every dimension table in
  the star schema broadcast-joins (dims are <10 MB even at 100 TB —
  facts grow, dims don't),
- shuffle partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number far less sensitive,
- Arrow on for every driver<->executor pandas exchange,
- session timezone pinned UTC so date/timestamp semantics match the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] threads and the default shuffle partition count
_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The session contract: every runtime-settable convention/perf conf,
# in ONE place. get_spark applies it at build time; tune_for_session
# applies it to an externally-owned session, and catalog's table memo
# calls tune_for_session on the session's first read of each table
# (the first plan over it), so no other module sets a contract conf.
# Hand-kept copies drifted twice (tune_for_session was missing
# maxPartitionBytes; the catalog's per-read guard kept only the
# timezone and nanosAsLong).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # changes the schema every parquet read infers for
    # TIMESTAMP(NANOS) columns, so it must hold before the first read:
    # set lazily at the first events read, a session's schemas would
    # depend on which table happened to load first. Under the contract
    # every nanos column reads as bigint and goes through
    # catalog.normalize_event_ts (exact ns→µs integer division).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ANSI semantics are part of the ENGINE CONTRACT, not an ambient
    # default (r12): the ANSI-conditioned behaviors are what the
    # oracles and probes verify — try_element_at NULLs where
    # element_at throws, integer div/% by zero is NULLIF-guarded at
    # the call sites that can hit it (x74), overflow errors instead
    # of silent wraps. A future Spark flipping the default (or a
    # driver-owned session built with ansi=false) would silently
    # change error behavior out from under those conventions.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # 8 MB: the testdata ships one small parquet per table, and
    # 128 MB splits would serialize 600k-row scans onto 1-2 of 32
    # cores.
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
}


def get_spark(
    app_name: str = "duckdb_retail_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    If a session already exists (e.g. the driver passed one in), it
    is returned UNTOUCHED: getOrCreate would apply every non-static
    builder conf to the existing session (PySpark documents exactly
    that), silently clobbering an owner's shuffle partitions /
    timezone / log level — callers that want our conventions on a
    session they own call ``tune_for_session`` explicitly.
    """
    existing = SparkSession.getActiveSession()
    if existing is not None:
        try:
            if not existing.sparkContext._jsc.sc().isStopped():
                if shuffle_partitions is not None or extra_conf:
                    # the caller asked for specific confs it is NOT
                    # getting — say so instead of silently dropping
                    # them (r7 ADVICE): startup confs cannot be
                    # applied to a live session; runtime ones can,
                    # via tune_for_session / spark.conf.set.
                    import warnings

                    warnings.warn(
                        "get_spark returned an already-active session; "
                        "the explicit shuffle_partitions/extra_conf "
                        "arguments were NOT applied. Configure the "
                        "session you own (tune_for_session or "
                        "spark.conf.set), or stop it first.",
                        stacklevel=2,
                    )
                return existing
        except Exception:  # noqa: BLE001 — dead gateway → build fresh
            pass
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_CPUS}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _CPUS))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to an externally-owned session
    (the driver hands us one in ``__spark_entry__.entry``; catalog's
    table memo calls this on a session's first read of a table, the
    streaming reader on every stream read). Only confs that Spark
    allows changing after startup are touched — the one shared
    RUNTIME_CONFS list, so this cannot drift from get_spark."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — conf may be static; keep going
            pass
    return spark
