"""Plan-inspection utilities.

The perf contract ("would this survive 100×?") is checked in tests by
asserting on physical-plan properties, not by eyeballing: filters
reach the parquet scan, projections prune columns, dim joins
broadcast, hot paths stay inside WholeStageCodegen.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

_WARNED_PLAN_BYTES = False


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df``'s optimized plan — the
    statistic it sizes broadcast joins with. Reads the PRIVATE py4j
    surface ``optimizedPlan().stats().sizeInBytes()`` (pinned by
    test_spread_size_probe_internal_api_present); py4j maps the
    scala BigInt to int in range and hands back a JavaObject past
    2^63, which ``str()`` covers. Returns None when the surface
    fails, and warns once per process: callers then keep their
    default plan shape."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return raw if isinstance(raw, int) else int(str(raw))
    except Exception as exc:  # noqa: BLE001 — unsizeable plan: caller's default
        global _WARNED_PLAN_BYTES
        if not _WARNED_PLAN_BYTES:
            _WARNED_PLAN_BYTES = True
            warnings.warn(
                f"plan_bytes: size probe failed ({exc!r}); size-based "
                "plan choices (_spread's shuffle skip, x66's salted "
                "join) fall back to their default shape for this process",
                stacklevel=2,
            )
        return None


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns actually read from parquet (ReadSchema) — the column-
    pruning check."""
    plan = formatted_plan(df)
    cols: set[str] = set()
    for line in plan.splitlines():
        if "ReadSchema" in line and "struct<" in line:
            inner = line.split("struct<", 1)[1].rsplit(">", 1)[0]
            for field in inner.split(","):
                if ":" in field:
                    cols.add(field.split(":")[0].strip())
    return cols


def broadcast_join_count(df: DataFrame) -> int:
    return formatted_plan(df).count("BroadcastHashJoin")


def sort_merge_join_count(df: DataFrame) -> int:
    return formatted_plan(df).count("SortMergeJoin")


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line and "(" in line
    )


def final_plan(df: DataFrame) -> str:
    """The FINALIZED physical plan, after AQE's runtime re-plan.

    Statistics for DERIVED inputs (aggregates, not raw scans) are
    unknown statically, so the pre-execution plan defaults their
    joins to SortMergeJoin and only AQE's runtime sizes convert them
    to broadcast — a static explain over such a plan reports the
    join strategy the query will NOT actually run (r12: the pl-layer
    dim joins). Executes the frame once — via a lazily-drained
    toLocalIterator, NOT collect(): same jdf → same queryExecution
    → the identical plan, but the driver buffers one partition at a
    time instead of the whole result set, so probing a corpus-sized
    frame cannot OOM the driver (r12 ADVICE). count() would build a
    NEW plan and is not an option."""
    for _ in df.toLocalIterator():  # materialize THIS plan
        pass
    return df._jdf.queryExecution().executedPlan().toString()  # type: ignore[attr-defined]


def codegen_span_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen spans in the EXECUTED plan.

    Under AQE the pre-execution plan is just an AdaptiveSparkPlan
    placeholder (codegen explain reports 0 subtrees), so run the
    query once and inspect the finalized physical plan (drained
    lazily, not collected — see final_plan)."""
    import re

    for _ in df.toLocalIterator():  # materialize THIS plan
        pass
    executed = df._jdf.queryExecution().executedPlan().toString()  # type: ignore[attr-defined]
    # codegen stages print as `*(N) HashAggregate(...)` — count stage ids
    return len(set(re.findall(r"\*\((\d+)\)", executed)))
