"""Aggregate helpers.

``mode`` tie-breaking differs between engines (SURVEY.md §4), so the
engine pins a deterministic rule once: highest count wins, ties break
on the smallest value, NULL values are skipped. ``top_counted`` is that
rule as one aggregate column over already-counted (value, count) rows:
the minimum of ``(-count, value)`` structs. ``deterministic_mode``
counts each (group, value) pair and applies it per group, and the
dimension builders fold it into the aggregate that counts their pairs
— identical results on Spark and any ANSI-SQL oracle, at any partition
count, with no window and no join.

``cents`` is the one integer-cents kernel of the money convention
(queries/base.py): the HALF_UP integer of ``x * scale`` as BIGINT.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_counted(value: Column, cnt: Column) -> Column:
    """Aggregate: the ``value`` with the highest ``cnt``, ties to the
    smallest value, NULL values skipped (NULL when every value of the
    group is NULL). Spark 3.4+ has ``F.mode`` but its tie-break is
    arbitrary-pick, like DuckDB's ``MODE()`` — unusable for
    differential testing."""
    return F.min(F.when(value.isNotNull(), F.struct((-cnt).alias("n"), value.alias("v"))))["v"]


def deterministic_mode(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group MODE with a pinned (count DESC, value ASC) tie-break,
    over non-NULL values: a group whose values are all NULL has no row.

    Cost shape: TWO exchanges — the count hashes on (group_cols +
    value_col) and ``top_counted`` on group_cols alone — but the second
    moves only the already-counted (group, value, cnt) rows, a
    cardinality ≤ distinct pairs, not the input."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .groupBy(*group_cols)
        .agg(top_counted(F.col(value_col), F.col("__cnt")).alias(out_col or value_col))
    )


def cents(x: Column, scale: int) -> Column:
    """BIGINT HALF_UP integer of ``x * scale`` (NULL stays NULL),
    bit-identical to ``F.round(x * scale, 0).cast("bigint")`` without
    Spark's per-row ``BigDecimal.valueOf``: ``r = rint(|v|)``, plus 1
    when ``|v| - r`` is exactly 0.5 (rint breaks ties to even), sign
    restored. Why that is exact is in the money block of
    queries/base.py. The value stays DOUBLE until one ANSI cast, so
    NaN, ±Inf and out-of-range values still raise CAST_OVERFLOW.

    The sign comes back by ``signum`` and the tie as a cast boolean,
    not by CASE WHENs that repeat the subtree: Catalyst analyses and
    generates code for the tree as written, in every money query."""
    v = x * scale
    a = F.abs(v)
    r = F.rint(a)
    return (F.signum(v) * (r + (a - r == 0.5).cast("double"))).cast("bigint")


def count_distinct_if(cond: Column, value: Column) -> Column:
    """Conditional COUNT(DISTINCT ...) — reference's cancellation-
    excluding order count (src/models/facts.py:375-378):
    ``COUNT(DISTINCT CASE WHEN cond THEN value END)``."""
    return F.count_distinct(F.when(cond, value))


# A9's NULL-safe ratios (reference sql/views/monthly_sales_summary
# .sql:26-28) are implemented INLINE at their call sites (q12,
# pipeline/views.py) as `num / F.nullif(den, 0)` on exact inputs —
# deliberately without a shared ROUND-ing helper: base.py's
# conventions forbid F.round on compared float columns (round-half
# ties diverge across engines; use dround), so a `nullif_div(...,
# scale)` helper would be a trap. Two such helpers (nullif_div,
# sum_if) sat here unused; deleted rather than left as dead weight.
