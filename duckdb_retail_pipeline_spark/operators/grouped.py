"""Grouped-map model scoring via ``applyInPandas``.

The one place the engine deliberately leaves the JVM for relational
work: fitting a small model per group, where the per-group logic is
imperative (closed-form OLS here, but the same shape serves any
scikit-style ``fit`` per group). Spark ships each group to Python as
one Arrow batch; the input is pre-projected JVM-side to the narrow
(group, x, y) frame so the Arrow transfer carries only what the model
reads.

Determinism contract (same discipline as queries/base.py): the sums
are computed as exact Python integers (arbitrary precision — no
float fold-order noise, no int64 overflow), and the only floating
ops are the final divisions, performed in an order the DuckDB oracle
reproduces literally. That makes a *Python UDF path* bit-exact
against a SQL engine — the property that lets applyInPandas
operators sit under the same differential gate as built-ins.

At 100 TB: one group = one Arrow batch in one task, so groups must
fit in executor memory — true for per-entity model fits (the group
is already an aggregate-sized slice). Skewed group sizes are the
risk; pre-aggregate per (group, x) first when x has duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grouped_ols(df: DataFrame, group_col: str) -> DataFrame:
    """Per-group closed-form least squares y = intercept + slope*x over
    the columns ``x`` and ``y``.

    ``x`` must be integer-valued; ``y`` integer-valued
    ("cents" — scale fixed-point before calling). Returns one row per
    group: (group, n, slope, intercept) with slope/intercept in
    y-units/100 per x-unit (the /100.0 un-scales cents).

    NULL (x, y) pairs are dropped before fitting — the SQL regression
    aggregates (regr_slope family) skip null pairs, and a nullable int
    column reaches pandas as float64-with-NaN where int(NaN) would
    otherwise kill the task. The drop happens JVM-side before the
    Arrow transfer, so ``n`` counts non-null pairs and a group whose
    pairs are ALL null yields NO output row (exactly the regr_*
    family's GROUP BY behavior — r13 probe). The group column's
    output type follows the input schema (a bigint user_id group
    stays bigint).

    Exactness guard (r11 review): that same float64 delivery path is
    lossy above 2^53 — int(v) would silently round-trip a large
    bigint to a DIFFERENT integer and the "exact integer sums"
    contract vs the oracle would break with no error. Values past
    2^53 raise instead (no registered corpus is within 10^5× of the
    bound; a caller that ever is should pre-scale down).
    """
    import pandas as pd

    group_type = df.schema[group_col].dataType.simpleString()
    out_schema = (
        f"{group_col} {group_type}, n bigint, slope double, intercept double"
    )

    def fit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ok = pdf[["x", "y"]].notna().all(axis=1)
        for col in ("x", "y"):
            vals = pdf[col][ok]
            if len(vals) and vals.abs().max() > 2**53:
                raise ValueError(
                    f"grouped_ols: |{col}| exceeds 2^53 — the Arrow "
                    "float64 path for nullable ints is lossy there; "
                    "pre-scale the column down"
                )
        xs = [int(v) for v in pdf["x"][ok]]
        ys = [int(v) for v in pdf["y"][ok]]
        n = len(xs)
        sx = sum(xs)
        sy = sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        den = n * sxx - sx * sx
        if den == 0:
            slope = intercept = None
        else:
            # float() on the exact ints == SQL CAST(... AS DOUBLE);
            # division order mirrors the oracle expression exactly
            slope_c = float(n * sxy - sx * sy) / float(den)
            inter_c = (float(sy) - slope_c * float(sx)) / float(n)
            slope = slope_c / 100.0
            intercept = inter_c / 100.0
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "n": [n],
                "slope": [slope],
                "intercept": [intercept],
            }
        )

    # NULL pairs are dropped JVM-SIDE, before the Arrow transfer
    # (r13 probe wave): shipping rows to Python just to mask them
    # out is wasted Arrow bandwidth at scale, and a group whose
    # pairs are ALL NULL previously surfaced as a phantom (n=0,
    # NULL, NULL) row that no SQL regression aggregate produces —
    # the x24 oracle differential caught the divergence. The
    # in-worker notna mask stays as a safety net for callers that
    # bypass this path.
    narrow = df.select(group_col, "x", "y").filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    return narrow.groupBy(group_col).applyInPandas(fit, schema=out_schema)
