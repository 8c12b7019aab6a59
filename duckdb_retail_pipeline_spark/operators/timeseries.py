"""Classical additive seasonal decomposition, exact-integer.

The textbook decomposition (Kendall/Stuart): trend via a centered
12-period moving average, seasonal as the per-period mean of the
detrended series. Re-expressed declaratively — RANGE window frames
for the centered MA, one groupBy for the seasonal means; no UDF, no
driver loop, no collect. One stated divergence from statsmodels'
``seasonal_decompose``: the per-period means here are NOT re-centered
(statsmodels subtracts the mean of the period averages so the
seasonal components sum to ~0) — consumers wanting centered
components subtract the mean of ``seasonal_avg`` per key, one more
exact aggregate.

Exactness (the x54 integer-scaled-rational convention): a centered
period-p MA over integer cents is (2·Σ_{t−(p/2−1)..t+(p/2−1)} x +
x_{t−p/2} + x_{t+p/2}) / 2p, so the operator emits the exact
NUMERATOR ``trend_x2p`` (bigint; ×24 at period 12) and
the detrended series ``detr_x2p`` = 2p·x − trend_x2p — integer sums
are fold-order-independent, so both columns are bit-identical in
ANSI SQL at any partitioning. Float appears only in single-division
presentation columns (one IEEE division of two exact integers is
engine-deterministic; the conventions in queries/base.py ban only
multi-step float folds). Seasonal means ship as (sum, count) integer
pairs rather than a DIV — the detrended values are SIGNED, and
Spark's DIV truncates toward zero while DuckDB's ``//`` floors, so
integer division is only cross-engine-safe on non-negative operands
(queries/base.py floor_ratio's documented constraint).

Gap- and duplicate-safety: the windows are RANGE frames over the
integer time index, so a missing period is a missing VALUE, not a
shifted row, and the trend is emitted only where the ±p/2 window
holds exactly p+1 DISTINCT periods in p+1 rows — a duplicated
(key, t) row therefore NULLs the trend instead of double-counting
into a plausible wrong integer (the series contract is one row per
(key, t); violations must not produce exact-looking garbage).
Callers do NOT need a dense spine; edges are NULL, the statsmodels
convention.

Scale shape: one shuffle on the series key for the windows (at 100 TB
the series frame is the output of an upstream aggregation, orders of
magnitude smaller than the facts), one groupBy for the seasonal
means. The period is 12 (monthly/annual), the one series every caller
decomposes; another period is the change to make for another cadence,
and any even period keeps the ×(2·period) scaling exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: season length in periods of ``t``; even (the half-weight endpoint
#: form of the centered MA)
PERIOD = 12


def decompose_additive(series: DataFrame) -> DataFrame:
    """Add exact-integer trend/detrended columns to a (key, t, cents)
    series frame: ``trend_x2p`` = 2·PERIOD × the centered moving
    average (bigint, NULL where the ±PERIOD/2 window is incomplete)
    and ``detr_x2p`` = 2·PERIOD·cents − trend_x2p. ``t`` must be an
    integer period index (e.g. months since epoch)."""
    half = PERIOD // 2
    w = Window.partitionBy("key").orderBy("t")
    inner = F.sum("cents").over(w.rangeBetween(-(half - 1), half - 1))
    lo = F.sum("cents").over(w.rangeBetween(-half, -half))
    hi = F.sum("cents").over(w.rangeBetween(half, half))
    n_rows = F.count("cents").over(w.rangeBetween(-half, half))
    n_periods = F.size(
        F.collect_set(F.col("t")).over(w.rangeBetween(-half, half))
    )
    trend = F.when(
        (n_rows == F.lit(PERIOD + 1)) & (n_periods == F.lit(PERIOD + 1)),
        (F.lit(2) * inner + lo + hi).cast("bigint"),
    )
    return series.select(
        F.col("key"),
        F.col("t"),
        F.col("cents"),
        trend.alias("trend_x2p"),
        (F.lit(2 * PERIOD) * F.col("cents") - trend)
        .cast("bigint")
        .alias("detr_x2p"),
    )


def seasonal_means(decomposed: DataFrame) -> DataFrame:
    """Per-(key, period position) seasonal component over the
    detrended series: exact integer (sum, count) plus one-division
    presentation means. ``seasonal_avg`` is the (uncentered) additive
    seasonal component in the input value column's units
    (sum / (count·2·PERIOD)).

    ``pos`` uses pmod, so a negative time index (months relative to
    a mid-corpus reference) lands in the same position as its
    positive calendar twin — plain ``%`` follows the dividend sign in
    BOTH engines, so the cross-engine differential could never catch
    that split."""
    return (
        decomposed.filter(F.col("detr_x2p").isNotNull())
        .groupBy("key", F.pmod(F.col("t"), F.lit(PERIOD)).alias("pos"))
        .agg(
            F.sum("detr_x2p").cast("bigint").alias("seasonal_sum_x2p"),
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        )
        .select(
            "key",
            "pos",
            "seasonal_sum_x2p",
            "n_obs",
            (
                F.col("seasonal_sum_x2p").cast("double")
                / (F.col("n_obs") * F.lit(float(2 * PERIOD)))
            ).alias("seasonal_avg"),
        )
    )
