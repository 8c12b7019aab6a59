"""Analytics consumer (reference analysis/analyze_monthly_sales.py).

The reference's EP2 entry point: create the monthly view, pull it to
pandas via Arrow, run the second-stage pandas aggregations (top-5
countries, country totals, monthly orders, AOV), and render the
4-panel dashboard with the stdlib PNG renderer (pipeline/plotpng.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def monthly_summary_pdf(view: DataFrame) -> pd.DataFrame:
    """The v_monthly_sales_summary frame → pandas (Arrow transfer)
    with the derived avg_order_value_eur the reference adds query-side
    (analyze_monthly_sales.py:57-69)."""
    import numpy as np

    pdf = view.toPandas()
    # np.nan, not pd.NA: replace(0, pd.NA) upcasts to object and the
    # later astype(float) raises TypeError on NAType — the guard
    # would crash on exactly the zero-orders group it exists for
    pdf["avg_order_value_eur"] = (
        pdf["total_revenue_eur"] / pdf["total_orders"].replace(0, np.nan)
    ).astype(float).round(2)
    return pdf


def insight_frames(pdf: pd.DataFrame) -> dict[str, pd.DataFrame | pd.Series]:
    """The reference's pandas-side second-stage aggregations
    (analyze_monthly_sales.py:77-126)."""
    top5_countries = (
        pdf.groupby("country")["total_revenue_gbp"].sum().nlargest(5)
    )
    country_totals = pdf.groupby("country").agg(
        revenue_gbp=("total_revenue_gbp", "sum"),
        orders=("total_orders", "sum"),
    )
    monthly_orders = pdf.groupby(["year", "month"])["total_orders"].sum()
    monthly_aov = pdf.groupby(["year", "month"]).apply(
        lambda g: g["total_revenue_gbp"].sum() / max(int(g["total_orders"].sum()), 1),
        include_groups=False,
    )
    return {
        "top5_countries": top5_countries,
        "country_totals": country_totals,
        "monthly_orders": monthly_orders,
        "monthly_aov": monthly_aov,
    }


def insights(pdf: pd.DataFrame) -> dict[str, object]:
    """Headline metrics (analyze_monthly_sales.py:148-168)."""
    monthly_rev = pdf.groupby(["year", "month"])["total_revenue_gbp"].sum()
    best = monthly_rev.idxmax()
    growth = None
    if len(monthly_rev) >= 2:
        first, last = monthly_rev.iloc[0], monthly_rev.iloc[-1]
        growth = round((last - first) / first * 100, 2) if first else None
    return {
        "best_month": best,
        "best_month_revenue": round(float(monthly_rev.max()), 2),
        "total_revenue_gbp": round(float(pdf["total_revenue_gbp"].sum()), 2),
        "n_countries": int(pdf["country"].nunique()),
        "first_to_last_growth_pct": growth,
    }


def render_dashboard(pdf: pd.DataFrame, out_path: str) -> str:
    """4-panel dashboard (analyze_monthly_sales.py:140-143): the same
    four frames the reference plots, rendered by the stdlib PNG
    writer (pipeline/plotpng.py) as bars/lines + 5x7-font titles —
    a real, openable PNG."""
    import numpy as np

    from duckdb_retail_pipeline_spark.pipeline import plotpng as P

    frames = insight_frames(pdf)
    w, h, pad, title_h = 1280, 800, 28, 26
    canvas = np.full((h, w, 3), 250, dtype=np.uint8)
    pw, ph = (w - 3 * pad) // 2, (h - 3 * pad) // 2
    panels = [
        (pad, pad, pad + ph, pad + pw),
        (pad, 2 * pad + pw, pad + ph, 2 * pad + 2 * pw),
        (2 * pad + ph, pad, 2 * pad + 2 * ph, pad + pw),
        (2 * pad + ph, 2 * pad + pw, 2 * pad + 2 * ph, 2 * pad + 2 * pw),
    ]
    titles = [
        "TOP 5 COUNTRIES (GBP)",
        "MONTHLY ORDERS",
        "AVG ORDER VALUE (GBP)",
        "REVENUE BY COUNTRY",
    ]
    series = [
        list(frames["top5_countries"].values),
        list(frames["monthly_orders"].values),
        list(frames["monthly_aov"].values),
        list(frames["country_totals"]["revenue_gbp"].values),
    ]
    kinds = ["bar", "line", "line", "bar"]
    for panel, title, vals, kind in zip(panels, titles, series, kinds):
        y0, x0, y1, x1 = panel
        P.draw_text(canvas, x0, y0 - 20, title)
        inner = (y0 + title_h, x0 + 4, y1 - 4, x1 - 4)
        if kind == "bar":
            P.draw_bars(canvas, inner, vals)
        else:
            P.draw_polyline(canvas, inner, vals)
        P.panel_frame(canvas, panel)
    return P.write_png(canvas, out_path)


def analyze(spark: SparkSession, sf_dir: str) -> dict[str, object]:
    """EP2 end-to-end: build the view layer lazily, register it,
    compute the pandas-side insights."""
    from duckdb_retail_pipeline_spark.pipeline.run import build_layer

    view = build_layer(spark, sf_dir, "v_monthly_sales_summary")
    # reference EP2 parity: the view is registered for SQL consumers
    # (asserted by test_analyze_end_to_end)
    view.createOrReplaceTempView("v_monthly_sales_summary")
    return insights(monthly_summary_pdf(view))
