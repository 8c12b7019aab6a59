from __future__ import annotations

import pytest

from duckdb_retail_pipeline_spark.pipeline import analysis
from duckdb_retail_pipeline_spark.pipeline.run import build_layer


def test_analyze_end_to_end(spark, sf_dir):
    out = analysis.analyze(spark, sf_dir)
    assert out["total_revenue_gbp"] > 0
    assert out["n_countries"] >= 5
    assert out["best_month_revenue"] > 0
    # view registered as the reference's EP2 does
    assert spark.sql("SELECT COUNT(*) FROM v_monthly_sales_summary").first()[0] > 0


def test_insight_frames_shapes(spark, sf_dir):
    pdf = analysis.monthly_summary_pdf(
        build_layer(spark, sf_dir, "v_monthly_sales_summary")
    )
    frames = analysis.insight_frames(pdf)
    assert len(frames["top5_countries"]) <= 5
    assert frames["country_totals"]["revenue_gbp"].sum() == pytest.approx(
        pdf["total_revenue_gbp"].sum()
    )
    assert (frames["monthly_aov"] > 0).all()


def test_render_dashboard_writes_valid_png(spark, sf_dir, tmp_path):
    """The dashboard's stdlib renderer (pipeline/plotpng.py) must
    produce a structurally valid PNG — signature, IHDR dimensions,
    decodable zlib scanlines of the declared size — not just a
    non-empty file."""
    import struct
    import zlib

    pdf = analysis.monthly_summary_pdf(
        build_layer(spark, sf_dir, "v_monthly_sales_summary")
    )
    out = analysis.render_dashboard(pdf, str(tmp_path / "dash.png"))
    data = open(out, "rb").read()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert data[12:16] == b"IHDR"
    w, h = struct.unpack(">II", data[16:24])
    assert (w, h) == (1280, 800)
    # walk chunks, inflate IDAT, check scanline volume
    pos, idat = 8, b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += data[pos + 8 : pos + 8 + length]
        pos += 12 + length
    raw = zlib.decompress(idat)
    assert len(raw) == h * (1 + 3 * w)  # filter byte + RGB per row
    # the canvas must not be blank: some pixels differ from background
    import numpy as np

    arr = np.frombuffer(raw, dtype=np.uint8)
    assert (arr != 250).sum() > 1000


def test_monthly_summary_zero_orders_yields_nan_not_typeerror(spark):
    """The zero-orders AOV guard must produce NaN (replace with
    np.nan), not crash: replace(0, pd.NA) upcasts to object and the
    astype(float) raises TypeError on exactly the row the guard
    exists for."""
    import datetime as dt
    import math

    from duckdb_retail_pipeline_spark.pipeline.analysis import monthly_summary_pdf
    from duckdb_retail_pipeline_spark.pipeline.views import build_monthly_sales_summary

    day = dt.date(2024, 1, 3)
    agg = spark.createDataFrame(
        [
            # positive revenue, ZERO orders — passes the view's
            # net_revenue filter and lands on the division guard
            (day, "UK", 0, 2, 2, 10.0, 11.0),
            (day, "FR", 4, 6, 6, 40.0, 44.0),
        ],
        "date date, country string, orders long, items long, "
        "net_qty long, net_revenue_gbp double, net_revenue_eur double",
    )
    pdf = monthly_summary_pdf(build_monthly_sales_summary(agg))
    by_country = pdf.set_index("country")["avg_order_value_eur"]
    assert math.isnan(by_country["UK"])
    assert by_country["FR"] == 11.0
