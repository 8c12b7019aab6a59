from __future__ import annotations

import datetime

import pandas as pd
import pytest

from duckdb_retail_pipeline_spark.sources import excel, xml

ECB_FIXTURE = b"""<?xml version="1.0" encoding="UTF-8"?>
<message:GenericData
    xmlns:message="http://www.sdmx.org/resources/sdmxml/schemas/v2_1/message"
    xmlns:generic="http://www.sdmx.org/resources/sdmxml/schemas/v2_1/data/generic">
  <message:DataSet>
    <generic:Series>
      <generic:SeriesKey>
        <generic:Value id="CURRENCY" value="GBP"/>
      </generic:SeriesKey>
      <generic:Obs>
        <generic:ObsDimension value="2010-01-04"/>
        <generic:ObsValue value="0.8894"/>
      </generic:Obs>
      <generic:Obs>
        <generic:ObsDimension value="2010-01-05"/>
        <generic:ObsValue value="0.8911"/>
      </generic:Obs>
      <generic:Obs>
        <generic:ObsDimension value="not-a-date"/>
        <generic:ObsValue value="0.9"/>
      </generic:Obs>
      <generic:Obs>
        <generic:ObsDimension value="2010-01-06"/>
        <generic:ObsValue value="bogus"/>
      </generic:Obs>
    </generic:Series>
    <generic:Series>
      <generic:SeriesKey>
        <generic:Value id="CURRENCY" value="USD"/>
      </generic:SeriesKey>
      <generic:Obs>
        <generic:ObsDimension value="2010-01-04"/>
        <generic:ObsValue value="1.44"/>
      </generic:Obs>
    </generic:Series>
  </message:DataSet>
</message:GenericData>
"""


def test_ecb_xml_parse_filters_currency_and_malformed(spark):
    df = xml.read_ecb_fx(spark, ECB_FIXTURE)
    rows = sorted(df.collect(), key=lambda r: r["date"])
    # USD series excluded; two malformed obs skipped
    assert [(r["date"], r["gbp_per_eur"]) for r in rows] == [
        (datetime.date(2010, 1, 4), 0.8894),
        (datetime.date(2010, 1, 5), 0.8911),
    ]


def test_excel_multi_sheet_union_with_injected_reader(spark):
    def fake_reader(_path):
        return {
            "2009-2010": pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}),
            "2010-2011": pd.DataFrame({"a": [3], "b": ["z"]}),
        }

    df = excel.read_excel_sheets(spark, "ignored.xlsx", reader=fake_reader)
    assert df.count() == 3
    tags = {r["source_sheet"] for r in df.select("source_sheet").distinct().collect()}
    assert tags == {"2009-2010", "2010-2011"}


def test_excel_without_lib_raises(spark):
    if excel.HAS_OPENPYXL:
        pytest.skip("openpyxl installed")
    with pytest.raises(NotImplementedError):
        excel.read_excel_sheets(spark, "missing.xlsx")


def test_excel_csv_fallback_roundtrip(spark, tmp_path):
    """No openpyxl, no injected reader: sheet CSVs exported next to
    the workbook path feed the same union-and-tag path, and
    to_parquet_once lands them as a splittable parquet scan."""
    (tmp_path / "retail.2009-2010.csv").write_text("a,b\n1,x\n2,y\n")
    (tmp_path / "retail.2010-2011.csv").write_text("a,b\n3,z\n")
    wb = str(tmp_path / "retail.xlsx")

    df = excel.read_excel_sheets(spark, wb, reader=excel._csv_fallback_reader)
    assert df.count() == 3
    tags = {r["source_sheet"] for r in df.select("source_sheet").distinct().collect()}
    assert tags == {"2009-2010", "2010-2011"}

    out = excel.to_parquet_once(
        spark, wb, str(tmp_path / "pq"), reader=excel._csv_fallback_reader
    )
    back = spark.read.parquet(out)
    assert back.count() == 3 and "source_sheet" in back.columns


def test_excel_csv_single_file_and_directory(spark, tmp_path):
    single = tmp_path / "holidays.csv"
    single.write_text("d,name\n2024-01-01,new year\n")
    df = excel.read_excel_sheets(spark, str(single))  # .csv needs no lib
    assert df.count() == 1
    assert df.first()["source_sheet"] == "holidays"

    d = tmp_path / "sheets"
    d.mkdir()
    (d / "s1.csv").write_text("a\n1\n")
    (d / "s2.csv").write_text("a\n2\n3\n")
    df2 = excel.read_excel_sheets(spark, str(d), reader=excel._csv_fallback_reader)
    assert df2.count() == 3


def test_excel_empty_sheet_skipped_not_fatal(spark):
    """A stray empty sheet must be skipped (createDataFrame cannot
    infer a schema from a 0-row object frame), not abort the sheets
    that carry data; a workbook of ONLY empty sheets raises."""
    import pandas as pd
    import pytest

    from duckdb_retail_pipeline_spark.sources.excel import read_excel_sheets

    def reader(_):
        return {
            "good": pd.DataFrame({"a": [1, 2]}),
            "empty": pd.DataFrame({"a": []}),
        }

    out = read_excel_sheets(spark, "wb.xlsx", reader=reader)
    assert out.count() == 2
    assert {r["source_sheet"] for r in out.collect()} == {"good"}

    with pytest.raises(ValueError):
        read_excel_sheets(
            spark, "wb.xlsx", reader=lambda _: {"e": pd.DataFrame({"a": []})}
        )
