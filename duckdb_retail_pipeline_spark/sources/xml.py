"""ECB SDMX exchange-rate XML source (reference
src/ingestion/fx_data.py:29-92).

Namespace-aware stdlib ElementTree parse of the ECB generic-data
format: Series[CURRENCY=GBP] → Obs(TIME_PERIOD, OBS_VALUE) pairs,
validating the currency attribute and skipping malformed
observations — the same tolerant semantics as the reference.

Parsing happens driver-side (one XML document is one file; nothing
to distribute) and lands in a typed DataFrame. For many XML files at
scale, distribute paths and parse per-partition via mapInPandas.
"""

from __future__ import annotations

import datetime
import xml.etree.ElementTree as ET
from io import BytesIO

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DateType, DoubleType, StructField, StructType

ECB_NS = {
    "message": "http://www.sdmx.org/resources/sdmxml/schemas/v2_1/message",
    "generic": "http://www.sdmx.org/resources/sdmxml/schemas/v2_1/data/generic",
}

FX_SCHEMA = StructType(
    [
        StructField("date", DateType(), nullable=False),
        StructField("gbp_per_eur", DoubleType(), nullable=False),
    ]
)


def parse_ecb_fx(source: str | bytes) -> list[tuple]:
    """Extract (date, rate) pairs for GBP from ECB SDMX XML.
    Malformed observations are skipped, mirroring the reference's
    per-Obs try/except (fx_data.py:71-92)."""
    tree = ET.parse(BytesIO(source) if isinstance(source, bytes) else source)
    root = tree.getroot()
    rows: list[tuple] = []
    for series in root.iter(f"{{{ECB_NS['generic']}}}Series"):
        cur_ok = False
        for value in series.iter(f"{{{ECB_NS['generic']}}}Value"):
            if value.get("id") == "CURRENCY" and value.get("value") == "GBP":
                cur_ok = True
        if not cur_ok:
            continue
        for obs in series.iter(f"{{{ECB_NS['generic']}}}Obs"):
            dim = obs.find(f"{{{ECB_NS['generic']}}}ObsDimension")
            val = obs.find(f"{{{ECB_NS['generic']}}}ObsValue")
            if dim is None or val is None:
                continue
            try:
                d = datetime.datetime.strptime(
                    dim.get("value", ""), "%Y-%m-%d"
                ).date()
                r = float(val.get("value", ""))
            except (ValueError, TypeError):
                continue  # skip malformed observation
            rows.append((d, r))
    return rows


def read_ecb_fx(spark: SparkSession, source: str | bytes) -> DataFrame:
    """raw_fx_rates(date, gbp_per_eur) from an ECB SDMX document."""
    return spark.createDataFrame(parse_ecb_fx(source), FX_SCHEMA)
