"""Ingestion connectors (reference Phase 1, src/ingestion/).

    excel — multi-sheet workbook scan (driver-side pandas → Arrow)
    xml   — ECB SDMX exchange-rate XML parser (stdlib ElementTree)
"""

from duckdb_retail_pipeline_spark.sources import excel, xml  # noqa: F401
