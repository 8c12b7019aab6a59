"""Ingestion connectors (reference Phase 1, src/ingestion/).

    excel — multi-sheet workbook scan (driver-side pandas → Arrow)
    xml   — ECB SDMX exchange-rate XML parser (stdlib ElementTree)
    files — parquet/csv readers with schema pinning
"""

from duckdb_retail_pipeline_spark.sources import excel, files, xml  # noqa: F401
