"""File-format readers: thin, schema-pinning wrappers over
spark.read — the splittable, pushdown-friendly paths every staged
table should end up in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession, path: str, schema: StructType | None = None, **options
) -> DataFrame:
    """CSV with an explicit schema — inferSchema double-scans the
    data and guesses types, both wrong at scale."""
    opts = {"header": "true", **{k: str(v) for k, v in options.items()}}
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")  # small/dev files only
    return reader.csv(path)
