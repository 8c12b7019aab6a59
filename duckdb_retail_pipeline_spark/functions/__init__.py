"""Scalar / aggregate helper functions.

Submodules:
    datetime_fns — DuckDB-parity date parts (dow, ISO week/year, day
                   and month names), date spines
    aggregates   — deterministic MODE, conditional count-distinct,
                   the integer-cents kernel
    vectors      — embedding math (dot, norm, cosine) on array<float>
    text         — tokenization, n-gram shingles, language heuristic,
                   fingerprints, simhash/minhash
"""

from duckdb_retail_pipeline_spark.functions import (  # noqa: F401
    aggregates,
    datetime_fns,
    text,
    vectors,
)
