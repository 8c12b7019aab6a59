"""Relational + extension operators.

    joins      — broadcast dim joins, as-of join, bucketed range join
    windows    — forward fill, gap detection, sessionization
    dedup      — exact / MinHash-LSH / SimHash / n-gram-Jaccard /
                 embedding-cosine deduplication
    similarity — brute-force and LSH-bucketed ANN over embeddings
    multimodal — binary-column decode/feature plumbing (Pandas UDFs)
"""

from duckdb_retail_pipeline_spark.operators import (  # noqa: F401
    dedup,
    joins,
    merge,
    multimodal,
    scale,
    similarity,
    windows,
)
