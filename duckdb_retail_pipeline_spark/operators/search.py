"""Positional inverted index + exact phrase search.

The lexical-retrieval shape BM25 (x44) does not cover: finding an
exact multi-word PHRASE. A phrase cannot be answered from bag-of-words
term frequencies — it needs token POSITIONS, which is why search
engines persist a positional inverted index (token → postings of
(doc, position)) and answer phrases by intersecting adjacent-position
postings (the classic positional-intersection algorithm, e.g.
Manning/Raghavan/Schütze IR ch. 2).

Spark shape: the index is one posexplode (linear in corpus tokens,
partitioned by token — the natural key for both storage pruning and
the intersection join); a k-word phrase is k−1 hash equi-joins on
(doc, start_position), each side pre-filtered to ONE token's posting
list, so join inputs are posting-list-sized, never corpus-sized. At
100 TB the index is written once (partitioned/bucketed by token for
scan pruning) and every phrase query touches only its words' posting
lists — the same reason the operator exists in Lucene.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.functions import text as T
from duckdb_retail_pipeline_spark.functions.text import DOC_ID, TEXT_COL


def positional_index(docs: DataFrame, cluster_by_token: bool = False) -> DataFrame:
    """(token, doc_id, pos) — one row per token OCCURRENCE, pos
    1-based. The frame a deployment persists partitioned by token.

    Deliberately a plain ``posexplode`` + downstream filter, NOT a
    pre-explode HOF filter inside the token array: the struct-
    building ``transform``/``filter`` lambdas are CodegenFallback
    (interpreted per row), and replacing the explode with them was
    measured 10× SLOWER at sf0.1 (0.63 → 6.6 s warm) and worse at
    the 100× decade (22 → 28 s) — posexplode and the token equality
    filter fuse into one whole-stage-codegen stage, so non-matching
    occurrences never leave the stage, let alone a shuffle (the same
    interpreted-HOF lesson as the r7 dot-kernel work, re-measured
    here rather than assumed).

    ``cluster_by_token=True`` is the SERVED-index layout: one shuffle
    hash-partitions the postings by token and sorts within each
    partition, so a persisted (or parquet-written) index stores each
    token's posting list contiguously — cached-scan batch pruning
    (min/max token stats per column batch) then skips everything but
    the queried words' batches, the in-memory analogue of the
    partitioned-by-token layout the deployment writes. Build pays the
    one shuffle; every phrase query afterwards touches posting-list-
    sized data (the x42/x89/x91 build/serve split, applied here per
    the r8 verdict #2)."""
    out = (
        docs.select(
            F.col(DOC_ID), F.posexplode(T.tokens(TEXT_COL)).alias("pos0", "token")
        )
        .select("token", DOC_ID, (F.col("pos0") + 1).cast("bigint").alias("pos"))
    )
    if cluster_by_token:
        out = out.repartition("token").sortWithinPartitions("token")
    return out


def phrase_search(index: DataFrame, phrase: list[str]) -> DataFrame:
    """Documents containing the exact adjacent phrase, with occurrence
    counts: an occurrence starting at position p has word i at
    p + i, so each word's postings align on the START position
    (pos − i) and the intersection is k−1 equi-joins on
    (doc, start). Returns (id, n_occurrences)."""
    if not phrase:
        raise ValueError("phrase must contain at least one token")
    cur = index.filter(F.col("token") == phrase[0]).select(
        DOC_ID, F.col("pos").alias("start")
    )
    for i, word in enumerate(phrase[1:], start=1):
        nxt = index.filter(F.col("token") == word).select(
            DOC_ID, (F.col("pos") - i).alias("start")
        )
        cur = cur.join(nxt, [DOC_ID, "start"])
    return cur.groupBy(DOC_ID).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
