"""Reference-corpus n-gram language-model quality scoring.

The training-data filter the Gopher/C4-style ratio signals (x02) do
not cover: how REFERENCE-LIKE is each document's word sequence? The
classic form scores mean token log-probability under a KenLM-style
n-gram model. This engine's form keeps the ranking and drops the
logarithm: conditional bigram probabilities are INTEGER floor-scaled
rationals (the x54 PMI / x33 fill_frac convention), summed exactly
and floor-averaged, so the score is bit-identical in ANSI SQL — no
libm ln() whose last-ulp behavior differs across engines, no float
fold-order dependence.

    p_scaled(w1 w2)  = (c(w1, w2) * SCALE) DIV c(w1 ·)
    doc_score_scaled = SUM(p_scaled over the doc's bigrams)
                       DIV n_bigrams

Higher = the document's transitions are more typical of the
reference corpus (templated/repetitive docs score high; junk with
unusual transitions scores low — both ends are the screening
signal). With the corpus itself as reference (self-scoring, the
usual bootstrap before a curated reference exists), every observed
bigram has count ≥ 1, so no smoothing term is needed; against an
external reference, unseen bigrams contribute 0 (the floor of any
add-k estimate at corpus scale).

Scale shape: one explode to (doc, w1, w2) bigram rows; two
vocabulary-bounded count aggregations (context counts, bigram
counts); one join per count table keyed on vocabulary terms (hash
joins — count tables are vocab-sized, not corpus-sized; hot
contexts like stopwords are exactly what AQE skew handling exists
for); one final per-doc aggregation. All counts/sums are int64 —
headroom: SUM(p_scaled) ≤ n_bigrams × SCALE, fine to ~9e12 bigrams
per document at SCALE=1e6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.functions import text as T
from duckdb_retail_pipeline_spark.functions.text import DOC_ID, TEXT_COL
from duckdb_retail_pipeline_spark.memo import rotating_persist

SCALE = 10**6

# one-entry persist rotations for the two count tables — the
# "trained model" of the scorer (vocabulary-sized, NOT corpus-sized:
# safe residents at any scale) — and for the doc-bigram-count
# STAGING table, which is corpus-SCALE (distinct (doc, bigram) rows;
# measured 26.1M rows from 550M occurrences at the 100× decade — a
# 21× collapse, because real documents repeat transitions). The
# staging table is the single explode everything else derives from:
# warm scoring reads it instead of re-exploding the corpus (measured
# at 100×: 37.6 → 3.9 s warm; cold build 105 → ~65 s since the count
# tables now aggregate 26M staged rows, not 550M raw bigrams). A
# cluster deployment writes this staging frame as a parquet table
# (bucketed by w1 if the reference joins repeat) rather than relying
# on a memory+disk persist of a corpus-scale resident.
_CTX_SLOT: list = []
_BG_SLOT: list = []
_STAGE_SLOT: list = []


def doc_bigrams(docs: DataFrame) -> DataFrame:
    """(id, w1, w2) adjacent-token pairs, one row per bigram
    OCCURRENCE (order within the doc does not matter downstream, so
    no position column rides the explode)."""
    toks = T.tokens(TEXT_COL)
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("w1"),
            F.slice(toks, 2, n - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return (
        docs.select(F.col(DOC_ID), F.explode(pairs).alias("bg"))
        .select(DOC_ID, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


def doc_bigram_counts(docs: DataFrame) -> DataFrame:
    """(id, w1, w2, cnt) — per-document bigram counts, the STAGING
    table of the scorer (module comment at the slot constants): one
    explode + one (id, w1, w2) aggregation, after which no consumer
    ever touches raw bigram occurrences again."""
    return (
        doc_bigrams(docs)
        .groupBy(DOC_ID, "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def bigram_lm_scores(docs: DataFrame, reference: DataFrame | None = None) -> DataFrame:
    """Per-document bigram-LM quality score (module docstring).

    Returns (id, n_bigrams, lm_score_scaled): the floor-mean of the
    floor-scaled conditional bigram probabilities under
    ``reference`` (default: ``docs`` itself — self-scoring).
    Documents with < 2 tokens have no bigrams and are omitted — a
    length filter (x02/x28) owns that regime.

    Bit-identical to scoring raw occurrences: p_scaled is constant
    per (w1, w2), so Σ_occurrences p = Σ_staged cnt·p and the
    floor-mean divides by Σ cnt = n_bigrams — integer arithmetic
    throughout, fold-order-independent (the staging rewrite cannot
    move the result; pinned by the unchanged x87 oracle and the
    DuckDB differential test).
    """
    bgc = rotating_persist(
        doc_bigram_counts(docs),
        _STAGE_SLOT,
    )
    if reference is None:
        # self-scoring: both count tables derive from the staging
        # table — corpus occurrence counts are exact sums of the
        # per-doc counts, and the raw bigram frame is never re-read
        c_ctx = rotating_persist(
            bgc.groupBy("w1").agg(
                F.sum("cnt").cast("bigint").alias("c_ctx")
            ),
            _CTX_SLOT,
        )
        c_bg = rotating_persist(
            bgc.groupBy("w1", "w2").agg(
                F.sum("cnt").cast("bigint").alias("c_bg")
            ),
            _BG_SLOT,
        )
    else:
        ref_bg = doc_bigrams(reference)
        c_ctx = rotating_persist(
            ref_bg.groupBy("w1").agg(
                F.count(F.lit(1)).cast("bigint").alias("c_ctx")
            ),
            _CTX_SLOT,
        )
        c_bg = rotating_persist(
            ref_bg.groupBy("w1", "w2").agg(
                F.count(F.lit(1)).cast("bigint").alias("c_bg")
            ),
            _BG_SLOT,
        )
    scored = (
        bgc.join(c_bg, ["w1", "w2"], "left")
        .join(c_ctx, "w1", "left")
        .select(
            DOC_ID,
            "cnt",
            # unseen-in-reference bigram → 0 (left-join NULL counts);
            # integer DIV keeps the sum exact and order-independent
            F.coalesce(
                F.call_function(
                    "div",
                    F.col("c_bg") * F.lit(SCALE),
                    F.col("c_ctx"),
                ),
                F.lit(0).cast("bigint"),
            ).alias("p_scaled"),
        )
    )
    return (
        scored.groupBy(DOC_ID)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.call_function(
                "div",
                F.sum(F.col("cnt") * F.col("p_scaled")),
                F.sum("cnt"),
            ).alias("lm_score_scaled"),
        )
    )
