"""Bounded-memory frequent-items (heavy hitters): Misra-Gries
candidates + exact recount.

The two-pass pattern a 100 TB token-frequency query actually needs:
a full ``groupBy(token)`` shuffles the ENTIRE vocabulary — fine until
the heavy tail of near-unique tokens (URLs, ids, typos) dominates the
shuffle and the aggregation hash tables spill. The classic fix
(Misra/Gries 1982; the "Frequent" algorithm) summarizes each
partition in O(capacity) memory, then a second pass recounts ONLY the
surviving candidates exactly — the shuffle carries candidate rows,
never the tail.

Guarantee (why the top-k is provably exact, not approximate): a
Misra-Gries summary of capacity m over n items undercounts any item
by at most n/(m+1), so every token with partition-local count
> n_p/(m+1) survives its partition's summary; a GLOBAL heavy hitter
with total count > N/(m+1) must exceed the local threshold in at
least one partition (pigeonhole) and therefore appears in the
candidate union. Hence if the k-th exact candidate count exceeds
N/(m+1), the candidate set provably contains every token of the true
top-k and the recounted top-k IS the exact answer — the
``heavy_bound_holds`` boolean the query ships computes exactly that
inequality in-plan (the a05/x12 contract-frame idiom: an
approximation-machinery regression flips a hashed bit).

Scale shape: pass 1 is mapInPandas (Arrow batches; per-batch
``value_counts`` is vectorized C, the MG dict touches only per-batch
DISTINCT tokens, and each decrement event is one vectorized Series
subtraction), emitting ≤ capacity rows per partition. Pass 2
broadcasts the candidate union (≤ capacity × n_partitions rows, KBs)
into a narrow filter + groupBy over candidates only. No full-vocab
shuffle anywhere.

Per-batch memory is O(batch distinct tokens), NOT O(capacity): the
decrement fires once per Arrow batch, AFTER the full per-batch
``value_counts`` merges into the summary — so the transient peak is
the batch's distinct-token count plus capacity, shrinking back to
≤ capacity between batches. Arrow-sized batches (the default
~10k rows) keep that peak trivially small; do not set a tiny
capacity expecting it to bound the per-batch peak.

Honest crossover, measured twice (the scoped-claim discipline):

- r9, 100× decade, 550M tokens, SMALL vocabulary: plain
  ``groupBy(token)`` 3.4 s warm vs this path's 5.1 s — map-side
  combine collapses a small vocabulary for free.
- late r10, a deliberately TAIL-HEAVY deterministic Zipf corpus
  (100M occurrences, 7.3M distinct tokens — log-uniform token map,
  freq ∝ 1/rank): plain groupBy 2.75 s vs MG 19.9–24.1 s across
  capacity ∈ {256, 512, 1024} (certified from 512 up; recounted
  top-20 identical to the groupBy's). The tail alone does NOT
  rescue the two-pass shape on one box: the candidate pass is an
  Arrow→pandas scan (~0.2 µs/row) while the hash aggregate is
  whole-stage-codegen JVM (~0.03 µs/row), and a single-machine
  "shuffle" of 7M partial rows moves through the memory bus in
  well under the 17 µs/row gap.

So the win regime is narrower than "tail-heavy": it needs the
full-vocab shuffle to be NETWORK-bound and the partial-agg hash
tables to spill — a 1000-executor cluster shuffling billions of
singletons — or the scan to already be Python-resident. On any
single box measured so far the plain groupBy wins at every
vocabulary shape; ``exact_topk_tokens`` is the default choice there
and the registered queries (x93/x95) gate the machinery's
EXACTNESS, not a speed claim.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _make_mg_summarize(col: str, capacity: int):
    """Build one partition's Misra-Gries pass as a CLOSURE: nested
    functions pickle BY VALUE (code + cells), which is what lets the
    pass run on executors that cannot import this package (the repo
    is driver-side only; a module-level function pickles by
    reference and the worker's unpickle raises
    ModuleNotFoundError — hit when this was briefly refactored to a
    module function in r9). The factory also gives the unit tests a
    direct handle on the decrement semantics with hand-built batch
    sequences (Arrow batch boundaries cannot be controlled finely
    enough through mapInPandas for the adversarial cases)."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters = pd.Series(dtype="int64")
        for pdf in batches:
            counters = counters.add(pdf[col].value_counts(), fill_value=0)
            if len(counters) > capacity:
                # batched MG decrement: SUBTRACT the (capacity+1)-th
                # largest count from ALL counters and drop the
                # non-positive — each such event removes ≥ capacity+1
                # units per subtracted count-unit, preserving the
                # n_p/(capacity+1) undercount bound. The subtraction
                # is load-bearing (r9 review found the original code
                # FILTERING without subtracting: dominant counters
                # never depleted, so a token arriving across many
                # batches could be re-dropped with unbounded total
                # loss — the superset guarantee and the exactness
                # certificate were both unsound;
                # tests/test_operators.py pins the reviewer's
                # counterexample)
                delta = counters.nlargest(capacity + 1).iloc[-1]
                counters = counters - delta
                counters = counters[counters > 0]
        yield pd.DataFrame({col: counters.index.astype(str)})

    return summarize


def mg_candidates(
    tokens: DataFrame, col: str = "token", capacity: int = 400
) -> DataFrame:
    """Per-partition Misra-Gries summaries over a one-column token
    frame; returns the distinct candidate union (one ``col``
    column). Candidates are a SUPERSET of every token with global
    frequency > N/(capacity+1) regardless of partitioning (module
    docstring), so downstream exactness never depends on Spark's
    partition boundaries."""
    return tokens.mapInPandas(
        _make_mg_summarize(col, capacity), f"{col} string"
    ).distinct()


def frequent_tokens(
    tokens: DataFrame,
    k: int = 20,
    capacity: int = 400,
    col: str = "token",
    total: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k most frequent tokens via MG candidates + recount:
    (token, n_occurrences, heavy_bound_holds). ``heavy_bound_holds``
    certifies in-plan that the result is provably the exact global
    top-k: the candidate recount returned a FULL k rows AND the k-th
    count clears the N/(capacity+1) undercount bound (module
    docstring). A short result (candidate union < k tokens) can never
    read certified — positions |candidates|+1..k would be silently
    absent — and an empty result certifies FALSE, not NULL (both
    r9-ADVICE holes). When it reads FALSE, raise ``capacity`` or use
    :func:`frequent_tokens_exact`, which escalates automatically.

    ``total``: optional one-row (n_total bigint) frame. Callers that
    can compute the stream length WITHOUT re-scanning the exploded
    tokens should pass it — e.g. a doc-level SUM(size(tokens(text)))
    is one column-pruned scan of the document table instead of a
    third pass over N exploded rows (what x93 does); by default the
    count runs over ``tokens`` itself."""
    cands = mg_candidates(tokens, col=col, capacity=capacity)
    exact = (
        tokens.join(F.broadcast(cands), col)
        .groupBy(col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )
    topk = exact.orderBy(
        F.col("n_occurrences").desc(), F.col(col).asc()
    ).limit(k)
    if total is None:
        total = tokens.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    kth = topk.agg(
        F.min("n_occurrences").alias("kth"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    bound = kth.crossJoin(F.broadcast(total)).select(
        (
            (F.col("n_rows") == F.lit(k))
            & F.coalesce(
                F.col("kth") * F.lit(capacity + 1) > F.col("n_total"),
                F.lit(False),
            )
        ).alias("heavy_bound_holds")
    )
    return topk.crossJoin(F.broadcast(bound))


def exact_topk_tokens(tokens: DataFrame, k: int) -> DataFrame:
    """The plain full-vocabulary groupBy top-k — the shape the MG
    path exists to avoid at scale, kept as the unconditional-exact
    fallback. Same schema as :func:`frequent_tokens`
    (heavy_bound_holds is TRUE: the result IS exact by
    construction)."""
    return (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(k)
        .withColumn("heavy_bound_holds", F.lit(True))
    )


def frequent_tokens_exact(
    tokens: DataFrame,
    k: int = 20,
    capacity: int = 400,
    max_doublings: int = 2,
) -> DataFrame:
    """:func:`frequent_tokens` with auto-escalation: when the
    exactness certificate reads FALSE, retry with doubled capacity
    (``max_doublings`` bounded), then fall back to
    :func:`exact_topk_tokens` — callers get the exact answer
    UNCONDITIONALLY, with the bounded-memory two-pass shape as the
    optimization (r9 verdict #3: a real pipeline never wants a
    possibly-inexact top-k plus a FALSE flag).

    Driver-side control flow on a one-value aggregate: each attempt
    evaluates the certificate (one corpus pass); the returned frame
    re-runs its plan when the caller acts on it. On a corpus where
    the first capacity certifies — the common case — that is one
    probe pass, the price of the unconditional-exactness contract."""
    cap = capacity
    for _ in range(max_doublings + 1):
        res = frequent_tokens(tokens, k=k, capacity=cap)
        ok = res.agg(
            F.min(F.col("heavy_bound_holds").cast("int")).alias("ok")
        ).first()["ok"]
        if ok == 1:
            return res
        cap *= 2
    return exact_topk_tokens(tokens, k)
