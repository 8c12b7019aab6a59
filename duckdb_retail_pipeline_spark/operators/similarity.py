"""Approximate-nearest-neighbor search over embedding columns.

  brute_force_topk — exact cosine top-k; the correctness baseline.
                     One scan, JVM-side arithmetic, TakeOrdered —
                     right answer at any scale that can afford the
                     full scan.
  lsh_topk         — random-hyperplane LSH bucketing; probes only
                     matching buckets. The scale path: candidate set
                     shrinks ~2^bits-fold.
  ivf_topk         — IVF-style coarse quantization: k-means-ish
                     centroids picked deterministically, vectors
                     assigned to nearest centroid, queries probe the
                     nprobe nearest cells.

Hyperplanes/centroids are derived deterministically from data (no
RNG) so runs are reproducible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.functions import vectors as V
from duckdb_retail_pipeline_spark.functions.vectors import VEC_COL, VEC_ID


def query_anchor(emb: DataFrame) -> list[float]:
    """The query vector anchored at ``vec_id`` 0 — the convention
    every registered ANN query uses (the oracle re-derives the same
    vector via ``WHERE vec_id = 0``). Raises a CLEAR error when the
    anchor row is absent (empty corpus, filtered-away id): the
    anchor is part of the query CONTRACT, and the bare
    ``first()[VEC_COL]`` this replaces died with an opaque
    ``TypeError: 'NoneType' object is not subscriptable`` one frame
    away from the actual cause (r13 zero-row-corpus probe)."""
    row = emb.filter(F.col(VEC_ID) == 0).select(VEC_COL).first()
    if row is None or row[VEC_COL] is None:
        raise ValueError(
            f"query anchor {VEC_ID}=0 not found (or has a "
            f"NULL {VEC_COL}) — the corpus is empty or the anchor id "
            "is absent; ANN queries need an existing anchor vector"
        )
    return [float(x) for x in row[VEC_COL]]


def query_anchor_memo(spark, sf_dir: str, emb: DataFrame) -> list[float]:
    """``query_anchor`` memoized per (session, dataset): the
    anchor fetch is a full Spark job (~140 ms at sf0.1, measured
    r13) re-run by every ANN query invocation during PLAN BUILD for
    a value that is one dim-sized driver list derived from the same
    parquet. dataset_memo's per-file mtime signature keeps the
    staleness contract — an in-session dataset regeneration
    re-fetches instead of serving the stale anchor — and a missing
    anchor still raises query_anchor's clear error (exceptions are
    never memoized). The memo tag folds in ``emb.semanticHash()``
    (r13 ADVICE): keyed on (dataset, anchor, cols) alone, a caller
    passing a FILTERED/derived frame for the same sf_dir would
    silently be served the anchor fetched from whichever frame built
    the entry first — latent today (all call sites pass the base
    embeddings table) but one new call site away from live."""
    from duckdb_retail_pipeline_spark.memo import dataset_memo

    return dataset_memo(
        spark,
        sf_dir,
        f"query_anchor:{emb.semanticHash()}",
        lambda: query_anchor(emb),
    )


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``. The literal
    array is constant-folded by Catalyst; ordering ties break on id
    so results are total-ordered and reproducible."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = emb.select(
        F.col(VEC_ID),
        F.round(V.cosine_similarity(F.col(VEC_COL), q), 4).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(VEC_ID).asc()).limit(k)


def _hyperplanes_from_data(emb: DataFrame, bits: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: take the first
    ``bits`` vectors by id, center them by the dataset mean. Driver
    collects only bits × dim floats — O(KB). A corpus with fewer
    than ``bits`` vectors raises: silently building an index with
    fewer sign bits than asked is the silent-truncation class the
    r11 nprobe fix removed (and a 0-vector corpus previously died
    on the mean row's ``None / None`` far from the cause — r13
    zero-row-corpus probe)."""
    rows = emb.orderBy(VEC_ID).limit(bits).select(VEC_COL).collect()
    if len(rows) < bits:
        raise ValueError(
            f"cannot derive {bits} LSH hyperplanes from a corpus of "
            f"{len(rows)} vectors — the index would silently carry "
            f"{len(rows)} sign bits; shrink bits or grow the corpus"
        )
    mean = emb.select(
        F.aggregate(
            F.transform(VEC_COL, lambda x: x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("s"),
        F.size(VEC_COL).alias("n"),
    ).agg(F.avg("s").alias("avg_sum"), F.first("n").alias("dim")).collect()[0]
    dim = mean["dim"]
    grand_mean = mean["avg_sum"] / dim
    return [[float(v) - grand_mean for v in r[VEC_COL]] for r in rows]


def _bucket_from_dots(dots, bits: int):
    """LSH bucket id = sign bits over a per-plane dots array (ONE
    shared expression — a plane_dots kernel call is deduplicated
    however many sign bits reference it)."""
    bucket = F.lit(0).cast("long")
    for i in range(bits):
        bit = F.when(
            F.element_at(dots, i + 1) >= 0, F.lit(2**i)
        ).otherwise(F.lit(0))
        bucket = bucket + bit.cast("long")
    return bucket


def _bucket_expr(vec_col: str, planes: list[list[float]]):
    """LSH bucket id = sign bits against each hyperplane."""
    return _bucket_from_dots(V.plane_dots(vec_col, planes), len(planes))


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-10 over a 4-bit LSH index: probe the query's bucket
    (plus, with ``nprobe > 1``, the buckets reached by flipping the query's
    least-confident sign bits — multi-probe LSH, Lv et al. VLDB'07:
    a vector near a hyperplane is equally likely on either side, so
    flipping the smallest-|dot| bits finds the likeliest misses
    without growing the index), exact cosine within the probed set.
    Recall < 1 by construction; pair with ``brute_force_topk`` to
    measure (tests and the x12 driver contract do). Candidate cost
    scales with nprobe/16 of the corpus — the probe list is a
    driver-side O(nprobe) int list, never a scan."""
    if nprobe > 5:
        raise ValueError(
            f"nprobe={nprobe} unrealizable with bits=4: at most "
            "bits+1=5 distinct single-bit-flip probes exist"
        )
    planes = _hyperplanes_from_data(emb, 4)
    bucketed = emb.withColumn("__bucket", _bucket_expr(VEC_COL, planes))
    probes = _query_probes(planes, query_vec, nprobe)

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cand = bucketed.filter(F.col("__bucket").isin(probes))
    scored = cand.select(
        F.col(VEC_ID),
        F.round(V.cosine_similarity(F.col(VEC_COL), q), 4).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(VEC_ID).asc()).limit(10)


def _query_probes(
    planes: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The query's bucket + its nprobe−1 least-confident single-bit
    flips, computed driver-side with the index's own planes
    (multi-probe order: ascending |dot|, ties by plane index —
    deterministic)."""
    dots = [
        sum(float(a) * float(b) for a, b in zip(query_vec, p)) for p in planes
    ]
    qb = sum(2**i for i, d in enumerate(dots) if d >= 0)
    flip_order = sorted(range(len(planes)), key=lambda i: (abs(dots[i]), i))
    return [qb] + [qb ^ (1 << i) for i in flip_order[: max(0, nprobe - 1)]]


def lsh_index(
    emb: DataFrame,
    bits: int = 4,
) -> dict:
    """Build the serveable LSH index ONCE: data-derived hyperplanes
    (frozen with the index — every later ingest and query must hash
    with THESE planes or bucket membership is meaningless) and the
    bucketed corpus frame. Returns ``{"planes": [...], "bucketed":
    DataFrame(id, vec, __bucket)}``. Persistence belongs to an owner
    (``dataset_memo``), same contract as ``build_ivf_index``."""
    planes = _hyperplanes_from_data(emb, bits)
    bucketed = emb.select(VEC_ID, VEC_COL).withColumn(
        "__bucket", _bucket_expr(VEC_COL, planes)
    )
    return {"planes": planes, "bucketed": bucketed}


def lsh_index_upsert(
    index: dict,
    delta: DataFrame,
) -> dict:
    """Incremental ANN-index ingest — the maintenance operation a
    100 TB deployment performs instead of rebuilding: bucket ONLY the
    delta with the index's frozen planes (O(|delta|) — one kernel
    pass, no corpus scan), supersede same-id rows (delta wins, the
    upsert convention) via an id anti-join, and union. Because bucket
    assignment is a pure function of (planes, vector), the upserted
    index is row-identical to bulk-loading the union corpus with the
    same planes — the invariant x91's driver contract pins in-plan.
    Recall for NEW vectors matches their bulk-loaded recall
    immediately; planes are never re-derived (re-deriving them from
    the grown corpus would re-bucket EVERYTHING — that is a rebuild,
    not an upsert, and real systems schedule it separately)."""
    delta_b = delta.select(VEC_ID, VEC_COL).withColumn(
        "__bucket", _bucket_expr(VEC_COL, index["planes"])
    )
    kept = index["bucketed"].join(
        delta.select(VEC_ID), VEC_ID, "left_anti"
    )
    return {
        "planes": index["planes"],
        "bucketed": kept.unionByName(delta_b),
    }


def lsh_index_query(
    index: dict,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """Serve a top-k query from a built/upserted LSH index: probe the
    query's bucket + flips (driver-side O(nprobe) probe list), exact
    cosine within the probed buckets — ``lsh_topk``'s query stage
    decoupled from its index build."""
    bits = len(index["planes"])
    if nprobe > bits + 1:
        # same guard as lsh_topk/batch_ann_topk (r11 review: this
        # entry point was missed): _query_probes' flip slice stops at
        # len(planes), so excess nprobe would SILENTLY deliver fewer
        # probes than the recall the caller configured for
        raise ValueError(
            f"nprobe={nprobe} unrealizable with bits={bits}: at most "
            f"bits+1={bits + 1} distinct single-bit-flip probes exist"
        )
    probes = _query_probes(index["planes"], query_vec, nprobe)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cand = index["bucketed"].filter(F.col("__bucket").isin(probes))
    scored = cand.select(
        F.col(VEC_ID),
        F.round(V.cosine_similarity(F.col(VEC_COL), q), 4).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(VEC_ID).asc()).limit(k)


def ann_contract(
    emb: DataFrame,
    query_vec: list[float],
    ann: DataFrame,
    min_recall_hits: int = 1,
) -> DataFrame:
    """One-row boolean contract over an ANN result, computed entirely
    in-plan against brute force — the a05 sketch-contract pattern:
    the driver's oracle states each boolean as TRUE, so an ANN
    regression (lost recall, wrong scores, dropped self-match) flips
    a bit and fails the value hash even though the approximate result
    itself is not SQL-reproducible.

      recall_ge_bound — ≥ min(min_recall_hits, |exact top-10|) of the
                        exact top-10 ids appear in the ANN result. The
                        floor is clamped at the exact list's size
                        (r13 one-row probe, the a05 vacuous-truth
                        principle): a floor of 5 is unsatisfiable on
                        a 3-vector corpus where perfect recall is 3 —
                        the clamp keeps the contract MEANINGFUL at
                        every corpus size and is the identity on
                        every registered corpus (|exact| = 10 there).
      scores_exact    — every ANN cosine equals the exact cosine for
                        that id (the index must never change scores,
                        only the candidate set)
      self_found      — the ANN result contains a cosine≈1 match
                        (the query vector is drawn from the corpus,
                        so its own bucket/cell must return it)
      returned_k      — the ANN result has exactly min(10, corpus)
                        rows (= |exact top-10|, same clamp: a
                        2-vector corpus can never return 10)
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored_all = emb.select(
        F.col(VEC_ID),
        F.round(V.cosine_similarity(F.col(VEC_COL), q), 4).alias("exact_cosine"),
    )
    exact_ids = (
        scored_all.orderBy(F.col("exact_cosine").desc(), F.col(VEC_ID).asc())
        .limit(10)
        .select(VEC_ID, F.lit(1).alias("__in_exact"))
    )
    # one-row |exact top-10| frame (≤ 10 rows counted — limit already
    # applied), broadcast into the contract agg so both clamps read
    # it in-plan; O(1) data, no extra corpus pass (exact_ids is the
    # same subplan the recall join already scans)
    exact_n = exact_ids.agg(
        F.count(F.lit(1)).cast("int").alias("__exact_n")
    )
    j = (
        ann.join(scored_all, VEC_ID, "left")
        .join(exact_ids, VEC_ID, "left")
        .crossJoin(F.broadcast(exact_n))
    )
    return j.agg(
        (
            F.sum(F.coalesce(F.col("__in_exact"), F.lit(0)))
            >= F.least(F.lit(min_recall_hits), F.first("__exact_n"))
        ).alias("recall_ge_bound"),
        # coalesce(False): bool_and SKIPS NULL inputs, and the
        # corruption this boolean exists to catch (broken norm →
        # NULL cosine) would otherwise be waved through (the x42
        # glob contract learned the same lesson)
        F.bool_and(
            F.coalesce(
                F.abs(F.col("cosine") - F.col("exact_cosine")) < 1e-9,
                F.lit(False),
            )
        ).alias("scores_exact"),
        F.max(F.col("exact_cosine") >= 0.9999).alias("self_found"),
        (F.count(F.lit(1)) == F.first("__exact_n")).alias("returned_k"),
    )


#: rows per query of the batch retrievals (x39, x42)
BATCH_K = 3


def hierarchical_topk(scored: DataFrame) -> DataFrame:
    """Top-``BATCH_K`` per query over a (query_id, vec_id, cosine)
    frame via bounded-partition two-stage rank: local row_number
    within (query, crc32-shard of id) keeps at most BATCH_K rows per
    shard, then a global rank per query runs over ≤ 64 × BATCH_K
    survivors. Neither window partition ever holds a corpus-sized
    slice — the failure mode of a naive rank-over-query partition at
    100 TB. Provably identical to the flat rank: any global top-k row
    is top-k within its shard. Ties break on id ascending (total order).

    Scale rule for the shard count: a local partition holds
    ~candidates-per-query / shards rows, so shards = expected
    candidates / target-partition-rows (e.g. ~1M). 64 covers every
    registered caller: the ANN paths feed bounded candidate sets
    (~bucket·nprobe per query) and the exact x39 baseline is itself
    the documented O(|Q|·corpus) boundary whose escape is x42. The
    result is shard-count-invariant, so re-sharding never changes a
    hash."""
    from pyspark.sql import Window

    shard = F.crc32(F.col(VEC_ID).cast("string")) % 64
    w_local = Window.partitionBy("query_id", "__shard").orderBy(
        F.col("cosine").desc(), F.col(VEC_ID).asc()
    )
    partial = (
        scored.withColumn("__shard", shard)
        .withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= BATCH_K)
        .drop("__shard", "__lr")
    )
    w_global = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(VEC_ID).asc()
    )
    return (
        partial.withColumn("rnk", F.row_number().over(w_global).cast("bigint"))
        .filter(F.col("rnk") <= BATCH_K)
    )


#: auto-resolution targets ~this many corpus vectors per LSH bucket,
#: so the probed fraction (nprobe/2^bits) SHRINKS as the corpus grows
#: and per-query scoring cost stays ~bucket_size·nprobe instead of a
#: constant fraction of the corpus. Measured (r6, grow-mode data with
#: ~k× distinct groups AND per-copy-perturbed vectors): corpus 2000 →
#: bits 3/nprobe 3 (the driver-contract config, recall per the r5
#: sweep); corpus 20000 → 6/7, 4.3 s, sample recall 12/12; corpus
#: 60000 → 7/8, 16.3 s, sample recall 12/12 — vs 69 s at fixed
#: bits=3 for the same 30× corpus (cost ratio = probed-fraction
#: ratio; nprobe is capped at bits+1, the realizable single-bit-flip
#: probe count — the measurements above ran at exactly these capped
#: values). At every driver/test SF (corpus ≤ 2000) auto resolves to
#: the registered 3/3, so the oracle contract and swept recall
#: floors are unchanged.
ANN_TARGET_BUCKET = 250


def nprobe_for_bits(bits: int) -> int:
    """nprobe for an index resolution: 2 extra probes per bit above
    the base 3, capped at bits + 1 — the realizable probe count in
    the single-bit-flip structure. The ONE source of truth for both
    auto-resolution and the explicit-bits default (they drifted
    silently before being factored here)."""
    return min(3 + 2 * (bits - 3), bits + 1)


def resolve_ann_resolution(n_corpus: int) -> tuple[int, int]:
    """(bits, nprobe) for a corpus size: bits grows with the corpus
    (bucket population ~ ANN_TARGET_BUCKET), nprobe grows 2 probes
    per extra bit to hold recall — CAPPED at bits + 1, the number of
    realizable probes in the single-bit-flip probe structure (base
    bucket + one flip per plane; an r6 review found the uncapped
    formula silently truncated in the probe slice above bits=4, so
    the measured grow-mode anchors are the capped values: corpus
    20000 → (6, 7), 60000 → (7, 8), sample recall 12/12 both)."""
    import math

    bits = 3
    if n_corpus > 2 * ANN_TARGET_BUCKET:
        bits = max(3, int(math.floor(math.log2(n_corpus / ANN_TARGET_BUCKET))))
    return bits, nprobe_for_bits(bits)


def batch_ann_topk(
    emb: DataFrame,
    qset: DataFrame,
    bits: int | None = 4,
    nprobe: int | None = 3,
) -> DataFrame:
    """ANN-backed batch retrieval (the scale path for batch top-k
    similarity joins, k = ``BATCH_K``): every corpus vector is LSH-bucketed once
    (sign bits against data-derived hyperplanes, as ``lsh_topk``);
    every QUERY row computes its own bucket plus its multi-probe
    flips (Lv et al. VLDB'07) entirely in-plan — per-plane |dot|
    structs, array_sort picks the nprobe−1 least-confident bits, a
    power-of-two lookup array turns each into a bucket xor. The
    candidate join is (broadcast exploded query-probes) × corpus on
    bucket equality, so per-query scoring cost is ~nprobe/2^bits of
    the corpus instead of all of it — O(|Q|·corpus·nprobe/2^bits)
    total, vs the exact join's O(|Q|·corpus). Final ranking reuses
    ``hierarchical_topk`` (bounded window partitions).

    ``qset`` must have columns (query_id, qvec). Recall < 1 by
    construction; pair with the exact rank to measure (the x42
    driver contract does). Each corpus vector lives in exactly one
    bucket and a query's probe buckets are distinct, so no
    per-(query, vector) duplicates arise.

    ``bits=None`` (with ``nprobe=None``) resolves both from the
    corpus size via ``resolve_ann_resolution`` — one O(1) count()
    driver probe, same class as the hyperplane collection below."""
    if bits is None:
        bits, auto_nprobe = resolve_ann_resolution(emb.count())
        if nprobe is None:
            nprobe = auto_nprobe
    elif nprobe is None:
        nprobe = nprobe_for_bits(bits)
    if nprobe > bits + 1:
        # the probe list is the base bucket + single-bit flips, so
        # only bits+1 distinct probes exist — fail loudly instead of
        # silently truncating the flip slice (r6 review finding)
        raise ValueError(
            f"nprobe={nprobe} unrealizable with bits={bits}: the "
            f"single-bit-flip probe structure yields at most bits+1="
            f"{bits + 1} distinct probes"
        )
    planes = _hyperplanes_from_data(emb, bits)
    corpus = emb.withColumn("__b", _bucket_expr(VEC_COL, planes)).withColumn(
        "__nb", V.norm(VEC_COL)
    )

    # per-query bucket + probe list: ONE plane_dots kernel call per
    # query row feeds both the bucket's sign bits and the probe
    # confidences (identical UDF expressions dedupe in the plan)
    qdots = V.plane_dots("qvec", planes)
    dot_structs = F.array(
        *[
            F.struct(
                F.abs(F.element_at(qdots, i + 1)).alias("a"),
                F.lit(i).alias("i"),
            )
            for i in range(len(planes))
        ]
    )
    pow2 = F.array(*[F.lit(2**i).cast("long") for i in range(bits)])
    q = qset.withColumn("__qb", _bucket_from_dots(qdots, bits))
    if nprobe > 1:
        flips = F.slice(F.array_sort(dot_structs), 1, nprobe - 1)
        probes = F.concat(
            F.array(F.col("__qb")),
            F.transform(
                flips,
                lambda s: F.col("__qb")
                .bitwiseXOR(F.element_at(pow2, s["i"] + F.lit(1)))
                .cast("long"),
            ),
        )
    else:
        probes = F.array(F.col("__qb"))
    # query norms hoisted into the broadcast side (one per query, not
    # one per candidate pair — cosine_from_parts, value-identical)
    probed = q.select(
        "query_id",
        "qvec",
        V.norm("qvec").alias("__na"),
        F.explode(probes).alias("__probe"),
    )

    cand = corpus.join(
        F.broadcast(probed), F.col("__b") == F.col("__probe")
    ).filter(F.col(VEC_ID) != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col(VEC_ID),
        F.round(
            V.cosine_from_parts(
                F.col(VEC_COL), F.col("qvec"), F.col("__na"), F.col("__nb")
            ),
            4,
        ).alias("cosine"),
    )
    return hierarchical_topk(scored)


def _nearest_cell_expr(col, cents: list[list[float]]):
    """Index of the nearest centroid by cosine, as a pure JVM
    expression (no UDF): an array of per-centroid similarities and a
    first-occurrence argmax. Ties break to the lower index (the
    first array_position hit — same semantics as a strict-> scan).

    Deliberately NOT a when-chain: folding best-so-far through
    when(sim > best, ...).otherwise(best) embeds the previous chain
    TWICE per centroid, so the expression tree grows 2^n_cells
    copies of the dim-literal cosine subtree — at 8 cells x 64 dims
    Catalyst analysis alone took ~6 s per assignment plan (38 s for
    two Lloyd passes over 2000 rows, r6 profile). The array form is
    linear in n_cells; the same two k-means iterations now cost
    ~1 s."""
    sims = F.array(
        *[
            V.cosine_similarity(col, F.array(*[F.lit(x) for x in cvec]))
            for cvec in cents
        ]
    )
    # first occurrence of the max ≡ strict-> scan; coalesce keeps the
    # old all-NULL (zero-norm vector) fallback of cell 0
    return F.coalesce(
        (F.array_position(sims, F.array_max(sims)) - F.lit(1)).cast("int"),
        F.lit(0),
    )


#: above this many cells the literal-expression argmax becomes the
#: wrong shape (n_cells × dim literals in ONE expression tree: at 64
#: cells × 64 dims that is 4k literals per plan, and each cell's
#: cosine is its own Arrow-kernel call — 64 kernel invocations/row);
#: the pinned driver-contract configs (8 cells) stay on the literal
#: path so their swept recall floors and bit-exact oracles never move
CELL_EXPR_MAX = 16


def _nearest_cell_kernel(col, cents: list[list[float]]):
    """Nearest-centroid assignment for LARGE n_cells — the shape the
    x13/x89 docstrings promise at 100 TB: ONE Arrow kernel call per
    row computes every per-centroid dot (the centroid matrix rides
    in the kernel closure — n_cells × dim floats shipped once per
    executor, not inlined as plan literals; the same per-dimension
    fold order as ``plane_dots``, so the dots are bit-identical to
    the literal path's), divides by the centroid norms only — the
    per-row ‖v‖ factor is common to every cell, so in exact
    arithmetic it cannot change the argmax; in floats the literal
    path's EXTRA division by ‖v‖ can flip or create a tie within
    one ulp on adversarial near-tie vectors, so the two paths may
    assign different cells there (r8 ADVICE — consequence is
    bounded: only the ANN candidate set shifts, and the contract
    booleans gate recall; the differential test covers real
    embeddings, where measured assignments agree) — and returns
    the argmax cell id directly — no
    n_cells-wide JVM array expression (a 447-cell ``F.array`` of
    element_at/division nodes measured 5× slower than the 8-cell
    literal path on the assignment pass; the in-kernel argmax
    removes it). Ties break to the lower cell id (np.argmax's
    first-max), zero/NULL/ragged vectors fall back to cell 0 — the
    ``_nearest_cell_expr`` semantics. A zero-norm centroid scores
    −inf (cosine to it is undefined; it can never be nearest unless
    every cell is degenerate, where argmax's first-max yields 0)."""
    from pyspark.sql.types import IntegerType

    C = np.array(cents, dtype=np.float64)
    if C.ndim != 2:
        raise ValueError("cents must be a non-empty list of equal-length lists")
    cnorm = np.sqrt((C * C).sum(axis=1))
    inv = np.where(cnorm > 0, 1.0 / np.where(cnorm > 0, cnorm, 1.0), np.nan)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(IntegerType())
    def _cells(v: pd.Series) -> pd.Series:
        vv = v.to_numpy()
        n = len(vv)
        dim = C.shape[1]
        ok = np.fromiter(
            (x is not None and len(x) == dim for x in vv), dtype=bool, count=n
        )
        out = np.zeros(n, dtype=np.int32)
        if ok.any():
            rows = vv if ok.all() else vv[ok]
            A = np.vstack(rows).astype(np.float64, copy=False)
            acc = np.zeros((A.shape[0], C.shape[0]), dtype=np.float64)
            tmp = np.empty_like(acc)
            for i in range(dim):
                # same fold order as plane_dots: acc[:, j] += A[:, i] * C[j, i]
                # (in-place buffers: the naive form allocates two
                # batch × n_cells arrays per dimension — GBs of churn
                # per 10k-row batch at 447 cells)
                np.multiply(A[:, i, None], C[:, i], out=tmp)
                np.add(acc, tmp, out=acc)
            scores = acc * inv  # NaN columns = zero-norm centroids
            scores = np.where(np.isnan(scores), -np.inf, scores)
            best = np.argmax(scores, axis=1).astype(np.int32)
            out[np.nonzero(ok)[0]] = best
        return pd.Series(out)

    return F.coalesce(_cells(V._c(col)), F.lit(0))


def assign_cells(col, cents: list[list[float]]):
    """Nearest-centroid assignment, path chosen by cell count: the
    literal-expression argmax for pinned small configs (bit-exact
    with the driver contracts), the single-kernel matrix form past
    ``CELL_EXPR_MAX`` (the at-scale path — plan size and kernel
    invocations stay O(1) in n_cells). Both break ties to the lower
    cell id and send zero/NULL vectors to cell 0; the paths are
    differentially tested equal on real embeddings at the boundary
    config."""
    if len(cents) <= CELL_EXPR_MAX:
        return _nearest_cell_expr(col, cents)
    return _nearest_cell_kernel(col, cents)


def resolve_ivf_cells(n_corpus: int) -> int:
    """n_cells for a corpus size: ≈ sqrt(corpus) (the standard IVF
    sizing — cells and per-cell scan cost grow together, so probe
    cost is ~nprobe·sqrt(corpus)), clamped to [8, 4096]. 4096 cells
    × 64 dims × 8 B = 2 MB of centroids — comfortably a driver list
    / kernel closure at any realistic dim; beyond that the centroid
    set itself should live in a broadcast table and train with
    sampled Lloyd, which is a different operator tier."""
    import math

    return max(8, min(4096, int(math.sqrt(max(n_corpus, 0)))))


def refine_centroids(
    emb: DataFrame, cents: list[list[float]], iters: int
) -> list[list[float]]:
    """Lloyd k-means refinement, one distributed pass per iteration:
    assign every vector to its nearest centroid (JVM expression),
    then recompute each centroid as the per-dimension mean via
    posexplode + groupBy(cell, pos) — a single narrow shuffle of
    (cell, pos, partial-sum). Only n_cells × dim floats ever reach
    the driver. Cells that lose all members keep their old centroid
    (standard empty-cluster fallback)."""
    dim = len(cents[0])
    for _ in range(iters):
        assigned = emb.withColumn("__cell", assign_cells(F.col(VEC_COL), cents))
        stats = (
            assigned.select(
                "__cell", F.posexplode(F.col(VEC_COL)).alias("pos", "val")
            )
            .groupBy("__cell", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in stats:
            by_cell.setdefault(r["__cell"], {})[r["pos"]] = float(r["m"])
        cents = [
            [by_cell[i][p] for p in range(dim)] if i in by_cell else cents[i]
            for i in range(len(cents))
        ]
    return cents


def build_ivf_index(
    emb: DataFrame,
    n_cells: int | None = 8,
    kmeans_iters: int = 0,
    persist: bool = True,
) -> dict:
    """Build the IVF index ONCE: deterministic centroid seeds (first
    n_cells vectors by id), ``kmeans_iters`` Lloyd refinement passes,
    then the full-corpus nearest-centroid assignment, persisted —
    this is the real IVF shape (assignment written at index-build
    time), not a per-query derivation. Returns
    ``{"cents": [[...]], "assigned": DataFrame}``; callers that
    query repeatedly share one index via ``memo.dataset_memo`` (the
    x26/x81 pattern), so repeated ``ivf_topk`` calls probe a built
    index instead of re-running Lloyd per call (r6 verdict #3: x13
    warm was ~4.5 s at sf0.1 re-deriving per invocation).

    ``n_cells=None`` resolves ≈ sqrt(corpus) via ``resolve_ivf_cells``
    (one count() driver probe); past ``CELL_EXPR_MAX`` cells the
    assignment runs on the single-kernel matrix path (``assign_cells``)
    — centroids ship in the kernel closure, never as plan literals,
    so plan analysis stays O(1) in n_cells. The pinned contract
    configs (8 cells) are unaffected.

    ``persist`` applies to the assignment frame and belongs with an
    OWNER that will unpersist it (``dataset_memo`` rotates its entry
    on dataset change). One-shot callers must pass False: a bare
    per-call ``.persist()`` with no owner leaks one corpus-sized
    cache entry per invocation for the session's lifetime — the
    exact pattern that OOM-failed bench at the 100× decade (see
    ``memo.rotating_persist``)."""
    if n_cells is None:
        n_cells = resolve_ivf_cells(emb.count())
    cents = [
        list(map(float, r[VEC_COL]))
        for r in emb.orderBy(VEC_ID).limit(n_cells).collect()
    ]
    if not cents:
        # fail HERE, not three plan nodes later: with zero centroids
        # assign_cells builds array_position(array(), ...) and dies
        # in analysis with a NULL_TYPE datatype mismatch that names
        # neither the corpus nor this builder (r13 zero-row probe)
        raise ValueError(
            "cannot build an IVF index over an empty corpus "
            "(0 vectors — no centroid seeds exist)"
        )
    if kmeans_iters:
        cents = refine_centroids(emb, cents, iters=kmeans_iters)
    assigned = emb.withColumn("__cell", assign_cells(F.col(VEC_COL), cents))
    if persist:
        assigned = assigned.persist()
    return {"cents": cents, "assigned": assigned}


def probe_cos(a, b) -> float:
    """Driver-side cosine for centroid probing — the ONE shared
    implementation (r11 review: ivf_topk and pq.ivf_pq_topk carried
    near-identical closures that had already started to drift on
    float() casts; the two pipelines must probe the SAME cells for
    the same query). Zero-norm sides score -2.0 — below every real
    cosine, so degenerate centroids are never probed first."""
    num = sum(float(x) * float(y) for x, y in zip(a, b))
    na = sum(float(x) * float(x) for x in a) ** 0.5
    nb = sum(float(y) * float(y) for y in b) ** 0.5
    return num / (na * nb) if na and nb else -2.0


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    kmeans_iters: int = 0,
    index: dict | None = None,
) -> DataFrame:
    """IVF ANN top-k: the query probes the ``nprobe`` nearest cells
    of a built index (``build_ivf_index``; built inline when
    ``index`` is None — one-shot callers), exact cosine within the
    probed cells. The assignment join broadcasts the centroid
    list."""
    if index is None:
        # unowned inline build: nothing would ever unpersist it, so
        # the assignment stays a plain frame (single consumer anyway)
        index = build_ivf_index(emb, n_cells, kmeans_iters, persist=False)
    cents, assigned = index["cents"], index["assigned"]
    probe_cells = sorted(
        range(len(cents)), key=lambda i: -probe_cos(query_vec, cents[i])
    )[:nprobe]

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cand = assigned.filter(F.col("__cell").isin(*probe_cells))
    scored = cand.select(
        F.col(VEC_ID),
        F.round(V.cosine_similarity(F.col(VEC_COL), q), 4).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(VEC_ID).asc()).limit(k)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked (query_id, doc_id, rnk)
    retrieval lists (Cormack
    et al., SIGIR'09) — the standard hybrid-retrieval combiner for a
    lexical (BM25) and a dense (ANN) ranking:

        rrf(d) = 1/(k + rank_a(d)) + 1/(k + rank_b(d))

    computed EXACTLY: with da = k + rank_a and db = k + rank_b, the
    sum is the rational (da + db)/(da·db), ranked by its integer
    floor scaling ``(da + db)·10^dp DIV (da·db)`` at dp = 12 — no float
    addition whose engine-specific rounding could flip a tie (the
    x54 no-ln convention applied to unit fractions). A document
    missing from one list contributes only its present term (the
    convention for partial overlap; both-absent documents don't
    appear at all). Ties total-order by (query, id).

    Precision bounds (r11 review — the earlier "fine to ~10^5 at
    dp=12; drop dp for deeper lists" overclaimed, and the advice ran
    the wrong direction): the floor distinguishes two fused scores
    only when they differ by more than 10^-dp, and distinct sums of
    unit fractions with denominators ~R (list depth) can differ by
    as little as ~1/R³ — so ORDER fidelity to true RRF needs
    dp ≥ 3·log10(R), while int64 needs (da+db)·10^dp in range, i.e.
    dp ≤ ~18.9 − log10(2R). Jointly satisfiable only to R ≈ 3·10^4
    (dp 14–15 there); at dp=12 ranks are provably collision-free to
    R ≈ 10^4. Past the bound, adjacent near-tied documents can land
    in one floor quantum and total-order by id — a tie-granularity
    artifact, not a wrong score; LOWERING dp (the old advice) widens
    it, and truly deep lists need a decimal(38) scaling instead.
    Registered consumers (x88) fuse top-20 lists, far inside the
    exact regime.

    Shape: one full-outer equi-join on (query, id) — both inputs are
    top-k lists, so rows per query are bounded by 2k, never corpus-
    sized; the join shuffles list-sized frames only.
    """
    scale = 10**12
    a = ranked_a.select(
        "query_id",
        "doc_id",
        (F.col("rnk").cast("bigint") + F.lit(k)).alias("__da"),
    )
    b = ranked_b.select(
        "query_id",
        "doc_id",
        (F.col("rnk").cast("bigint") + F.lit(k)).alias("__db"),
    )
    j = a.join(b, ["query_id", "doc_id"], "full_outer")
    da, db = F.col("__da"), F.col("__db")
    score = (
        F.when(
            da.isNotNull() & db.isNotNull(),
            F.call_function("div", (da + db) * F.lit(scale), da * db),
        )
        .when(da.isNotNull(), F.call_function("div", F.lit(scale), da))
        .otherwise(F.call_function("div", F.lit(scale), db))
    )
    scored = j.select("query_id", "doc_id", score.alias("rrf_scaled"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_scaled").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn("fused_rank", F.row_number().over(w))
