"""Fixed-iteration PageRank over an edge frame, exact-integer.

The iterative vertex-centric shape the engine already uses for
connected components (dedup.py: min-label propagation + pointer
doubling), applied to the other classic graph signal: stationary
importance under random walks (Page/Brin/Motwani/Winograd 1999). The
retail instance ranks parts by co-purchase centrality — the same
computation a web-corpus curation pipeline runs over a link graph to
quality-weight documents, which is why a training-data engine carries
it as a first-class operator.

Determinism: floating-point PageRank sums per-node contributions in
shuffle order — not reproducible across engines or runs. This
implementation keeps ranks as INTEGER floor-scaled rationals (the
x54/x66/x87 convention): ranks start at ``SCALE`` (10^6), each
iteration's contribution is ``(rank * DAMP_NUM) DIV (DAMP_DEN *
outdeg)`` (integer division, all values positive so trunc ≡ floor),
and the damped base is ``(SCALE * (DAMP_DEN - DAMP_NUM)) DIV
DAMP_DEN``. Integer sums are fold-order-independent, so the result is
bit-identical in ANSI SQL — the oracle unrolls the same iterations as
CTEs.

Scale shape: each iteration is one hash join (edges ⋈ ranks on src —
ranks are node-sized, edges edge-sized) and one groupBy(dst) with
map-side partial sums; the (src, dst, outdeg) frame is built once and
persisted (one slot rotation) because every iteration re-reads it and
Spark does not dedupe common subplans. ``iters`` is a fixed small
constant — the plan unrolls linearly, no driver-side loop over
collected data. int64 headroom: a node's rank is bounded by the total
mass n_nodes × SCALE; at 10^9 nodes × 10^6 SCALE × DAMP_NUM=85 the
worst single term is ~8.5e16, inside int64.

Dangling nodes — two explicit conventions (r9 verdict #4: the
operator is exported generically, so the choice is a parameter, not
an implicit assumption):

- ``redistribute_dangling=False`` (default; the x92 contract): a node
  with no out-edges contributes nothing — its rank mass evaporates —
  and ranks are only emitted for nodes with outdeg ≥ 1. Harmless on a
  symmetrized edge frame (the co-purchase graph is symmetric by
  construction, every node has outdeg ≥ 1) but NON-STANDARD on an
  asymmetric link graph.
- ``redistribute_dangling=True`` (textbook): the node universe is
  src ∪ dst, dangling mass is summed per iteration and redistributed
  uniformly — ``(D·DAMP_NUM) DIV (DAMP_DEN·n_nodes)`` per node, still
  exact-integer — and every node gets a rank (nodes with no in-edges
  hold base + dangling share). This is the convention for directed
  graphs such as web-link or customer→part bipartite graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.memo import rotating_persist

SCALE = 10**6
#: damping factor 0.85, kept as the exact rational DAMP_NUM / DAMP_DEN
DAMP_NUM = 85
DAMP_DEN = 100
#: every node's damped base rank per iteration
BASE = (SCALE * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN

# one-entry rotations: the (src, dst, outdeg) contribution frame
# (edge-sized, re-read once per iteration within one plan and across
# bench's repeated invocations) and the node-sized degree frame —
# WITHOUT the latter, r0 and the final outdeg join re-derive the
# degree aggregate from the raw edge build (the expensive distinct
# self-join) on every warm pass
_EDGE_SLOT: list = []
_DEG_SLOT: list = []


def cap_per_group(
    df: DataFrame, group_col: str, item_col: str, cap: int
) -> DataFrame:
    """Deterministically keep at most ``cap`` rows per group, ranked
    by xxhash64(item_col) with item_col as the tie-break — the ONE
    shared implementation of the skew-cap idiom (r11 review: x66's
    opt-in basket cap had duplicated copurchase_edges' inline block
    verbatim, and a tie-break fix applied to one copy but not the
    other would silently diverge semantics the x92/x98 adjudications
    assume coincide). Hash order makes the kept subset an unbiased
    pseudo-random sample (an item-ordered cap would bias toward low
    keys) and input-stable across runs/partitionings; the rank
    window shuffles on ``group_col``, reusable by a downstream
    group/join on the same key.

    copurchase_edges calls this helper since r13 (the scheduled
    switch: its inline twin was pinned sameSemantics-equal from r11
    until the x92/x94 rule-3 re-entry absorbed the change for free —
    their r13 driver rows run THIS code path). The expression-shape
    pin in tests/test_operators.py still guards the idiom."""
    w = Window.partitionBy(group_col).orderBy(
        F.xxhash64(item_col), F.col(item_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def copurchase_edges(
    lineitem: DataFrame, max_basket: int | None = 64
) -> DataFrame:
    """Directed co-purchase edges: (src part, dst part) for every
    pair of DISTINCT parts sharing an order, both directions — the
    same order-keyed self-join bound as x66's Apriori candidates
    (per-basket quadratic by construction).

    ``max_basket`` is the skew guard (r9 verdict: unlike x66, whose
    OUTPUT is the pairs, here the quadratic frame is an intermediate —
    one pathological order with 10^5 distinct parts would put 10^10
    intermediate rows on a single join key at 100 TB). Baskets larger
    than the cap are down-sampled DETERMINISTICALLY to ``max_basket``
    parts, ranked by xxhash64(partkey) with partkey as the tie-break:
    hash order makes the kept subset an unbiased pseudo-random sample
    (a partkey-ordered cap would bias the graph toward low keys) and
    input-stable across runs/partitionings. Per-order intermediate is
    then ≤ max_basket², and the rank window shuffles on l_orderkey —
    the same key the self-join needs, so the exchange is reused. The
    default 64 sits far above real basket sizes (measured max across
    the driver SFs and the 100× decade: 17 distinct parts per order,
    so the cap never trips there and semantics are identical to
    uncapped — which is what the x92 oracle assumes). ``None``
    disables the cap (the pre-r10 behavior).

    Build shape (late r10): ONE exchange on l_orderkey feeds dedup,
    cap window, and self-join — hash(l_orderkey) co-locates every
    (l_orderkey, l_partkey) duplicate, so Catalyst accepts the
    subset partitioning for the dropDuplicates clustering and for
    the window/join, where a plain ``.distinct()`` first would
    exchange the full fact on (l_orderkey, l_partkey) and then
    AGAIN on l_orderkey for the window (plan-pinned: 5 → 3 Exchange
    nodes; at a verified 100× the output is identical and the build
    measured 21.3 vs 25.3 s median warm — within single-box run
    variance, but the two eliminated exchanges are full-fact-sized,
    which is the term that matters when exchanges are network-bound
    on a cluster)."""
    items = (
        lineitem.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    if max_basket is not None:
        # the shared skew-cap idiom (r13: replaced the pinned
        # expression-identical inline twin — sameSemantics, so the
        # physical plan and x92's oracle values are unchanged)
        items = cap_per_group(items, "l_orderkey", "l_partkey", max_basket)
    a = items.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


_NODE_SLOT: list = []


def _prepare(edges: DataFrame, redistribute_dangling: bool):
    """Shared per-call frames for the iteration step: (deg,
    edges_deg, nodes, n_nodes). nodes/n_nodes are None on the
    evaporate path (node universe = sources only)."""
    deg = rotating_persist(
        edges.groupBy("src").agg(
            F.count(F.lit(1)).cast("bigint").alias("outdeg")
        ),
        _DEG_SLOT,
    )
    # persist the contribution frame PARTITIONED BY src (the Pregel
    # layout): every iteration joins on src, so the cached frame's
    # HashPartitioning(src) satisfies the join's distribution and
    # only the node-sized rank frame shuffles per iteration — without
    # it both sides re-exchange edge-sized data every iteration
    # (measured at the 100× decade: warm 18.4 s -> see ROADMAP)
    edges_deg = rotating_persist(
        edges.join(deg, "src").repartition("src"), _EDGE_SLOT
    )
    nodes = n_nodes = None
    if redistribute_dangling:
        nodes = rotating_persist(
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct(),
            _NODE_SLOT,
        )
        n_nodes = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return deg, edges_deg, nodes, n_nodes


def _step(
    ranks: DataFrame,
    deg: DataFrame,
    edges_deg: DataFrame,
    nodes: DataFrame | None,
    n_nodes: DataFrame | None,
) -> DataFrame:
    """One exact-integer PageRank iteration (module docstring)."""
    contrib = edges_deg.join(
        ranks, edges_deg["src"] == ranks["node"]
    ).select(
        F.col("dst"),
        F.call_function(
            "div",
            F.col("r") * F.lit(DAMP_NUM),
            F.lit(DAMP_DEN) * F.col("outdeg"),
        ).cast("bigint").alias("c"),
    )
    summed = contrib.groupBy("dst").agg(F.sum("c").cast("bigint").alias("s"))
    if nodes is None:
        # evaporate convention: dangling mass is dropped, node
        # universe is the sources (every dst with in-edges only
        # re-enters via the final outdeg join filter)
        return summed.select(
            F.col("dst").alias("node"),
            (F.lit(BASE) + F.col("s")).cast("bigint").alias("r"),
        )
    # textbook convention: dangling mass redistributed uniformly —
    # both scalars are one-row frames crossJoined in-plan, so the
    # whole iteration stays declarative (no driver-side collect)
    dangling = ranks.join(
        deg, ranks["node"] == deg["src"], "left_anti"
    ).agg(F.coalesce(F.sum("r"), F.lit(0)).cast("bigint").alias("dmass"))
    share = dangling.crossJoin(F.broadcast(n_nodes)).select(
        F.call_function(
            "div",
            F.col("dmass") * F.lit(DAMP_NUM),
            F.lit(DAMP_DEN) * F.col("n"),
        ).cast("bigint").alias("share")
    )
    return (
        nodes.join(summed, nodes["node"] == summed["dst"], "left")
        .crossJoin(F.broadcast(share))
        .select(
            F.col("node"),
            (
                F.lit(BASE) + F.coalesce(F.col("s"), F.lit(0)) + F.col("share")
            ).cast("bigint").alias("r"),
        )
    )


def _finish(ranks: DataFrame, deg: DataFrame, dangling_in_output: bool) -> DataFrame:
    if dangling_in_output:
        return ranks.join(deg, ranks["node"] == deg["src"], "left").select(
            "node",
            F.coalesce(F.col("outdeg"), F.lit(0)).cast("bigint").alias("outdeg"),
            F.col("r").alias("pagerank_scaled"),
        )
    return ranks.join(deg, ranks["node"] == deg["src"]).select(
        "node", "outdeg", F.col("r").alias("pagerank_scaled")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """(node, outdeg, pagerank_scaled) after ``iters`` exact-integer
    iterations (module docstring). With the default evaporate
    convention nodes are the edge frame's distinct sources (on a
    symmetrized graph that is every vertex, the x92 contract); with
    ``redistribute_dangling=True`` the universe is src ∪ dst, dangling
    mass is redistributed uniformly each iteration, and dangling
    nodes appear in the output with outdeg 0."""
    deg, edges_deg, nodes, n_nodes = _prepare(edges, redistribute_dangling)
    universe = nodes if nodes is not None else deg.select(
        F.col("src").alias("node")
    )
    ranks = universe.select(
        "node", F.lit(SCALE).cast("bigint").alias("r")
    )
    for i in range(iters):
        ranks = _step(ranks, deg, edges_deg, nodes, n_nodes)
        if nodes is not None and i < iters - 1:
            # the redistribute step consumes ranks TWICE (contribution
            # join + dangling-mass aggregate) and Spark does not
            # dedupe common subplans — unchecked, every iteration
            # re-evaluates its predecessor 2-3×, multiplicatively
            # (measured r10 at sf0.1: warm 4.05 s vs ~2 s
            # checkpointed). The eager node-sized checkpoint makes
            # each iteration evaluate exactly once; the evaporate
            # path reads ranks once per step, so it stays fully
            # declarative. The final iteration feeds _finish's single
            # join — nothing re-reads it, no checkpoint needed.
            ranks = ranks.localCheckpoint()
    return _finish(ranks, deg, dangling_in_output=redistribute_dangling)


def pagerank_until_stable(
    edges: DataFrame,
    max_iters: int = 20,
    epsilon: int = 0,
    redistribute_dangling: bool = False,
) -> tuple[DataFrame, int, bool]:
    """Iterate to an exact fixed point: stop when the total absolute
    rank change Σ|r_i − r_{i−1}| ≤ ``epsilon`` (an INTEGER — the
    floor-scaled rational ranks make the convergence test exact, so
    ``epsilon=0`` is a true fixed-point test, meaningless with float
    ranks). Returns (ranks frame, iterations run, converged). The
    delta sequence contracts geometrically but floor rounding can
    leave a small limit cycle (measured: total delta settling at ~6
    units of 10^-6 on a 6-node graph), so ``epsilon=0`` may never
    trigger — production callers pass a few units of the scale;
    ``converged=False`` after ``max_iters`` is an honest answer, not
    an error.

    Driver-side loop by necessity (the stop condition is data-
    dependent); each iteration ``localCheckpoint``s the node-sized
    rank frame — checkpointing, not persist, because persist leaves
    the LOGICAL plan lineage intact and the plan tree then doubles
    per iteration (the delta join reads ranks twice): at ~25
    iterations merely BUILDING the plan string OOMed the driver
    (measured r10; AdaptiveSparkPlanExec.explainString). The eager
    local checkpoint truncates the plan to a leaf, so per-iteration
    work is constant: the same join + groupBy as the fixed-depth
    variant plus one node-sized delta aggregate, and the collected
    value is a single int64, never data-sized. Checkpointed blocks
    are executor-memory-resident and GC-cleaned when their frames
    drop out of scope; a cluster deployment that must survive
    executor loss swaps in reliable ``checkpoint()`` against the
    checkpoint dir — same contract, durable blocks."""
    deg, edges_deg, nodes, n_nodes = _prepare(edges, redistribute_dangling)
    universe = nodes if nodes is not None else deg.select(
        F.col("src").alias("node")
    )
    ranks = universe.select(
        "node", F.lit(SCALE).cast("bigint").alias("r")
    ).localCheckpoint()
    iters_run, converged = 0, False
    for _ in range(max_iters):
        nxt = _step(ranks, deg, edges_deg, nodes, n_nodes).localCheckpoint()
        # the evaporate path can shrink the universe on the first
        # step (sources with no in-edges drop out) — treat a
        # missing side as a change of the full rank magnitude
        delta = (
            ranks.select("node", F.col("r").alias("r_prev"))
            .join(nxt.select("node", F.col("r").alias("r_next")),
                  "node", "full")
            .agg(
                F.coalesce(
                    F.sum(
                        F.abs(
                            F.coalesce(F.col("r_next"), F.lit(0))
                            - F.coalesce(F.col("r_prev"), F.lit(0))
                        )
                    ),
                    F.lit(0),
                ).alias("d")
            )
            .first()["d"]
        )
        ranks = nxt
        iters_run += 1
        if delta <= epsilon:
            converged = True
            break
    return _finish(ranks, deg, dangling_in_output=redistribute_dangling), \
        iters_run, converged


def pagerank_fixed_point_contract(
    edges: DataFrame,
    max_iters: int = 60,
    epsilon_per_node: int = 200,
    redistribute_dangling: bool = True,
) -> DataFrame:
    """Oracle-gateable frame for ``pagerank_until_stable``: (node,
    outdeg, converged, fixed_point_holds), ordered by nothing (caller
    orders).

    The until-stable ranks are DEPTH-dependent — a fixed oracle
    string cannot unroll a data-dependent iteration count — so the
    contract frame emits only depth-INDEPENDENT facts (the a05/x12
    contract-frame pattern): the node universe and outdeg, which the
    oracle re-derives exactly in SQL, plus two booleans the oracle
    expects TRUE — the operator's own convergence flag, and an
    independent in-plan recheck that one MORE unrolled ``_step`` on
    the returned ranks moves total mass by ≤ the same stop threshold
    (the fixed-point PROPERTY, not the depth).

    The stop threshold is ``epsilon_per_node × n_nodes`` (universe
    counted up front — one scalar count, the same cost class as the
    loop's per-iteration delta collects), so the tolerance tracks the
    graph across SFs and the recheck is sound to gate at the same
    value: the damped map contracts per-step total change by
    ``DAMP_NUM/DAMP_DEN`` up to a few floor-rounding units per node,
    so a step that triggered the stop keeps the NEXT step under
    0.85·ε + O(n) ≤ ε whenever epsilon_per_node ≫ the per-node
    rounding jitter (measured: total delta settles at well under one
    unit per node). Measured depth on the customer→part bipartite
    purchase graph at epsilon_per_node=200: 9 iterations at both
    sf0.001 (n=350) and sf0.01 (n=3500) — the depth is
    damping-driven, not size-driven. The near-regular nation→nation
    trade graph converges in 1–2 iterations (ranks stay near-uniform
    on an almost-complete graph).

    Evaporate-path caveat (self-review, late r10): with
    ``redistribute_dangling=False`` the recheck restarts from the
    RETURNED frame, which ``_finish`` filters to nodes with
    outdeg ≥ 1 — on an ASYMMETRIC graph that is a strict subset of
    the loop's final rank frame, and the one-more-step full-join
    counts every dropped node as a full-magnitude change, so
    ``fixed_point_holds`` can honestly read FALSE even though the
    loop's own stop test fired. The evaporate instance is therefore
    only meaningful on a symmetrized edge frame (the x92 contract,
    where the universe is stable — pinned in
    tests/test_operators.py); asymmetric graphs belong on the
    redistribute path, which keeps every node in the output.
    """
    deg, edges_deg, nodes, n_nodes = _prepare(edges, redistribute_dangling)
    universe_n = (nodes if nodes is not None else deg).count()
    epsilon = epsilon_per_node * universe_n
    result, _iters_run, converged = pagerank_until_stable(
        edges,
        max_iters=max_iters,
        epsilon=epsilon,
        redistribute_dangling=redistribute_dangling,
    )
    ranks = result.select("node", F.col("pagerank_scaled").alias("r"))
    # the until-stable run's own _prepare reused the slot-persisted
    # frames built above (rotating_persist keys on plan equality)
    nxt = _step(ranks, deg, edges_deg, nodes, n_nodes)
    # full join: on the evaporate path one more step can shrink the
    # universe (sources with no in-edges) — count that as a change of
    # the full rank magnitude, same convention as the operator's loop
    holds = (
        ranks.select("node", F.col("r").alias("r_prev"))
        .join(nxt.select("node", F.col("r").alias("r_next")), "node", "full")
        .agg(
            F.coalesce(
                F.sum(
                    F.abs(
                        F.coalesce(F.col("r_next"), F.lit(0))
                        - F.coalesce(F.col("r_prev"), F.lit(0))
                    )
                ),
                F.lit(0),
            ).alias("d")
        )
        .select((F.col("d") <= F.lit(epsilon)).alias("fixed_point_holds"))
    )
    return result.crossJoin(F.broadcast(holds)).select(
        "node",
        "outdeg",
        F.lit(bool(converged)).alias("converged"),
        F.col("fixed_point_holds"),
    )


_TRI_SLOT: list = []


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Exact per-node triangle counts over an UNDIRECTED graph —
    the classic local clustering signal (community tightness; a
    co-purchase triangle means three parts each pairwise co-bought,
    a far stronger association than x66's pairwise lift).

    Input: a directed edge frame; undirected semantics are imposed
    by canonicalizing each edge to (lo, hi) with lo < hi and
    dropping duplicates/self-loops, so symmetric frames (x92's
    co-purchase graph) and one-directional listings count
    identically.

    Algorithm — the standard ordered two-path join (node-iterator
    with total order; e.g. Suri/Vassilvitskii WWW'11 use the same
    ordering trick for MapReduce triangle counting): every triangle
    a<b<c is found EXACTLY once by joining its two lowest-anchored
    edges (a,b)+(a,c) on a (the wedge), then semi-joining the
    closing edge (b,c). Per-node counts follow by exploding each
    found triangle to its three corners.

    Scale shape: one hash self-join on the lo endpoint (wedge
    generation — Σ deg_lo², bounded by the same per-basket cap that
    bounds the x92 edge build when fed copurchase_edges), one hash
    semi-join against the canonical edge frame, one explode +
    groupBy. No driver-side iteration, no collect; int64 counts.
    The canonical edge frame is persisted for the two reads (wedge
    side + closing-edge probe).

    Measured (late r10, dirs + row counts printed per the
    decade_check discipline): on the co-purchase graph the edge set
    SATURATES under grow-replication (copies share part sets), so
    warm is decade-flat — 6.3 s at sf0.1 and 5.0 s at the verified
    100× (identical 5,653,464 total triangles; the wedge join over
    the persisted ~1.2M-edge frame is the whole warm cost) — while
    cold tracks the lineitem scan, 15.7 → 86.7 s. On a graph whose
    edge set genuinely grows, warm grows with Σ deg² — the
    per-basket cap is what keeps that bounded for baskets, and a
    degree cap (same xxhash64-ranked trick) is the generic lever.
    """
    canon = rotating_persist(
        edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct(),
        _TRI_SLOT,
    )
    # wedges anchored at the smallest corner: (a, b) + (a, c), b < c
    ab = canon.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    ac = canon.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = ab.join(ac, "a").filter(F.col("b") < F.col("c"))
    tris = wedges.join(
        canon,
        (wedges["b"] == canon["lo"]) & (wedges["c"] == canon["hi"]),
        "left_semi",
    )
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
