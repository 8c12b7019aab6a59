"""Deduplication operators over the ``documents`` table.

Five strategies, orderered by cost:

  exact_dedup          — hash-groupBy on a canonical fingerprint
  ngram_jaccard_pairs  — exact n-gram Jaccard, prefix-filter
                         candidate generation (guaranteed recall)
  minhash_lsh_pairs    — MinHash signatures + LSH banding, verified
                         with exact Jaccard (the 100 TB path)
  simhash_pairs        — 60-bit SimHash + hamming-distance blocking
  embedding_dup_pairs  — cosine near-dup, hyperplane-LSH banding

Scale notes: every strategy is candidate-generation-by-equi-join
(hash buckets / LSH bands / prefix shingles) followed by verification
on the candidate pairs only — never an all-pairs cross join, and
never a metadata-keyed block whose population grows with the corpus.
MinHash hashes are md5-derived (functions.text) and hyperplanes are
md5-derived ±1 vectors, so results are reproducible in an ANSI-SQL
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.functions import text as T
from duckdb_retail_pipeline_spark.functions import vectors as V
from duckdb_retail_pipeline_spark.functions.text import DOC_ID, TEXT_COL
from duckdb_retail_pipeline_spark.functions.vectors import VEC_COL, VEC_ID
from duckdb_retail_pipeline_spark.memo import memoized_count, rotating_persist
from duckdb_retail_pipeline_spark.plans.explain import plan_bytes

# one-entry persist rotations per call site (see memo.rotating_persist:
# a bare per-call .persist() leaks one corpus-sized SQL-cache entry
# per invocation — at the 100× decade bench's four passes OOM'd)
_PREFIX_D_SLOT: list = []
_MINHASH_BASE_SLOT: list = []
_NEARDUP_BASE_SLOT: list = []
_SEMDEDUP_SCORED_SLOT: list = []


def _pair_dedup(pairs: DataFrame, score_col: str) -> DataFrame:
    """Deterministic one-row-per-pair terminal: MAX(score) per
    (id_a, id_b). Under well-formed ids each verified pair reaches
    here exactly once and this is a pass-through; under a duplicated
    id with DIFFERING payloads the candidate fan-out can score the
    same (id_a, id_b) several ways, and a dropDuplicates would keep
    one nondeterministically — breaking the verify modes'
    value-identity contract against each other. groupBy-max costs
    the same single exchange (over threshold survivors only, never
    the candidate stream) and is deterministic."""
    return pairs.groupBy("id_a", "id_b").agg(
        F.max(score_col).alias(score_col)
    )


# _spread's engage window (bytes of plan-estimated input). Below the
# floor the corpus is too small for fan-out to beat its own shuffle +
# task-scheduling cost: measured r13 at sf0.1 (documents 0.59 MB,
# single row group), x01's 32-way spread cost ~0.35 s of a 0.55 s
# query — the no-spread plan ran 0.20 s with identical results. The
# floor is a WORK threshold, not a tuning knob for the driver's box:
# it compares corpus bytes against per-task overhead, which does not
# change with SPARK_GRAFT_CPUS.
_SPREAD_MIN_INPUT_BYTES = 4 * 1024 * 1024
# HEAVY kernels (the minhash signature build: ~28 md5 hashes plus
# 16-64 permutation minima per document) do enough per-byte work
# that fan-out pays well below the byte floor — PROVIDED the scan is
# actually serial (fewer input files than cores), which is what the r13
# bytes-only floor could not see (r13 verdict #5). Re-A/B'd r14
# with fresh-session alternation and calibration stamps: x07 cold
# at sf0.1 spread [3.04, 3.26, 5.69] vs no-spread [6.27, 6.67,
# 7.75] — ~2x — with warm mins stable (0.19-0.32 both). The r13
# session's opposite reading was taken under the host's parallel
# throttling windows and is recorded in OPTIMIZATION_r13.md §2.
_SPREAD_HEAVY_MIN_INPUT_BYTES = 256 * 1024


def _spread(df: DataFrame, key: str, heavy: bool = False) -> DataFrame:
    """Repartition CPU-heavy per-document work across all cores —
    but only when the shuffle buys parallelism the scan does not
    already have (guide §2.4: remove shuffles outright; §2: make
    partitioning scale-adaptive rather than constant).

    A parquet scan splits only at row-group boundaries, so a
    single-file corpus arrives as ONE real split and would serialize
    the shingle/hash expressions onto 1 of N cores; one shuffle of
    the id+text columns unlocks full parallelism there. Two regimes
    skip the shuffle instead:

    - tiny inputs (< _SPREAD_MIN_INPUT_BYTES): per-task scheduling
      overhead exceeds the compute being spread. ``heavy=True``
      callers (the minhash signature build) still spread from
      _SPREAD_HEAVY_MIN_INPUT_BYTES up while the scan has fewer
      input files than cores;
    - inputs whose scan already yields >= target splits: the plan
      bytes over the session's resolved maxPartitionBytes AND the
      input-file count both reach target. Every non-empty parquet
      file holds at least one row group, so the file count is a
      lower bound on the real splits, for any URI scheme.

    The size is Catalyst's plan estimate (plans.explain.plan_bytes),
    deterministic for a given dataset, so the chosen shape is stable
    across runs; an unsizeable plan spreads."""
    target = df.sparkSession.sparkContext.defaultParallelism
    size = plan_bytes(df)
    if size is None:
        return df.repartition(target, key)
    if size < _SPREAD_MIN_INPUT_BYTES:
        if (
            heavy
            and size >= _SPREAD_HEAVY_MIN_INPUT_BYTES
            and len(df.inputFiles()) < target
        ):
            return df.repartition(target, key)
        return df
    sql_conf = df.sparkSession._jsparkSession.sessionState().conf()
    if (
        size // sql_conf.filesMaxPartitionBytes() >= target
        and len(df.inputFiles()) >= target
    ):
        return df
    return df.repartition(target, key)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the lowest-id document per canonical fingerprint.
    One shuffle on the fingerprint; map-side partial min."""
    return (
        _spread(docs, DOC_ID)
        .select(F.col(DOC_ID), T.fingerprint(TEXT_COL).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(DOC_ID).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def prefix_index(docs: DataFrame, threshold: float) -> tuple[DataFrame, DataFrame]:
    """The AllPairs prefix index: returns ``(d, pre)`` where ``d`` is
    the persisted (id, distinct-shingle-set) table and ``pre`` is the
    exploded (id, prefix-shingle) index — each document contributes
    only its first ``L − ceil(t·L) + 1`` shingles under the global
    ascending-document-frequency order, which is exactly the set that
    guarantees any Jaccard ≥ t pair shares at least one index entry."""
    d = rotating_persist(
        _spread(docs, DOC_ID).select(
            F.col(DOC_ID), T.word_shingles(TEXT_COL, 3).alias("sh")
        ),
        _PREFIX_D_SLOT,
    )
    ex = d.select(DOC_ID, F.explode("sh").alias("s"))
    freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    # per-doc shingles in global (cnt, s) order; array_sort on the
    # struct normalizes collect_list's nondeterministic arrival order
    ordered = (
        ex.join(freq, "s")
        .groupBy(DOC_ID)
        .agg(F.array_sort(F.collect_list(F.struct("cnt", "s"))).alias("op"))
        .select(DOC_ID, F.transform("op", lambda x: x["s"]).alias("os"))
    )
    plen = (
        F.size("os") - F.ceil(F.size("os") * F.lit(threshold)) + F.lit(1)
    ).cast("int")
    pre = ordered.select(DOC_ID, F.explode(F.slice("os", F.lit(1), plen)).alias("s"))
    return d, pre


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Global exact word-n-gram Jaccard ≥ threshold pairs via prefix
    filtering (the AllPairs/PPJoin family — Bayardo et al. WWW'07,
    Xiao et al. WWW'08).

    Candidate generation: order every document's distinct shingles by
    ascending global document frequency (ties by shingle value — a
    total order shared by all documents), keep only the first
    ``L − ceil(t·L) + 1`` of them (the "prefix"). Any pair with
    Jaccard ≥ t MUST share at least one prefix shingle, so the
    equi-join on prefix shingles has guaranteed recall — unlike
    metadata blocking there is no quadratic blow-up inside a dominant
    (lang, source) block: candidate blocks are keyed by CONTENT, and
    frequency-ascending ordering puts only RARE shingles in prefixes,
    so block populations stay small however the corpus metadata skews.
    Exact set-Jaccard then verifies candidates. The document-frequency
    aggregation is one extra corpus-sized shuffle — the standard
    AllPairs indexing pass."""
    d, pre = prefix_index(docs, threshold)
    pa = pre.select(F.col(DOC_ID).alias("id_a"), "s")
    pb = pre.select(F.col(DOC_ID).alias("id_b"), "s")
    cand = (
        pa.join(pb, "s", "inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = d.select(F.col(DOC_ID).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = d.select(F.col(DOC_ID).alias("id_b"), F.col("sh").alias("sh_b"))
    return _pair_dedup(
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", F.round(T.jaccard(), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"),
        "jaccard",
    )


# minhash_lsh_pairs' banding: a 16-permutation signature in 8 bands of 2
_BANDS = 8
_ROWS_PER_BAND = 2


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    verify: str = "auto",
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified with exact Jaccard.

    The 16-permutation signature is cut into ``_BANDS`` bands of
    ``_ROWS_PER_BAND`` rows; a pair lands in a candidate bucket iff
    one band of their signatures matches exactly. The
    banding join is an equi-join on (band_idx, band_signature) — the
    only shuffle that scales with corpus size. Exact Jaccard then
    filters false positives, so output = true near-dups ∩ LSH recall.

    Two value-identical verification strategies (same pairs, same
    jaccard — differential-tested); ``verify="auto"`` (default) picks
    by measured corpus size — the signature table is persisted before
    the choice, so the count is a cache scan the query needs anyway.
    Scope of the value-identity contract (r11 review): it holds for
    UNIQUE ids — each mode is individually deterministic always (the
    _pair_dedup groupBy-max terminal), but under a duplicated id
    carrying DIFFERENT texts, pairs mode's per-id shingle re-join
    scores every payload combination of a candidate (id_a, id_b)
    while group scores only band-colliding combinations, so
    the per-pair max can differ ACROSS modes. Canonicalize ids
    upstream (exact_dedup's keep_id, or x86's canonical selection)
    before relying on cross-mode interchangeability on dirty ids.
    Warm medians, aug corpus (~10% near-dup + replication families):
    5.5k docs → pairs 1.4 s / group 5.1 (group pays the 8-band ×
    2-side shingle payload twice — a constant ~3× tax that only
    amortizes when candidate blowup threatens); 55k → group 6.9;
    550k (~110-copy families) → group 114 s cold / pairs dead on
    spill disk (its per-PAIR array re-join goes quadratic under
    replication families). auto switches pairs → group at 30k docs:
    below the crossover the candidate set is small enough that even
    a pathological all-dup corpus re-joins ≤ corpus² arrays, and
    pairs is the measured winner; above it, group's once-per-bucket
    array materialization is the only mode that survives the decade
    measurements.

    ``verify="pairs"``: dedup candidate ids first, then re-join both
      documents' shingle arrays per pair. Each candidate's arrays
      cross the wire once per PAIR — cheaper only when candidates are
      sparse relative to the corpus (near-dup-free corpora), and the
      shape that blows up quadratically when they are not.
    ``verify="group"``: bucket-grouped Arrow verification — groupBy
      (band, key) → applyInPandas pairwise verify with per-doc
      frozensets. Each doc's arrays cross the banding shuffle once
      per band (LINEAR in corpus size) and each bucket's arrays
      materialize ONCE, so candidate pairs never touch a shuffle. At
      the 100× decade (550k docs in ~110-copy families) buckets
      reach ~2,100 docs; the pair-materializing alternative shuffled
      ~400 GB of shingle arrays and died on spill disk (r7). Only
      the first colliding band of a pair verifies it (each doc
      carries its full per-band key list), so jaccard runs once per
      candidate pair. Jaccard parity is exact: same integer-count
      division (same IEEE operands), and the 4-decimal round uses the
      shortest-repr HALF_UP convention that equals Spark's
      ``round(double, 4)`` (conventions #10; differentially tested
      against pairs mode).
    """
    if verify not in ("auto", "pairs", "group"):
        raise ValueError(f"unknown verify mode {verify!r}")

    # Stage the md5 shingle hashes as their own column so the 16
    # permutation minima reuse them (inline, each would re-md5), and
    # persist (id, shingles, signature): it feeds the banding AND the
    # two verification re-joins — at scale this is the materialized
    # signature table every LSH dedup pipeline keeps.
    base = rotating_persist(
        _spread(docs, DOC_ID, heavy=True)
        .select(F.col(DOC_ID), T.word_shingles(TEXT_COL, 3).alias("sh"))
        .withColumn("hs", T.shingle_hashes28(F.col("sh")))
        .withColumn(
            "sig", T.minhash_signature_from_hashes(F.col("hs"), _BANDS * _ROWS_PER_BAND)
        )
        .drop("hs"),
        _MINHASH_BASE_SLOT,
    )

    if verify == "auto":
        # the measured crossover (docstring): below ~30k docs the
        # candidate re-join is cheap and pairs wins outright (1.4 s
        # vs 5.1 at 5.5k — group pays its 8-band × 2-side payload
        # constant regardless of candidate count); at scale only
        # group survives (114 s vs pairs dead at 550k). The count is
        # memoized per (session, plan, input files) — unmemoized it
        # re-scanned the whole persisted signature table on every
        # invocation, billing a corpus-sized job to each bench pass
        # (r7 verdict #2: x07 2.2× at sf0.1).
        verify = "group" if memoized_count(base) >= 30_000 else "pairs"

    # Banding frame carries ids only; the verify mode decides whether
    # shingle arrays enter the banding shuffle (group mode: linear,
    # once per band per doc) or are re-joined per candidate pair
    # (pairs mode: quadratic under duplicate-heavy data).
    banded = base.select(
        DOC_ID,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.slice("sig", i * _ROWS_PER_BAND + 1, _ROWS_PER_BAND).alias("key"),
                    )
                    for i in range(_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(DOC_ID, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    if verify == "group":
        # each doc carries its shingles plus its full per-band key list
        # (the first-colliding-band gate's input) through the banding
        # shuffle
        bkeys = F.array(
            *[
                F.slice("sig", i * _ROWS_PER_BAND + 1, _ROWS_PER_BAND)
                for i in range(_BANDS)
            ]
        )
        with_sh = banded.join(
            base.select(DOC_ID, "sh", bkeys.alias("bkeys")), DOC_ID
        )
        id_type = base.schema[DOC_ID].dataType.simpleString()
        thr = float(threshold)

        # nested closure — pickled by value (executors don't share the
        # driver's sys.path; the package convention)
        def _verify_bucket(pdf):
            import pandas as pd
            from decimal import ROUND_HALF_UP, Decimal

            n = len(pdf)
            empty = pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []})
            if n < 2:
                return empty
            band = int(pdf["band"].iloc[0])
            ids = pdf[DOC_ID].tolist()
            shs = [frozenset(x) for x in pdf["sh"]]
            # null-safe band-key tuples: Python tuple equality treats
            # None == None like eqNullSafe does
            bks = [
                tuple(tuple(None if e is None or e != e else int(e) for e in k) for k in bk)
                for bk in pdf["bkeys"]
            ]
            out_a, out_b, out_j = [], [], []
            for i in range(n):
                si, bi, idi = shs[i], bks[i], ids[i]
                for j in range(i + 1, n):
                    if ids[j] == idi:
                        # strict id_a < id_b parity with pairs
                        # mode (a duplicated id never self-pairs)
                        continue
                    # first-colliding-band gate: verify only where no
                    # earlier band's keys already matched
                    bj = bks[j]
                    if any(bi[b2] == bj[b2] for b2 in range(band)):
                        continue
                    sj = shs[j]
                    inter = len(si & sj)
                    union = len(si) + len(sj) - inter
                    if union == 0:
                        continue  # NULLIF(0) → NULL jaccard → filtered
                    # same IEEE division as size()/size() in the JVM,
                    # then shortest-repr HALF_UP ≡ Spark round(d, 4)
                    jac = float(
                        Decimal(repr(inter / union)).quantize(
                            Decimal("0.0001"), ROUND_HALF_UP
                        )
                    )
                    if jac >= thr:
                        a, b = (idi, ids[j]) if idi < ids[j] else (ids[j], idi)
                        out_a.append(a)
                        out_b.append(b)
                        out_j.append(jac)
            return pd.DataFrame({"id_a": out_a, "id_b": out_b, "jaccard": out_j})

        return _pair_dedup(
            with_sh.select(DOC_ID, "band", "key", "sh", "bkeys")
            .groupBy("band", "key")
            .applyInPandas(
                _verify_bucket,
                schema=f"id_a {id_type}, id_b {id_type}, jaccard double",
            ),
            "jaccard",
        )

    a = banded.select(F.col(DOC_ID).alias("id_a"), "band", "key")
    b = banded.select(F.col(DOC_ID).alias("id_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"], "inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = base.select(F.col(DOC_ID).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col(DOC_ID).alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", F.round(T.jaccard(), 4))
        .filter(F.col("jaccard") >= threshold)
    )
    return _pair_dedup(verified.select("id_a", "id_b", "jaccard"), "jaccard")


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: 60-bit simhash, blocked on
    ``n_chunks`` equal-width bit chunks, verified by exact hamming
    count over candidates.

    Recall contract (r11 review made this explicit): the pigeonhole
    guarantee — two fingerprints must agree on ≥1 chunk — holds for
    hamming ≤ n_chunks − 1 (3 at the default 4×15). Running a LARGER
    ``max_hamming`` (x09 runs 6) is legal but the semantics are then
    CHUNK-BLOCKED pairs: a pair whose differing bits hit every chunk
    is never a candidate. That is exactly what x09's oracle pins on
    both engines (the oracle mirrors the blocking), so it is a
    documented semantics, not silent partial recall — callers
    wanting full recall at hamming h pass the smallest DIVISOR of 60
    greater than h (e.g. 10 for h=6, 12 for h=11): pigeonhole only
    needs n_chunks > h, and n_chunks must divide the 60-bit
    fingerprint (r12 ADVICE: the earlier "h + 1" advice named
    non-divisors for most h, including its own h=6 example).

    Determinism (r11 review): the per-pair terminal is a
    groupBy-MIN over the candidate fan-out, the _pair_dedup
    convention — under a duplicated id with differing texts the
    chunk join can surface the same (id_a, id_b) with DIFFERENT
    fingerprints, and a dropDuplicates would keep one
    nondeterministically, flipping the emitted hamming (or the pair
    itself through the threshold) across runs. MIN = the nearest
    duplicate interpretation; one row per pair either way."""
    if 60 % n_chunks:
        raise ValueError(f"n_chunks must divide 60, got {n_chunks}")
    width = 60 // n_chunks
    sh = _spread(docs, DOC_ID).select(
        F.col(DOC_ID), T.simhash64(T.tokens(TEXT_COL)).alias("simhash")
    )
    chunks = sh.select(
        DOC_ID,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        (
                            F.shiftright(F.col("simhash"), width * i)
                            % F.lit(2**width)
                        ).alias("chunk"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select(DOC_ID, "simhash", F.col("ck.chunk_idx").alias("chunk_idx"), F.col("ck.chunk").alias("chunk"))

    a = chunks.select(F.col(DOC_ID).alias("id_a"), F.col("simhash").alias("h_a"), "chunk_idx", "chunk")
    b = chunks.select(F.col(DOC_ID).alias("id_b"), F.col("simhash").alias("h_b"), "chunk_idx", "chunk")
    xor = F.col("h_a").bitwiseXOR(F.col("h_b"))
    return (
        a.join(b, ["chunk_idx", "chunk"], "inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(xor).cast("int"))
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _band_key_cols(planes: list[list[float]], bands: int) -> list:
    """The ONE shared derivation of the per-band LSH sign-key
    expressions (r11 review: hyperplane_bands and the grouped verify
    carried line-for-line copies — a sign-convention or cast fix
    applied to one would silently diverge the differentially-tested
    modes). Keys are BIGINT: the at-scale growth path raises
    bits-per-band with log2(corpus), and at ≥32 bits an int key
    wraps (non-ANSI) or nulls (ANSI), colliding or dropping distinct
    sign patterns with no error (also r11 review); bigint is exact
    to 62 bits per band, far past any real banding."""
    n = len(planes)
    if n % bands:
        raise ValueError("len(planes) must divide evenly into bands")
    k = n // bands
    if k > 62:
        raise ValueError(f"{k} bits per band overflows the bigint key")
    # ONE plane_dots kernel call feeds every sign bit (the vector
    # crosses the Arrow channel once, not once per plane; identical
    # UDF expressions are deduplicated in the plan)
    dots = V.plane_dots(VEC_COL, planes)
    bits = [
        F.when(F.element_at(dots, p + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
        for p in range(n)
    ]
    keys = []
    for b in range(bands):
        key = F.lit(0)
        for j in range(k):
            key = key + bits[b * k + j] * F.lit(2**j)
        keys.append(key.cast("bigint"))
    return keys


def hyperplane_bands(emb: DataFrame, planes: list[list[float]], bands: int) -> DataFrame:
    """LSH band assignment: ``len(planes)`` sign bits split into
    ``bands`` integer band keys, exploded to (id, band, key) — the
    content-derived block table behind ``embedding_dup_pairs``."""
    keys = _band_key_cols(planes, bands)
    band_structs = [
        F.struct(F.lit(b).alias("band"), key.alias("key"))
        for b, key in enumerate(keys)
    ]
    return emb.select(
        VEC_ID, F.explode(F.array(*band_structs)).alias("bk")
    ).select(VEC_ID, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 32,
    bands: int = 4,
    verify: str = "auto",
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by random-hyperplane
    LSH sign bands (Charikar, STOC'02) — the block key is derived
    from the vector CONTENT, so identical vectors always collide
    (recall 1.0 for exact duplicates) and block populations follow
    the sign-bit distribution instead of metadata skew.

    ``n_planes`` sign bits against deterministic md5-derived ±1
    hyperplanes are split into ``bands`` bands of ``n_planes/bands``
    bits; a pair becomes a candidate iff one whole band matches — the
    same banding amplification as MinHash LSH (x07). Exact cosine
    then verifies candidates, so output = true near-dups ∩ LSH
    recall. At 100 TB, bits-per-band scales with log2(corpus/target
    block size) to keep per-bucket populations flat; the only
    corpus-sized shuffle is the (band, key) equi-join carrying ids.

    Two value-identical verification strategies (same pairs, same
    rounded cosine — differential-tested at sf0.1 AND the 10× decade,
    0 mismatches on 95,800 pairs); ``verify="auto"`` picks by corpus
    size measured off the persisted base (a cache scan). Warm
    medians, aug corpus: 2k vectors → pairs 1.4 s / group 2.3
    (per-group Arrow overhead dominates); 20k → group 1.6 / pairs
    5.0; 204k (~100-copy perturbation families) → group 15.7 s warm
    / 19.5 cold for 10.5M true pairs, pairs mode dead on spill disk.
    Crossover ~5–15k vectors; auto switches at 10k.

    ``verify="pairs"``: dedup candidate ids, then re-join both
      vectors + hoisted norms per pair. Each candidate's vectors
      cross the wire once per PAIR — under duplicate-heavy corpora
      the candidate set grows quadratically and this shape dies on
      shuffle spill exactly like x07's pairs mode did (measured at
      the 100× grow decade — 204k vectors in ~100-copy perturbation
      families, ≥10.5M true pairs of candidates × ~1 KB of vector
      payload → SPILL_OUT_OF_MEMORY on the sandbox's disk).
    ``verify="group"``: bucket-grouped Arrow verification — groupBy
      (band, key) → applyInPandas; each bucket's vectors materialize
      ONCE, pairwise dots run as an ascending-dimension numpy fold
      (acc += outer(A[:,i], A[:,i])) whose per-pair IEEE op sequence
      is EXACTLY the Arrow/HOF dot fold, norms fall out of the
      fold's diagonal, and the 4-decimal round uses the
      shortest-repr HALF_UP convention ≡ Spark round(double, 4)
      (conventions #10). The first-colliding-band gate (per-doc band
      key lists, checkable locally) scores each candidate pair
      exactly once; pairwise memory is row-blocked to ~128 MB per
      bucket. At scale bits-per-band grows with log2(corpus) to
      keep bucket populations flat, so the O(bucket²) work is
      bounded by construction.
    """
    if verify not in ("auto", "pairs", "group"):
        raise ValueError(f"unknown verify mode {verify!r}")
    planes = V.rademacher_planes(n_planes, dim)
    base = rotating_persist(
        emb.select(F.col(VEC_ID), F.col(VEC_COL)), _NEARDUP_BASE_SLOT
    )
    if verify == "auto":
        # measured crossover (docstring): group's per-bucket Arrow
        # overhead loses on small corpora; pairs-mode dies on
        # candidate blowup at the 100× decade. memoized_count, not
        # .count(): the bare count re-scanned the persisted corpus on
        # EVERY invocation just to pick the mode — the exact r7
        # regression minhash_lsh_pairs was fixed for; this call site
        # was missed (r11 review)
        verify = "group" if memoized_count(base) >= 10_000 else "pairs"

    if verify == "group":
        return _embedding_dup_pairs_grouped(base, planes, bands, threshold)

    banded = hyperplane_bands(base, planes, bands)
    a = banded.select(F.col(VEC_ID).alias("id_a"), "band", "key")
    b = banded.select(F.col(VEC_ID).alias("id_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"], "inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # side norms hoisted out of the pair verify (one per vector, not
    # one per candidate pair — V.cosine_from_parts, value-identical)
    va = base.select(
        F.col(VEC_ID).alias("id_a"),
        F.col(VEC_COL).alias("v_a"),
        V.norm(VEC_COL).alias("__na"),
    )
    vb = base.select(
        F.col(VEC_ID).alias("id_b"),
        F.col(VEC_COL).alias("v_b"),
        V.norm(VEC_COL).alias("__nb"),
    )
    return _pair_dedup(
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            F.round(
                V.cosine_from_parts(
                    F.col("v_a"), F.col("v_b"), F.col("__na"), F.col("__nb")
                ),
                4,
            ),
        )
        # NaN is never a near-dup: the Arrow dot kernel surfaces a
        # NaN dot as NULL (dropped by >=) but the HOF escape hatch
        # keeps NaN, and Spark orders NaN above every double — the
        # explicit guard pins one semantics across both kernels and
        # all verify modes (group drops NaN candidates in-kernel)
        .filter((F.col("cosine") >= threshold) & ~F.isnan("cosine"))
        .select("id_a", "id_b", "cosine"),
        "cosine",
    )


def _embedding_dup_pairs_grouped(
    base: DataFrame,
    planes: list[list[float]],
    bands: int,
    threshold: float,
) -> DataFrame:
    """The bucket-grouped Arrow verify behind ``verify="group"`` —
    see ``embedding_dup_pairs``. Value parity with pairs mode is
    exact: the pairwise dot accumulates in ascending dimension order
    (the Arrow/HOF fold sequence; multiplication commutes bit-exactly
    so pair orientation is irrelevant), norms are the fold diagonal's
    sqrt, the denominator/division mirror nullif(norm_a*norm_b, 0),
    and rounding is shortest-repr HALF_UP ≡ Spark round(double, 4).
    Cross-length pairs are skipped (zip_with pads a length mismatch
    with NULL → NULL cosine → filtered) and NaN cosines are DROPPED
    — the operator's contract across every mode and kernel: the
    default Arrow dot surfaces a NaN dot as NULL (filtered by >=),
    so keeping NaN here would emit rows pairs-mode never produces.
    Probed by the unit differential test."""
    keys = _band_key_cols(planes, bands)
    id_type = base.schema[VEC_ID].dataType.simpleString()
    keyed = base.select(
        F.col(VEC_ID).alias("__id"),
        F.col(VEC_COL).alias("__vec"),
        F.array(*keys).alias("bkeys"),
    )
    banded = keyed.select(
        "__id",
        "__vec",
        "bkeys",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn("key", F.element_at("bkeys", F.col("band") + 1))
    thr = float(threshold)

    # nested closure — pickled by value (executors don't share the
    # driver's sys.path; the package convention)
    def _verify_bucket(pdf):
        import numpy as np
        import pandas as pd
        from decimal import ROUND_HALF_UP, Decimal

        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        n = len(pdf)
        if n < 2:
            return empty
        band = int(pdf["band"].iloc[0])
        vv = pdf["__vec"].to_numpy()
        ids_all = pdf["__id"].to_numpy()
        bk_all = np.vstack(
            [np.asarray(x, dtype=np.int64) for x in pdf["bkeys"]]
        )
        lens = np.fromiter(
            (len(x) if x is not None else -1 for x in vv), dtype=np.int64, count=n
        )
        # rounding can raise a cosine by at most 5e-5, so only
        # near-threshold survivors pay the Decimal round
        lo = thr - 5.1e-5
        out_a, out_b, out_c = [], [], []
        for length in np.unique(lens):
            if length <= 0:
                # null vector → no cosine; zero-length → 0-norm →
                # nullif(0) → NULL → filtered. Both skipped.
                continue
            idx = np.nonzero(lens == length)[0]
            m = len(idx)
            if m < 2:
                continue
            A = np.vstack([vv[i] for i in idx]).astype(np.float64, copy=False)
            ids = ids_all[idx]
            bk = bk_all[idx]
            nsq = np.zeros(m, dtype=np.float64)
            for i in range(length):
                nsq = nsq + A[:, i] * A[:, i]
            norms = np.sqrt(nsq)
            pos = np.arange(m)
            # row blocks bound pairwise memory at ~128 MB per bucket
            bl = max(1, (16 << 20) // m)
            for r0 in range(0, m, bl):
                r1 = min(r0 + bl, m)
                acc = np.zeros((r1 - r0, m), dtype=np.float64)
                for i in range(length):
                    acc = acc + np.outer(A[r0:r1, i], A[:, i])
                den = np.outer(norms[r0:r1], norms)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = acc / den
                valid = (
                    (pos[r0:r1, None] < pos[None, :])
                    & (den != 0.0)
                    & (ids[r0:r1, None] != ids[None, :])
                )
                # first-colliding-band gate: score only where no
                # earlier band's keys already matched
                for b2 in range(band):
                    valid &= bk[r0:r1, b2][:, None] != bk[None, :, b2]
                with np.errstate(invalid="ignore"):
                    # NaN compares False here — dropped, matching the
                    # Arrow dot's NaN→NULL→filtered path in pairs mode
                    cand = valid & (cos >= lo)
                for r, c in zip(*np.nonzero(cand)):
                    x = float(cos[r, c])
                    if abs(x) != float("inf"):
                        x = float(
                            Decimal(repr(x)).quantize(
                                Decimal("0.0001"), ROUND_HALF_UP
                            )
                        )
                        if x < thr:
                            continue
                    ia, ib = ids[r0 + r], ids[c]
                    if ia > ib:
                        ia, ib = ib, ia
                    out_a.append(ia)
                    out_b.append(ib)
                    out_c.append(x)
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

    return _pair_dedup(
        banded.groupBy("band", "key").applyInPandas(
            _verify_bucket,
            schema=f"id_a {id_type}, id_b {id_type}, cosine double",
        ),
        "cosine",
    )


def connected_components(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over an undirected pair graph by
    iterative min-label propagation: every node starts labeled with
    itself; each round replaces a node's label with the minimum label
    among itself and its neighbors; fixpoint = every node carries its
    component's minimum id.

    Each round is one neighbor-propagation equi-join + groupBy-min
    followed by a POINTER-DOUBLING compression (label ← label's own
    label, a second equi-join; labels only decrease and start at
    self, so lbl(lbl(n)) <= lbl(n) — Shiloach-Vishkin-style pointer
    jumping in the MapReduce formulation of Kiveris et al.,
    "Connected Components in MapReduce and Beyond"). All hash
    shuffles, no cross products; the loop exits via a driver-side
    convergence probe (limit-1 count). Without doubling, rounds =
    graph diameter — chain-shaped near-dup clusters (grow-mode
    replication builds one) took 15 rounds at a 55k-doc corpus;
    with doubling the label gap halves every round: measured 5
    rounds on the same graph (2-3 on cliques-ish corpora).
    Returns (node, lbl).

    Lineage control: every round references the previous labels
    twice, so the logical plan doubles per iteration — persist()
    alone keeps the data but not the plan small. ``localCheckpoint``
    (eager) truncates lineage each round; on a cluster with a
    checkpoint dir, ``checkpoint()`` gives the fault-tolerant
    equivalent.
    """
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    rev = pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    edges = fwd.unionByName(rev).distinct().localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        prop = edges.join(labels, edges["src"] == labels["node"]).select(
            F.col("dst").alias("node"), F.col("lbl")
        )
        hooked = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer doubling: every label is itself a node (labels start
        # as node ids and only existing ids propagate), so its own
        # label exists and is <= it — one inner self-join halves the
        # node→component-min gap every round
        new_labels = (
            hooked.join(
                hooked.select(
                    F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")
                ),
                "lbl",
            )
            .select("node", F.col("lbl2").alias("lbl"))
            .localCheckpoint()
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("lbl", "old"), "node")
            .filter(F.col("lbl") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup clusters from a verified pair set: connected
    components labeled by component-minimum doc id (the canonical
    "keeper"), plus the cluster size. Only documents that appear in
    at least one pair are returned — singletons are by definition
    already unique."""
    labels = connected_components(pairs)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.97,
    n_cells: int = 8,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space around n_cells centroids, then prune semantic
    near-dups WITHIN each cluster — data-adaptive blocking, where the
    other embedding path here (embedding_dup_pairs) blocks by random
    hyperplane signs. The paper's regime is web-scale pretraining
    corpora where semantically-identical-but-textually-different
    documents (mirrors, templates, paraphrases) survive every
    lexical dedup pass.

    Keep rule (deterministic and first-order, so the oracle is one
    anti-join): a row is DROPPED iff some same-cell neighbor has
    cosine ≥ ``threshold`` to it AND precedes it in the
    (cent_cos, id) total order — the paper's keep-the-least-
    centroid-similar convention made exact by the id tie-break over
    dround(4) centroid cosines (cosines carry no mass at decimal
    ties; the rounding only makes the ORDER identical cross-engine).
    This is the dominated-neighbor form, not a transitive-component
    sweep: a chain A~B~C (A≁C) keeps A and drops B and C, where the
    component rule would also keep nothing but A — callers wanting
    transitive groups compose with connected_components instead.

    Returns (vec_id, cell, cent_cos, keep). The centroids are the
    first n_cells vectors by id, unrefined (no Lloyd pass), so a fixed
    SQL string re-derives the assignment argmax (the x99 oracle).
    Scale shape: the assignment is the IVF build (only centroid floats
    reach the driver — see similarity.build_ivf_index), candidate
    pairs are blocked by the cell equi-join with per-row hoisted norms
    (cosine_from_parts), O(cell²) per cell with n_cells ≈ √corpus at scale
    (resolve_ivf_cells) — the IVF bound, never all-pairs. Past
    CELL_EXPR_MAX cells the centroid-cosine stage switches from plan
    literals to a broadcast centroid table (r12 — the assign_cells
    dispatch convention; √corpus cells would otherwise inline
    n_cells × dim constant nodes into the plan). The scored
    frame (assignment + norm + centroid cosine, one corpus-sized
    kernel pass) is slot-persisted: it feeds the plan THREE times
    (both join sides + the final keep join), and Spark does not
    dedupe common subplans — unpersisted, the assignment kernel ran
    3× per invocation (r11 review)."""
    from duckdb_retail_pipeline_spark.operators import similarity as S
    from duckdb_retail_pipeline_spark.queries.base import dround

    if emb.select(VEC_ID).isEmpty():
        # dedup extends naturally to the empty corpus (dedup(∅) = ∅),
        # unlike an anchored ANN query — return the contracted empty
        # frame instead of letting build_ivf_index raise its
        # no-centroid-seeds error (r13 zero-row probe; the x99 oracle
        # is likewise empty on an empty corpus, so the differential
        # holds). The isEmpty probe is one limit-1 scan, noise next
        # to the operator's own corpus passes.
        from pyspark.sql import types as T

        return emb.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(VEC_ID, emb.schema[VEC_ID].dataType),
                    T.StructField("cell", T.LongType()),
                    T.StructField("cent_cos", T.DoubleType()),
                    T.StructField("keep", T.BooleanType()),
                ]
            ),
        )

    idx = S.build_ivf_index(emb, n_cells=n_cells, persist=False)
    cents = idx["cents"]
    assigned = idx["assigned"].select(
        F.col(VEC_ID),
        F.col(VEC_COL),
        F.col("__cell").cast("bigint").alias("cell"),
        V.norm(VEC_COL).alias("__norm"),
    )
    if len(cents) <= S.CELL_EXPR_MAX:
        # pinned small configs (the registered x99 path): centroid
        # literals + element_at — bit-stable with the driver oracle
        cent_lits = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
        )
        scored_plan = assigned.select(
            VEC_ID,
            VEC_COL,
            "cell",
            "__norm",
            dround(
                V.cosine_similarity(
                    F.col(VEC_COL),
                    F.element_at(cent_lits, (F.col("cell") + 1).cast("int")),
                ),
                4,
            ).alias("cent_cos"),
        )
    else:
        # at-scale path (r12 review): the literal form inlines
        # n_cells × dim constant nodes into the plan — at the
        # n_cells ≈ √corpus sizing that is ~29k nodes at the 100×
        # decade, the exact plan-analysis blowup assign_cells already
        # solves with its kernel dispatch (similarity.py
        # CELL_EXPR_MAX; a 447-cell F.array was measured 5× slower
        # before the in-kernel argmax). Past the threshold the
        # centroids ride a broadcast TABLE instead: an n_cells-row
        # equi-join on the assignment, cosine via the same Arrow dot
        # kernel over two array columns — value-identical doubles
        # (same kernel, same centroid floats), plan size O(1) in
        # n_cells. Differentially pinned against the DuckDB oracle
        # at an >CELL_EXPR_MAX config in tests.
        cents_df = emb.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "cell bigint, __cvec array<double>",
        )
        scored_plan = (
            assigned.join(F.broadcast(cents_df), "cell")
            .select(
                VEC_ID,
                VEC_COL,
                "cell",
                "__norm",
                dround(
                    V.cosine_similarity(F.col(VEC_COL), F.col("__cvec")), 4
                ).alias("cent_cos"),
            )
        )
    scored = rotating_persist(scored_plan, _SEMDEDUP_SCORED_SLOT)
    left = scored.select(
        F.col(VEC_ID).alias("__id_a"),
        F.col(VEC_COL).alias("__va"),
        "cell",
        F.col("__norm").alias("__na"),
        F.col("cent_cos").alias("__ca"),
    )
    right = scored.select(
        F.col(VEC_ID).alias("__id_b"),
        F.col(VEC_COL).alias("__vb"),
        "cell",
        F.col("__norm").alias("__nb"),
        F.col("cent_cos").alias("__cb"),
    )
    dominated = (
        left.join(right, "cell")
        .filter(
            (F.col("__id_a") != F.col("__id_b"))
            & (
                (F.col("__cb") < F.col("__ca"))
                | (
                    (F.col("__cb") == F.col("__ca"))
                    & (F.col("__id_b") < F.col("__id_a"))
                )
            )
        )
        .filter(
            dround(
                V.cosine_from_parts(
                    "__va", "__vb", F.col("__na"), F.col("__nb")
                ),
                4,
            )
            >= F.lit(float(threshold))
        )
        .select(F.col("__id_a").alias(VEC_ID))
        .distinct()
    )
    return scored.join(
        dominated.withColumn("__dropped", F.lit(True)), VEC_ID, "left"
    ).select(
        VEC_ID,
        "cell",
        "cent_cos",
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
    )
