from __future__ import annotations

import math

from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.operators import multimodal as M
from duckdb_retail_pipeline_spark.operators import similarity as S
from duckdb_retail_pipeline_spark.queries.base import tbl


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return dot / (na * nb)


def test_lsh_results_subset_of_bruteforce_scores(spark, sf_dir):
    """LSH probes one bucket: everything it returns must carry the
    same cosine the exact scan computes (scores are correct even if
    recall < 1)."""
    emb = tbl(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {
        r["vec_id"]: r["cosine"]
        for r in S.brute_force_topk(emb, q, k=10000).collect()
    }
    approx = S.lsh_topk(emb, q).collect()
    assert len(approx) > 0
    for r in approx:
        assert abs(exact[r["vec_id"]] - r["cosine"]) < 1e-9
    # the query vector itself hashes into its own bucket → recall@self
    assert approx[0]["vec_id"] == 0 and abs(approx[0]["cosine"] - 1.0) < 1e-6


def test_lsh_multiprobe_recall(spark, sf_dir):
    """Multi-probe (flip least-confident sign bits) must not lose
    recall vs single-probe, must meet the x12 contract bound at
    nprobe=3, and must keep scores exact (probing only widens the
    candidate set)."""
    emb = tbl(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact_top = {r["vec_id"] for r in S.brute_force_topk(emb, q, k=10).collect()}
    exact_all = {
        r["vec_id"]: r["cosine"]
        for r in S.brute_force_topk(emb, q, k=10**6).collect()
    }
    hits = {}
    for nprobe in (1, 3):
        rows = S.lsh_topk(emb, q, nprobe=nprobe).collect()
        for r in rows:
            assert abs(exact_all[r["vec_id"]] - r["cosine"]) < 1e-9
        hits[nprobe] = len(exact_top & {r["vec_id"] for r in rows})
    assert hits[3] >= hits[1], hits  # wider probes can only add candidates
    assert hits[3] >= 4, hits  # the x12 driver-contract bound (measured floor r5)


def test_ivf_topk_recall(spark, sf_dir):
    emb = tbl(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact_top = [r["vec_id"] for r in S.brute_force_topk(emb, q, k=10).collect()]
    ivf_top = [r["vec_id"] for r in S.ivf_topk(emb, q, k=10, n_cells=8, nprobe=2).collect()]
    # nprobe=2 of 8 cells: expect meaningful overlap with exact top-10
    overlap = len(set(exact_top) & set(ivf_top))
    assert overlap >= 3, f"IVF recall too low: {overlap}/10"
    # k-means refinement must not degrade recall below the seeded index
    refined = [
        r["vec_id"]
        for r in S.ivf_topk(
            emb, q, k=10, n_cells=8, nprobe=2, kmeans_iters=2
        ).collect()
    ]
    r_overlap = len(set(exact_top) & set(refined))
    # the x13 driver-contract bound: measured 9-10/10 across SFs (r5),
    # bound 8 leaves one hit of regeneration headroom
    assert r_overlap >= 8, f"refined IVF recall too low: {r_overlap}/10"


def test_hierarchical_topk_equals_flat_rank(spark, sf_dir):
    """The bounded two-stage rank must be provably identical to the
    naive flat rank-over-query partition it replaces."""
    from pyspark.sql import Window

    from duckdb_retail_pipeline_spark.queries.extensions import (
        _exact_batch_scored,
        _x39_qset,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    scored = _exact_batch_scored(emb, _x39_qset(emb))
    hier = S.hierarchical_topk(scored).collect()
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    flat = (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .collect()
    )
    key = lambda r: (r["query_id"], r["rnk"])  # noqa: E731
    assert sorted(map(tuple, hier)) == sorted(map(tuple, flat))
    assert len({key(r) for r in hier}) == len(hier)


def test_batch_ann_topk_contract(spark, sf_dir):
    """Batch ANN retrieval: per-query k rows, self excluded, scores
    exact (the index may shrink the candidate set, never change a
    score), and recall >= the x42 driver-contract floor."""
    from duckdb_retail_pipeline_spark.queries.extensions import (
        _X42_BITS,
        _X42_MIN_RECALL_HITS,
        _X42_NPROBE,
        _exact_batch_scored,
        _x39_qset,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    qset = _x39_qset(emb)
    scored = _exact_batch_scored(emb, qset)
    exact_all = {(r["query_id"], r["vec_id"]): r["cosine"] for r in scored.collect()}
    exact_top = {}
    for r in S.hierarchical_topk(scored).collect():
        exact_top.setdefault(r["query_id"], set()).add(r["vec_id"])

    ann = S.batch_ann_topk(
        emb, qset, bits=_X42_BITS, nprobe=_X42_NPROBE
    ).collect()
    by_q = {}
    for r in ann:
        assert r["vec_id"] != r["query_id"]
        assert abs(exact_all[(r["query_id"], r["vec_id"])] - r["cosine"]) < 1e-9
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(by_q) == set(exact_top)
    for qid, ids in by_q.items():
        assert len(ids) == 3
        assert len(ids & exact_top[qid]) >= _X42_MIN_RECALL_HITS, (qid, ids)


def test_ann_resolution_rule():
    """Corpus-adaptive (bits, nprobe): pinned 3/3 at every driver/
    test corpus size (<= 2000 vectors — the oracle-contract config),
    growing with the corpus beyond so bucket population stays near
    ANN_TARGET_BUCKET and the probed fraction shrinks."""
    assert S.resolve_ann_resolution(500) == (3, 3)
    assert S.resolve_ann_resolution(2000) == (3, 3)
    # measured r6 anchor points (grow-mode corpora); nprobe caps at
    # bits+1 — the realizable single-bit-flip probe count
    assert S.resolve_ann_resolution(20000) == (6, 7)
    assert S.resolve_ann_resolution(60000) == (7, 8)
    # monotone bits; bucket population stays within 2x of target;
    # every resolved nprobe is realizable
    prev_bits = 3
    for n in [4000, 8000, 100000, 1000000]:
        bits, nprobe = S.resolve_ann_resolution(n)
        assert bits >= prev_bits
        prev_bits = bits
        assert S.ANN_TARGET_BUCKET <= n / 2**bits < 2 * S.ANN_TARGET_BUCKET
        assert nprobe == min(3 + 2 * (bits - 3), bits + 1)
        assert nprobe <= bits + 1


def test_batch_ann_topk_rejects_unrealizable_nprobe(spark, sf_dir):
    """More probes than bits+1 cannot exist in the single-bit-flip
    structure; the operator must fail loudly, not truncate."""
    import pytest

    from duckdb_retail_pipeline_spark.queries.extensions import _x39_qset

    emb = tbl(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="unrealizable"):
        S.batch_ann_topk(emb, _x39_qset(emb), bits=3, nprobe=5)
    q = [0.0] * 64
    with pytest.raises(ValueError, match="unrealizable"):
        S.lsh_topk(emb, q, nprobe=6)


def test_batch_ann_topk_auto_matches_pinned_at_test_sf(spark, sf_dir):
    """bits=None resolves from the corpus count — at the test SFs
    that must be exactly the pinned 3/3 frame."""
    from duckdb_retail_pipeline_spark.queries.extensions import _x39_qset

    emb = tbl(spark, sf_dir, "embeddings")
    qset = _x39_qset(emb)
    auto = S.batch_ann_topk(emb, qset, bits=None, nprobe=None).collect()
    pinned = S.batch_ann_topk(emb, qset, bits=3, nprobe=3).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, pinned))


def test_media_features_match_python_reference(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents").limit(20)
    media = M.documents_as_media(docs)
    feats = {r["media_id"]: r for r in M.extract_features(media).collect()}
    for row in docs.collect():
        content = row["text"].encode("utf-8")
        ref = M.decode_image(content, fake=True)
        got = feats[row["doc_id"]]
        assert got["n_bytes"] == ref["n_bytes"]
        assert got["byte_sum"] == ref["byte_sum"]
        assert got["n_distinct_bytes"] == ref["n_distinct_bytes"]
        assert abs(got["mean_byte"] - M._dround4(ref["mean_byte"])) < 1e-9
        assert abs(got["byte_entropy"] - M._dround4(ref["byte_entropy"])) < 1e-9


def test_decode_image_real_path_is_stubbed():
    import pytest

    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG", fake=False)


def test_resize_real_path_is_stubbed():
    import pytest

    with pytest.raises(NotImplementedError):
        M.resize_image(b"\x89PNG", 8, fake=False)


def test_resize_byte_grid_matches_python_reference(spark, sf_dir):
    """The pooled grid must agree with the scalar fake resize on the
    same bytes (cell mapping (j*grid)//n, integer-floor means)."""
    docs = tbl(spark, sf_dir, "documents").limit(10)
    media = M.documents_as_media(docs)
    rows = M.resize_byte_grid(media).collect()
    by_doc: dict[int, dict[int, tuple]] = {}
    for r in rows:
        by_doc.setdefault(r["media_id"], {})[r["cell_idx"]] = r
    for row in docs.collect():
        content = row["text"].encode("utf-8")
        pooled = M.resize_image(content, 1, fake=True)
        got = by_doc[row["doc_id"]]
        n = len(content)
        assert sum(g["n_cell_bytes"] for g in got.values()) == n
        # both references emit only populated cells, in cell order —
        # identical row sets even for blobs shorter than the grid
        nonempty = sorted(got)
        assert len(pooled) == len(nonempty)
        for c, b in zip(nonempty, pooled):
            # scalar fake emits floor(cell_sum / cell_count) bytes
            g = got[c]
            assert g["cell_sum"] // g["n_cell_bytes"] == b


def test_resize_fake_short_blob_skips_empty_cells():
    """A blob shorter than the grid populates only cells (j*grid)//n —
    the scalar fake must emit exactly those (the grid operator omits
    empty cells), not pad zeros."""
    # n=3, grid=8: cells (0*8)//3=0, (1*8)//3=2, (2*8)//3=5
    assert M.resize_image(b"abc", 1, fake=True) == bytes([97, 98, 99])
    assert M.resize_image(b"", 1, fake=True) == b""


def test_grouped_ols_exact_line(spark, sf_dir):
    """Points lying exactly on y = 300 + 50x (cents) must recover
    slope 0.5 and intercept 3.0 (GBP units) with zero residual."""
    from duckdb_retail_pipeline_spark.operators.grouped import grouped_ols

    rows = [("a", x, 300 + 50 * x) for x in range(1, 8)] + [
        ("b", x, 1000 - 100 * x) for x in range(1, 5)
    ]
    df = spark.createDataFrame(rows, "g string, x int, y long")
    out = {r["g"]: r for r in grouped_ols(df, "g").collect()}
    assert out["a"]["n"] == 7
    assert abs(out["a"]["slope"] - 0.5) < 1e-12
    assert abs(out["a"]["intercept"] - 3.0) < 1e-12
    assert abs(out["b"]["slope"] + 1.0) < 1e-12
    assert abs(out["b"]["intercept"] - 10.0) < 1e-12


def test_grouped_ols_degenerate_x(spark, sf_dir):
    """All-equal x within a group → undefined slope → NULLs, not a
    crash (den == 0 guard)."""
    from duckdb_retail_pipeline_spark.operators.grouped import grouped_ols

    df = spark.createDataFrame(
        [("a", 5, 100), ("a", 5, 200)], "g string, x int, y long"
    )
    row = grouped_ols(df, "g").collect()[0]
    assert row["n"] == 2 and row["slope"] is None and row["intercept"] is None


def test_connected_components_known_graph(spark, sf_dir):
    """Chain 1-2-3, pair 10-11, and the labels must be the component
    minima; convergence needs 2 rounds for the chain."""
    from duckdb_retail_pipeline_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    labels = {
        r["node"]: r["lbl"] for r in connected_components(pairs).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    clusters = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup_clusters(pairs).collect()
    }
    assert clusters[3] == (1, 3) and clusters[11] == (10, 2)


def test_connected_components_chain_converges_logarithmically(spark, sf_dir):
    """A 64-node chain has diameter 63 — plain min-label propagation
    needs 63 rounds, so this converging within max_iters=15 pins the
    pointer-doubling compression (label gap halves per round)."""
    from duckdb_retail_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "id_a long, id_b long"
    )
    labels = {
        r["node"]: r["lbl"]
        for r in connected_components(pairs, max_iters=15).collect()
    }
    assert labels == {n: 1 for n in range(1, 65)}


def test_udtf_lateral_tokenize(spark, sf_dir):
    """Python UDTF surface: SQL LATERAL expansion must agree with
    the JVM explode(tokens()) path on the same document."""
    from duckdb_retail_pipeline_spark.functions import text as T
    from duckdb_retail_pipeline_spark.operators.udtf import register_udtfs

    register_udtfs(spark)
    docs = tbl(spark, sf_dir, "documents").limit(5)
    docs.createOrReplaceTempView("udtf_docs")
    via_udtf = spark.sql(
        "SELECT d.doc_id, t.pos, t.token "
        "FROM udtf_docs d, LATERAL tokenize(d.text) t"
    ).collect()
    via_explode = (
        docs.select(
            "doc_id", F.posexplode(T.tokens("text")).alias("pos", "token")
        )
    ).collect()
    assert sorted(map(tuple, via_udtf)) == sorted(map(tuple, via_explode))
    pairs = spark.sql(
        "SELECT p.* FROM (SELECT array(3, 1, 2) AS ids) v, "
        "LATERAL adjacent_pairs(v.ids) p"
    ).collect()
    assert [tuple(r) for r in pairs] == [("1-2", 1, 2), ("2-3", 2, 3)]


def test_prefix_filter_exact_recall_and_bounded_blocks(spark):
    """Prefix filtering must find EVERY Jaccard >= t pair (the AllPairs
    guarantee) while candidate blocks stay small under metadata skew —
    this corpus is 100% one (lang, source), which the old metadata
    block key would collapse into a single all-pairs block."""
    from duckdb_retail_pipeline_spark.operators import dedup as D

    n_docs, t = 60, 0.7
    words = [f"w{i:03d}" for i in range(400)]
    texts = {}
    for i in range(n_docs):
        base = [words[(i * 37 + j * 11) % 400] for j in range(30)]
        texts[i] = " ".join(base)
    # inject near-dups: copy with a 2-word tail change (high jaccard)
    for i in range(0, n_docs, 10):
        texts[1000 + i] = texts[i] + " zz88 zz99"
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}

    truth = set()
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = shingles(texts[a]), shingles(texts[b])
            if sa and len(sa & sb) / len(sa | sb) >= t:
                truth.add((a, b))
    assert truth, "fixture must contain true near-dup pairs"

    got = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=t).collect()
    }
    assert got == truth  # exact: guaranteed recall, verified precision

    # block populations: the largest prefix-shingle block must be far
    # below the corpus size (the all-pairs degenerate case)
    _, pre = D.prefix_index(docs, t)
    biggest = (
        pre.groupBy("s").count().agg(F.max("count").alias("m")).first()["m"]
    )
    assert biggest <= len(ids) // 4, f"prefix block too large: {biggest}"


def test_prefix_filter_exact_threshold_boundary(spark):
    """Pin the prefix-theorem boundary: a pair at Jaccard EXACTLY t
    must be found (>= is inclusive), a pair just below t must not,
    and each document's prefix must be exactly L - ceil(t*L) + 1
    entries — the minimal set the recall guarantee needs; one entry
    fewer and an exact-threshold pair could share no index key."""
    import math

    from duckdb_retail_pipeline_spark.operators import dedup as D

    t = 0.8
    common = " ".join(f"c{i:02d}" for i in range(10))
    texts = {
        # A/B: 11 words -> 9 shingles each, 8 shared, union 10:
        # Jaccard = 8/10 = t exactly
        1: common + " xa",
        2: common + " xb",
        # C: 12 words -> 10 shingles, 8 shared with A, union 11:
        # Jaccard = 8/11 < t
        3: common + " xc xd",
        # D: minimal doc, L=1 -> prefix length 1 - ceil(t) + 1 = 1
        4: "d00 d01 d02",
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=t).collect()
    }
    assert (1, 2) in got and abs(got[(1, 2)] - t) < 1e-9  # exact-threshold pair kept
    assert (1, 3) not in got and (2, 3) not in got  # just-below pair dropped

    _, pre = D.prefix_index(docs, t)
    plens = {r["doc_id"]: r["n"] for r in pre.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    for doc_id, n_shingles in [(1, 9), (2, 9), (3, 10), (4, 1)]:
        expected = n_shingles - math.ceil(t * n_shingles) + 1
        assert plens[doc_id] == expected, (doc_id, plens[doc_id], expected)


def test_repetition_filter_flags_degenerate_docs(spark, tmp_path):
    """The Gopher-rule metrics must separate a pathological repeated
    doc from clean prose, and the fractions must be exact rationals
    of the occurrence counts."""
    from duckdb_retail_pipeline_spark.queries.extensions import (
        x32_repetition_filter,
    )

    rows = [
        (1, "spam " * 50),                                   # one word repeated
        (2, "the quick brown fox jumps over a lazy dog"),    # all distinct
        (3, "ab cd " * 20),                                  # one 2-gram repeated
        (4, "one"),                                          # no 2-grams at all
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(sf / "documents.parquet")
    )
    out = {r["doc_id"]: r for r in x32_repetition_filter(spark, str(sf)).collect()}

    assert out[1]["top_word_frac"] == 1.0 and not out[1]["keep"]
    assert out[2]["top_word_frac"] == round(1 / 9, 4) and out[2]["keep"]
    # doc 3: 40 tokens alternating -> top word 20/40, dup 2-grams high
    assert out[3]["top_word_frac"] == 0.5
    assert out[3]["dup_2gram_frac"] > 0.9 and not out[3]["keep"]
    assert out[4]["n_words"] == 1 and out[4]["top_2gram_frac"] == 0.0
    # below the 10-word length gate, concentration rules don't apply
    assert out[4]["keep"]
    assert out[2]["keep"]  # 9 words, also under the gate and clean


def test_sequence_packing_invariants(spark, sf_dir):
    """Packing must be a partition of the corpus: every document in
    exactly one sequence, per-shard sequence ids contiguous from 0,
    and every non-final sequence in a shard filled past the budget
    boundary (a doc only opens sequence k+1 once k holds >= budget
    tokens' worth of starts)."""
    from duckdb_retail_pipeline_spark.queries.extensions import (
        x33_sequence_packing,
    )

    from duckdb_retail_pipeline_spark.functions import text as T

    docs = tbl(spark, sf_dir, "documents")
    n_docs = docs.count()
    total_tokens = docs.select(F.sum(F.size(T.tokens("text"))).alias("t")).first()["t"]
    seqs = x33_sequence_packing(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in seqs) == n_docs
    assert sum(r["seq_tokens"] for r in seqs) == total_tokens
    by_shard: dict[int, list] = {}
    for r in seqs:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        ids = sorted(r["seq_id"] for r in rows)
        assert ids == list(range(len(ids))), (shard, ids)  # contiguous
        # all but the shard's last sequence must reach the boundary:
        # cumulative tokens through seq k must exceed k+1 boundaries
        rows.sort(key=lambda r: r["seq_id"])
        cum = 0
        for r in rows[:-1]:
            cum += r["seq_tokens"]
            assert cum >= (r["seq_id"] + 1) * 2048, (shard, r["seq_id"], cum)


def test_hyperplane_bands_exact_dup_recall_and_bounded_buckets(spark):
    """Identical vectors share every sign bit, so exact-duplicate
    recall is 1.0 by construction; band buckets must split a corpus
    that shares one metadata label (the old block key's worst case)."""
    from duckdb_retail_pipeline_spark.functions import vectors as V
    from duckdb_retail_pipeline_spark.operators import dedup as D

    dim, n = 16, 80
    rows = []
    for i in range(n):
        vec = [float(((i * 31 + d * 7) % 19) - 9) for d in range(dim)]
        rows.append((i, vec))
    for i in range(0, n, 8):  # exact duplicates of every 8th vector
        rows.append((10000 + i, rows[i][1]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = D.embedding_dup_pairs(
        emb, threshold=0.999, dim=dim, n_planes=16, bands=4
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected_dups = {(i, 10000 + i) for i in range(0, n, 8)}
    assert expected_dups <= got  # recall 1.0 on exact duplicates

    planes = V.rademacher_planes(16, dim)
    banded = D.hyperplane_bands(emb, planes, bands=4)
    biggest = (
        banded.groupBy("band", "key")
        .count()
        .agg(F.max("count").alias("m"))
        .first()["m"]
    )
    assert biggest < len(rows) // 2, f"band bucket too large: {biggest}"


def test_hyperplane_band_keys_bitwise_match_oracle(spark, duck, sf_dir):
    """The x11 LSH bits tolerate ZERO cross-engine divergence (a
    last-ulp difference near zero would flip a candidate block), so
    re-derive every band key in DuckDB with the mirrored list_sum
    fold and require exact equality on the real embeddings."""
    from duckdb_retail_pipeline_spark.operators import dedup as D
    from duckdb_retail_pipeline_spark.queries.extensions import (
        _X11_BANDS,
        _X11_PLANES,
        _sql_band_key,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    spark_keys = {
        (r["vec_id"], r["band"]): r["key"]
        for r in D.hyperplane_bands(emb, _X11_PLANES, bands=_X11_BANDS).collect()
    }
    arms = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {_sql_band_key(b)} AS key "
        "FROM embeddings"
        for b in range(_X11_BANDS)
    )
    duck_keys = {(r[0], r[1]): r[2] for r in duck.execute(arms).fetchall()}
    assert spark_keys == duck_keys


def test_connected_components_matches_union_find_property(spark, sf_dir):
    """Property probe: on random edge lists the distributed
    pointer-doubling components must agree exactly with a driver-side
    union-find (labels = component minimum)."""
    from hypothesis import given, settings, strategies as st

    from duckdb_retail_pipeline_spark.operators.dedup import (
        connected_components,
    )

    def union_find_min_labels(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comps = {}
        for n in parent:
            comps.setdefault(find(n), []).append(n)
        return {
            n: min(members)
            for members in comps.values()
            for n in members
        }

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=60),
                st.integers(min_value=0, max_value=60),
            ).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=40,
        )
    )
    def prop(edges):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node"]: r["lbl"] for r in connected_components(pairs).collect()
        }
        assert got == union_find_min_labels(edges), edges

    prop()


def test_cosine_from_parts_bit_identical(spark, sf_dir):
    """The hoisted-norm cosine must equal the inline-norm cosine
    BIT-FOR-BIT (not just at the rounded compare precision): the
    same norm expression over the same array yields the same double,
    and the division structure is unchanged — this is the invariant
    the batch-scorer hoisting rests on."""
    import struct

    from duckdb_retail_pipeline_spark.functions import vectors as V

    emb = tbl(spark, sf_dir, "embeddings").limit(50)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    rows = pairs.select(
        "id_a",
        "id_b",
        V.cosine_similarity("v_a", "v_b").alias("inline"),
        V.cosine_from_parts(
            F.col("v_a"), F.col("v_b"), V.norm("v_a"), V.norm("v_b")
        ).alias("hoisted"),
    ).collect()
    assert rows
    for r in rows:
        assert struct.pack("d", r["inline"]) == struct.pack("d", r["hoisted"]), (
            r["id_a"], r["id_b"],
        )


def test_x86_canonical_selection_under_all_tied_clusters(spark):
    """r13 probe wave (r12 verdict #5c): x86's canonical-doc pick is
    max(struct(doc_len, -doc_id)) per cluster — under an ALL-TIED
    cluster (every member the same length, the near-dup case where
    members are byte-identical) the struct order must fall through
    to the smallest doc_id, exactly the oracle's ROW_NUMBER()
    ... ORDER BY doc_len DESC, doc_id ASC. Differential against
    DuckDB's window formulation on synthetic clusters covering
    all-tied, partially-tied, and singleton shapes."""
    import duckdb

    from pyspark.sql import functions as F

    # (cluster_id, doc_id, doc_len, cluster_size)
    rows = [
        # all-tied cluster: 3 members, identical lengths
        (10, 17, 100, 3), (10, 5, 100, 3), (10, 42, 100, 3),
        # partially tied: max length shared by two members
        (20, 8, 50, 4), (20, 3, 80, 4), (20, 99, 80, 4), (20, 12, 10, 4),
        # singleton
        (30, 7, 1, 1),
    ]
    j = spark.createDataFrame(
        rows, "cluster_id long, doc_id long, doc_len long, cluster_size long"
    )
    best = j.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("doc_len"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("b"),
        F.max("cluster_size").alias("cluster_size"),
    )
    got = sorted(
        (r["cluster_id"], -r["b"]["neg_id"], r["b"]["doc_len"], r["cluster_size"])
        for r in best.collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (cluster_id BIGINT, doc_id BIGINT, "
        "doc_len BIGINT, cluster_size BIGINT)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            SELECT cluster_id, doc_id, doc_len, cluster_size FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY cluster_id
                    ORDER BY doc_len DESC, doc_id ASC
                ) AS rn FROM t
            ) WHERE rn = 1
            """
        ).fetchall()
    )
    assert got == want
    # the all-tied cluster resolved to its SMALLEST doc_id
    assert got[0] == (10, 5, 100, 3)
