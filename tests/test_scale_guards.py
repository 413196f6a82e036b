"""Adversarial scale guards (VERDICT r01 follow-ups).

The 100 TB failure mode for every LSH-family operator is the hot bucket:
a boilerplate cluster (identical docs, license headers, zero-ish
embeddings) that lands one quadratic-cost group on one executor. These
tests plant exactly that pathology at test scale — a cluster far bigger
than ``max_bucket`` — and assert the three properties the cap must
deliver: the operator completes with a bounded pair count (not
O(cluster²)), the cluster stays CONNECTED for downstream
connected-components dedup, and non-pathological data is byte-identical
to the uncapped plan.

Also here: document-frequency pruning semantics for exact n-gram
Jaccard, the no-driver-job ``dim`` contract, and quantizer quality of
the trained IVF centroids.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from esther_apache_spark_spark.operators import dedup as D
from esther_apache_spark_spark.operators import similarity as S


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )


def _vec_df(spark, vecs):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )


def _panel_kernels():
    """Every kernel on the GEMM panel scan, sized for the tiny dim-2
    corpora below (``pq_topk``'s codebook is its ``ksub`` lowest-id
    valid vectors, split into ``m_sub`` subspaces)."""
    return [
        S.brute_force_topk_arrow,
        lambda c, q, k: S.brute_force_topk_arrow(c, q, k=k, max_cosine=0.9),
        S.ann_topk_int8,
        lambda c, q, k: S.pq_topk(c, q, k=k, m_sub=2, ksub=2),
    ]


def _max_degree(pairs):
    """Max per-node edge count — the scale invariant: with the bucket
    cap, a cluster member pairs with O(bands · max_bucket) neighbors no
    matter how big the cluster, so total pairs grow O(n), not O(n²)."""
    from collections import Counter

    deg = Counter()
    for a, b in pairs:
        deg[a] += 1
        deg[b] += 1
    return max(deg.values()) if deg else 0


def _n_components(pairs, ids):
    """Union-find component count over the pair edge list."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
    return len({find(i) for i in ids})


def _probe_sides(op, hot_cap, cold_cap, marker):
    """Run ``op(cap)`` — a frame keyed by its first two columns, valued by
    its third — at a cap its eager hot-key probe finds nothing over, at
    one it finds a hot key under, and uncapped. The first plans no hot
    branch (no ``marker`` in the executed plan) and returns exactly the
    uncapped rows; the second plans it and returns a subset of them with
    the same values. Returns (uncapped, hot-capped) as dicts."""

    def run(cap):
        df = op(cap)
        got = {(r[0], r[1]): r[2] for r in df.collect()}
        return got, df._jdf.queryExecution().executedPlan().toString()

    full, _ = run(None)
    assert full
    cold, plan = run(cold_cap)
    assert marker not in plan, plan
    assert cold == full
    hot, plan = run(hot_cap)
    assert marker in plan, plan
    for k, v in hot.items():
        assert v == pytest.approx(full[k], abs=1e-4), k
    return full, hot


BOILER = (
    "this document is provided as is without warranty of any kind either "
    "express or implied including but not limited to the implied warranties "
    "of merchantability and fitness for a particular purpose"
)


def test_minhash_hot_bucket_bounded_and_connected(spark):
    n_dup = 600
    uniques = [
        f"unique document number {i} talks about topic {i * 7} and subject "
        f"{i * 13} with entirely distinct vocabulary item{i}"
        for i in range(30)
    ]
    df = _docs_df(spark, [BOILER] * n_dup + uniques)
    cap = 40
    pairs = [
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_candidates(
            df, num_perm=32, bands=8, shingle_n=3, max_bucket=cap
        ).collect()
    ]
    cluster_pairs = [p for p in pairs if p[0] < n_dup and p[1] < n_dup]
    all_pairs = n_dup * (n_dup - 1) // 2
    assert len(cluster_pairs) < all_pairs / 2
    # the scale invariant: per-doc degree is O(bands · cap) — independent
    # of cluster size — so pair count grows O(n), not O(n²). Without the
    # cap every doc's degree would be n_dup-1 = 599.
    assert _max_degree(cluster_pairs) <= 8 * 4 * cap  # bands × (hash-skew slack × cap)
    # connected: every identical doc ends up in ONE dup cluster
    assert _n_components(cluster_pairs, range(n_dup)) == 1


def test_simhash_hot_bucket_bounded_and_connected(spark):
    n_dup = 600
    uniques = [
        f"some other text about item {i} and its qualities {i * 3}"
        for i in range(20)
    ]
    df = _docs_df(spark, [BOILER] * n_dup + uniques)
    pairs = [
        (r["id_a"], r["id_b"])
        for r in D.simhash_candidates(df, band_bits=15, max_bucket=40).collect()
    ]
    cluster_pairs = [p for p in pairs if p[0] < n_dup and p[1] < n_dup]
    assert 0 < len(cluster_pairs) < (n_dup * (n_dup - 1) // 2) / 2
    assert _max_degree(cluster_pairs) <= 4 * 4 * 40  # bands × slack × cap
    assert _n_components(cluster_pairs, range(n_dup)) == 1

    # both sides of the hot-bucket probe on the direct path: 30 clones
    # share every band's bucket, over a cap of 10 and under one of 50
    small = _docs_df(spark, [BOILER] * 30 + uniques)
    _probe_sides(
        lambda mb: D.simhash_candidates(
            small, band_bits=15, max_bucket=mb, collapse_exact=False
        ),
        hot_cap=10,
        cold_cap=50,
        marker="LeftOuter",
    )


def test_embedding_hot_bucket_bounded_and_connected(spark):
    rng = np.random.default_rng(17)
    n_dup = 1500
    base = rng.standard_normal(16).astype("float32")
    vecs = np.vstack(
        [np.tile(base, (n_dup, 1)), rng.standard_normal((40, 16)).astype("float32")]
    )
    df = _vec_df(spark, vecs)
    got = D.embedding_cosine_dups(
        df, threshold=0.9, n_planes=4, n_tables=6, dim=16, max_bucket=32
    ).collect()
    cluster_pairs = [
        (r["id_a"], r["id_b"]) for r in got if r["id_a"] < n_dup and r["id_b"] < n_dup
    ]
    for r in got:
        if r["id_a"] < n_dup and r["id_b"] < n_dup:
            assert r["cosine"] == pytest.approx(1.0, abs=1e-4)
    # bounded: per (table, bucket, shard) the GEMM sees ~max_bucket rows;
    # per-doc degree stays O(tables · cap), so total pairs grow O(n)
    assert 0 < len(cluster_pairs) < (n_dup * (n_dup - 1) // 2) / 2
    assert _max_degree(cluster_pairs) <= 6 * 4 * 32  # tables × slack × cap
    assert _n_components(cluster_pairs, range(n_dup)) == 1

    # both sides of the hot-bucket probe on the direct path (100 clones
    # + the 40 uniques): over a cap of 32 and under one of 140
    small = _vec_df(spark, np.vstack([vecs[:100], vecs[n_dup:]]))
    _probe_sides(
        lambda mb: D.embedding_cosine_dups(
            small, threshold=0.9, n_planes=4, n_tables=6, dim=16,
            max_bucket=mb, collapse_exact=False,
        ),
        hot_cap=32,
        cold_cap=140,
        marker="LeftOuter",
    )


def _normal_docs(spark):
    return _docs_df(
        spark,
        [
            f"document {i} about {'spark' if i % 2 else 'pandas'} engines "
            f"with shared middle section of recurring words and tail {i}"
            for i in range(40)
        ],
    )


def test_capped_results_identical_on_normal_data(spark):
    """Buckets at/under the cap: no hot bucket → results byte-identical
    to the uncapped plan; a cap of 1 makes every shared bucket hot."""
    df = _normal_docs(spark)
    _probe_sides(
        lambda mb: D.minhash_lsh_candidates(df, max_bucket=mb),
        hot_cap=1,
        cold_cap=4096,
        marker="LeftOuter",
    )


def test_no_hot_key_plans_no_hot_branch(spark):
    """With no hot key the eager probes leave every hot-key branch out of
    the executed plan: no stop-shingle anti-join or ``collect_set``
    correction in n-gram Jaccard, no join against the hot-bucket
    aggregate in MinHash-LSH."""
    df = _normal_docs(spark)
    for op, absent in (
        (D.ngram_jaccard_pairs, ("LeftAnti", "collect_set")),
        (D.minhash_lsh_candidates, ("LeftOuter", "collect_list")),
    ):
        res = op(df, collapse_exact=False)
        assert res.collect()
        plan = res._jdf.queryExecution().executedPlan().toString()
        for word in absent:
            assert word not in plan, (op.__name__, word, plan)


def test_ngram_df_pruning_drops_hot_keeps_exact_values(spark):
    # every doc carries the stop-shingle "common boilerplate footer";
    # docs 0/1 additionally share real content (jaccard >= 0.5)
    stop = "common boilerplate footer"
    reals = [
        f"{stop} alpha beta gamma delta epsilon zeta shared core text",
        f"{stop} alpha beta gamma delta epsilon zeta shared core body",
    ]
    fillers = [f"{stop} filler doc {i} about topic {i * 11}" for i in range(20)]
    df = _docs_df(spark, reals + fillers)

    # the stop-shingle is in all 22 docs: over max_df=5, not over 22
    full, pruned = _probe_sides(
        lambda md: D.ngram_jaccard_pairs(df, threshold=0.0, max_df=md),
        hot_cap=5,
        cold_cap=22,
        marker="LeftAnti",
    )
    # pruning dropped candidates that shared ONLY hot shingles…
    assert len(pruned) < len(full)
    # …but every surviving pair carries its EXACT jaccard (hot shingles
    # included in the value — pruning affects recall, never values)
    for p, j in pruned.items():
        assert j == full[p], p
    # and the real near-dup pair survives with jaccard over the threshold
    assert pruned[(0, 1)] >= 0.5


def test_embedding_dim_param_skips_driver_probe(spark):
    """With ``dim`` given AND ``collapse_exact`` explicit, no driver job
    probes the data (fully lazy construction); the r8 ``"auto"`` default
    adds an eager dup-mass probe that must be EMPTY-SAFE (resolves to
    the direct path, no raise), and the dim probe still guards when dim
    is omitted."""
    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    # explicit knob: lazy, no job at construction
    out = D.embedding_cosine_dups(empty, dim=16, collapse_exact=False)
    assert out.count() == 0
    # auto default: dup-mass probe runs but tolerates the empty frame
    assert D.embedding_cosine_dups(empty, dim=16).count() == 0
    with pytest.raises(ValueError, match="pass dim"):
        D.embedding_cosine_dups(empty)  # dim probe still guards


def test_kmeans_centroids_deterministic_and_better_recall(spark):
    """The distributed IVF trainer the catalog runs
    (``kmeans_centroids_lloyd``) must match or beat the degenerate
    first-``nlist`` quantizer on clustered data and train the same model
    on a repartitioned corpus (exact-integer shuffles)."""
    rng = np.random.default_rng(5)
    nlist, per = 16, 30
    centers = rng.standard_normal((nlist, 32))
    pts = np.vstack(
        [
            c + 0.15 * rng.standard_normal((per, 32))
            for c in centers
        ]
    ).astype("float32")
    corpus = _vec_df(spark, pts)
    queries = corpus.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(corpus, queries, k=10).collect()
    }

    def recall(result):
        got = {(r["query_id"], r["neighbor_id"]) for r in result.collect()}
        return len(got & truth) / len(truth)

    cents = S.kmeans_centroids_lloyd(corpus, nlist=nlist, iters=5)
    assert cents == S.kmeans_centroids_lloyd(
        corpus.repartition(7, "vec_id"), nlist=nlist, iters=5
    )

    r_default = recall(
        S.ivf_topk(corpus, queries, k=10, nlist=nlist, nprobe=2)
    )
    r_kmeans = recall(
        S.ivf_topk(corpus, queries, k=10, nprobe=2, centroids=cents)
    )
    # trained cells must beat (or match) the degenerate first-nlist
    # quantizer at equal nprobe, and clear an absolute floor
    assert r_kmeans >= r_default, (r_kmeans, r_default)
    assert r_kmeans >= 0.8, r_kmeans


def test_arrow_topk_tolerates_empty_batches(spark):
    """An empty corpus split (or a fully-filtered one) reaches the
    mapInArrow kernel as a zero-row batch; it must be skipped, not
    misreported as 'embedding column must be fixed-width'."""
    from pyspark.sql import types as T

    from esther_apache_spark_spark.operators import similarity as S

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    qschema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])], schema
    ).repartition(8)  # 8 splits, 3 rows: most splits are empty
    queries = spark.createDataFrame([(100, [1.0, 0.0])], qschema)

    got = S.brute_force_topk_arrow(corpus, queries, k=2).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in got} == {(100, 1), (100, 3)}
    got = S.brute_force_topk_arrow(corpus, queries, k=2, max_cosine=0.9).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in got} == {(100, 3), (100, 2)}
    got = S.ann_topk_int8(corpus, queries, k=2).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in got} == {(100, 1), (100, 3)}
    got = S.pq_topk(corpus, queries, k=2, m_sub=2, ksub=2).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in got} == {(100, 1), (100, 3)}

    # Genuinely empty corpus: zero result rows, no crash.
    empty = spark.createDataFrame([], schema)
    for kern in _panel_kernels():
        assert kern(empty, queries, k=2).count() == 0


def test_panel_scan_cut_is_tie_safe(spark):
    """The panel scan's local cut must keep every row the global
    (cosine desc, neighbor_id asc) order ranks within k, also when the
    k-th score is tied across many rows and batches. The corpus is 5
    directions at 8 magnitudes, 40 rows per direction over 6
    partitions, so every query sees at most 5 distinct rounded cosines
    and k=7 / k=45 cut inside a tied group. ``brute_force_topk`` is the
    reference; with ``max_cosine`` the reference is every pair strictly
    below the ceiling (0.888889 is one query's tied score), cut to k."""
    dirs = np.array(
        [[1, 0, 0], [0, 1, 0], [1, 1, 0], [1, 2, 2], [3, 0, 4]], dtype="float64"
    )
    vecs = [dirs[i % 5] * (1 + i // 5 % 8) for i in range(200)]
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).repartition(6)
    queries = spark.createDataFrame(
        [(100 + j, [1.0, 0.5 * j, 1.0]) for j in range(3)],
        "query_id long, embedding array<double>",
    )

    def rows(df):
        return sorted((r["query_id"], r["neighbor_id"], r["cosine"]) for r in df.collect())

    for k in (7, 45):
        want = rows(S.brute_force_topk(corpus, queries, k=k))
        assert rows(S.brute_force_topk_arrow(corpus, queries, k=k)) == want, k

    every = rows(S.brute_force_topk(corpus, queries, k=200))
    for ceiling, k in ((0.9, 7), (0.9, 45), (0.888889, 7)):
        want = []
        for q in sorted({q for q, _, _ in every}):
            below = [(c, n) for qq, n, c in every if qq == q and c < ceiling]
            below.sort(key=lambda t: (-t[0], t[1]))
            want += [(q, n, c) for c, n in below[:k]]
        got = rows(S.brute_force_topk_arrow(corpus, queries, k=k, max_cosine=ceiling))
        assert got == sorted(want), (ceiling, k)


def test_lsh_multi_table_raises_recall(spark):
    """The n_tables knob must buy recall: at fixed n_planes, the union
    of t independent tables finds a superset-in-expectation of the
    single table's candidates (collision prob 1-(1-p)^t vs p). Measured
    against brute-force top-k on the same data."""
    rng = np.random.default_rng(23)
    vecs = rng.standard_normal((300, 16)).astype("float64")
    # plant 10 genuine near neighbors (cosine ~0.97) per query vector:
    # ANN recall is defined over neighbors that ARE near — the top-10 of
    # pure Gaussian noise sits at cosine ~0.5 where ANY 6-plane scheme
    # has low collision probability by design
    for q in range(8):
        for j in range(10):
            vecs[100 + q * 10 + j] = vecs[q] + rng.standard_normal(16) * 0.15
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    queries = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def topk_set(res):
        out = {}
        for r in res.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    truth = topk_set(S.brute_force_topk(df, queries, k=10, query_id_col="query_id"))

    def recall(n_tables):
        got = topk_set(
            S.ann_topk_lsh(
                df, queries, k=10, n_planes=6, n_tables=n_tables, dim=16
            )
        )
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    r1, r6 = recall(1), recall(6)
    assert r6 > r1, (r1, r6)
    assert r6 >= 0.9, r6


def test_int8_topk_high_fidelity_vs_float_bruteforce(spark, sf_dir):
    """Quantized ANN must track the float ranking closely: int8 codes
    perturb cosines by ~1e-3, so recall@10 against the exact float
    brute force should stay high (reordering only near-ties)."""
    from esther_apache_spark_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def topk_set(res):
        out = {}
        for r in res.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    truth = topk_set(S.brute_force_topk(emb, queries, k=10))
    got = topk_set(S.ann_topk_int8(emb, queries, k=10))
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    recall = hits / sum(len(t) for t in truth.values())
    assert recall >= 0.85, recall


def test_dedup_and_ann_tolerate_null_text_and_vectors(spark):
    """Real corpora carry NULLs. NULL text must not silently alias the
    empty string in LSH candidates, and NULL vectors / NULL elements
    must be excluded (cosine undefined) instead of killing a GEMM
    kernel with a ragged batch."""
    docs = spark.createDataFrame(
        [(1, "hello world hello"), (2, "hello world hello"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    mh = D.minhash_lsh_candidates(docs).collect()
    assert {(r["id_a"], r["id_b"]) for r in mh} == {(1, 2)}
    sh = D.simhash_candidates(docs).collect()
    assert all(3 not in (r["id_a"], r["id_b"]) for r in sh)
    nj = D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in nj} == {(1, 2)}

    vecs = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0]), (3, None), (4, [None, 2.0])],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    emb = D.embedding_cosine_dups(
        vecs, threshold=0.4, n_planes=2, n_tables=2, dim=2
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in emb} == {(1, 2)}

    queries = vecs.select(F.col("vec_id").alias("query_id"), "embedding")
    for fn in (
        S.brute_force_topk,
        S.brute_force_topk_arrow,
        S.ann_topk_int8,
    ):
        got = fn(vecs, queries, k=5)
        rows = got.collect()
        qids = {r["query_id"] for r in rows}
        nids = {r["neighbor_id"] for r in rows}
        assert qids == {1, 2}, (fn.__name__, qids)
        assert nids == {1, 2}, (fn.__name__, nids)


def test_int8_quantization_error_bound(spark):
    """Per-element reconstruction error of symmetric int8 quantization
    is bounded by scale/2 (half a quantization step), so the reported
    mean error must be too — on adversarial values including exact
    ties, negatives, zeros, and a zero vector."""
    from esther_apache_spark_spark.functions import vector as V

    rows = [
        (1, [0.5, -0.5, 127.0, -127.0, 0.0, 63.5]),
        (2, [1e-8, -1e-8, 1.0, 2.0, 3.0, 4.0]),
        (3, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (4, [-2.5, 2.5, -2.5, 2.5, -2.5, 2.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, e array<double>")
    m = V.maxabs(F.col("e"))
    out = df.select(
        "vec_id",
        F.when(m == 0, F.lit(0.0)).otherwise(m / 127.0).alias("scale"),
        V.quantize_error(F.col("e"), m).alias("err"),
        V.quantize_int8(F.col("e"), m).alias("q"),
    ).collect()
    for r in out:
        assert r["err"] <= r["scale"] / 2 + 1e-12, r
        assert all(-127 <= qi <= 127 for qi in r["q"]), r


def test_dedup_survivors_collapse_planted_cluster(spark):
    """Survivor composition (pairs → components → keep-one): a planted
    60-deep near-identical text cluster must collapse to exactly ONE
    survivor whose cluster_size is 60, every unique doc must survive
    with cluster_size 1, and the survivor must be the min doc_id (the
    deterministic canonical choice)."""
    from esther_apache_spark_spark.operators.components import connected_components

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base + f" tail{'x' * (i % 2)}") for i in range(60)]
    rows += [(1000 + i, f"totally different document number {i} "
              + " ".join(f"tok{i}_{j}" for j in range(12))) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = D.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.5)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    lab = connected_components(edges)
    sizes = lab.groupBy("comp").agg(F.count(F.lit(1)).alias("sz")).select(
        F.col("comp").alias("rep"), "sz"
    )
    ids = docs.select("doc_id")
    surv = (
        ids.join(lab, ids.doc_id == lab.node, "left")
        .filter(F.col("node").isNull() | (F.col("comp") == F.col("doc_id")))
        .join(sizes, F.col("rep") == F.col("doc_id"), "left")
        .select("doc_id", F.coalesce(F.col("sz"), F.lit(1)).alias("cluster_size"))
    )
    got = {r["doc_id"]: r["cluster_size"] for r in surv.collect()}
    cluster_survivors = [d for d in got if d < 1000]
    assert cluster_survivors == [0], got  # one survivor, the min id
    assert got[0] == 60
    for i in range(20):
        assert got[1000 + i] == 1


def test_ann_kernels_tolerate_empty_query_side(spark):
    """An empty (or fully-invalid) query frame must yield an empty
    top-k from every vectorized kernel, not a numpy AxisError on the
    driver."""
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    empty = spark.createDataFrame([], "query_id long, embedding array<double>")
    allnull = spark.createDataFrame(
        [(9, None)], "query_id long, embedding array<double>"
    )
    for q in (empty, allnull):
        for kern in _panel_kernels():
            assert kern(corpus, q, k=3).count() == 0


def test_ann_query_panel_guard_fails_fast_on_oversized_queries(spark):
    """VERDICT r06 weak #1: the GEMM-kernel variants collect the query
    panel to the driver. Plant a query frame above the cap and assert
    every kernel fails fast with the guidance error BEFORE any scan —
    not a silent driver OOM at 100×. Panels at the cap still work, and
    an explicit ``max_query_rows`` overrides in both directions."""
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    big = spark.range(0, S.MAX_QUERY_PANEL_ROWS + 1).select(
        F.col("id").alias("query_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    for kern in _panel_kernels():
        with pytest.raises(ValueError, match="query panel exceeds.*max_query_rows"):
            kern(corpus, big, k=3)
    # tighter explicit cap trips on a small panel …
    small = big.limit(5)
    with pytest.raises(ValueError, match="query panel exceeds.*max_query_rows"):
        S.brute_force_topk_arrow(corpus, small, k=3, max_query_rows=4)
    # … and an explicit raise admits the oversized one (results sane)
    out = S.brute_force_topk_arrow(
        corpus, big.limit(12), k=2, max_query_rows=S.MAX_QUERY_PANEL_ROWS + 5
    )
    # every admitted query is served (rounded-cosine ties may widen a
    # query's k, so assert coverage, not exact row counts)
    assert out.select("query_id").distinct().count() == 12
    assert out.groupBy("query_id").count().agg(F.min("count")).first()[0] >= 2


@pytest.mark.slow  # minutes-long single test; full tier only (VERDICT r10 #2)
def test_distributed_trainers_recall_floor_and_partition_determinism(spark, sf_dir):
    """VERDICT r06 #3: the distributed full-corpus trainers
    (``kmeans_centroids_lloyd``, ``pq_codebook_lloyd``) must clear an
    absolute recall floor on the standard 5-query audit panel (measured
    IVF 0.88 / 0.86 and PQ 0.38 / 0.44 at sf0.001 / sf0.01). Also pins
    partition-determinism: retraining on a repartitioned corpus yields
    the identical model (exact-integer shuffles)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=10).collect()
    }

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & bf) / len(bf)

    cents_lloyd = S.kmeans_centroids_lloyd(emb, nlist=16, iters=5)
    r_lloyd = recall(S.ivf_topk(emb, queries, k=10, nprobe=4, centroids=cents_lloyd))
    assert r_lloyd >= 0.8, r_lloyd

    cb_lloyd = S.pq_codebook_lloyd(emb)
    r_pq_lloyd = recall(S.pq_topk(emb, queries, k=10, codebook=cb_lloyd))
    assert r_pq_lloyd >= 0.3, r_pq_lloyd

    # partition-determinism: same model bit-for-bit on a reshuffled corpus
    shuffled = emb.repartition(7, "vec_id")
    assert S.kmeans_centroids_lloyd(shuffled, nlist=16, iters=5) == cents_lloyd
    assert (S.pq_codebook_lloyd(shuffled) == cb_lloyd).all()


def test_pq_topk_recall_vs_bruteforce(spark, sf_dir):
    """PQ with the degenerate 16-centroid codebook is a coarse index —
    but its top-10 must still overlap the exact float top-10
    substantially (it reconstructs from real corpus subvectors), and
    every returned score must be a valid cosine in [-1, 1]."""
    from esther_apache_spark_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )
    from esther_apache_spark_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=10)
    approx = pq_topk(emb, queries, k=10)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ap = {}
    for r in approx.collect():
        ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        assert -1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9
    assert set(ap) == set(ex)
    recall = sum(len(ex[q] & ap[q]) for q in ex) / sum(len(ex[q]) for q in ex)
    # coarse codebook: expect meaningful but not perfect overlap
    assert recall >= 0.3, recall


def test_pq_trained_codebook_recall_and_reproducibility(spark, sf_dir):
    """Trained-PQ contract for the trainer the catalog runs
    (``pq_codebook_lloyd``): meaningful recall (the codebook is usable)
    and reproducible training (same corpus → same centroids → identical
    result set). NOT asserted: trained > degenerate — the synthetic
    embeddings are near-uniform (no cluster structure for k-means to
    exploit), and which codebook recalls better flips with the scale
    factor (trained 0.38 vs degenerate 0.44 at sf0.001, 0.44 vs 0.36 at
    sf0.01); the trained path exists for real clustered spaces."""
    from esther_apache_spark_spark.operators.similarity import (
        brute_force_topk,
        pq_codebook_lloyd,
        pq_topk,
    )
    from esther_apache_spark_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in brute_force_topk(emb, queries, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(exact[q] & got.get(q, set())) for q in exact) / sum(
            len(exact[q]) for q in exact
        )

    cb = pq_codebook_lloyd(emb)
    trained = recall(pq_topk(emb, queries, k=10, codebook=cb))
    assert trained >= 0.2, trained

    cb2 = pq_codebook_lloyd(emb)
    a = sorted(map(tuple, pq_topk(emb, queries, k=10, codebook=cb).collect()))
    b = sorted(map(tuple, pq_topk(emb, queries, k=10, codebook=cb2).collect()))
    assert a == b


def test_pq_codebook_skips_zero_vector_prefix(spark):
    """Regression (ADVICE r3): the degenerate PQ codebook used to
    collect only the ksub*4 lowest-id rows and then filter validity —
    a corpus whose first 64+ ids are all-zero vectors crashed with
    ValueError while the SQL oracle (ksub lowest-id VALID vectors from
    the whole corpus) succeeded. The validity predicate is now pushed
    into the scan before the limit."""
    import numpy as np

    from esther_apache_spark_spark.operators.similarity import pq_topk

    rng = np.random.RandomState(7)
    rows = [(i, [0.0] * 64) for i in range(80)] + [
        (i, rng.randn(64).tolist()) for i in range(80, 100)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id >= 80 and vec_id < 83").selectExpr(
        "vec_id as query_id", "embedding"
    )
    out = pq_topk(corpus, queries, k=5).collect()
    assert len(out) == 15  # 3 queries × k, no ValueError
    # zero vectors can never be neighbors (their code norm is 0)
    assert all(r["neighbor_id"] >= 80 for r in out)


def test_pack_sequences_exact_beyond_32bit_offsets(spark):
    """100 TB arithmetic guard: a corpus whose token stream passes 2^40
    must produce EXACT long offsets (float math would corrupt slice
    boundaries above 2^53; 32-bit math far earlier). 1000 docs × ~2^31
    tokens each → offsets up to ~2^41; every fragment boundary must
    tile both its doc and its sequence exactly."""
    from pyspark.sql import functions as F

    from esther_apache_spark_spark.operators.packing import pack_sequences

    big = (1 << 31) + 17  # odd, not a multiple of seq_len
    rows = [(i, big + (i % 7)) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, tok_len long")
    seq_len = 1 << 20
    got = pack_sequences(df, [F.col("doc_id")], "tok_len", seq_len=seq_len)
    # spot-check exactness against pure-Python big-int arithmetic
    agg = got.groupBy("doc_id").agg(
        F.sum("slice_len").alias("tot"),
        F.min("slice_start").alias("mn"),
        F.count(F.lit(1)).alias("nfrag"),
    ).collect()
    lens = dict(rows)
    offs, acc = {}, 0
    for i in sorted(lens):
        offs[i] = acc
        acc += lens[i]
    for r in agg:
        assert r["tot"] == lens[r["doc_id"]]  # fragments tile the doc exactly
        assert r["mn"] == 0
        expect_frags = (offs[r["doc_id"]] + lens[r["doc_id"]] - 1) // seq_len - offs[r["doc_id"]] // seq_len + 1
        assert r["nfrag"] == expect_frags
    total = sum(lens.values())
    n_seq = got.agg(F.countDistinct("seq_id")).collect()[0][0]
    assert n_seq == (total + seq_len - 1) // seq_len


def test_minhash_cross_matches_boilerplate_linear_not_quadratic(spark):
    """Cross-corpus matcher guard: 500 distinct train docs sharing a
    boilerplate passage with ONE eval doc must emit ≤ one match row per
    (train, eval) pair — multi-band meets collapse via first-meet-band,
    so the candidate row count is linear in the train cluster, never
    bands× it — and the plan carries no cartesian/nested-loop join."""
    from esther_apache_spark_spark.operators.dedup import minhash_cross_matches

    passage = " ".join(f"boiler{i}" for i in range(40))
    train = spark.createDataFrame(
        [(i, passage) for i in range(500)], "doc_id long, text string"
    )
    evald = spark.createDataFrame([(10_000, passage)], "doc_id long, text string")
    m = minhash_cross_matches(train, evald, min_agree=16)
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = m.collect()
    assert len(rows) == 500  # exactly one row per train doc, not bands×500
    assert all(r["n_agree"] == 32 for r in rows)


def test_containment_directional_and_pruning_exact(spark):
    # doc 0 is a short passage fully embedded in doc 1 (containment
    # 0→1 is 1.0) while doc 1 is much longer (containment 1→0 small);
    # every doc carries a stop-shingle to exercise df pruning.
    stop = "common boilerplate footer"
    quoted = "alpha beta gamma delta epsilon zeta"
    docs = [
        f"{quoted}",
        f"{stop} intro words here {quoted} plus a very long tail "
        + " ".join(f"tail{i}" for i in range(30)),
    ] + [f"{stop} filler doc {i} about topic {i * 7}" for i in range(20)]
    df = _docs_df(spark, docs)

    # the stop-shingle is in 21 of the 22 docs: over max_df=5, not over
    # 22; the collapsed path probes member-weighted df, and with no
    # clones returns the direct path's rows at either cap
    for ce in (False, True):
        full, pruned = _probe_sides(
            lambda md: D.ngram_containment_pairs(
                df, threshold=0.0, max_df=md, collapse_exact=ce
            ),
            hot_cap=5,
            cold_cap=22,
            marker="LeftAnti",
        )
        # directional: the short doc is fully contained in the long one…
        assert full[(0, 1)] == 1.0
        # …but not vice versa
        assert full[(1, 0)] < 0.3

        # pruning drops candidates sharing ONLY hot shingles, keeps
        # values exact
        assert len(pruned) < len(full)
        for p, c in pruned.items():
            assert c == full[p], p
        assert pruned[(0, 1)] == 1.0


def test_capped_running_balance_clamps_and_matches_reference(spark):
    import pandas as pd
    from esther_apache_spark_spark.plans.warehouse import _BAL_CAP

    rows = []
    # user 1: hits the ceiling then drains below zero repeatedly
    deltas1 = [400_000, 300_000, -900_000, 50_000]
    # user 2: never clamps
    deltas2 = [10_000, -5_000, 2_000]
    for i, d in enumerate(deltas1):
        rows.append((1, i, "purchase" if d > 0 else "view", abs(d) / 100.0))
    for i, d in enumerate(deltas2):
        rows.append((2, 100 + i, "purchase" if d > 0 else "view", abs(d) / 100.0))
    ev = spark.createDataFrame(
        [
            (uid, f"2024-01-01 00:00:{i:02d}", eid, et, v)
            for (uid, eid, et, v), i in zip(rows, range(len(rows)))
        ],
        "user_id long, ts_s string, event_id long, event_type string, value double",
    ).selectExpr(
        "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_id", "event_type", "value"
    )

    import esther_apache_spark_spark.plans.warehouse as W
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        # write ts as TIMESTAMP_MICROS (the INT96 default confuses the
        # loader's nanosecond-footer sniff on synthetic fixtures)
        prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try:
            ev.write.parquet(os.path.join(td, "events.parquet"))
        finally:
            if prev:
                spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
        out = {
            r["user_id"]: r
            for r in W.capped_running_balance(spark, td).collect()
        }
    # reference walk
    def ref(ds):
        bal, ncl = 0, 0
        for d in ds:
            raw = bal + d
            if raw < 0 or raw > _BAL_CAP:
                ncl += 1
            bal = min(max(raw, 0), _BAL_CAP)
        return bal, ncl

    b1, c1 = ref(deltas1)
    b2, c2 = ref(deltas2)
    assert (out[1]["final_cents"], out[1]["n_clamped"]) == (b1, c1)
    assert (out[2]["final_cents"], out[2]["n_clamped"]) == (b2, c2)
    assert c1 >= 2 and c2 == 0


def test_pq_lloyd_centroid_magnitude_rms_norm(spark):
    """ADVICE r7 (medium): the distributed PQ trainer's norm-preserving
    update must rescale each centroid direction to the members' RMS
    subvector norm sqrt(Σ‖x‖²/n) — the old F.first(sn2)/d_sub shrank
    every centroid by sqrt(d_sub), drifting Lloyd assignments and ADC
    reconstruction magnitudes vs the driver trainer's mean-norm rescale.
    Construction: two concentrated clusters (every member shares one
    exact int8 code norm, ±1 entries → ±127 codes), where RMS = that
    norm exactly, so the final centroid magnitudes are pinned in closed
    form: 127·√2 for the 2-hot cluster, 254 for the ±1⁴ cluster."""
    import math

    rows = []
    # cluster A (even ids): 2-hot nonneg patterns, code norm 127·√2
    for i, v in enumerate(
        [[1, 1, 0, 0], [1, 0, 1, 0], [1, 0, 0, 1], [0, 1, 1, 0]]
    ):
        rows.append((2 * i, [float(x) for x in v]))
    # cluster B (odd ids): mostly-negative ±1 patterns, code norm 254
    for i, v in enumerate(
        [[-1, -1, -1, -1], [-1, -1, -1, 1], [-1, -1, 1, -1], [-1, 1, -1, -1]]
    ):
        rows.append((2 * i + 1, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cb = S.pq_codebook_lloyd(emb, m_sub=1, ksub=2, iters=3, dim=4)
    norms = sorted(float(np.linalg.norm(cb[0, c])) for c in range(2))
    assert math.isclose(norms[0], 127.0 * math.sqrt(2.0), rel_tol=1e-9), norms
    assert math.isclose(norms[1], 254.0, rel_tol=1e-9), norms


def test_aqe_skew_split_engages_on_planted_hot_key(spark):
    """Planted-skew guard (VERDICT r7 #6): with one key at ~50% mass, a
    plain shuffle join must come out of AQE with the skewed partition
    SPLIT (SortMergeJoin(skew=true) in the final adaptive plan), and
    `skew.salted_join` must return exactly the plain join's rows on the
    same skewed input — the salt changes the schedule, never the
    answer. Thresholds are lowered to make the test corpus (200k rows)
    look reducer-sized the way 100 TB partitions do; the machinery
    under test is size-agnostic."""
    from esther_apache_spark_spark.operators.skew import salted_join

    left = spark.range(0, 200_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(7))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(0, 5_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf
            old[k] = None
        spark.conf.set(k, v)
    try:
        plain = left.join(right, "k")
        plain_rows = plain.collect()
        plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
        salted = salted_join(
            left, right, "k", n_salts=8, left_id_cols=["payload"]
        ).collect()
        assert sorted(map(tuple, salted)) == sorted(map(tuple, plain_rows))
        # the hot key's rows all survived (50% of the left joins k=7:
        # the 100k even ids plus id=7 itself)
        assert sum(1 for r in plain_rows if r["k"] == 7) == 100_001
        # the documented AQE blind spot (r8 sf1skew finding): when the
        # build side's DISTINCT exchange is itself the join-feeding
        # shuffle (grouping key == join key, so no extra exchange gets
        # inserted), the SMJ child is Sort(HashAggregate(ShuffleRead))
        # — not a direct shuffle stage — and OptimizeSkewedJoin cannot
        # split the hot partition. Exactly the shape of "join facts to
        # the distinct key list", and the broadcast-ineligible case
        # salted_join exists for.
        blocked = left.join(left.select("k").distinct(), "k")
        blocked.collect()
        bplan = blocked._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in bplan
        assert "skew=true" not in bplan, (
            "Spark now splits agg-fed SMJ sides — revisit the "
            "salted_join guidance in operators/skew.py"
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
