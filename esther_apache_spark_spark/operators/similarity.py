"""Similarity search over embedding columns (SURVEY.md §7 M4).

Engine extension — the reference has no vector surface. Three shapes:

- ``brute_force_topk``: exact cosine top-k. The query set is broadcast
  (small side), the corpus streams — one pass, no shuffle of the corpus;
  per-query ranking is a window over (query, score). It has no cap on
  the query set and is the correctness oracle for every other path.
- ``ann_topk_lsh`` / ``ivf_topk``: random-hyperplane SRP-LSH buckets
  (sign of dot product with seeded deterministic planes, one signature
  per table) or IVF inverted lists; exact rerank within them. The 100 TB
  path: candidate generation is an equi-join, never all-pairs.
- One GEMM panel scan (``_panel_topk``) behind ``brute_force_topk_arrow``
  (exact, optionally below a ``max_cosine`` ceiling), ``ann_topk_int8``
  and ``pq_topk``: the bounded query panel is collected to the driver,
  every ``mapInArrow`` batch is scored by numpy, and a tie-safe local
  cut keeps ≤ k rows per query per batch. The kernels differ only in
  how they prepare the query side and score a batch.

Expression-form vector math uses built-in higher-order functions (see
``functions.vector``); deterministic planes come from a seeded NumPy
generator materialized as literals — no RNG at execution time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from esther_apache_spark_spark.functions.vector import (
    cosine_similarity,
    dot,
    is_valid_vector,
    vector_dim,
)
from esther_apache_spark_spark.operators.windows import top_k_per_group
from esther_apache_spark_spark.scope import cache_scope, cached

#: Hard cap on the driver-collected "query panel" accepted by the
#: GEMM-kernel top-k variants (``brute_force_topk_arrow``,
#: ``ann_topk_int8``, ``pq_topk``). Those kernels close the query matrix
#: over every task — correct and fast for a bounded panel (10k × 768
#: float64 ≈ 60 MB broadcast), but a data-sized "queries" frame would
#: silently OOM the driver at 100× scale. The guard fails fast with
#: guidance instead; the fully distributed paths (``brute_force_topk``,
#: ``ann_topk_lsh``) have no such bound.
MAX_QUERY_PANEL_ROWS = 10_000

_TOPK_SCHEMA = "query_id long, neighbor_id long, cosine double"


def _collect_query_panel(
    queries: DataFrame,
    query_id_col: str,
    vec_col: str,
    max_rows: int | None = None,
) -> list:
    """Collect the bounded query panel to the driver, failing fast when
    it exceeds the cap.

    The probe is ``limit(cap + 1).collect()`` — at most cap+1 rows ever
    reach the driver, so an oversized panel raises a clear ``ValueError``
    instead of exhausting driver memory mid-collect. Row order within
    the panel is irrelevant downstream: every kernel scores queries
    independently and the final ranking is a per-query total order.
    """
    cap = MAX_QUERY_PANEL_ROWS if max_rows is None else max_rows
    rows = queries.select(query_id_col, vec_col).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"query panel exceeds {cap} rows; the GEMM-kernel top-k "
            "variants collect the queries to the driver and are meant "
            "for a bounded query panel. For a data-sized query set use "
            "the fully distributed paths: brute_force_topk (broadcast "
            "cross-score) or ann_topk_lsh (bucketed equi-join), or "
            "raise max_query_rows explicitly if the panel is known to fit."
        )
    return rows


def _panel_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    max_query_rows: int | None,
    prepare,
    score,
    max_cosine: float | None = None,
) -> DataFrame:
    """The GEMM panel scan every bounded-panel top-k kernel runs.

    The valid query panel is collected to the driver (capped by
    ``_collect_query_panel``) and handed to ``prepare(q_ids, qm) ->
    (q_ids, state)``, which builds the kernel's query side and may drop
    queries. The corpus streams through ``mapInArrow``: each non-empty
    batch's fixed-width list column reshapes zero-copy into a
    (batch × dim) float64 matrix, and ``score(ids, cm, state) -> (ids,
    scores)`` returns the corpus ids it keeps with their ROUNDED scores,
    one column per query.

    The per-query local cut orders by the same key as the global rank:
    the rounded score, widened to every row tied with the k-th score,
    then (cosine desc, neighbor_id asc) — so it can never drop a row the
    global order ranks within k. ``max_cosine`` (exclusive) is applied
    before the cut, so only neighbors strictly below the ceiling compete.
    The shuffle carries ≤ k rows per query per batch into the final
    ``top_k_per_group``."""
    corpus = corpus.filter(is_valid_vector(F.col(vec_col)))
    queries = queries.filter(is_valid_vector(F.col(vec_col)))
    q_rows = _collect_query_panel(queries, query_id_col, vec_col, max_query_rows)
    if not q_rows:
        # no queries after the validity filter → empty result, not an
        # AxisError on a 1-D array
        return corpus.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    q_ids, state = prepare(
        np.array([r[query_id_col] for r in q_rows]),
        np.array([r[vec_col] for r in q_rows], dtype="float64"),
    )
    if len(q_ids) == 0:  # every query was dropped (e.g. zero int8 norm)
        return corpus.sparkSession.createDataFrame([], _TOPK_SCHEMA)

    def scan(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy()
            varr = batch.column(1)
            if len(ids) == 0:
                # Empty batches are legal (empty source split) — skip,
                # don't misreport them as ragged-width input.
                continue
            lens = np.asarray(pc.list_value_length(varr))
            if lens.min() != lens.max():
                raise ValueError("embedding column must be fixed-width")
            cm = (
                np.asarray(varr.flatten().to_numpy(zero_copy_only=False))
                .astype("float64")
                .reshape(len(ids), int(lens[0]))
            )
            ids, scores = score(ids, cm, state)  # scores: (batch, n_queries)
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(q_ids):
                col, ids_j = scores[:, j], ids
                if max_cosine is not None:
                    sel = np.flatnonzero(col < max_cosine)
                    ids_j, col = ids_j[sel], col[sel]
                top = min(k, len(ids_j))
                if top == 0:
                    continue
                if top < len(ids_j):
                    # argpartition gives the top scores but breaks ties
                    # arbitrarily; widen to ALL rows tied with the k-th
                    # score before applying the total order
                    part = np.argpartition(-col, top - 1)[:top]
                    cand = np.flatnonzero(col >= col[part].min())
                else:
                    cand = np.arange(len(ids_j))
                order = cand[np.lexsort((ids_j[cand], -col[cand]))][:top]
                out_q.extend([int(qid)] * len(order))
                out_n.extend(int(ids_j[i]) for i in order)
                out_c.extend(float(col[i]) for i in order)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_q, pa.int64()),
                    pa.array(out_n, pa.int64()),
                    pa.array(out_c, pa.float64()),
                ],
                names=["query_id", "neighbor_id", "cosine"],
            )

    scored = corpus.select(id_col, vec_col).mapInArrow(scan, _TOPK_SCHEMA)
    return top_k_per_group(
        scored, "query_id", [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Returns (query_id, neighbor_id, cosine), k rows per query, ranked by
    (cosine desc, neighbor_id asc) — a total order so results hash
    stably. Self-matches are kept (cosine 1.0) when ids differ only.
    """
    corpus = corpus.filter(is_valid_vector(F.col(vec_col)))
    queries = queries.filter(is_valid_vector(F.col(vec_col)))
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    scored = c.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
    )
    return top_k_per_group(
        scored,
        "query_id",
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
    )


def _plane_literals(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _argmax_centroid(vec: Column, centroids: list[list[float]], top: int = 1) -> Column:
    """array<double> -> array<int> of the ``top`` centroid ids by dot
    product (centroids are L2-normalized driver-side, so dot = cosine).
    Pure expression: score array -> sort desc -> slice ids."""
    scored = F.array(
        *[
            F.struct(
                dot(vec, F.array(*[F.lit(x) for x in c])).alias("score"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    ranked = F.reverse(F.array_sort(scored))  # by (score, cid) asc -> reversed
    return F.transform(F.slice(ranked, 1, top), lambda s: s["cid"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nlist: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    ``nlist`` inverted lists, probe the ``nprobe`` closest lists per
    query, exact cosine rerank within them.

    ``centroids`` plugs in a trained quantizer (see
    ``kmeans_centroids_lloyd``); the default is deterministic-but-degenerate —
    the first ``nlist`` corpus vectors by id, L2-normalized on the
    driver. The default is kept as-is because it is SQL-expressible
    (the catalog query's DuckDB oracle replays it exactly); the
    assignment and probe plan is identical either way. Corpus
    assignment is a narrow projection, candidates come from an
    equi-join on list id — the same no-all-pairs property as the LSH
    path, but with data-adaptive cells and a recall knob (``nprobe``)
    that needs no re-hashing."""
    import numpy as np  # local: driver-side centroid prep only

    corpus = corpus.filter(is_valid_vector(F.col(vec_col)))
    queries = queries.filter(is_valid_vector(F.col(vec_col)))
    if centroids is None:
        cvecs = (
            corpus.select(id_col, vec_col).orderBy(id_col).limit(nlist).collect()
        )
        cents = np.array([r[vec_col] for r in cvecs], dtype="float64")
        cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        centroids = cents.tolist()

    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
        _argmax_centroid(F.col(vec_col).cast("array<double>"), centroids)[0].alias(
            "_list"
        ),
    )
    qb = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
            F.explode(
                _argmax_centroid(
                    F.col(vec_col).cast("array<double>"), centroids, top=nprobe
                )
            ).alias("_list"),
        )
    )
    scored = cb.join(qb, "_list").select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
    )
    return top_k_per_group(
        scored.dropDuplicates(["query_id", "neighbor_id"]),
        "query_id",
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
    )


def srp_table_buckets(
    vec: Column,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
) -> Column:
    """array<numeric> -> array<long>: one SRP bucket per hash table.

    Multiple independent tables trade compute for recall: a pair with
    cosine c collides in one table with p = (1 - θ/π)^n_planes and in
    ANY of t tables with 1-(1-p)^t (e.g. c=0.4, 4 planes, 12 tables →
    ~87% recall vs ~6% for a single 12-plane table). Planes are seeded
    literals — deterministic, no RNG at execution time."""
    v = vec.cast("array<double>")
    all_planes = _plane_literals(dim, n_planes * n_tables, seed)
    buckets = []
    for t in range(n_tables):
        bucket: Column = F.lit(0).cast("long")
        for i in range(n_planes):
            plane = F.array(*[F.lit(x) for x in all_planes[t * n_planes + i]])
            bit = F.when(dot(v, plane) >= 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            bucket = bucket.bitwiseOR(bit)
        buckets.append(bucket)
    return F.array(*buckets)


def srp_table_buckets_vec(
    vec: Column,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
) -> Column:
    """Vectorized twin of ``srp_table_buckets``: identical buckets (same
    seeded planes, same ``>= 0`` sign rule, same ``1 << i`` bit order)
    computed as ONE Arrow-batched GEMM per partition instead of
    n_planes × n_tables interpreted dot-product expressions per row —
    the expression form is O(tables·planes·dim) interpreted ops/row and
    dominates the whole dedup operator; sign((N·Pᵀ)) on a batch is
    near-free. Equivalence is asserted in tests."""
    planes_t = np.asarray(_plane_literals(dim, n_planes * n_tables, seed)).T  # (dim, P)
    weights = (1 << np.arange(n_planes)).astype("int64")

    @F.pandas_udf("array<long>")
    def _buckets(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        m = np.array(s.tolist(), dtype="float64")  # (n, dim)
        bits = (m @ planes_t) >= 0  # (n, tables*planes)
        b = bits.reshape(len(m), -1, len(weights)) @ weights  # (n, tables)
        return pd.Series(list(b))

    return _buckets(vec)


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    n_tables: int = 1,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries with the same planes,
    equi-join on bucket, exact cosine rerank within the bucket.

    Recall < 1.0 by construction; two knobs raise it: fewer planes
    (bigger buckets — more rerank work per table) and more tables
    (``n_tables`` independent plane sets, candidates = union of the
    per-table bucket joins — more tables, same per-table cost). A pair
    at cosine c collides in one table with p = (1 - θ/π)^n_planes and
    in ANY of t tables with 1-(1-p)^t: at c=0.4 a single 8-plane table
    gives ~19% recall, 4 tables ~57%, 8 tables ~81%. The join key is
    (table, bucket) — one equi-join regardless of t, and a single table
    is the t = 1 case (its planes are ``_plane_literals(dim, n_planes,
    seed)``); with t > 1 a candidate pair found by several tables is
    deduplicated before the ranking cut. At 100 TB this replaces the
    crossJoin entirely.

    ``dim`` skips the one-row driver probe when the embedding width is
    known (schema metadata)."""
    corpus = corpus.filter(is_valid_vector(F.col(vec_col)))
    queries = queries.filter(is_valid_vector(F.col(vec_col)))
    if dim is None:
        dim = vector_dim(corpus, vec_col)
    # (table, bucket) exploded from the per-table signature array; the
    # same seeded planes (expression form — SQL-replayable by the catalog
    # oracle) bucket both sides.
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.posexplode(
            srp_table_buckets(F.col(vec_col), dim, n_planes, n_tables, seed)
        ).alias("_table", "_bucket"),
    )
    qb = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            F.posexplode(
                srp_table_buckets(F.col(vec_col), dim, n_planes, n_tables, seed)
            ).alias("_table", "_bucket"),
        )
    )
    scored = cb.join(qb, ["_table", "_bucket"]).select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_similarity(F.col("_qv").cast("array<double>"), F.col("_cv").cast("array<double>")),
            6,
        ).alias("cosine"),
    )
    if n_tables > 1:
        # A pair meeting in m tables must rank once. Scoring BEFORE the
        # dedup means the dedup shuffle carries (query, neighbor,
        # cosine) — ~24 bytes/row — instead of two embedding vectors;
        # the m-1 redundant cosine evaluations are cheap JVM expression
        # work and the kept row is deterministic (cosine is a pure
        # function of the pair, identical across duplicates).
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return top_k_per_group(
        scored, "query_id", [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )


def _unit_rows(m: "np.ndarray") -> "np.ndarray":
    """L2-normalize the rows of ``m`` in place (zero rows stay zero)."""
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    return m


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_cosine: float | None = None,
    max_query_rows: int | None = None,
) -> DataFrame:
    """Exact cosine top-k on the GEMM panel scan (same results as
    ``brute_force_topk``, which is its oracle). The query panel is unit-
    normalized on the driver; each Arrow batch becomes one numpy
    ``corpus_batch @ queries.T`` GEMM — per-element cost ~1 multiply-add
    instead of an interpreted HOF expression tree, which at dim ≳ 256
    wins by orders of magnitude.

    ``max_cosine`` (exclusive, applied to the ROUNDED score) turns the
    scan into a hard-negative miner: only neighbors strictly below the
    ceiling compete for the top-k — "closest vectors that are NOT
    near-duplicates", the negative-pair source for contrastive
    embedding training. Self-matches (cosine 1.0) fall out
    automatically."""
    return _panel_topk(
        corpus, queries, k, id_col, vec_col, query_id_col, max_query_rows,
        prepare=lambda q_ids, qm: (q_ids, _unit_rows(qm)),
        score=lambda ids, cm, qm: (ids, np.round(_unit_rows(cm) @ qm.T, 6)),
        max_cosine=max_cosine,
    )


def _quantize_rows(m: "np.ndarray") -> "np.ndarray":
    """Row-wise symmetric int8 quantization of a float64 matrix, as
    exact integers carried in float64: q = floor((x*127)/maxabs + 0.5).

    The expression shape — ``(x * 127.0) / m``, not ``x * (127.0/m)``
    — matches ``functions.vector.quantize_int8`` and the DuckDB oracle
    exactly (IEEE evaluation-order parity)."""
    absm = np.abs(m).max(axis=1)
    out = np.zeros_like(m)
    safe = absm > 0
    out[safe] = np.floor((m[safe] * 127.0) / absm[safe, None] + 0.5)
    return out


def _int8_prepare(q_ids, qm):
    qm = _quantize_rows(qm)
    q_norms = np.sqrt((qm * qm).sum(axis=1))
    live = q_norms > 0
    return q_ids[live], (qm[live], q_norms[live])


def _int8_score(ids, cm, state):
    qm, q_norms = state
    cm = _quantize_rows(cm)
    c_norms = np.sqrt((cm * cm).sum(axis=1))
    keep = c_norms > 0
    ids, cm, c_norms = ids[keep], cm[keep], c_norms[keep]
    # integer dots (exact in float64) -> cos = dot/(nc*nq)
    return ids, np.round((cm @ qm.T) / (c_norms[:, None] * q_norms[None, :]), 6)


def ann_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k on int8-QUANTIZED vectors — the 100-TB storage
    and shuffle format for ANN (8x narrower than float64, 4x narrower
    than the raw float32). Quantized cosine is the per-vector scales'
    fixed point: cos(q_a, q_b) = dot(q_a, q_b) / (|q_a|·|q_b|) — the
    maxabs/127 scales cancel, so the score is a pure function of the
    int8 codes.

    Exactly SQL-replayable BY CONSTRUCTION, unlike float GEMM scores:
    every product is an integer <= 127², every partial dot sum an exact
    integer < 2^53, so BLAS summation order cannot round — DuckDB's
    left-to-right ``list_sum`` and numpy's float64 GEMM produce the
    same integers, and sqrt/divide are single correctly-rounded IEEE
    ops. Fidelity vs true cosine is ~1e-3 absolute for 64-dim unit-ish
    vectors (quantization noise), which reorders only near-ties.

    Runs on the GEMM panel scan (``_panel_topk``); zero-norm codes, on
    either side, are excluded (cosine undefined)."""
    return _panel_topk(
        corpus, queries, k, id_col, vec_col, query_id_col, max_query_rows,
        prepare=_int8_prepare, score=_int8_score,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m_sub: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebook=None,
    max_query_rows: int | None = None,
) -> DataFrame:
    """Product-quantization ANN top-k with ADC scoring — the memory
    endpoint of the compression family (float64 GEMM → int8 codes →
    PQ): each int8 vector splits into ``m_sub`` subspaces, every
    subspace is encoded as the index of its nearest codebook centroid
    (L2, lowest-index tiebreak), and a vector is then ``m_sub`` small
    integers — 4 bits each at ksub=16, a 64-dim float32 vector
    compressed 64×. Scoring is asymmetric-distance-style over dot
    products: per query, one (m_sub × ksub) integer table of
    subspace dots against the codebook, and each corpus vector's score
    is m_sub table lookups — no per-pair arithmetic on the original
    vectors at all. Approximate cosine = ADC dot / (|q_code|·|recon|),
    where recon is the concatenated centroid reconstruction.

    Exactly SQL-replayable BY CONSTRUCTION, like ``ann_topk_int8``:
    codes, codebook, subspace distances, ADC dots, and both norms are
    integer arithmetic (≤ dim·127² per term, exact in int64/float64);
    only the final sqrt/divide are single IEEE ops. The codebook here
    is the DEGENERATE deterministic one — the int8 subvectors of the
    ``ksub`` lowest-id valid vectors (same doctrine as ``ivf_topk``'s
    default quantizer: replayable beats trained for the oracle; the
    k-means-per-subspace codebook of ``pq_codebook_lloyd`` is the
    drop-in trained upgrade and changes only the centroid table).
    Recall vs float brute force is property-tested.

    Scale shape: one driver collect of ksub codebook rows + the query
    matrix; the corpus scan is the GEMM panel scan (``_panel_topk``),
    which would, in a persisted deployment, read the 4-byte PQ codes
    instead of raw vectors — encode once, query forever; shuffle is ≤ k
    rows per query per batch."""
    corpus = corpus.filter(is_valid_vector(F.col(vec_col)))

    if codebook is not None:
        # trained path (pq_codebook_lloyd): real-valued centroids —
        # deterministic, but no longer exact-integer, so rows-only
        # rather than SQL-replayed
        cb = np.asarray(codebook, dtype="float64")
        m_sub, ksub, d_sub = cb.shape
    else:
        # Codebook = the ksub lowest-id VALID vectors from the WHOLE corpus
        # (valid = nonzero quantized norm ⟺ any nonzero element, since
        # is_valid_vector already excluded NULLs). The predicate is pushed
        # into the scan BEFORE the limit so a prefix of zero vectors can't
        # starve the codebook — matching the oracle's
        # `SELECT ... FROM valid ORDER BY vec_id LIMIT ksub` exactly.
        cb_rows = (
            corpus.select(id_col, vec_col)
            .filter(F.exists(F.col(vec_col), lambda x: x != 0))
            .orderBy(id_col)
            .limit(ksub)
            .collect()
        )
        if not cb_rows:
            return corpus.sparkSession.createDataFrame([], _TOPK_SCHEMA)
        cb_all = _quantize_rows(
            np.array([r[vec_col] for r in cb_rows], dtype="float64")
        )
        if len(cb_all) < ksub:
            raise ValueError(f"corpus has fewer than {ksub} valid vectors")
        dim = cb_all.shape[1]
        if dim % m_sub:
            raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
        d_sub = dim // m_sub
        # (m_sub, ksub, d_sub)
        cb = cb_all.reshape(ksub, m_sub, d_sub).transpose(1, 0, 2).copy()
    cb_n2 = (cb * cb).sum(axis=2)  # (m_sub, ksub) centroid norm² per subspace
    subspaces = np.arange(m_sub)[None, :]

    def prepare(q_ids, qm):
        qm = _quantize_rows(qm)
        q_n2 = (qm * qm).sum(axis=1)
        live = q_n2 > 0
        q_ids, qm, q_n2 = q_ids[live], qm[live], q_n2[live]
        # ADC dot tables: (n_q, m_sub, ksub)
        qsub = qm.reshape(len(q_ids), m_sub, d_sub)
        return q_ids, (np.einsum("qmd,mkd->qmk", qsub, cb), q_n2)

    def score(ids, cm, state):
        adc, q_n2 = state
        cm = _quantize_rows(cm)
        keep = (cm * cm).sum(axis=1) > 0
        ids, cm = ids[keep], cm[keep]
        sub = cm.reshape(len(ids), m_sub, d_sub)
        # L2 encode: argmin_c |x|² - 2·x·c + |c|²; |x|² is constant
        # per (row, subspace) so argmin over (-2·dot + |c|²) suffices;
        # np.argmin takes the FIRST minimum — the lowest-index
        # tiebreak the oracle's (d, cid) order states
        dots = np.einsum("nmd,mkd->nmk", sub, cb)
        codes = np.argmin(cb_n2[None, :, :] - 2.0 * dots, axis=2)  # (n, m_sub)
        r_n2 = cb_n2[subspaces, codes].sum(axis=1)  # (n,)
        ok = r_n2 > 0
        ids, codes, r_n2 = ids[ok], codes[ok], r_n2[ok]
        # score of query j = Σ_s adc[j, s, code_s], one column per query
        cols = [
            np.round(adc[j][subspaces, codes].sum(axis=1) / np.sqrt(r_n2 * q_n2[j]), 6)
            for j in range(len(q_n2))
        ]
        return ids, np.stack(cols, axis=1)

    return _panel_topk(
        corpus, queries, k, id_col, vec_col, query_id_col, max_query_rows,
        prepare=prepare, score=score,
    )


def kmeans_centroids_lloyd(
    corpus: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
    scale: int = 1_000_000,
) -> list[list[float]]:
    """DISTRIBUTED spherical k-means for the IVF coarse quantizer:
    every vector votes in every Lloyd round, so the quantizer reflects
    the true density of the whole corpus, not a driver-side sample.

    Geometry: vectors are L2-normalized FIRST, then integer-quantized
    (``clustering.quantize_vectors``); on unit vectors Euclidean argmin
    equals dot-product argmax, so the exact-integer Euclidean machinery
    of ``clustering`` (``_assign_arrow`` int64 GEMM assignment,
    partial-aggregable ``_update`` means) trains the spherical model
    with zero float accumulation — every shuffle carries exact BIGINTs,
    making the result PARTITION-DETERMINISTIC (floating sums never meet
    a shuffle order). The only driver-side data ever collected is the
    nlist × dim centroid table (a model constant, same bounded-collect
    doctrine as ``clustering._assign_arrow``). Returned centroids are
    dequantized and re-normalized for ``ivf_topk``'s argmax-dot probe.

    Cost: iters full scans + iters (cluster, dim)-grained shuffles of
    k·dim partials per partition — the 100 TB shape; no window over a
    data-sized frame, no driver sample."""
    from esther_apache_spark_spark.operators.clustering import (
        _assign_arrow,
        _update,
        quantize_vectors,
    )
    from esther_apache_spark_spark.functions.vector import l2_norm

    valid = corpus.filter(is_valid_vector(F.col(vec_col)))
    unit = valid.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: x / F.greatest(l2_norm(F.col(vec_col).cast("array<double>")), F.lit(1e-12)),
        ).alias("_uv"),
    )
    from pyspark.sql import Window

    with cache_scope():  # q is released once the centroids are collected
        q = cached(quantize_vectors(unit, id_col="vec_id", vec_col="_uv", scale=scale))
        seeds = q.orderBy("vec_id").limit(nlist)
        cent = seeds.select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).cast("long").alias("cid"),
            F.col("qv").alias("cv"),
        )
        for _ in range(iters):
            assigned = _assign_arrow(q, cent)
            new = _update(assigned)
            # an emptied cluster keeps its previous centroid — bounded
            # k-row outer join
            cent = (
                cent.select("cid", F.col("cv").alias("_prev"))
                .join(new, on="cid", how="left")
                .select("cid", F.coalesce("cv", "_prev").alias("cv"))
            )
        rows = sorted(cent.collect(), key=lambda r: r["cid"])  # k rows: model constant
    m = np.array([r["cv"] for r in rows], dtype="float64") / float(scale)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    return m.tolist()


def pq_codebook_lloyd(
    corpus: DataFrame,
    m_sub: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
    dim: int | None = None,
):
    """DISTRIBUTED per-subspace PQ codebook trainer: every valid vector
    votes, no driver-side sample. All m_sub subspaces train in ONE
    frame: the int8
    codes (``functions.vector.quantize_int8`` — the exact domain
    ``pq_topk`` encodes in) slice into (vec_id, sub, subvector) rows,
    and each Lloyd round is a broadcast of the (m_sub · ksub)-row
    centroid table + one exact-integer distance argmin + one
    (sub, cid, dim)-grained partial-aggregable update. Nothing
    data-sized ever reaches the driver; the collect at the end is the
    m_sub × ksub × d_sub codebook — a model constant.

    PARTITION-DETERMINISTIC by construction: member sums (codes, code
    norm²) are exact BIGINTs, so shuffle order cannot perturb a bit;
    the real-valued centroid is derived per GROUP from those integers
    (mean = s/n, one IEEE division per dim). The update is
    norm-preserving: a plain mean of spread-out subvectors shrinks
    toward zero, and the ADC cosine divides by the reconstruction norm,
    so the mean direction is rescaled to the members' RMS norm
    (sqrt(Σ‖x‖²/n) — exact-integer numerator) rather than their mean
    norm, whose float sum would be shuffle-order-dependent. RMS ≥
    mean-norm with equality at concentrated norms, so reconstruction
    magnitudes stay realistic; recall is pinned in tests.

    Returns an (m_sub, ksub, d_sub) float64 numpy codebook for
    ``pq_topk(codebook=...)``. Seeds are the degenerate codebook (int8
    subvectors of the ksub lowest-id valid vectors), so iters=0
    reproduces the SQL-replayable baseline exactly."""
    from esther_apache_spark_spark.functions.vector import quantize_int8

    valid = corpus.filter(is_valid_vector(F.col(vec_col))).filter(
        F.exists(F.col(vec_col), lambda x: x != 0)
    )
    if dim is None:
        probe = valid.select(F.size(F.col(vec_col)).alias("d")).first()
        if probe is None:
            raise ValueError("no valid nonzero vectors to train on")
        dim = int(probe["d"])
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    d_sub = dim // m_sub

    v = F.col(vec_col).cast("array<double>")
    maxabs = F.array_max(F.transform(v, F.abs))
    codes = valid.select(
        F.col(id_col).alias("vec_id"), quantize_int8(v, maxabs).alias("_q")
    )
    subs = codes.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m_sub - 1)),
                lambda s: F.slice(F.col("_q"), s * d_sub + 1, d_sub),
            )
        ).alias("sub", "x"),
    ).select(
        "vec_id",
        "sub",
        "x",
        F.aggregate(
            F.col("x"), F.lit(0).cast("long"), lambda acc, e: acc + e * e
        ).alias("_n2"),
    )
    subs = subs.localCheckpoint()  # one materialization; iters reuse it

    spark = corpus.sparkSession
    from pyspark.sql import Window

    # Seeds: the ksub lowest-id valid vectors' subvectors (the degenerate
    # codebook). The window runs over a ksub-row TakeOrdered frame only.
    seed_ids = (
        valid.select(F.col(id_col).alias("vec_id")).orderBy("vec_id").limit(ksub)
    )
    seed_ids = seed_ids.select(
        "vec_id",
        (F.row_number().over(Window.orderBy("vec_id")) - 1)
        .cast("long")
        .alias("cid"),
    )
    n_seeds = seed_ids.count()
    if n_seeds < ksub:
        raise ValueError(f"corpus has fewer than {ksub} valid vectors")
    cent = (
        subs.join(F.broadcast(seed_ids), "vec_id")
        .select("sub", "cid", F.transform("x", lambda e: e.cast("double")).alias("cv"))
    )

    def _assign_sub(cent_df):
        by_sub = cent_df.groupBy("sub").agg(
            F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("_cents")
        )
        return subs.join(F.broadcast(by_sub), "sub").select(
            "sub",
            "x",
            "_n2",
            F.array_min(
                F.transform(
                    F.col("_cents"),
                    lambda c: F.struct(
                        F.aggregate(
                            F.zip_with(
                                F.col("x"), c["cv"], lambda a, b: (a - b) * (a - b)
                            ),
                            F.lit(0.0),
                            lambda acc, e: acc + e,
                        ).alias("dist"),
                        c["cid"].alias("cid"),
                    ),
                )
            )["cid"].alias("cid"),
        )

    for _ in range(iters):
        assigned = _assign_sub(cent)
        per_dim = (
            assigned.select("sub", "cid", "_n2", F.posexplode("x").alias("pos", "v"))
            .groupBy("sub", "cid", "pos")
            .agg(
                F.sum("v").alias("s"),
                F.count(F.lit(1)).alias("n"),
                F.sum("_n2").alias("sn2"),
            )
        )
        mu = per_dim.groupBy("sub", "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda p: p["s"]
            ).alias("_sv"),
            F.first("n").alias("n"),
            # every (sub,cid,pos) row carries the SAME per-cluster
            # Σ‖x‖² (sum of member subvector norm² over members), so
            # one row IS the cluster total — take it as-is (ADVICE r7:
            # the old /d_sub shrank every centroid by sqrt(d_sub) vs
            # the documented sqrt(Σ‖x‖²/n))
            F.first("sn2").alias("_sn2x"),
        )
        new = mu.select(
            "sub",
            "cid",
            F.transform("_sv", lambda s: s.cast("double") / F.col("n")).alias("_mu"),
            F.sqrt(F.col("_sn2x") / F.col("n")).alias("_rms"),
        ).select(
            "sub",
            "cid",
            F.when(
                F.sqrt(
                    F.aggregate(
                        F.col("_mu"), F.lit(0.0), lambda acc, e: acc + e * e
                    )
                )
                > 1e-12,
                F.transform(
                    F.col("_mu"),
                    lambda e: e
                    / F.sqrt(
                        F.aggregate(
                            F.col("_mu"), F.lit(0.0), lambda a, x: a + x * x
                        )
                    )
                    * F.col("_rms"),
                ),
            ).alias("cv"),
        )
        cent = (
            cent.select("sub", "cid", F.col("cv").alias("_prev"))
            .join(new, on=["sub", "cid"], how="left")
            .select("sub", "cid", F.coalesce("cv", "_prev").alias("cv"))
        )
        cent = cent.localCheckpoint()  # keep the unrolled tree shallow

    rows = cent.collect()  # m_sub·ksub rows: model constant
    cb = np.zeros((m_sub, ksub, d_sub), dtype="float64")
    for r in rows:
        cb[int(r["sub"]), int(r["cid"])] = r["cv"]
    return cb
