"""Relevance / resolution / robust-stats / graph / quantization
analytics (engine extensions, SURVEY.md §7 M4 spirit): BM25 document
scoring, fuzzy vocabulary canonicalization (single- and multi-pass
blocking), per-group z-score and median/MAD anomaly flags,
winsorization, least-squares trend slopes, triangle counting on the
co-purchase graph, int8 embedding quantization + bit-exact-oracled int8
ANN, a distributed 2-D skyline, and the PySpark-4 Python-execution
surface (arrow UDTF, grouped-agg UDAF, VARIANT paths).

The reference has none of these (its analytics ceiling is
``daily_city_sales``, ``src/pyspark/pipeline_pyspark.py:175-184``);
they are the next ring of operations a 100-TB training-data /
analytics platform runs daily. Every query is DuckDB-oracled.

Cross-engine determinism doctrine (same as ``corpus_ops``):

- idf stays RATIONAL — ``(N-df+0.5)/(df+0.5)`` without ``ln`` — so no
  transcendental function whose last ulp differs between libm and the
  JVM enters the hash (the classic Robertson idf is ``ln`` of exactly
  this ratio; swapping it in is a one-line change that only compresses
  the score range).
- quantization rounds via ``floor(x+0.5)``, one IEEE add + floor in
  both engines, never ``round()`` (HALF_UP vs banker's ties).
- floating aggregates are ROUNDed before they are compared or used as
  sort keys; sort tiebreaks are total (id-complete).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esther_apache_spark_spark.functions import vector as V
from esther_apache_spark_spark.plans.catalog import register
from esther_apache_spark_spark.schemas import load_table

# ---------------------------------------------------------------------------
# BM25 relevance scoring over the documents corpus.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "window", "hash")
_K1, _B = 1.2, 0.75


@register(
    "bm25_top_docs",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    dd AS (SELECT doc_id, len(toks) AS dl FROM d),
    sc AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dd),
    w AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w
           WHERE term IN ('spark','window','hash') GROUP BY 1, 2),
    dft AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.doc_id,
               SUM( ((sc.n - dft.dfreq + 0.5) / (dft.dfreq + 0.5))
                    * (tf.tf * ({_K1} + 1.0))
                    / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dd.dl / sc.avgdl)) ) AS s
        FROM tf JOIN dft USING (term) JOIN dd USING (doc_id) CROSS JOIN sc
        GROUP BY 1
    )
    SELECT doc_id, ROUND(s, 4) + 0.0 AS score
    FROM scored ORDER BY ROUND(s, 4) DESC, doc_id LIMIT 20
    """,
)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 (k1=1.2, b=0.75) for a fixed query term
    set — the IR scoring pass a corpus pipeline uses for relevance
    filtering / retrieval evaluation, one ring past ``tfidf_top_terms``.

    Plan shape at scale: tokenize+explode is generate-only (no
    shuffle); tf is one hash aggregate on (doc_id, term) AFTER the
    ``isin`` filter prunes the exploded stream to query terms only, so
    the shuffle carries |terms| rows per doc, not the corpus; dfreq is
    a |terms|-row aggregate that AQE broadcasts back; N/avgdl ride the
    pinned 1-row scalar join (same shape as ``tfidf_top_terms``); the
    final top-20 plans as TakeOrderedAndProject on the ROUNDED score
    with a doc_id tiebreak (total order — both engines cut the same
    set). idf is rational (module doctrine) — no ``ln`` in the hash."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    dd = docs.select("doc_id", F.size("toks").alias("dl"))
    sc = dd.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    tf = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    idf = (F.col("n") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5)
    contrib = idf * (F.col("tf") * (_K1 + 1.0)) / (
        F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(dft, "term")
        .join(dd, "doc_id")
        .crossJoin(F.broadcast(sc))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# Fuzzy vocabulary canonicalization (entity-resolution pattern).
# ---------------------------------------------------------------------------


@register(
    "fuzzy_canon_part_names",
    oracle="""
    WITH n AS (SELECT p_name, count(*) AS cnt FROM part GROUP BY p_name),
    p AS (SELECT p_name, cnt, string_split(p_name, ' ')[-1] AS blk FROM n)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
           a.cnt AS parts_a, b.cnt AS parts_b
    FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
    """,
)
def fuzzy_canon_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical name pairs in the part-name vocabulary
    (levenshtein <= 2), the blocking+pairwise-distance core of entity
    resolution / catalog canonicalization.

    The scale design is the DISTINCT-first contraction: the pairwise
    (quadratic) stage runs on the deduplicated VOCABULARY — one hash
    aggregate collapses the table to its distinct names (vocabulary
    size is sublinear in corpus size), and the edit-distance join runs
    on that. Blocking key = last token: an equi-join, so no
    NestedLoop/cartesian ever appears; like all ER blocking it bounds
    recall (a typo in the blocking token hides the pair — the standard
    multi-pass fix is a second pass blocked on the first token).
    Per-name part counts ride along from the same aggregate so the
    canonicalization's merge impact is visible."""
    n = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("blk", F.element_at(F.split("p_name", " "), -1))
    )
    a = n.select(
        F.col("p_name").alias("name_a"), F.col("cnt").alias("parts_a"), "blk"
    )
    b = n.select(
        F.col("p_name").alias("name_b"), F.col("cnt").alias("parts_b"), "blk"
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist.between(1, 2))
        .select("name_a", "name_b", dist.alias("dist"), "parts_a", "parts_b")
    )


# ---------------------------------------------------------------------------
# Per-group z-score anomaly detection.
# ---------------------------------------------------------------------------


@register(
    "zscore_anomaly_events",
    oracle="""
    WITH s AS (SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
               FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, ROUND((e.value - s.m) / s.sd, 4) + 0.0 AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs((e.value - s.m) / s.sd) >= 2.5
    """,
)
def zscore_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value sits >= 2.5 sample standard deviations from
    their event-type mean — the single-pass outlier flag of a data
    quality / monitoring pipeline.

    Two aggregates per group (mean, stddev) in ONE hash aggregate,
    then the |event_type|-row stats frame joins back onto the stream —
    bounded by the type vocabulary, so AQE broadcasts it and the fact
    table never shuffles. The filter evaluates on the UNROUNDED z
    (boundary rows would need |z| within ~1e-9 of 2.5 to diverge
    between engines — measure-zero for continuous values); the
    reported z rounds to 4."""
    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("m")) / F.col("sd")
    return (
        events.join(stats, "event_type")
        .filter(F.abs(z) >= 2.5)
        .select("event_id", "event_type", F.round(z, 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# Triangle counting on the brand co-purchase graph.
# ---------------------------------------------------------------------------


@register(
    "triangle_count_brands",
    oracle="""
    WITH ob AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
                FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    ec AS (SELECT a.b AS ba, b2.b AS bb, count(*) AS c
           FROM ob a JOIN ob b2 ON a.ok = b2.ok AND a.b < b2.b GROUP BY 1, 2),
    top AS (SELECT ba, bb FROM ec ORDER BY c DESC, ba, bb LIMIT 60),
    tri AS (SELECT e1.ba AS x, e1.bb AS y, e2.bb AS z
            FROM top e1 JOIN top e2 ON e2.ba = e1.bb
            JOIN top e3 ON e3.ba = e1.ba AND e3.bb = e2.bb)
    SELECT node AS brand, CAST(count(*) AS BIGINT) AS triangles
    FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY 1
    """,
)
def triangle_count_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand triangle participation in the top-60-strongest-edge
    co-purchase graph — the clustering/cohesion primitive next to
    ``pagerank_brands`` (same edge construction).

    Edges keep only the 60 strongest co-occurrence pairs under a TOTAL
    order (count desc, then both endpoints) so both engines cut the
    identical edge set; triangles enumerate once per a<b<c via two
    equi-joins on the oriented edge list (the standard wedge-closing
    join). At real graph scale the same shape survives: orient edges
    low-degree->high-degree first (the node-iterator bound) and the
    two joins shuffle on single node keys; the 60-row edge frame here
    broadcasts under AQE without hints."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
    )
    a = ob.select("ok", F.col("b").alias("ba"))
    b2 = ob.select("ok", F.col("b").alias("bb"))
    ec = (
        a.join(b2, "ok")
        .filter(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = ec.orderBy(F.desc("c"), "ba", "bb").limit(60).select("ba", "bb")
    e1 = top.select(F.col("ba").alias("x"), F.col("bb").alias("y"))
    e2 = top.select(F.col("ba").alias("y"), F.col("bb").alias("z"))
    e3 = top.select(F.col("ba").alias("x"), F.col("bb").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization (the ANN scale path's storage format).
# ---------------------------------------------------------------------------


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    mm AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m FROM v)
    SELECT vec_id,
           CASE WHEN m = 0 THEN 0.0 ELSE m / 127.0 END AS scale,
           md5(to_json(CASE WHEN m = 0
                THEN list_transform(e, x -> CAST(0 AS BIGINT))
                ELSE list_transform(e, x -> CAST(floor(x * 127.0 / m + 0.5) AS BIGINT))
                END)::VARCHAR) AS qsig,
           ROUND(CASE WHEN m = 0 THEN 0.0 ELSE
                list_sum(list_transform(e,
                    x -> abs(x - floor(x * 127.0 / m + 0.5) * (m / 127.0)))) / len(e)
                END, 6) + 0.0 AS err
    FROM mm
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column:
    scale = maxabs/127, q = floor(x*127/maxabs + 0.5), plus the mean
    absolute reconstruction error — the compression step that makes
    100-TB ANN shuffles 8x narrower (int8 payloads) while the GEMM
    rerank dequantizes exactly via q*scale.

    Pure higher-order expressions (``transform``/``aggregate``), zero
    shuffle, whole-stage codegen end to end. The full quantized array
    is hash-pinned cross-engine through md5(to_json(q)) — both engines
    render int arrays as ``[1,2,-127]`` — so the oracle checks every
    element, not a summary. ``floor(x+0.5)`` not ``round()`` per the
    module's determinism doctrine; all-zero vectors quantize to zeros
    with scale 0 and error 0."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    m = F.col("m")
    return (
        emb.withColumn("m", V.maxabs(F.col("e")))
        .select(
            "vec_id",
            F.when(m == 0, F.lit(0.0)).otherwise(m / 127.0).alias("scale"),
            F.md5(F.to_json(V.quantize_int8(F.col("e"), m))).alias("qsig"),
            F.round(V.quantize_error(F.col("e"), m), 6).alias("err"),
        )
    )


# ---------------------------------------------------------------------------
# ANN over int8-quantized vectors (exact-integer scores: SQL-replayable).
# ---------------------------------------------------------------------------


@register(
    "similarity_topk_int8",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    mm AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m FROM v),
    q8 AS (SELECT vec_id,
                  CASE WHEN m = 0 THEN list_transform(e, x -> 0.0)
                       ELSE list_transform(e, x -> floor((x * 127.0) / m + 0.5))
                  END AS q
           FROM mm),
    n8 AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nrm FROM q8),
    qs AS (SELECT * FROM n8 WHERE vec_id < 5 AND nrm > 0),
    cs AS (SELECT * FROM n8 WHERE nrm > 0)
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT qs.vec_id AS query_id, cs.vec_id AS neighbor_id,
               ROUND(list_dot_product(cs.q, qs.q) / (cs.nrm * qs.nrm), 6) + 0.0
                   AS cosine,
               row_number() OVER (
                   PARTITION BY qs.vec_id
                   ORDER BY ROUND(list_dot_product(cs.q, qs.q)
                                  / (cs.nrm * qs.nrm), 6) DESC, cs.vec_id ASC
               ) AS rn
        FROM cs, qs
    ) WHERE rn <= 10
    """,
)
def similarity_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors on int8-QUANTIZED vectors (``ann_topk_int8``) —
    the compressed-storage ANN path. The per-vector scales cancel out
    of the cosine, and every dot product is an exact integer < 2^53, so
    the scores are bit-identical between numpy's float64 GEMM and
    DuckDB's list_dot_product regardless of summation order — a FULLY
    hash-checked approximate index, where the float GEMM variants
    (``similarity_topk_pandas``/``_arrow``) need the brute-force oracle.
    Same query set (vec_id < 5) as the whole similarity family."""
    from esther_apache_spark_spark.operators.similarity import ann_topk_int8

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_topk_int8(emb, queries, k=10)


@register(
    "similarity_topk_pq",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    mm AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m FROM v),
    q8 AS (SELECT vec_id,
                  CASE WHEN m = 0 THEN list_transform(e, x -> 0.0)
                       ELSE list_transform(e, x -> floor((x * 127.0) / m + 0.5))
                  END AS q
           FROM mm),
    n8 AS (SELECT vec_id, q, list_dot_product(q, q) AS n2 FROM q8),
    valid AS (SELECT vec_id, q, n2 FROM n8 WHERE n2 > 0),
    cb AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid, q
        FROM (SELECT vec_id, q FROM valid ORDER BY vec_id LIMIT 16)
    ),
    sp AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS s),
    cbs AS (SELECT cid, s, list_slice(cb.q, s * 8 + 1, s * 8 + 8) AS c
            FROM cb CROSS JOIN sp),
    cbn AS (SELECT cid, s, list_dot_product(c, c) AS cn2 FROM cbs),
    encd AS (
        SELECT x.vec_id, cbs.s, cbs.cid,
               cbn.cn2 - 2 * list_dot_product(
                   list_slice(x.q, cbs.s * 8 + 1, cbs.s * 8 + 8), cbs.c) AS d
        FROM valid x CROSS JOIN cbs
        JOIN cbn ON cbn.cid = cbs.cid AND cbn.s = cbs.s
    ),
    enc AS (SELECT vec_id, s, cid AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
        FROM encd
    ) WHERE rn = 1),
    rn2 AS (SELECT e.vec_id, SUM(cbn.cn2) AS r2
            FROM enc e JOIN cbn ON cbn.s = e.s AND cbn.cid = e.code
            GROUP BY e.vec_id),
    qs AS (SELECT vec_id, q, n2 FROM valid WHERE vec_id < 5),
    adc AS (
        SELECT qs.vec_id AS query_id, e.vec_id AS neighbor_id,
               SUM(list_dot_product(
                   list_slice(qs.q, e.s * 8 + 1, e.s * 8 + 8), cbs.c)) AS dot
        FROM qs CROSS JOIN enc e
        JOIN cbs ON cbs.s = e.s AND cbs.cid = e.code
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT a.query_id, a.neighbor_id,
               ROUND(a.dot / sqrt(r.r2 * qs.n2), 6) + 0.0 AS cosine,
               row_number() OVER (
                   PARTITION BY a.query_id
                   ORDER BY ROUND(a.dot / sqrt(r.r2 * qs.n2), 6) DESC,
                            a.neighbor_id ASC
               ) AS rn
        FROM adc a
        JOIN rn2 r ON r.vec_id = a.neighbor_id
        JOIN qs ON qs.vec_id = a.query_id
        WHERE r.r2 > 0
    ) WHERE rn <= 10
    """,
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by PRODUCT-QUANTIZED approximate cosine
    (``similarity.pq_topk``): 8 subspaces × 16 centroids → each vector
    is 8 four-bit codes (64× smaller than float32), scored by ADC
    table lookups against the degenerate deterministic codebook (the
    int8 subvectors of the 16 lowest-id vectors). Every code,
    distance, ADC dot, and norm is exact integer arithmetic, so —
    uniquely among PQ implementations — the WHOLE index replays in SQL
    and hash-matches: the oracle re-derives the codebook, re-encodes
    the corpus (same (distance, cid) argmin tiebreak), rebuilds the
    ADC tables, and ranks by the same rounded score. Recall vs float
    brute force is property-tested in tests/test_scale_guards.py; a
    trained per-subspace k-means codebook is the drop-in upgrade
    (rows-only, like `similarity_topk_ivf_kmeans`)."""
    from esther_apache_spark_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(emb, queries, k=10)


@register("similarity_topk_pq_kmeans", oracle=None)
def similarity_topk_pq_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`similarity_topk_pq` with a TRAINED per-subspace k-means
    codebook — now the DISTRIBUTED full-corpus trainer
    (`similarity.pq_codebook_lloyd`): all m_sub subspaces Lloyd-iterate
    in one frame of exact-integer int8 codes, every member votes, and
    only the m_sub×ksub×d_sub codebook reaches the driver. The scan is
    the same GEMM panel scan as `similarity_topk_pq`; only the codebook
    differs. Real-valued centroids break the exact-integer SQL replay,
    so this is rows-only, mirroring the `similarity_topk_ivf` /
    `similarity_topk_ivf_kmeans` pairing; partition-determinism
    survives because every shuffled aggregate is an exact BIGINT.
    Honest caveat, measured and pinned in tests/test_scale_guards.py:
    on this synthetic near-UNIFORM embedding corpus k-means has no
    cluster structure to exploit, and which codebook recalls better
    flips with the scale factor (trained 0.38 vs degenerate 0.44 at
    sf0.001, 0.44 vs 0.36 at sf0.01) — training pays off on real
    clustered embeddings, which is why both codebooks stay one
    argument apart."""
    from esther_apache_spark_spark.operators.similarity import (
        pq_codebook_lloyd,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = pq_codebook_lloyd(emb)
    return pq_topk(emb, queries, k=10, codebook=cb)


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier).
# ---------------------------------------------------------------------------


@register(
    "skyline_price_size",
    oracle="""
    SELECT p_partkey, p_retailprice, p_size FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts (no part is both cheaper and larger) via
    ``operators.skyline.skyline_2d`` — local skyline per Arrow batch,
    then one merge pass over the tiny candidate union; zero shuffle of
    the base table. The oracle states the quadratic NOT EXISTS
    dominance definition directly (fine at oracle scale; the operator
    exists precisely because that shape cannot run at 100 TB)."""
    from esther_apache_spark_spark.operators.skyline import skyline_2d

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return skyline_2d(part, "p_retailprice", "p_size")


# ---------------------------------------------------------------------------
# PySpark-4 Python-execution surface: arrow UDTF, grouped-agg UDAF, Variant.
# ---------------------------------------------------------------------------


@register(
    "chunk_documents_udtf",
    oracle="""
    SELECT doc_id,
           CAST(off / 150 AS BIGINT) AS chunk_idx,
           substr(text, CAST(off + 1 AS BIGINT), 200) AS chunk_text,
           CAST(length(substr(text, CAST(off + 1 AS BIGINT), 200)) AS BIGINT)
               AS chunk_len
    FROM (SELECT doc_id, text,
                 unnest(range(0, CAST(n_chars AS BIGINT), 150)) AS off
          FROM documents)
    """,
)
def chunk_documents_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python-UDTF twin of ``chunk_documents_overlapping`` — identical
    output, identical oracle (the pandas/arrow-twin pattern the
    similarity family uses). The expression form is the production
    path (zero Python); this entry completes the Python-execution
    matrix with an ARROW-optimized user-defined TABLE function
    (``ArrowEvalPythonUDTF`` in the plan — a lateral generator, the
    escape hatch for per-row expansions no builtin generator
    expresses). Text is ASCII in this corpus, so Python slicing and
    SQL ``substr`` agree on character offsets."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="doc_id bigint, chunk_idx bigint, chunk_text string,"
        " chunk_len bigint",
        useArrow=True,
    )
    class ChunkDoc:
        def eval(self, doc_id, text, n_chars):  # noqa: ANN001
            for i, off in enumerate(range(0, int(n_chars), 150)):
                piece = text[off : off + 200]
                yield doc_id, i, piece, len(piece)

    spark.udtf.register("chunk_doc", ChunkDoc)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udtf")
    return spark.sql(
        "SELECT c.* FROM _docs_udtf d,"
        " LATERAL chunk_doc(d.doc_id, d.text, d.n_chars) c"
    )


@register(
    "weighted_avg_price_udaf",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 2) + 0.0
               AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def weighted_avg_price_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean price per return flag via a GROUPED-AGG
    pandas UDF — the user-defined AGGREGATE slot of the Python matrix
    (``ArrowAggregatePython`` in the plan: Arrow batches per group, one
    vectorized reduction, no per-row Python). The reference has no UDAF
    surface (SURVEY.md §2.10); this is the engine's sanctioned shape
    for aggregations built-ins can't express. Here the math IS
    expressible natively (sum(v*w)/sum(w) — what the oracle runs), so
    the entry doubles as an equivalence check of the UDAF path."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wmean(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wmean("l_extendedprice", "l_quantity"), 2).alias("wavg_price")
    )


@register(
    "variant_props_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(json_extract(props, '$.k')) AS BIGINT) AS n_k,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS INTEGER)), 4) + 0.0
               AS avg_k
    FROM events GROUP BY event_type
    """,
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured stats through the VARIANT type (PySpark 4):
    ``parse_json`` once into a binary-encoded variant, then typed
    ``try_variant_get`` paths — the modern shredded-JSON scan pattern
    that replaces per-query string re-parsing (``json_parse_props`` is
    this catalog's map-functions twin). At 100 TB variant columns
    parse at ingest and store shredded; queries pay typed-path access
    only."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.parse_json("props")
    )
    k = F.try_variant_get("v", "$.k", "int")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


# ---------------------------------------------------------------------------
# Robust statistics: winsorization, median/MAD z-score, trend slope.
# ---------------------------------------------------------------------------


@register(
    "winsorize_event_values",
    oracle="""
    WITH s AS (SELECT event_type,
                      quantile_cont(value, 0.01) AS p01,
                      quantile_cont(value, 0.99) AS p99
               FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 4) + 0.0 AS value_raw,
           ROUND(CASE WHEN e.value < s.p01 THEN s.p01
                      WHEN e.value > s.p99 THEN s.p99 END, 4) + 0.0 AS value_w
    FROM events e JOIN s USING (event_type)
    WHERE e.value < s.p01 OR e.value > s.p99
    """,
)
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail clipping at the per-group exact p01/p99 (winsorization) —
    the outlier-capping step of a feature pipeline; emits only the
    clipped rows with before/after values. ``F.percentile`` matches
    DuckDB's ``quantile_cont`` interpolation bit-for-bit on the same
    doubles (the ``quantiles_by_segment`` precedent); the two-quantile
    stats frame is bounded by the type vocabulary and joins back
    without shuffling the facts. At 100 TB swap ``percentile_approx``
    into the stats pass — the clip expression is unchanged."""
    events = load_table(spark, sf_dir, "events")
    s = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("p01"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )
    v, p01, p99 = F.col("value"), F.col("p01"), F.col("p99")
    return (
        events.join(s, "event_type")
        .filter((v < p01) | (v > p99))
        .select(
            "event_id",
            "event_type",
            F.round(v, 4).alias("value_raw"),
            F.round(F.when(v < p01, p01).when(v > p99, p99), 4).alias("value_w"),
        )
    )


@register(
    "robust_zscore_events",
    oracle="""
    WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
                 FROM events GROUP BY event_type),
    mad AS (SELECT e.event_type, quantile_cont(abs(e.value - med.m), 0.5) AS mad
            FROM events e JOIN med USING (event_type) GROUP BY e.event_type)
    SELECT e.event_id, e.event_type,
           ROUND(0.6745 * (e.value - med.m) / mad.mad, 4) + 0.0 AS rz
    FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
    WHERE abs(0.6745 * (e.value - med.m) / mad.mad) >= 3.0
    """,
)
def robust_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust z-score (the 0.6745 consistency constant maps
    MAD to sigma under normality): immune to the outliers that inflate
    ``zscore_anomaly_events``' stddev and mask real anomalies. Two
    exact-percentile passes — median per group, then median absolute
    deviation — each a bounded stats frame joined back; the facts
    never shuffle. Flag threshold 3.5 is the literature default; 3.0
    here keeps the result set non-trivial at oracle scale."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    with_m = events.join(med, "event_type")
    mad = with_m.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias("mad")
    )
    rz = 0.6745 * (F.col("value") - F.col("m")) / F.col("mad")
    return (
        with_m.join(mad, "event_type")
        .filter(F.abs(rz) >= 3.0)
        .select("event_id", "event_type", F.round(rz, 4).alias("rz"))
    )


@register(
    "value_trend_per_type",
    oracle="""
    WITH x AS (SELECT event_type, value,
                      CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT) AS d
               FROM events),
    s AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(d) AS BIGINT) AS sx,
                 CAST(SUM(d * d) AS BIGINT) AS sxx,
                 SUM(value) AS sy,
                 SUM(d * value) AS sxy
          FROM x GROUP BY event_type)
    SELECT event_type,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS slope
    FROM s
    """,
)
def value_trend_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend (slope of value vs day index) from
    the five classical sums — the single-pass closed form, one hash
    aggregate, no window. The day index keeps x small so sx/sxx are
    EXACT integers in both engines (summing epoch seconds squared
    would exceed 2^53 and make the sums order-dependent — the classic
    naive-regression instability); only sy/sxy are floating and the
    slope rounds to 6."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("sx"),
        F.sum(F.col("d") * F.col("d")).alias("sxx"),
        F.sum("value").alias("sy"),
        F.sum(F.col("d") * F.col("value")).alias("sxy"),
    )
    n, sx, sxx, sy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "sxy"))
    return s.select(
        "event_type",
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("slope"),
    )


@register(
    "fuzzy_canon_multipass",
    oracle="""
    WITH n AS (SELECT DISTINCT p_name FROM part),
    p AS (SELECT p_name,
                 string_split(p_name, ' ')[-1] AS b1,
                 string_split(p_name, ' ')[1] AS b2
          FROM n),
    k AS (SELECT p_name, b1 AS blk FROM p UNION SELECT p_name, b2 FROM p)
    SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM k a JOIN k b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    """,
)
def fuzzy_canon_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass ER blocking — the recall fix ``fuzzy_canon_part_names``
    documents: candidate pairs are the UNION of a last-token pass and a
    first-token pass (each still an equi-join on its key), deduplicated
    after the distance filter. On this vocabulary the second pass adds
    16 pairs at lev<=3 the first cannot see (same adjective, different
    noun). The standard production ladder is exactly this: add cheap
    orthogonal blocking keys until held-out pair recall plateaus; cost
    stays sum-of-equi-joins over the distinct vocabulary, never
    all-pairs."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    p = names.select(
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("b1"),
        F.element_at(F.split("p_name", " "), 1).alias("b2"),
    )
    k = (
        p.select("p_name", F.col("b1").alias("blk"))
        .union(p.select("p_name", F.col("b2").alias("blk")))
        .distinct()
    )
    a = k.select(F.col("p_name").alias("name_a"), "blk")
    b = k.select(F.col("p_name").alias("name_b"), "blk")
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist.between(1, 3))
        .select("name_a", "name_b", dist.alias("dist"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Experiment analysis: deterministic A/B assignment + two-proportion z.
# ---------------------------------------------------------------------------


@register(
    "ab_test_purchase_lift",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(CONCAT('0x', substr(md5('ab1' || CAST(user_id AS VARCHAR)),
                                        1, 8)) AS BIGINT) % 2 AS variant,
               MAX(CASE WHEN event_type = 'purchase' AND value >= 90.0
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    s AS (SELECT variant,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(converted) AS BIGINT) AS conv
          FROM u GROUP BY variant),
    w AS (SELECT
            MAX(CASE WHEN variant = 0 THEN n END) AS na,
            MAX(CASE WHEN variant = 1 THEN n END) AS nb,
            MAX(CASE WHEN variant = 0 THEN conv END) AS ca,
            MAX(CASE WHEN variant = 1 THEN conv END) AS cb
          FROM s)
    SELECT na, nb, ca, cb,
           ROUND(CAST(ca AS DOUBLE) / na, 6) + 0.0 AS rate_a,
           ROUND(CAST(cb AS DOUBLE) / nb, 6) + 0.0 AS rate_b,
           CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN
           ROUND((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                 / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                        * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                        * (1.0 / na + 1.0 / nb)), 4) + 0.0 END AS z
    FROM w
    """,
)
def ab_test_purchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: users split 50/50 into variants by the
    engine's deterministic md5 hash gate (``operators/sampling.py`` —
    assignment is reproducible across runs, engines, and partitionings,
    the property A/B bucketing cannot live without), purchase
    conversion per variant, and the pooled two-proportion z statistic.
    One aggregate over users, then a 2-row pivot to a single readout
    row — the facts shuffle once, on user_id. All inputs to z are exact
    integers, so the statistic is one deterministic float expression in
    both engines; degenerate pools (all or none converted) yield NULL z
    under the same guard in both."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 90.0),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .withColumn("variant", hash_bucket(F.col("user_id"), "ab1") % 2)
    )
    s = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    w = s.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("cb"),
    )
    na, nb, ca, cb = (F.col(c).cast("double") for c in ("na", "nb", "ca", "cb"))
    pooled = (ca + cb) / (F.col("na") + F.col("nb"))
    z = (ca / F.col("na") - cb / F.col("nb")) / F.sqrt(
        pooled * (1.0 - pooled) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    total_conv = F.col("ca") + F.col("cb")
    total_n = F.col("na") + F.col("nb")
    return w.select(
        "na", "nb", "ca", "cb",
        F.round(ca / F.col("na"), 6).alias("rate_a"),
        F.round(cb / F.col("nb"), 6).alias("rate_b"),
        F.when(
            (total_conv > 0) & (total_conv < total_n), F.round(z, 4)
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Time-series smoothing: per-key EWMA over a trailing frame.
# ---------------------------------------------------------------------------


@register(
    "ewma_user_value",
    oracle="""
    WITH f AS (
        SELECT user_id, ts, event_id,
               list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
               ) AS vals,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id,
           ROUND(list_reduce(CAST(vals AS DOUBLE[]),
                             (acc, x) -> 0.2 * x + 0.8 * acc), 6) + 0.0 AS ewma
    FROM f WHERE rn = 1
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest exponentially-weighted moving average (alpha=0.2) of each
    user's value over their trailing 20 events — the telemetry
    smoothing a monitoring pipeline keeps per key. The EWMA recursion
    is a LEFT FOLD over the ordered frame (init = oldest element,
    acc = 0.2*x + 0.8*acc), evaluated as the identical IEEE sequence
    in Spark's ``aggregate`` and DuckDB's ``list_reduce`` — frame
    order is pinned by the (ts, event_id) total order, so the result
    is bit-identical with no transcendental weights (``pow`` ulp
    differences never enter; the fold IS the weighting). One shuffle
    on user_id for the window; the frame is row-bounded so state per
    row is 20 doubles regardless of history length."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    latest = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    fold = F.aggregate(
        F.slice(F.col("vals"), 2, 20),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: 0.2 * x + 0.8 * acc,
    )
    return (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.collect_list("value").over(w).alias("vals"),
            F.row_number().over(latest).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.round(fold, 6).alias("ewma"))
    )


@register(
    "weighted_avg_price_arrow_grouped",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 2) + 0.0
               AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def weighted_avg_price_arrow_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ``applyInArrow`` twin of ``weighted_avg_price_udaf`` —
    same math, same oracle, zero-copy Arrow tables per group instead of
    pandas frames (the last cell of the Python-execution matrix:
    pandas_udf, grouped-agg UDAF, mapInPandas, mapInArrow,
    applyInPandas(+WithState), cogrouped applyInPandas, arrow UDTF, and
    now grouped applyInArrow). Grouped-map receives the WHOLE group per
    call, so it is the shape for per-group logic that needs every row
    at once; for reductions like this one the grouped-AGG form is
    preferred (no group materialization) — the pairing documents the
    trade."""
    import math

    import pyarrow as pa

    def wavg(table: pa.Table) -> pa.Table:
        flag = table.column("l_returnflag")[0].as_py()
        v = table.column("l_extendedprice").to_numpy()
        w = table.column("l_quantity").to_numpy()
        # floor(x·100 + 0.5)/100, NOT Python round(): round() is
        # banker's (half-to-even) while the oracle's ROUND and the UDAF
        # twin's F.round are HALF_UP — a mean landing exactly on a half
        # cent would diverge (module doctrine: never round())
        val = math.floor(float((v * w).sum() / w.sum()) * 100 + 0.5) / 100
        return pa.table(
            {
                "l_returnflag": pa.array([flag], pa.string()),
                "wavg_price": pa.array([val], pa.float64()),
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return li.groupBy("l_returnflag").applyInArrow(
        wavg, "l_returnflag string, wavg_price double"
    )


# ---------------------------------------------------------------------------
# Data-quality expectations report (single-pass gate).
# ---------------------------------------------------------------------------


@register(
    "dq_report_lineitem",
    oracle="""
    WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orderkey_not_null,
               CAST(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_in_range,
               CAST(SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS discount_in_range,
               CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS returnflag_accepted,
               CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS price_positive,
               CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS line_key_unique
        FROM lineitem
    )
    SELECT rule, violations, total, violations = 0 AS passed FROM (
        SELECT total, 'orderkey_not_null' AS rule, orderkey_not_null AS violations FROM s
        UNION ALL SELECT total, 'qty_in_range', qty_in_range FROM s
        UNION ALL SELECT total, 'discount_in_range', discount_in_range FROM s
        UNION ALL SELECT total, 'returnflag_accepted', returnflag_accepted FROM s
        UNION ALL SELECT total, 'price_positive', price_positive FROM s
        UNION ALL SELECT total, 'line_key_unique', line_key_unique FROM s
    )
    """,
)
def dq_report_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate over lineitem: six declarative expectations
    (null check, two range checks, accepted vocabulary, positivity,
    composite-key uniqueness) evaluated by
    ``operators.expectations.check`` as ONE aggregate over ONE scan —
    pass count, not rule count, is the scale cost. The synthetic data
    deliberately fails the uniqueness rule (duplicate (orderkey,
    linenumber) pairs exist), so the report exercises both outcomes."""
    from esther_apache_spark_spark.operators import expectations as E

    li = load_table(spark, sf_dir, "lineitem")
    return E.check(
        li,
        [
            E.not_null("orderkey_not_null", "l_orderkey"),
            E.between("qty_in_range", "l_quantity", 1, 50),
            E.between("discount_in_range", "l_discount", 0.0, 0.1),
            E.accepted("returnflag_accepted", "l_returnflag", ("A", "N", "R")),
            E.positive("price_positive", "l_extendedprice"),
        ],
        unique_keys={"line_key_unique": ["l_orderkey", "l_linenumber"]},
    )


# ---------------------------------------------------------------------------
# Embedding-space decontamination (third modality: exact / n-gram / vector).
# ---------------------------------------------------------------------------


def _edecon_oracle() -> str:
    from esther_apache_spark_spark.plans.extensions import _SRP_TABLES

    return """
    WITH v AS (SELECT vec_id AS _id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS ({tables}),
    cand AS (
        SELECT DISTINCT a._id AS id_a, b2._id AS id_b
        FROM b a JOIN b b2
          ON a._table = b2._table AND a._bucket = b2._bucket AND a._id < b2._id
    ),
    pairs AS (
        SELECT id_a, id_b FROM (
            SELECT id_a, id_b,
                   ROUND(list_cosine_similarity(va.e, vb.e), 4) AS c
            FROM cand JOIN v va ON va._id = cand.id_a
                      JOIN v vb ON vb._id = cand.id_b
        ) WHERE c >= 0.4
    ),
    g AS (SELECT _id,
                 CAST(CONCAT('0x', substr(md5('edecon' || CAST(_id AS VARCHAR)),
                                          1, 8)) AS BIGINT)
                     < CAST(0.1 * 4294967296 AS BIGINT) AS is_eval
          FROM v),
    flagged AS (
        SELECT p.id_b AS vid FROM pairs p
        JOIN g ga ON ga._id = p.id_a JOIN g gb ON gb._id = p.id_b
        WHERE ga.is_eval AND NOT gb.is_eval
        UNION
        SELECT p.id_a FROM pairs p
        JOIN g ga ON ga._id = p.id_a JOIN g gb ON gb._id = p.id_b
        WHERE gb.is_eval AND NOT ga.is_eval
    )
    SELECT _id AS vec_id FROM g
    WHERE NOT is_eval AND _id NOT IN (SELECT vid FROM flagged)
    """.replace("{tables}", _SRP_TABLES)


@register("decontaminate_embedding_train_docs", oracle=_edecon_oracle())
def decontaminate_embedding_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-set decontamination — the third modality
    beside exact-fingerprint (``decontaminate_train_docs``) and 5-gram
    overlap (``decontaminate_ngram_train_docs``): a train vector is
    contaminated if it is an SRP-LSH near-dup (cosine >= 0.4) of ANY
    eval vector, catching paraphrases the lexical modalities miss.
    Composition of existing engine pieces — the deterministic md5 hash
    gate splits eval/train, ``embedding_cosine_dups`` supplies the
    near-dup pairs (capped, multi-table, first-meet), and two
    semi/anti joins flag and drop contaminated train ids. Fully
    SQL-replayed: seeded planes embedded as literals, same gate
    arithmetic, same rounded-cosine threshold."""
    from esther_apache_spark_spark.operators import dedup as D
    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from esther_apache_spark_spark.schemas import EMBEDDING_DIM

    emb = load_table(spark, sf_dir, "embeddings")
    gate = hash_bucket(F.col("vec_id"), "edecon") < int(0.1 * 4294967296)
    ids = emb.select("vec_id", gate.alias("is_eval"))
    ev = ids.filter("is_eval").select("vec_id")
    tr = ids.filter(~F.col("is_eval")).select("vec_id")
    pairs = D.embedding_cosine_dups(
        emb, threshold=0.4, n_planes=4, n_tables=12, dim=EMBEDDING_DIM
    )
    flagged = (
        pairs.join(ev, pairs.id_a == ev.vec_id, "left_semi")
        .select(F.col("id_b").alias("vec_id"))
        .union(
            pairs.join(ev, pairs.id_b == ev.vec_id, "left_semi").select(
                F.col("id_a").alias("vec_id")
            )
        )
    )
    return tr.join(flagged, "vec_id", "left_anti")


@register(
    "audience_overlap_matrix",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS users_both
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience intersections: for every pair of event types,
    how many users did both — the overlap matrix behind segment
    planning and dedup of audience reach. Distinct-first contraction
    again: one hash aggregate collapses events to (user, type) pairs
    (bounded by users x type-vocabulary), and the self-join runs on
    that, co-partitioned on user_id — at 100 TB the join input is the
    user-type incidence, never the raw event stream. The a < b
    orientation emits each unordered pair once."""
    ut = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("users_both"))
    )


@register(
    "assign_doc_uids",
    oracle="""
    SELECT doc_id, lang,
           CAST(row_number() OVER (ORDER BY lang, doc_id) - 1 AS BIGINT) AS uid
    FROM documents
    """,
)
def assign_doc_uids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0..N-1 ids for the corpus under the (lang, doc_id) total
    order via ``operators.ids.assign_contiguous_ids`` — shard
    addressing / embedding-matrix row assignment without the
    single-partition window the naive global ``row_number`` plans.
    Two passes over a range-partitioned sort: per-partition counts,
    driver prefix-sum, zero-shuffle mapInPandas tag. The oracle states
    the naive form (fine at oracle scale; the operator exists because
    that shape cannot run at 100 TB)."""
    from esther_apache_spark_spark.operators.ids import assign_contiguous_ids

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return assign_contiguous_ids(
        docs, [F.col("lang"), F.col("doc_id")], id_col="uid", num_partitions=8
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle — training-data export order.
# ---------------------------------------------------------------------------
@register(
    "shuffled_export_order",
    oracle="""
    SELECT doc_id, lang,
           CAST(row_number() OVER (
               ORDER BY CAST(CONCAT('0x',
                   substr(md5('epoch0' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT),
                    doc_id) - 1 AS BIGINT) AS position
    FROM documents
    """,
)
def shuffled_export_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data export: each doc
    gets a dense 0..N-1 position under the pseudo-random order
    (md5 hash-bucket of doc_id salted by epoch, doc_id tiebreak) via
    ``operators.sampling.shuffle_positions``. Same salt → identical
    order on any cluster or partitioning (what makes a training run
    reproducible and this query oracle-able); a new salt per epoch
    reshuffles. Positions come from the two-pass contiguous-id
    assigner, not a single-partition row_number window — the oracle
    states the naive form, which is exactly the shape that cannot run
    at 100 TB."""
    from esther_apache_spark_spark.operators.sampling import shuffle_positions

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return shuffle_positions(docs, "doc_id", salt="epoch0", id_col="position")


# ---------------------------------------------------------------------------
# Mergeable sketches (operators/sketches.py) — rows-only by design:
# DuckDB has no DataSketches twin. HLL/theta constructions are order-
# insensitive, so these still pass the partition-determinism audit.
# ---------------------------------------------------------------------------
@register("distinct_users_hll_rollup", oracle=None)
def distinct_users_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch pattern end-to-end: per-(event_type, day)
    HLL sketches of user_id (the pre-aggregate a 100 TB pipeline
    persists), then a rollup to per-type whole-period distinct purely
    by sketch union — the daily raw data is never re-read. Estimates
    are deterministic (register-max construction is order-insensitive);
    accuracy vs exact is property-tested in tests/test_sketches.py."""
    from esther_apache_spark_spark.operators.sketches import (
        hll_bucket_sketches,
        hll_rollup,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = hll_bucket_sketches(events, "user_id", ["event_type", "day"])
    return (
        hll_rollup(daily, ["event_type"])
        .select("event_type", F.col("distinct_est").cast("long").alias("distinct_users_est"))
    )


@register("audience_overlap_theta", oracle=None)
def audience_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user overlap between every pair of event types via
    theta sketch set algebra — |A|, |B|, |A∩B|, |A∪B| and Jaccard from
    per-segment sketches, with the pair join running over #segments
    rows instead of the exact (user, type) incidence self-join
    (`audience_overlap_matrix`, which this approximates and which
    serves as its accuracy reference in tests/test_sketches.py)."""
    from esther_apache_spark_spark.operators.sketches import theta_segment_overlap

    events = load_table(spark, sf_dir, "events")
    t = theta_segment_overlap(events, "user_id", "event_type")
    return t.select(
        "seg_a",
        "seg_b",
        F.col("distinct_a").cast("long").alias("distinct_a"),
        F.col("distinct_b").cast("long").alias("distinct_b"),
        F.col("overlap_est").cast("long").alias("overlap_est"),
        F.col("union_est").cast("long").alias("union_est"),
        "jaccard_est",
    )


@register(
    "distinct_users_bitmap_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_exact
    FROM events GROUP BY event_type
    """,
)
def distinct_users_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type computed the mergeable way:
    per-(type, day) positional bitmaps (operators/sketches.
    bitmap_bucket_sketches), OR-merged up to type — the raw events are
    read once to build the daily bitmaps and never re-read for the
    rollup. Unlike the HLL twin (`distinct_users_hll_rollup`) this is
    exact, so it carries a full COUNT(DISTINCT) value-hash oracle; the
    price is state proportional to the key space instead of HLL's fixed
    4 KB. Two bitmap shuffles of 4 KB pages, never a shuffle of raw
    user ids."""
    from esther_apache_spark_spark.operators.sketches import (
        bitmap_bucket_sketches,
        bitmap_rollup,
    )

    events = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = bitmap_bucket_sketches(events, "user_id", ["event_type", "day"])
    return bitmap_rollup(daily, ["event_type"])


@register(
    "user_event_freq_cms",
    oracle="""
    WITH j AS (SELECT unnest([0, 1, 2, 3]) AS j),
    pages AS (
        SELECT j, slot, COUNT(*) AS cnt FROM (
            SELECT j.j AS j,
                   CAST(CONCAT('0x', substr(md5('cms' || CAST(j.j AS VARCHAR)
                        || ':' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 2048 AS slot
            FROM events CROSS JOIN j
        ) GROUP BY 1, 2
    ),
    cand AS (SELECT DISTINCT user_id FROM events),
    probe AS (
        SELECT user_id, j.j AS j,
               CAST(CONCAT('0x', substr(md5('cms' || CAST(j.j AS VARCHAR)
                    || ':' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 2048 AS slot
        FROM cand CROSS JOIN j
    )
    SELECT p.user_id, CAST(MIN(COALESCE(g.cnt, 0)) AS BIGINT) AS cms_count
    FROM probe p LEFT JOIN pages g USING (j, slot)
    GROUP BY 1
    """,
)
def user_event_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event frequencies answered from a count-min sketch —
    the mergeable frequency-estimation pattern: per-(day) counter pages
    (what a 100 TB pipeline persists beside its HLL/bitmap state),
    integer-SUM-merged to one global sketch, then point-queried for
    every candidate user. Estimates are ≥ the true count always and
    within ⌈e·N/width⌉ w.h.p. (bounds pinned in tests/test_sketches.py,
    where the daily-merge = direct-build identity is also pinned).

    Unlike the HLL/KLL entries this one is FULLY deterministic (md5
    hash rows, integer counts), so it carries a complete value-hash
    oracle — DuckDB replays the identical sketch bit-for-bit. Plan
    shape: pages are a partial-aggregable shuffle of (day, row, slot)
    triples bounded at depth·width rows per day; the probe joins a
    ≤ depth·width-row relation (AQE broadcasts it) and min-reduces over
    depth=4 rows per key; raw event rows never shuffle."""
    from esther_apache_spark_spark.operators.sketches import (
        cms_bucket_pages,
        cms_estimate,
        cms_rollup,
    )

    events = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = cms_bucket_pages(events, "user_id", ["day"])
    merged = cms_rollup(daily)
    cand = events.select("user_id").distinct()
    return cms_estimate(merged, cand, "user_id")


@register(
    "column_stats_lineitem",
    oracle="""
    SELECT 'l_orderkey' AS col_name,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_v,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_v,
           CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS null_count,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv
    FROM lineitem
    UNION ALL
    SELECT 'l_partkey', CAST(MIN(l_partkey) AS VARCHAR),
           CAST(MAX(l_partkey) AS VARCHAR),
           CAST(COUNT(*) - COUNT(l_partkey) AS BIGINT),
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', MIN(l_returnflag), MAX(l_returnflag),
           CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_linestatus', MIN(l_linestatus), MAX(l_linestatus),
           CAST(COUNT(*) - COUNT(l_linestatus) AS BIGINT),
           CAST(COUNT(DISTINCT l_linestatus) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S'),
           strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S'),
           CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
           CAST(COUNT(DISTINCT l_shipdate) AS BIGINT)
    FROM lineitem
    """,
)
def column_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics (min/max/null_count/exact
    NDV) for the fact table, computed in ONE logical pass — the stats
    that drive CBO join ordering, AQE thresholds, and file-skipping
    decisions at 100 TB (`ANALYZE TABLE ... COMPUTE STATISTICS FOR
    COLUMNS` as a query). All per-column aggregates go into a single
    `.agg(...)`; the multiple exact COUNT(DISTINCT)s plan as one
    Expand-based aggregate (one scan, data replicated per distinct
    column in the shuffle — the documented exact-NDV trade; swap in HLL
    sketches via `operators/sketches.py` when approximate NDV is
    acceptable at scale). The 1-row wide result is then unpivoted to
    long form with `stack` — a zero-shuffle projection."""
    li = load_table(spark, sf_dir, "lineitem")
    int_cols = ["l_orderkey", "l_partkey"]
    str_cols = ["l_returnflag", "l_linestatus"]
    ts_cols = ["l_shipdate"]
    aggs = []
    for c in int_cols + str_cols:
        aggs += [
            F.min(c).cast("string").alias(f"min__{c}"),
            F.max(c).cast("string").alias(f"max__{c}"),
        ]
    for c in ts_cols:
        aggs += [
            F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias(f"min__{c}"),
            F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias(f"max__{c}"),
        ]
    for c in int_cols + str_cols + ts_cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"nulls__{c}"),
            F.countDistinct(c).cast("long").alias(f"ndv__{c}"),
        ]
    wide = li.agg(*aggs)
    cols = int_cols + str_cols + ts_cols
    stack_args = ", ".join(
        f"'{c}', min__{c}, max__{c}, nulls__{c}, ndv__{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col_name, min_v, max_v, null_count, ndv)"
    )


@register(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
               AS orphan_rows
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema — the
    referential-integrity member of the data-governance family
    (`dq_report_lineitem` checks column contracts, `column_stats_*`
    collects optimizer stats, this one checks join keys): one row per
    FK edge with its orphan count (rows whose key has no parent).
    All-zeros is the healthy answer; any nonzero is exactly the row set
    that silently vanishes from inner joins — the most common cause of
    "the revenue report shrank" at 100 TB.

    Plan: each edge is a LEFT ANTI equi-join + count. Anti joins
    broadcast their parent side while it fits (no hints — parents grow
    with sf); the four 1-row counts union into a local result. One scan
    per edge; at scale, run edges in one job and share scans via
    cached parents where profitable."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")

    def orphans(child: DataFrame, ck: str, parent: DataFrame, pk: str, label: str) -> DataFrame:
        cnt = (
            child.join(parent.select(pk), child[ck] == parent[pk], "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("orphan_rows"))
        )
        return cnt.select(F.lit(label).alias("fk_edge"), "orphan_rows")

    return (
        orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey -> orders")
        .unionAll(orphans(orders, "o_custkey", customer, "c_custkey", "orders.o_custkey -> customer"))
        .unionAll(orphans(li, "l_partkey", part, "p_partkey", "lineitem.l_partkey -> part"))
        .unionAll(orphans(customer, "c_nationkey", nation, "n_nationkey", "customer.c_nationkey -> nation"))
    )


@register(
    "cumulative_distinct_users_daily",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS cum_distinct_users
    FROM days d JOIN events e ON CAST(e.ts AS DATE) <= d.day
    GROUP BY 1
    """,
)
def cumulative_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users as of each day — the growth-curve /
    DAU-accumulation metric — answered ENTIRELY from the persisted
    per-day bitmap pages: pages for days ≤ D OR-merge into day D's
    exact count, so the raw events are scanned once to build the daily
    state and never again (the naive form rescans the fact table per
    day — O(days · corpus) at 100 TB; COUNT(DISTINCT) over an expanding
    window is not reaggregable from daily counts, which is exactly why
    the mergeable bitmap state exists; HLL pages give the same query
    approximately when the key space outgrows bitmaps).

    The day ≤ asof pairing is an inequality join over two
    calendar-bounded tiny relations (#days × #days·pages — thousands of
    4 KB rows at any corpus size), the documented NestedLoop exception
    class (`tests/test_catalog_hygiene.py`); the merge itself is one
    hash aggregate on (asof, bitmap_bucket)."""
    from esther_apache_spark_spark.operators.sketches import (
        bitmap_bucket_sketches,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    daily = bitmap_bucket_sketches(events, "user_id", ["day"])
    asof = daily.select("day").distinct().select(F.col("day").alias("asof"))
    merged = (
        daily.join(asof, daily.day <= F.col("asof"))
        .groupBy("asof", "bitmap_bucket")
        .agg(F.expr("bitmap_or_agg(bitmap)").alias("bitmap"))
    )
    return (
        merged.groupBy("asof")
        .agg(
            F.sum(F.expr("bitmap_count(bitmap)"))
            .cast("long")
            .alias("cum_distinct_users")
        )
        .select(
            F.date_format("asof", "yyyy-MM-dd").alias("day"),
            "cum_distinct_users",
        )
    )


@register(
    "sliding_7d_distinct_users",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS distinct_users_7d
    FROM days d JOIN events e
      ON date_diff('day', CAST(e.ts AS DATE), d.day) BETWEEN 0 AND 6
    GROUP BY 1
    """,
)
def sliding_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day exact distinct users per day (the WAU-style
    engagement metric) answered from the SAME persisted per-day bitmap
    pages as `cumulative_distinct_users_daily` — distinct counts are
    not reaggregable from daily totals, but OR-merging the 7 relevant
    days' bitmaps is exact and never rescans the fact table. The
    day-range pairing is an inequality join over two calendar-bounded
    tiny relations (#days × 7·pages), the documented NestedLoop
    exception class; the merge is one (day, bitmap_bucket) hash
    aggregate. At 100 TB the raw events are read once to build the
    daily state; every window length after that is a bitmap-page
    query."""
    from esther_apache_spark_spark.operators.sketches import (
        bitmap_bucket_sketches,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    daily = bitmap_bucket_sketches(events, "user_id", ["day"])
    asof = daily.select("day").distinct().select(F.col("day").alias("asof"))
    merged = (
        daily.join(
            asof,
            (daily.day <= F.col("asof"))
            & (daily.day >= F.date_sub(F.col("asof"), 6)),
        )
        .groupBy("asof", "bitmap_bucket")
        .agg(F.expr("bitmap_or_agg(bitmap)").alias("bitmap"))
    )
    return (
        merged.groupBy("asof")
        .agg(
            F.sum(F.expr("bitmap_count(bitmap)"))
            .cast("long")
            .alias("distinct_users_7d")
        )
        .select(
            F.date_format("asof", "yyyy-MM-dd").alias("day"),
            "distinct_users_7d",
        )
    )


@register(
    "daily_new_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS new_users
    FROM first_seen GROUP BY day
    """,
)
def daily_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New users per day (first-ever appearance) — the increments whose
    running total is `cumulative_distinct_users_daily`; together they
    are the standard acquisition readout. One (user_id) MIN aggregate
    (partial min below the Exchange — only one date per user crosses
    the wire) and one tiny (day) count; no window, no join, no rescan.
    Unlike the cumulative form this IS computable incrementally at
    100 TB: yesterday's first_seen table plus today's partition gives
    today's row via an anti join (`incremental_dedup_new_docs` shows
    that shape)."""
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    return first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    ).select(F.date_format("day", "yyyy-MM-dd").alias("day"), "new_users")


@register(
    "order_total_reconciliation",
    oracle="""
    WITH line_sums AS (
        SELECT l_orderkey,
               SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   ) AS line_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    cmp AS (
        SELECT o.o_orderkey,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS hdr_cents,
               COALESCE(l.line_cents, 0) AS line_cents
        FROM orders o LEFT JOIN line_sums l ON l.l_orderkey = o.o_orderkey
    )
    SELECT CASE WHEN hdr_cents = line_cents THEN 'exact'
                WHEN line_cents = 0 THEN 'no_lines'
                WHEN hdr_cents > line_cents THEN 'header_higher'
                ELSE 'lines_higher' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(ABS(hdr_cents - line_cents)) / 100.0 AS DOUBLE)
               AS total_abs_gap
    FROM cmp GROUP BY 1
    """,
)
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: does each order's
    ``o_totalprice`` equal the sum of its line items' extended prices?
    The financial-close audit of the governance family
    (`referential_integrity_audit` checks keys, this checks AMOUNTS) —
    the report buckets orders into exact / no-lines / header-higher /
    lines-higher with the absolute gap, integer-cent exact end to end
    (money never touches a float until the final display division).
    On this synthetic data the header is NOT the line sum — the audit's
    non-zero gaps are the finding, not a bug.

    Plan: one (orderkey) partial-agg on the fact side, a co-partitioned
    LEFT join (both sides shuffle on the same key; AQE handles the
    broadcast decision), and a 4-row bucket aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    line_sums = li.groupBy("l_orderkey").agg(
        F.sum(
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("line_cents")
    )
    cmp = orders.join(
        line_sums, orders.o_orderkey == line_sums.l_orderkey, "left"
    ).select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("hdr_cents"),
        F.coalesce(F.col("line_cents"), F.lit(0)).alias("line_cents"),
    )
    status = (
        F.when(F.col("hdr_cents") == F.col("line_cents"), "exact")
        .when(F.col("line_cents") == 0, "no_lines")
        .when(F.col("hdr_cents") > F.col("line_cents"), "header_higher")
        .otherwise("lines_higher")
    )
    return (
        cmp.groupBy(status.alias("status"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum(F.abs(F.col("hdr_cents") - F.col("line_cents"))) / 100.0)
            .cast("double")
            .alias("total_abs_gap"),
        )
    )


@register(
    "pareto_revenue_customers",
    oracle="""
    WITH rev AS (
        SELECT o_custkey AS custkey,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                   AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT custkey, cents,
               SUM(cents) OVER (ORDER BY cents DESC, custkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum_cents,
               SUM(cents) OVER () AS total_cents,
               row_number() OVER (ORDER BY cents DESC, custkey) AS rnk
        FROM rev
    )
    SELECT CAST(rnk AS BIGINT) AS rank,
           custkey,
           CAST(cents / 100.0 AS DOUBLE) AS revenue,
           ROUND(CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 6)
               AS cum_share
    FROM ranked
    WHERE cum_cents - cents < total_cents * 0.8
    """,
)
def pareto_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / 80-20 concentration: the minimal best-first customer
    prefix covering 80% of total order revenue (a customer is in the
    cohort iff the budget is not exhausted BEFORE it — the same
    greedy-prefix semantics as `cap_chars_per_lang_by_quality`, so
    exactly the first overshooting customer is still admitted). The
    concentration readout behind key-account analysis AND skew
    diagnosis — a heavily concentrated key is the salting candidate.
    Integer-cent money end to end; (cents DESC, custkey) is a total
    order so the prefix is engine-independent; the 80% threshold
    compares integers against integer·0.8 (one exact IEEE multiply).

    Plan: one (custkey) hash aggregate, then windows over the
    AGGREGATED frame (#customers rows, not orders); the unpartitioned
    window is the documented single-partition boundary — at 100 TB
    cohort selection runs on the aggregate, which is the small frame."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("cents")
    )
    w_order = Window.orderBy(F.col("cents").desc(), "custkey")
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = rev.select(
        "custkey",
        "cents",
        F.sum("cents").over(w_cum).alias("cum_cents"),
        F.sum("cents").over(w_all).alias("total_cents"),
        F.row_number().over(w_order).alias("rank"),
    )
    return ranked.filter(
        (F.col("cum_cents") - F.col("cents"))
        < F.col("total_cents") * F.lit(0.8)
    ).select(
        F.col("rank").cast("long").alias("rank"),
        "custkey",
        (F.col("cents") / 100.0).cast("double").alias("revenue"),
        F.round(
            F.col("cum_cents").cast("double") / F.col("total_cents").cast("double"),
            6,
        ).alias("cum_share"),
    )


@register(
    "hybrid_search_rrf",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    dd AS (SELECT doc_id, len(toks) AS dl FROM d),
    sc AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dd),
    w AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w
           WHERE term IN ('spark','window','hash') GROUP BY 1, 2),
    dft AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.doc_id,
               SUM( ((sc.n - dft.dfreq + 0.5) / (dft.dfreq + 0.5))
                    * (tf.tf * ({_K1} + 1.0))
                    / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dd.dl / sc.avgdl)) ) AS s
        FROM tf JOIN dft USING (term) JOIN dd USING (doc_id) CROSS JOIN sc
        GROUP BY 1
    ),
    b20 AS (SELECT doc_id, ROUND(s, 4) AS score FROM scored
            ORDER BY ROUND(s, 4) DESC, doc_id LIMIT 20),
    br AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS bm25_rank
           FROM b20),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    c20 AS (SELECT e.vec_id AS doc_id,
                   ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) + 0.0 AS cosine
            FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
            ORDER BY cosine DESC, e.vec_id LIMIT 20),
    cr AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INT) AS cos_rank
           FROM c20),
    f AS (SELECT COALESCE(br.doc_id, cr.doc_id) AS doc_id, br.bm25_rank, cr.cos_rank,
                 ROUND(COALESCE(1.0 / (60 + br.bm25_rank), 0)
                       + COALESCE(1.0 / (60 + cr.cos_rank), 0), 6) AS rrf_score
          FROM br FULL OUTER JOIN cr ON br.doc_id = cr.doc_id)
    SELECT doc_id, bm25_rank, cos_rank, rrf_score
    FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (the RAG-era
    retrieval shape): lexical BM25 top-20 and dense cosine top-20 (query
    vector = embedding 0, self excluded), fused by
    RRF(d) = Σ 1/(60 + rank_list(d)) over the lists containing d, top-10
    out. Pure composition of two already-oracled engine pieces — BM25's
    exact pipeline and `brute_force_topk`'s JVM cosine fold — plus
    integer-rank fusion, so the whole thing replays in SQL exactly
    (ranks are integers; the two fused divisions happen in one fixed
    expression, no order-dependent float sum).

    Scale: the two candidate lists are top-k trees (TakeOrderedAndProject
    / broadcast-query GEMM), the fusion joins two ≤20-row frames — the
    expensive parts are exactly the already-audited retrieval queries."""
    from esther_apache_spark_spark.operators import similarity as S

    b20 = bm25_top_docs(spark, sf_dir)
    br = b20.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .cast("int")
        .alias("bm25_rank"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nn = (
        S.brute_force_topk(emb, qv, k=21)
        .filter(F.col("neighbor_id") != 0)
        .select(F.col("neighbor_id").alias("doc_id"), "cosine")
    )
    cr = nn.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), "doc_id"))
        .cast("int")
        .alias("cos_rank"),
    )
    rrf = F.round(
        F.coalesce(1.0 / (F.col("bm25_rank") + 60), F.lit(0.0))
        + F.coalesce(1.0 / (F.col("cos_rank") + 60), F.lit(0.0)),
        6,
    )
    return (
        br.join(cr, "doc_id", "full_outer")
        .select("doc_id", "bm25_rank", "cos_rank", rrf.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(10)
    )


@register(
    "time_weighted_avg_user_value",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(12,2)) AS v,
               event_id
        FROM events
    ),
    seg AS (
        SELECT user_id, v,
               lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS span_us,
               us
        FROM e
    ),
    agg AS (
        SELECT user_id,
               SUM(v * span_us) AS wsum,
               CAST(MAX(us) - MIN(us) AS BIGINT) AS total_us,
               COUNT(*) AS n
        FROM seg GROUP BY user_id
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           total_us,
           ROUND(CAST(wsum AS DOUBLE) / total_us, 6) + 0.0 AS twa_value
    FROM agg WHERE n >= 2 AND total_us > 0
    """,
)
def time_weighted_avg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's value (TWAP — the
    hypertable-rollup staple the plain AVG gets wrong whenever
    observations are unevenly spaced): each value is held until the
    user's next event and weighted by that interval in microseconds;
    users need ≥ 2 events and a positive span. Exact cross-engine: the
    per-segment weight is a DECIMAL(12,2) value × BIGINT micros product
    summed decimally (order-independent), divided once at the end.

    Scale: one shuffle on user_id for the lead() window (single pass,
    spill-aware), then a partial-aggregable per-user sum — the same
    cost envelope as `lag_event_gaps`. The interval semantics are
    last-observation-carried-forward; the final observation carries no
    weight (its holding interval is unobserved)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("value").cast("decimal(12,2)").alias("v"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seg = e.select(
        "user_id", "v", "us", (F.lead("us").over(w) - F.col("us")).alias("span_us")
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(F.col("v") * F.col("span_us")).alias("wsum"),
            (F.max("us") - F.min("us")).cast("long").alias("total_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter((F.col("n_events") >= 2) & (F.col("total_us") > 0))
        .select(
            "user_id",
            "n_events",
            "total_us",
            F.round(F.col("wsum").cast("double") / F.col("total_us"), 6).alias(
                "twa_value"
            ),
        )
    )


@register(
    "ohlc_hourly_bars",
    oracle="""
    WITH e AS (
        SELECT date_trunc('hour', ts) AS bar, event_type, value, ts, event_id,
               row_number() OVER (
                   PARTITION BY date_trunc('hour', ts), event_type
                   ORDER BY ts, event_id
               ) AS rn_a,
               row_number() OVER (
                   PARTITION BY date_trunc('hour', ts), event_type
                   ORDER BY ts DESC, event_id DESC
               ) AS rn_d
        FROM events
    )
    SELECT strftime(bar, '%Y-%m-%d %H:%M:%S') AS bar_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MIN(CASE WHEN rn_d = 1 THEN value END) AS close
    FROM e GROUP BY bar, event_type
    """,
)
def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type (open/high/low/close — the
    candlestick/telemetry downsample every time-series store ships):
    open and close are the first/last values under the (ts, event_id)
    TOTAL order inside each bar, high/low plain extremes. No raw-value
    float arithmetic at all (selection only), so the result is exact on
    any engine; first/last are taken as rank-1 rows of the asc/desc
    windows — deterministic where min_by/arg_min tiebreaks are not.
    One shuffle on (bar, event_type) shared by both windows and the
    aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("bar"), "event_type", "value", "ts", "event_id"
    )
    wa = Window.partitionBy("bar", "event_type").orderBy("ts", "event_id")
    wd = Window.partitionBy("bar", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
        .groupBy("bar", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.min(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        )
        .select(
            F.date_format("bar", "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
            "event_type",
            "n_events",
            "open",
            "high",
            "low",
            "close",
        )
    )


@register(
    "counter_increase_per_user",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(value AS DECIMAL(12,2)) AS v, ts, event_id
        FROM events
    ),
    d AS (
        SELECT user_id,
               v - lag(v) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
        FROM e
    )
    SELECT user_id,
           CAST(COUNT(delta) AS BIGINT) AS n_deltas,
           CAST(SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS DOUBLE) AS total_increase,
           CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets
    FROM d GROUP BY user_id
    """,
)
def counter_increase_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-aware counter increase (the Prometheus ``increase()``
    semantics): per user, the sum of POSITIVE deltas between
    consecutive readings under the (ts, event_id) total order — a
    counter reset (negative delta) contributes nothing and is counted
    separately. A plain max-min misreads any series with one reset.
    Deltas are DECIMAL(12,2) differences summed decimally, so the
    aggregate is order-independent and exact on both engines. One
    shuffle on user_id shared by the lag window and the aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("value").cast("decimal(12,2)").alias("v"), "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select("user_id", (F.col("v") - F.lag("v").over(w)).alias("delta"))
    return d.groupBy("user_id").agg(
        F.count("delta").alias("n_deltas"),
        F.sum(F.when(F.col("delta") > 0, F.col("delta")).otherwise(F.lit(0)))
        .cast("double")
        .alias("total_increase"),
        F.sum(F.when(F.col("delta") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_resets"),
    )


@register(
    "attribution_last_touch",
    oracle="""
    WITH p AS (
        SELECT event_id AS pid, user_id, epoch_us(ts) AS pus,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT event_id AS tid, user_id, event_type, epoch_us(ts) AS tus
        FROM events WHERE event_type IN ('view', 'click')
    ),
    ranked AS (
        SELECT p.pid, p.cents, t.event_type,
               row_number() OVER (
                   PARTITION BY p.pid ORDER BY t.tus DESC, t.tid DESC
               ) AS rn
        FROM p JOIN t
          ON p.user_id = t.user_id
         AND t.tus < p.pus AND t.tus >= p.pus - 3600000000
    )
    SELECT event_type AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(ROUND(SUM(cents) / 100.0, 2) AS DOUBLE) AS attributed_value
    FROM ranked WHERE rn = 1
    GROUP BY event_type
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase's full value is
    credited to the LAST view/click by the same user in the preceding
    hour (strictly before the purchase, (ts, event_id) total-order
    tiebreak), then rolled up per touch type. Last/first-touch models
    stay integer-cent EXACT where fractional models (linear/U-shaped)
    would split cents; purchases with no preceding touch attribute
    nothing.

    Scale shape: the touch↔purchase pairing is an equi-join on user_id
    with the hour window as a post-join range predicate — the same
    banded-interval pattern as `interval_join_view_purchase`
    (operators/rangejoin.py holds the bucketed variant when per-user
    streams are long); the per-purchase rank-1 window optimizes into a
    partial WindowGroupLimit."""
    us = F.unix_micros(F.col("ts"))
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puser"),
        us.alias("pus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"), "user_id", "event_type", us.alias("tus")
    )
    ranked = (
        p.join(
            t,
            (p.puser == t.user_id)
            & (t.tus < p.pus)
            & (t.tus >= p.pus - F.lit(3_600_000_000)),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("pid").orderBy(F.desc("tus"), F.desc("tid"))
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return ranked.groupBy(F.col("event_type").alias("touch_type")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum("cents") / 100.0, 2).cast("double").alias("attributed_value"),
    )


def _mmr_oracle(rounds: int = 5, lam: float = 0.7) -> str:
    """Unrolled greedy MMR: one CTE pair (scores, argmax) per round —
    the same unrolled-iteration oracle pattern as BPE learning."""
    base = """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (
        SELECT doc_id, rel, e FROM (
            SELECT e.vec_id AS doc_id,
                   ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS rel,
                   CAST(e.embedding AS DOUBLE[]) AS e,
                   row_number() OVER (
                       ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) DESC,
                                e.vec_id
                   ) AS rn
            FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
        ) WHERE rn <= 20
    ),
    sim AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib,
               ROUND(list_cosine_similarity(a.e, b.e), 6) AS s
        FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
    ),
    s1 AS (SELECT doc_id FROM cand ORDER BY rel DESC, doc_id LIMIT 1)"""
    picks = ["SELECT doc_id, 1 AS mmr_rank FROM s1"]
    prev_sets = "SELECT doc_id FROM s1"
    for t in range(2, rounds + 1):
        base += f""",
    p{t} AS (
        SELECT c.doc_id,
               ROUND({lam} * c.rel - {round(1 - lam, 10)} * MAX(s.s), 6) AS score
        FROM cand c JOIN sim s
          ON s.ia = c.doc_id AND s.ib IN ({prev_sets})
        WHERE c.doc_id NOT IN ({prev_sets})
        GROUP BY c.doc_id, c.rel
    ),
    s{t} AS (SELECT doc_id FROM p{t} ORDER BY score DESC, doc_id LIMIT 1)"""
        picks.append(f"SELECT doc_id, {t} AS mmr_rank FROM s{t}")
        prev_sets += f" UNION ALL SELECT doc_id FROM s{t}"
    return base + "\n    " + "\n    UNION ALL ".join(picks)


@register("mmr_rerank_topk", oracle=_mmr_oracle())
def mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking of the dense top-20
    (query vector 0): 5 greedy rounds of
    argmax(0.7·relevance − 0.3·max-similarity-to-selected) — the
    diversification pass a retrieval stack runs after ANN so near-
    duplicate hits don't crowd the result list. Greedy argmaxes are
    LIMIT-1 frames chained lazily (the BPE unrolled-iteration pattern,
    no driver-side state); every frame is bounded by the BY-CONTRACT
    candidate count (20 rows, 20×19 sim pairs), so the nested-loop
    joins below are fenced the same way the ANN query matrices are.
    Fully oracled: the DuckDB twin unrolls the identical 5 rounds."""
    from esther_apache_spark_spark.operators import similarity as S

    lam = 0.7
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = (
        S.brute_force_topk(emb, qv, k=21)
        .filter(F.col("neighbor_id") != 0)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("cosine").alias("rel"))
        .join(emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id")
        .select("doc_id", "rel", F.col("embedding").cast("array<double>").alias("e"))
    )
    a = cand.select(F.col("doc_id").alias("ia"), F.col("e").alias("ea"))
    b = cand.select(F.col("doc_id").alias("ib"), F.col("e").alias("eb"))
    sim = (
        a.join(F.broadcast(b), F.col("ia") != F.col("ib"))
        .select("ia", "ib", F.round(V.cosine_similarity("ea", "eb"), 6).alias("s"))
    )
    picks = []
    selected = (
        cand.orderBy(F.desc("rel"), "doc_id").limit(1).select("doc_id")
    )
    picks.append(selected.withColumn("mmr_rank", F.lit(1)))
    for t in range(2, 6):
        sel_ids = selected.select(F.col("doc_id").alias("sid"))
        maxsim = (
            sim.join(F.broadcast(sel_ids), sim.ib == F.col("sid"))
            .groupBy("ia")
            .agg(F.max("s").alias("ms"))
        )
        scored = (
            cand.join(sel_ids, cand.doc_id == F.col("sid"), "left_anti")
            .join(maxsim, cand.doc_id == maxsim.ia)
            .select(
                "doc_id",
                F.round(F.lit(lam) * F.col("rel") - F.lit(round(1 - lam, 10)) * F.col("ms"), 6).alias(
                    "score"
                ),
            )
        )
        nxt = scored.orderBy(F.desc("score"), "doc_id").limit(1).select("doc_id")
        picks.append(nxt.withColumn("mmr_rank", F.lit(t)))
        selected = selected.union(nxt)
    out = picks[0]
    for pdf in picks[1:]:
        out = out.union(pdf)
    return out.select("doc_id", F.col("mmr_rank").cast("int").alias("mmr_rank"))


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd) — full-corpus clustering, exact-integer
# arithmetic, unrolled rounds (operators/clustering.py).
# ---------------------------------------------------------------------------

def _kmeans_oracle(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """Unrolled-CTE DuckDB replay of ``kmeans_lloyd_summary`` — same
    quantization, same (dist, cid) tie-break, same floor(sum/count+0.5)
    centroid rounding, iteration by iteration."""
    parts = [
        f"""dims AS (
        SELECT e.vec_id, r.range AS dim,
               CAST(FLOOR(CAST(e.embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * 1000000.0 + 0.5) AS BIGINT) AS qv
        FROM embeddings e CROSS JOIN range(1, {dim + 1}) r
    )""",
        f"""seed_ids AS (
        SELECT vec_id,
               CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
        FROM (SELECT DISTINCT vec_id FROM dims) dseed
        ORDER BY vec_id LIMIT {k}
    )""",
        """cent0 AS (
        SELECT s.cid, d.dim, d.qv AS cv
        FROM seed_ids s JOIN dims d ON s.vec_id = d.vec_id
    )""",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""d{i} AS (
        SELECT d.vec_id, c.cid, SUM((d.qv - c.cv) * (d.qv - c.cv)) AS dist
        FROM dims d JOIN cent{i - 1} c ON d.dim = c.dim
        GROUP BY d.vec_id, c.cid
    )""")
        parts.append(f"""a{i} AS (
        SELECT vec_id, cid, dist FROM (
            SELECT vec_id, cid, dist,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d{i}
        ) ranked{i} WHERE rn = 1
    )""")
        parts.append(f"""cent{i} AS (
        SELECT a.cid, d.dim,
               CAST(FLOOR(CAST(SUM(d.qv) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cv
        FROM a{i} a JOIN dims d ON a.vec_id = d.vec_id
        GROUP BY a.cid, d.dim
    )""")
    return f"""
    WITH {','.join(parts)},
    sizes AS (
        SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(dist) AS BIGINT) AS inertia
        FROM a{iters} GROUP BY cid
    ),
    l1 AS (
        SELECT cid AS cluster_id, CAST(SUM(ABS(cv)) AS BIGINT) AS centroid_l1
        FROM cent{iters} GROUP BY cid
    )
    SELECT s.cluster_id, s.n_vecs, s.inertia, l.centroid_l1
    FROM sizes s JOIN l1 l ON s.cluster_id = l.cluster_id
    """


@register("kmeans_lloyd_clusters", oracle=_kmeans_oracle())
def kmeans_lloyd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus k-means (k=8, 3 unrolled Lloyd rounds) over the
    embeddings table, reported per cluster: size, exact integer inertia,
    and the L1 fingerprint of the trained centroid. Every round is DataFrame algebra — the centroid
    state is a 1-row k-struct array broadcast onto the vectors (k is a
    model constant; the data side never collapses), the update shuffle
    carries only (cluster, dim) partial sums. Unlike the bounded-sample
    quantizer training in `similarity_topk_ivf_kmeans`, this clusters
    EVERY vector, and unlike any float k-means it is bit-replayable in
    SQL (exact-integer distances, deterministic tie-breaks) — the
    trained model itself is hash-compared against the DuckDB oracle."""
    from esther_apache_spark_spark.operators.clustering import kmeans_lloyd_summary

    return kmeans_lloyd_summary(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=3
    )


@register(
    "clustering_coefficient_brands",
    oracle="""
    WITH ob AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
                FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    ec AS (SELECT a.b AS ba, b2.b AS bb, count(*) AS c
           FROM ob a JOIN ob b2 ON a.ok = b2.ok AND a.b < b2.b GROUP BY 1, 2),
    top AS (SELECT ba, bb FROM ec ORDER BY c DESC, ba, bb LIMIT 60),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT ba AS node FROM top
                  UNION ALL SELECT bb AS node FROM top) GROUP BY node),
    tri AS (SELECT e1.ba AS x, e1.bb AS y, e2.bb AS z
            FROM top e1 JOIN top e2 ON e2.ba = e1.bb
            JOIN top e3 ON e3.ba = e1.ba AND e3.bb = e2.bb),
    tcnt AS (SELECT node, CAST(count(*) AS BIGINT) AS t
             FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node)
    SELECT d.node AS brand, d.d AS degree,
           COALESCE(t.t, 0) AS triangles,
           CAST(CASE WHEN d.d >= 2
                     THEN ROUND(2.0 * COALESCE(t.t, 0) / (d.d * (d.d - 1)), 9)
                     ELSE 0.0 END AS DOUBLE) AS clustering_coeff
    FROM deg d LEFT JOIN tcnt t ON d.node = t.node
    """,
)
def clustering_coefficient_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per brand on the same top-60
    co-purchase graph as `triangle_count_brands` / `pagerank_brands`:
    cc(v) = 2·T(v)/(d(v)·(d(v)−1)) — how close each brand's
    neighborhood is to a clique, the standard community-tightness
    readout next to raw triangle counts (a hub with many triangles can
    still have LOW cc; this normalizes by the possible wedge count).
    Zero-by-convention for degree < 2; exact integer T and d with one
    final rounded division, so the oracle matches bit-for-bit.

    Scale: inherits the triangle query's shape (total-order edge cut,
    oriented wedge-closing joins); the added degree frame is one
    union+groupBy over the bounded edge list."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
    )
    a = ob.select("ok", F.col("b").alias("ba"))
    b2 = ob.select("ok", F.col("b").alias("bb"))
    ec = (
        a.join(b2, "ok")
        .filter(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = ec.orderBy(F.desc("c"), "ba", "bb").limit(60).select("ba", "bb")
    deg = (
        top.select(F.col("ba").alias("node"))
        .unionAll(top.select(F.col("bb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = top.select(F.col("ba").alias("x"), F.col("bb").alias("y"))
    e2 = top.select(F.col("ba").alias("y"), F.col("bb").alias("z"))
    e3 = top.select(F.col("ba").alias("x"), F.col("bb").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    tcnt = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    j = deg.join(tcnt, "node", "left").select(
        F.col("node").alias("brand"),
        F.col("d").alias("degree"),
        F.coalesce("t", F.lit(0)).alias("triangles"),
        F.when(
            F.col("d") >= 2,
            F.round(
                F.lit(2.0)
                * F.coalesce("t", F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                9,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )
    return j
