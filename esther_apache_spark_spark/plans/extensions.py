"""Extension queries (SURVEY.md §7 M4/M5) — beyond the reference surface.

Training-data-pipeline operators (dedup, similarity, text analysis,
multimodal) plus cube/rollup/approx variants and the streaming batch
twins. Queries whose semantics DuckDB can state get an oracle; LSH /
approximate / streaming-stateful ones are rows-only by design (the
driver records the weaker check — ``__spark_entry__.py:31-37``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esther_apache_spark_spark.functions.money import dec2, money_sum
from esther_apache_spark_spark.operators import dedup as D
from esther_apache_spark_spark.operators import similarity as S
from esther_apache_spark_spark.operators import textstats as TS
from esther_apache_spark_spark.operators.asof import as_of_join
from esther_apache_spark_spark.operators.windows import keep_first
from esther_apache_spark_spark.plans.catalog import QUERIES, register
from esther_apache_spark_spark.schemas import EMBEDDING_DIM, load_table
from esther_apache_spark_spark.streaming.events import (
    run_streaming_tumbling_agg,
    sessionize_batch,
    tumbling_agg,
)

# ---------------------------------------------------------------------------
# Grouping-set variants (one-line Spark extensions of A1 — SURVEY.md §2.5).
# ---------------------------------------------------------------------------


@register(
    "rollup_region_nation",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (region, nation)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollup over the region→nation hierarchy (broadcast dims)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "c_acctbal")
        .rollup("region", "nation")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum(dec2("c_acctbal"), "total_balance"),
        )
    )


@register(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cube over two independent dimensions."""
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(dec2("o_totalprice", "decimal(14,2)"), "total_price"),
        )
    )


@register(
    "approx_distinct_by_priority",
    oracle="""
    WITH h AS (
        SELECT o_orderpriority,
               CAST(CONCAT('0x', substr(md5(CONCAT('hll1|',
                    CAST(o_custkey AS VARCHAR))), 1, 15)) AS BIGINT) AS h_
        FROM orders
    ),
    regs AS (
        SELECT o_orderpriority, h_ & 511 AS idx,
               52 - length(ltrim(bin(h_ >> 9), '0')) AS rho
        FROM h
    ),
    regmax AS (
        SELECT o_orderpriority, idx, MAX(rho) AS mx
        FROM regs GROUP BY o_orderpriority, idx
    ),
    grid AS (
        SELECT g.o_orderpriority, r.range AS idx
        FROM (SELECT DISTINCT o_orderpriority FROM orders) g
        CROSS JOIN range(512) r
    ),
    filled AS (
        SELECT grid.o_orderpriority, COALESCE(regmax.mx, 0) AS mx
        FROM grid LEFT JOIN regmax
          ON grid.o_orderpriority = regmax.o_orderpriority
         AND grid.idx = regmax.idx
    ),
    agg AS (
        SELECT o_orderpriority,
               CAST(SUM(1::BIGINT << (52 - mx)) AS BIGINT) AS s,
               CAST(SUM(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
        FROM filled GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(FLOOR(CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 262144.0
                                * 4503599627370496.0 / CAST(s AS DOUBLE) <= 1280.0
                            AND v > 0
                      THEN 512.0 * ln(512.0 / CAST(v AS DOUBLE))
                      ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 262144.0
                           * 4503599627370496.0 / CAST(s AS DOUBLE)
                      END + 0.5) AS BIGINT) AS approx_customers
    FROM agg
    """,
)
def approx_distinct_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 at-scale variant: approximate distinct customers per priority
    via the deterministic SQL-replayable HLL (`sketches.hll_det_estimate`
    — md5-hex→BIGINT item hash, exact-integer register sums), so the
    estimate itself is oracled bit-for-bit instead of rows-only. The
    DataSketches `approx_count_distinct`/`hll_sketch_agg` family stays
    available (`distinct_users_hll_rollup`) for when mergeable binary
    state matters more than cross-engine replay."""
    from esther_apache_spark_spark.operators.sketches import hll_det_estimate

    return hll_det_estimate(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        ["o_orderpriority"],
        p=9,
        out_col="approx_customers",
    )


@register(
    "median_acctbal_by_nation",
    oracle="""
    WITH ranked AS (
        SELECT c_nationkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal, c_custkey) AS rn,
               COUNT(*) OVER (PARTITION BY c_nationkey) AS n
        FROM customer
    )
    SELECT c_nationkey, CAST(SUM(bal) AS DOUBLE) / 2 AS median_balance
    FROM ranked
    WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    GROUP BY c_nationkey
    """,
)
def median_acctbal_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 median imputation support (pandas median, tutoriel_pandas.ipynb
    cell 43) — exact median via rank-the-middle-rows, decimal-summed so
    the even-count midpoint is cross-engine deterministic (interpolated
    percentile built-ins differ in float op order between engines). At
    scale swap in percentile_approx."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    wn = Window.partitionBy("c_nationkey")
    ranked = cust.select(
        "c_nationkey",
        dec2("c_acctbal").alias("bal"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2)) | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return mid.groupBy("c_nationkey").agg(
        (F.sum("bal").cast("double") / 2).alias("median_balance")
    )


@register(
    "correlation",
    oracle="""
    SELECT ROUND(corr(l_quantity, l_extendedprice), 4) + 0.0 AS qty_price_corr
    FROM lineitem
    """,
)
def correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — Pearson correlation (pandas df.corr, tutoriel_pandas.ipynb)."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr")
    )


# ---------------------------------------------------------------------------
# Quarantine split (K4) — the reference's reject side-channel.
# ---------------------------------------------------------------------------


@register(
    "quarantine_clean",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
    WHERE NOT (l_discount > 0.08)
    """,
)
def quarantine_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 clean side — filter(~reject_pred), the reference's >= 0 keep
    (pipeline_pyspark.py:131)."""
    from esther_apache_spark_spark.sources.sinks import quarantine_split

    li = load_table(spark, sf_dir, "lineitem")
    clean, _ = quarantine_split(li, F.col("l_discount") > 0.08)
    return clean.select("l_orderkey", "l_linenumber", "l_discount")


@register(
    "quarantine_rejects",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
    WHERE l_discount > 0.08
    """,
)
def quarantine_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 reject side (pipeline_pyspark.py:123-130)."""
    from esther_apache_spark_spark.sources.sinks import quarantine_split

    li = load_table(spark, sf_dir, "lineitem")
    _, rejects = quarantine_split(li, F.col("l_discount") > 0.08)
    return rejects.select("l_orderkey", "l_linenumber", "l_discount")


# ---------------------------------------------------------------------------
# Dedup family (M4).
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content hash — shuffles 16-byte hashes, not
    document bodies."""
    return D.exact_dup_groups(load_table(spark, sf_dir, "documents"))


_CANON = (
    "regexp_replace(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+', ' ', 'g')"
)


def _duck_plane(p: list[float]) -> str:
    """A hyperplane as a DuckDB DOUBLE[] literal. ``repr`` emits the
    shortest round-trip decimal, which DuckDB parses back to the exact
    same double — the oracle sees bit-identical plane coefficients."""
    return "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"


def _srp_bucket_sql(e: str, planes: list[list[float]], lo: int, n: int) -> str:
    """SQL for the SRP sign-bit bucket of expression ``e`` against
    ``planes[lo:lo+n]`` — the same ``dot >= 0 -> bit i`` rule as
    ``srp_table_buckets`` (one table of ``n`` planes per call, which is
    how ``ann_topk_lsh`` buckets any number of tables); both engines
    evaluate the dot as a sequential fold, so the signs (and hence
    buckets) agree."""
    return " + ".join(
        f"CASE WHEN list_dot_product({e}, {_duck_plane(planes[lo + i])}) >= 0"
        f" THEN {1 << i} ELSE 0 END"
        for i in range(n)
    )


# The seeded plane families are deterministic model parameters, so the
# "approximate" LSH queries are in fact exact functions of their input —
# embedding the plane literals in the oracle SQL lets DuckDB replay
# bucketing, candidate generation and rerank end-to-end.
_LSH6 = _srp_bucket_sql("cv", S._plane_literals(64, 6, 42), 0, 6)
_SRP48 = S._plane_literals(64, 4 * 12, 42)
_SRP_TABLES = "\n        UNION ALL\n        ".join(
    f"SELECT _id, e, {t} AS _table, {_srp_bucket_sql('e', _SRP48, t * 4, 4)} AS _bucket FROM v"
    for t in range(12)
)

# Bucketing + candidate generation + exact 4-dp cosine rerank at the
# 0.4 threshold, as a reusable CTE chain ending in
# ``srp_pairs(id_a, id_b)`` — consumed by the incremental-merge oracles
# in plans/incremental_plans.py (the pair/survivor entries below keep
# their original inline strings).
SRP_PAIRS_CTE_BODY = """v AS (SELECT vec_id AS _id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS ({tables}),
    cand AS (
        SELECT DISTINCT a._id AS id_a, b2._id AS id_b
        FROM b a JOIN b b2
          ON a._table = b2._table AND a._bucket = b2._bucket AND a._id < b2._id
    ),
    srp_pairs AS (
        SELECT id_a, id_b FROM (
            SELECT id_a, id_b,
                   ROUND(list_cosine_similarity(va.e, vb.e), 4) + 0.0 AS cosine
            FROM cand JOIN v va ON va._id = cand.id_a
                      JOIN v vb ON vb._id = cand.id_b
        ) WHERE cosine >= 0.4
    )""".replace("{tables}", _SRP_TABLES)


@register(
    "dedup_fingerprint",
    oracle=f"""
    SELECT doc_id, substr(md5({_CANON}), 1, 16) AS fingerprint
    FROM documents
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formatting-robust content fingerprint (rolling-hash role)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TS.fingerprint(F.col("text")).alias("fingerprint"))


# The md5-family LSH oracles replay the ENTIRE pipeline in DuckDB —
# signature → band hashes → bucket join → first-meet-band emission —
# using the same md5-hex→BIGINT hashing proven on CMS/SRP-LSH and the
# multiply-shift permutation constants embedded as literals (mod 2^63 of
# the uint64-wrapped product equals mod 2^63 of the true HUGEINT product
# because 2^63 | 2^64). Precondition: hot-bucket sharding must be inert
# (no (band, bucket) group over max_bucket=4096) — true by orders of
# magnitude at every test SF (500–5 000 distinct docs); the sharded path
# is covered separately by tests/test_scale_guards.py.
_MINHASH_A, _MINHASH_B = D.minhash_perm_constants(32, 7)
_MINHASH_PERMS = (
    "CAST([" + ",".join(str(int(x)) for x in _MINHASH_A) + "] AS HUGEINT[]) AS A, "
    "CAST([" + ",".join(str(int(x)) for x in _MINHASH_B) + "] AS HUGEINT[]) AS B"
)

_TOKS_CTE = """
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '') AS t
    FROM documents WHERE text IS NOT NULL
"""


# The full signature→bands→bucket-join→first-meet-band CTE chain,
# shared by the pair entry below and the incremental-merge oracles in
# plans/incremental_plans.py (which append a recursive-CTE component
# walk). Ends with ``mh_pairs(id_a, id_b, agree)``.
MINHASH_PAIRS_CTE_BODY = f"""consts AS (SELECT {_MINHASH_PERMS}),
    toks AS ({_TOKS_CTE}),
    th AS (
        SELECT doc_id,
               list_transform(t, x -> CAST(CONCAT('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS h
        FROM toks
    ),
    base AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(h) >= 3
                        THEN list_transform(range(1, len(h) - 1), i ->
                               (h[i]   & 1073741823) * 536870909 + (h[i]   >> 30) * 536870923
                             + (h[i+1] & 1073741823) * 536870951 + (h[i+1] >> 30) * 536870969
                             + (h[i+2] & 1073741823) * 536871001 + (h[i+2] >> 30) * 536871017)
                        ELSE CAST([] AS BIGINT[]) END
               ) AS bh
        FROM th
    ),
    sigs AS (
        SELECT doc_id,
               list_transform(range(32), p ->
                   CASE WHEN len(bh) = 0 THEN CAST(9223372036854775807 AS BIGINT)
                        ELSE list_min(list_transform(bh, x ->
                            CAST((A[p+1] * x + B[p+1]) % 9223372036854775808 AS BIGINT)))
                   END) AS sig
        FROM base CROSS JOIN consts
    ),
    banded AS (
        SELECT doc_id, sig,
               list_transform(range(8), k ->
                   CAST(CONCAT('0x', substr(md5(
                       CAST(sig[4*k+1] AS VARCHAR) || ',' || CAST(sig[4*k+2] AS VARCHAR) || ',' ||
                       CAST(sig[4*k+3] AS VARCHAR) || ',' || CAST(sig[4*k+4] AS VARCHAR)), 1, 15)) AS BIGINT)) AS bands
        FROM sigs
    ),
    expl AS (
        SELECT doc_id, sig, bands, CAST(r.b AS INTEGER) AS band, bands[r.b + 1] AS bucket
        FROM banded CROSS JOIN (SELECT unnest(range(8)) AS b) r
    ),
    mh_pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_filter(range(32), i -> a.sig[i+1] = b.sig[i+1])) AS agree
        FROM expl a JOIN expl b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE list_position(list_transform(range(8), j -> a.bands[j+1] = b.bands[j+1]), true) = a.band + 1
    )"""

def minhash_pairs_cte_body(source: str = "documents") -> str:
    """``MINHASH_PAIRS_CTE_BODY`` with the corpus source swapped — the
    retirement oracle (plans/incremental_plans.py) replays the fresh
    build over a ``surviving`` CTE instead of the raw table."""
    return MINHASH_PAIRS_CTE_BODY.replace(
        "FROM documents WHERE text IS NOT NULL",
        f"FROM {source} WHERE text IS NOT NULL",
    )



@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {MINHASH_PAIRS_CTE_BODY}
    SELECT id_a, id_b, ROUND(agree / 32.0, 4) + 0.0 AS sig_agreement
    FROM mh_pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (shingle→minhash→band→
    bucket-join), md5 hash family — fully SQL-replayed: the oracle
    re-derives signatures, band hashes, the bucket self-join and the
    first-meet-band emission bit-for-bit. Estimator exactness is
    additionally property-tested against brute-force Jaccard in
    tests/test_dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_candidates(
        docs, num_perm=32, bands=8, shingle_n=3
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS ({_TOKS_CTE}),
    th AS (
        SELECT doc_id,
               list_transform(t, x -> CAST(CONCAT('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS h
        FROM toks
    ),
    fps AS (
        SELECT doc_id,
               CASE WHEN len(h) = 0 THEN CAST(1152921504606846975 AS BIGINT)
                    ELSE list_sum(list_transform(range(60), j ->
                        CASE WHEN list_sum(list_transform(h, x ->
                                 CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                             THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
               END AS fp
        FROM th
    ),
    banded AS (
        SELECT doc_id, fp,
               list_transform(range(4), b -> (fp >> (b * 15)) & 32767) AS bd
        FROM fps
    ),
    expl AS (
        SELECT doc_id, fp, bd, CAST(r.b AS INTEGER) AS band, bd[r.b + 1] AS bucket
        FROM banded CROSS JOIN (SELECT unnest(range(4)) AS b) r
    )
    SELECT id_a, id_b, hamming FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        FROM expl a JOIN expl b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE list_position(list_transform(range(4), j -> a.bd[j+1] = b.bd[j+1]), true) = a.band + 1
    ) WHERE hamming <= 8
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (Hamming blocking over 15-bit bands
    of a 60-bit md5-family fingerprint) — fully SQL-replayed: the
    oracle rebuilds per-token 60-bit hashes, bit votes, fingerprints,
    bands and the first-meet-band pair emission exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_candidates(
        docs, band_bits=15
    ).filter(F.col("hamming") <= 8)


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(t) >= 3
                        THEN list_transform(range(1, len(t) - 1),
                                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                        ELSE CAST([] AS VARCHAR[]) END
               ) AS s
        FROM toks
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.s, b.s))
                   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.5 via inverted-index join with
    document-frequency pruning (no-op at test SFs — the cap only bites
    on corpus-scale stop-shingles). The jaccard value is an exact
    int/int double ratio, so the DuckDB all-pairs oracle matches
    bit-for-bit; shingles travel as 64-bit hashes Spark-side, which
    preserves distinct-set cardinalities w.h.p."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.5)


@register(
    "containment_ngram_docs",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(t) >= 3
                        THEN list_transform(range(1, len(t) - 1),
                                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                        ELSE CAST([] AS VARCHAR[]) END
               ) AS s
        FROM toks
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    keep AS (SELECT g FROM ex GROUP BY g HAVING count(*) <= 100000),
    kept AS (SELECT doc_id, g FROM ex JOIN keep USING (g)),
    cand AS (
        SELECT DISTINCT a.doc_id AS src_id, b.doc_id AS dst_id
        FROM kept a JOIN kept b USING (g)
        WHERE a.doc_id <> b.doc_id
    )
    SELECT src_id, dst_id, containment FROM (
        SELECT c.src_id, c.dst_id,
               len(list_intersect(sa.s, sb.s)) / len(sa.s) AS containment
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.src_id
        JOIN sh sb ON sb.doc_id = c.dst_id
        WHERE len(sa.s) > 0
    ) WHERE containment >= 0.8
    """,
)
def containment_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional 3-gram CONTAINMENT pairs ≥ 0.8 — the quote/subset
    detector Jaccard structurally misses (a short doc fully embedded in
    a long one has near-zero Jaccard but containment 1.0); the standard
    overlap axis for boilerplate-inclusion and partial-mirror detection
    in corpus curation. Same inverted-index + df-pruning architecture
    as `dedup_ngram_jaccard` (pruning is recall-only on CANDIDATES;
    emitted values are exact recounts on full shingle sets), emitted
    per direction. The oracle mirrors the max_df=100k candidate pruning
    explicitly (ADVICE r06): a pair whose shared shingles are ALL
    hotter than max_df is dropped by BOTH engines, so the equality
    contract holds at any corpus scale, not just while no shingle's df
    exceeds 100k. The containment value is an exact int/int double
    ratio, so the match is bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(docs, shingle_n=3, threshold=0.8)


def _span_combine_sql(k: int) -> str:
    """The SPAN_COMBINE weighted-sum window hash over the token-hash
    array ``h`` starting at 1-based position ``i+1`` — byte-identical to
    the Spark operator's arithmetic (every term < 2^58, plain BIGINT)."""
    terms = []
    for j in range(k):
        terms.append(f"(h[i+{j + 1}] & 1073741823) * {D.SPAN_COMBINE[2 * j]}")
        terms.append(f"(h[i+{j + 1}] >> 30) * {D.SPAN_COMBINE[2 * j + 1]}")
    return " + ".join(terms)


_TOKEN_HASH_CTE = """
        SELECT doc_id,
               list_transform(t, x -> CAST(CONCAT('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS h
        FROM toks
"""


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH toks AS ({_TOKS_CTE}),
    th AS ({_TOKEN_HASH_CTE}),
    expl AS (
        SELECT doc_id, h, unnest(range(len(h) - 7)) AS i
        FROM th WHERE len(h) >= 8
    ),
    pos_h AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               {_span_combine_sql(8)} AS wh
        FROM expl
    ),
    dup_h AS (
        SELECT wh FROM (SELECT DISTINCT wh, doc_id FROM pos_h)
        GROUP BY wh HAVING COUNT(*) >= 2
    ),
    dup_pos AS (
        SELECT p.doc_id, p.pos FROM pos_h p JOIN dup_h USING (wh)
    ),
    runs AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM dup_pos
    )
    SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
           CAST(MAX(pos) - MIN(pos) + 8 AS INTEGER) AS span_len
    FROM runs GROUP BY doc_id, grp
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplicate spans (Lee et al. 2022 k-gram
    form, k=8 tokens): per document, the maximal token spans whose
    every 8-token window occurs in >= 2 distinct documents. Linear
    construction — two hash aggregates + a semi-join + one islands
    window; no doc-pair join exists anywhere in the plan, so shared
    boilerplate costs O(occurrences) not O(docs²). Fully SQL-replayed
    (md5 window hashes)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.substring_dup_spans(docs, k=8, min_doc_freq=2)


@register(
    "repeat_spans_within_docs",
    oracle=f"""
    WITH toks AS ({_TOKS_CTE}),
    th AS ({_TOKEN_HASH_CTE}),
    expl AS (
        SELECT doc_id, h, unnest(range(len(h) - 4)) AS i
        FROM th WHERE len(h) >= 5
    ),
    pos_h AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               {_span_combine_sql(5)} AS wh
        FROM expl
    ),
    dup_h AS (
        SELECT wh FROM pos_h GROUP BY wh HAVING COUNT(*) >= 2
    ),
    dup_pos AS (
        SELECT p.doc_id, p.pos FROM pos_h p JOIN dup_h USING (wh)
    ),
    runs AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM dup_pos
    )
    SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
           CAST(MAX(pos) - MIN(pos) + 5 AS INTEGER) AS span_len
    FROM runs GROUP BY doc_id, grp
    """,
)
def repeat_spans_within_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition spans at ANY scope (k=5, occurrences >= 2 — including
    repeats inside one document): the span-level sibling of the Gopher
    duplicate-n-gram fraction, marking exactly WHERE the repeated
    content sits so a trimming pass can cut it. Same linear shape as
    ``dedup_substring_spans``."""
    docs = load_table(spark, sf_dir, "documents")
    return D.substring_dup_spans(docs, k=5, min_doc_freq=2, scope="any")


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (SELECT vec_id AS _id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS ({tables}),
    cand AS (
        SELECT DISTINCT a._id AS id_a, b2._id AS id_b
        FROM b a JOIN b b2
          ON a._table = b2._table AND a._bucket = b2._bucket AND a._id < b2._id
    )
    SELECT id_a, id_b, cosine FROM (
        SELECT id_a, id_b,
               ROUND(list_cosine_similarity(va.e, vb.e), 4) + 0.0 AS cosine
        FROM cand JOIN v va ON va._id = cand.id_a JOIN v vb ON vb._id = cand.id_b
    ) WHERE cosine >= 0.4
    """.replace("{tables}", _SRP_TABLES),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: multi-table SRP-LSH candidates + exact
    cosine ≥ 0.4 rerank (~60 true pairs exist at sf0.01). Fully
    deterministic — the 48 seeded planes are embedded in the oracle SQL,
    so DuckDB replays candidate generation table by table. ``dim`` comes
    from schema metadata — no driver job to rediscover it."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_cosine_dups(
        emb, threshold=0.4, n_planes=4, n_tables=12, dim=EMBEDDING_DIM
    )


@register(
    "dedup_embedding_cosine_collapsed",
    oracle="""
    WITH v AS (SELECT vec_id AS _id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS ({tables}),
    cand AS (
        SELECT DISTINCT a._id AS id_a, b2._id AS id_b
        FROM b a JOIN b b2
          ON a._table = b2._table AND a._bucket = b2._bucket AND a._id < b2._id
    )
    SELECT id_a, id_b, cosine FROM (
        SELECT id_a, id_b,
               ROUND(list_cosine_similarity(va.e, vb.e), 4) + 0.0 AS cosine
        FROM cand JOIN v va ON va._id = cand.id_a JOIN v vb ON vb._id = cand.id_b
    ) WHERE cosine >= 0.4
    """.replace("{tables}", _SRP_TABLES),
)
def dedup_embedding_cosine_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``collapse_exact=True`` path of embedding_cosine_dups under
    the SAME oracle as dedup_embedding_cosine: byte-identical vectors
    collapse to one representative before LSH, pairs expand afterwards
    (sub-cap groups exactly — chunked-clique beyond; see
    _expand_collapsed_pairs). Since r8 the operator picks the path
    itself (``collapse_exact="auto"`` dup-mass probe); this entry
    forces the collapse ON so the machinery stays under the driver's
    hash gate even on the clone-free driver corpus, where the probe
    would choose direct — the trade stays a flag, not a fork."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_cosine_dups(
        emb,
        threshold=0.4,
        n_planes=4,
        n_tables=12,
        dim=EMBEDDING_DIM,
        collapse_exact=True,
    )


# ---------------------------------------------------------------------------
# Fenced path pins for the r8 adaptive collapse (VERDICT r7 #1): the main
# dedup_* entries now run collapse_exact="auto" — a dup-mass probe picks
# direct vs collapsed per corpus. These entries FORCE each path under the
# same oracle as their adaptive twin, so both code paths stay hash-gated
# at driver scale no matter which one the probe would choose (the driver
# corpus is clone-free, so the adaptive entries exercise direct there and
# the *_collapsed pins are what keep the collapse machinery oracled).
# ---------------------------------------------------------------------------


@register(
    "dedup_simhash_direct", oracle=QUERIES["dedup_simhash"].oracle
)
def dedup_simhash_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_simhash`` with the dup-mass probe forced OFF — the
    fenced direct-path pin under the same fully-replayed oracle (the
    probe itself never changes emitted pairs below the expansion cap;
    this entry proves it by hash equality)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_candidates(
        docs, band_bits=15, collapse_exact=False
    ).filter(F.col("hamming") <= 8)


@register(
    "dedup_simhash_collapsed", oracle=QUERIES["dedup_simhash"].oracle
)
def dedup_simhash_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_simhash`` with the clone collapse forced ON — identical
    texts collapse before fingerprinting and pairs re-expand (exact for
    groups ≤ max_bucket), so the hash gate pins collapsed ≡ direct on
    the driver corpus under the one shared oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_candidates(
        docs, band_bits=15, collapse_exact=True
    ).filter(F.col("hamming") <= 8)


@register(
    "dedup_simhash_clusters",
    oracle="""
    WITH RECURSIVE pairs AS ({base}),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, comp) AS (
        SELECT src, src FROM und
        UNION
        SELECT u.dst, w.comp FROM walk w JOIN und u ON u.src = w.node
    )
    SELECT node, MIN(comp) AS comp FROM walk GROUP BY node
    """.replace("{base}", QUERIES["dedup_simhash"].oracle),
)
def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labels over the ``dedup_simhash`` pair set (hamming ≤ 8)
    via ``simhash_components`` — the fingerprint-modality labels API.
    Pins the quotient-graph branch this modality alone exercises:
    intra-membership is the FULL member map (every text fingerprints,
    identical texts are always Hamming 0), unlike the shingle- /
    norm-qualified twins. Oracle = the replayed simhash pair SQL fed
    through the same recursive-CTE reachability the survivor oracles
    use."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_components(
        docs, band_bits=15, max_hamming=8
    )


@register(
    "dedup_ngram_jaccard_direct", oracle=QUERIES["dedup_ngram_jaccard"].oracle
)
def dedup_ngram_jaccard_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_ngram_jaccard`` with the dup-mass probe forced OFF (the
    fenced direct inverted-index path, same all-pairs oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, shingle_n=3, threshold=0.5, collapse_exact=False
    )


@register(
    "dedup_ngram_jaccard_collapsed", oracle=QUERIES["dedup_ngram_jaccard"].oracle
)
def dedup_ngram_jaccard_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_ngram_jaccard`` with the clone collapse forced ON —
    member-weighted df pruning (ADVICE r7) keeps pruning decisions
    identical to the direct path, so the shared oracle hash-matches
    both ways."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, shingle_n=3, threshold=0.5, collapse_exact=True
    )


@register(
    "dedup_embedding_cosine_direct",
    oracle=QUERIES["dedup_embedding_cosine"].oracle,
)
def dedup_embedding_cosine_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_embedding_cosine`` with the dup-mass probe forced OFF —
    the fenced direct SRP-LSH path (its forced-ON twin is
    ``dedup_embedding_cosine_collapsed``); same seeded-plane oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_cosine_dups(
        emb,
        threshold=0.4,
        n_planes=4,
        n_tables=12,
        dim=EMBEDDING_DIM,
        collapse_exact=False,
    )


@register(
    "semantic_dedup_survivors",
    oracle="""
    WITH RECURSIVE
    v AS (SELECT vec_id AS _id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS ({tables}),
    cand AS (
        SELECT DISTINCT a._id AS id_a, b2._id AS id_b
        FROM b a JOIN b b2
          ON a._table = b2._table AND a._bucket = b2._bucket AND a._id < b2._id
    ),
    pairs AS (
        SELECT id_a, id_b FROM (
            SELECT id_a, id_b,
                   ROUND(list_cosine_similarity(va.e, vb.e), 4) + 0.0 AS cosine
            FROM cand JOIN v va ON va._id = cand.id_a
                      JOIN v vb ON vb._id = cand.id_b
        ) WHERE cosine >= 0.4
    ),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, comp) AS (
        SELECT src, src FROM und
        UNION
        SELECT u.dst, w.comp FROM walk w JOIN und u ON u.src = w.node
    ),
    lab AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node),
    sizes AS (SELECT comp, COUNT(*) AS sz FROM lab GROUP BY comp)
    SELECT e.vec_id, CAST(COALESCE(s.sz, 1) AS BIGINT) AS cluster_size
    FROM embeddings e
    LEFT JOIN lab l ON l.node = e.vec_id
    LEFT JOIN sizes s ON s.comp = e.vec_id
    WHERE l.node IS NULL OR l.comp = e.vec_id
    """.replace("{tables}", _SRP_TABLES),
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning end-to-end (Abbas et al. 2023,
    arXiv:2303.09540): embedding near-dup pairs (seeded multi-table
    SRP-LSH + exact cosine rerank, same machinery as
    `dedup_embedding_cosine`) → connected components → keep exactly ONE
    representative per semantic cluster (the min vec_id) plus every
    unclustered vector. Returns the SURVIVING corpus with each
    survivor's ``cluster_size`` (how many near-duplicates it stands in
    for; 1 = unique), i.e. the row set a pipeline would join back onto
    the documents to materialize the deduplicated training corpus.

    Fully deterministic — seeded planes are embedded in the oracle, and
    component labels are order-free minima — so unlike the paper's
    k-means formulation this composition carries a complete value hash
    oracle (candidate generation, rerank, and reachability all replayed
    in SQL, the component step as a recursive CTE).

    Scale shape: the pair stage is the capped LSH equi-join (never
    all-pairs); components run min-label propagation + pointer jumping
    over the PAIR set only (tiny vs the corpus — empty for unique
    vectors, which skip the iteration entirely via the final left
    join); the survivor filter is one broadcast-size join of labels
    back onto the id column. Raw vectors never enter the iterative
    stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Component labels straight from the QUOTIENT graph (r8,
    # operators/dedup.embedding_cosine_components): byte-identical
    # vectors collapse before the LSH tables and connected components
    # iterate over one node per DISTINCT vector — the cap-chunked
    # clique expansion the pair API would feed CC (18.16M edges at the
    # r8 sf10 checkpoint's 100-deep clones) never materializes. Labels,
    # and therefore survivors + cluster sizes, are byte-identical
    # (oracle unchanged; equality pinned in tests/test_quotient_components.py).
    lab = D.embedding_cosine_components(
        emb,
        threshold=0.4,
        n_planes=4,
        n_tables=12,
        dim=EMBEDDING_DIM,
    )
    # sizes.comp values are representative ids (all present in lab), so a
    # singleton's vec_id can never collide with another cluster's label.
    sizes = lab.groupBy("comp").agg(F.count(F.lit(1)).alias("sz")).select(
        F.col("comp").alias("rep"), "sz"
    )
    ids = emb.select("vec_id")
    return (
        ids.join(lab, ids.vec_id == lab.node, "left")
        .filter(F.col("node").isNull() | (F.col("comp") == F.col("vec_id")))
        .join(sizes, F.col("rep") == F.col("vec_id"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("sz"), F.lit(1)).cast("long").alias("cluster_size"),
        )
    )


@register(
    "lexical_dedup_survivors",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(t) >= 3
                        THEN list_transform(range(1, len(t) - 1),
                                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                        ELSE CAST([] AS VARCHAR[]) END
               ) AS s
        FROM toks
    ),
    pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.s, b.s))
                       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.5
    ),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, comp) AS (
        SELECT src, src FROM und
        UNION
        SELECT u.dst, w.comp FROM walk w JOIN und u ON u.src = w.node
    ),
    lab AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node),
    sizes AS (SELECT comp, COUNT(*) AS sz FROM lab GROUP BY comp)
    SELECT d.doc_id, CAST(COALESCE(s.sz, 1) AS BIGINT) AS cluster_size
    FROM documents d
    LEFT JOIN lab l ON l.node = d.doc_id
    LEFT JOIN sizes s ON s.comp = d.doc_id
    WHERE l.node IS NULL OR l.comp = d.doc_id
    """,
)
def lexical_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical near-dedup end-to-end: exact 3-gram Jaccard ≥ 0.5 pairs
    (df-pruned inverted-index join, `dedup_ngram_jaccard` machinery) →
    connected components → keep the min-doc_id representative of each
    near-dup cluster plus every unique document. The TEXT member of the
    survivor family (`semantic_dedup_survivors` is the embedding
    member; exact dedup the byte member) — together the three
    modalities a corpus pipeline actually runs. Same scale shape as the
    semantic twin: candidate generation is an equi-join, the iterative
    step sees only the pair set, survivors come from one label join."""
    docs = load_table(spark, sf_dir, "documents")
    # Quotient-graph component labels (r8, see
    # ngram_jaccard_components): clone clusters cost the component
    # stage O(distinct texts) — no clique expansion, labels
    # byte-identical to CC over the pair API (oracle unchanged)
    lab = D.ngram_jaccard_components(docs, shingle_n=3, threshold=0.5)
    sizes = lab.groupBy("comp").agg(F.count(F.lit(1)).alias("sz")).select(
        F.col("comp").alias("rep"), "sz"
    )
    ids = docs.select("doc_id")
    return (
        ids.join(lab, ids.doc_id == lab.node, "left")
        .filter(F.col("node").isNull() | (F.col("comp") == F.col("doc_id")))
        .join(sizes, F.col("rep") == F.col("doc_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("sz"), F.lit(1)).cast("long").alias("cluster_size"),
        )
    )


# ---------------------------------------------------------------------------
# Similarity search (M4).
# ---------------------------------------------------------------------------

_COS = "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"


@register(
    "similarity_topk_bruteforce",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({_COS}, 6) + 0.0 AS cosine,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND({_COS}, 6) DESC, c.vec_id ASC
               ) AS rn
        FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 5) q
    ) WHERE rn <= 10
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors — broadcast queries,
    stream the corpus, per-query heap ranking."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk(emb, queries, k=10, query_id_col="query_id")


@register(
    "similarity_topk_lsh",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cb AS (SELECT vec_id AS neighbor_id, e AS cv, {_LSH6} AS bucket FROM v),
    qb AS (SELECT neighbor_id AS query_id, cv AS qv, bucket FROM cb WHERE neighbor_id < 5),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND(list_cosine_similarity(qv, cv), 6) + 0.0 AS cosine
        FROM cb JOIN qb USING (bucket)
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM scored
    ) WHERE rn <= 10
    """,
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via SRP-LSH bucket join + exact rerank.
    Approximate w.r.t. brute force, but an exact function of its input:
    the seeded planes are embedded in the oracle SQL as literals, so
    DuckDB replays bucketing + rerank and the hash must match. Recall
    vs brute force is measured separately in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ann_topk_lsh(emb, queries, k=10, n_planes=6)


_SRP24 = S._plane_literals(64, 6 * 4, 42)
_LSH_MT_TABLES = "\n        UNION ALL\n        ".join(
    f"SELECT vec_id, e, {t} AS _table, {_srp_bucket_sql('e', _SRP24, t * 6, 6)} AS _bucket FROM v"
    for t in range(4)
)


@register(
    "similarity_topk_lsh_multi",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    tb AS (
        {_LSH_MT_TABLES}
    ),
    cb AS (SELECT vec_id AS neighbor_id, e AS cv, _table, _bucket FROM tb),
    qb AS (SELECT vec_id AS query_id, e AS qv, _table, _bucket FROM tb WHERE vec_id < 5),
    cand AS (
        SELECT DISTINCT query_id, neighbor_id,
               ROUND(list_cosine_similarity(qv, cv), 6) + 0.0 AS cosine
        FROM cb JOIN qb USING (_table, _bucket)
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM cand
    ) WHERE rn <= 10
    """,
)
def similarity_topk_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table SRP-LSH top-10: 4 independent 6-plane tables, the
    candidate set is the union of the per-table bucket joins (one
    (table, bucket) equi-join), deduplicated before the ranking cut.
    Same exact-function-of-input property as the single-table form —
    the 24 seeded planes are embedded in the oracle SQL, so DuckDB
    replays all four tables, the DISTINCT pair-dedup and the rerank,
    and the hash must match. Recall vs brute force (higher than the
    single-table entry by construction) is measured in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ann_topk_lsh(emb, queries, k=10, n_planes=6, n_tables=4, dim=64)


@register(
    "similarity_topk_arrow",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({_COS}, 6) + 0.0 AS cosine,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND({_COS}, 6) DESC, c.vec_id ASC
               ) AS rn
        FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 5) q
    ) WHERE rn <= 10
    """,
)
def similarity_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow GEMM top-k (the zero-copy panel scan — completes the
    Python-execution surface: pandas_udf, mapInPandas, applyInPandas,
    applyInPandasWithState, cogroup applyInPandas, mapInArrow). Shares
    the brute-force oracle: identical results, different transport."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk_arrow(emb, queries, k=10)


@register(
    "similarity_topk_pandas",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({_COS}, 6) + 0.0 AS cosine,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND({_COS}, 6) DESC, c.vec_id ASC
               ) AS rn
        FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 5) q
    ) WHERE rn <= 10
    """,
)
def similarity_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME exact top-10 as similarity_topk_bruteforce, computed by
    the GEMM panel scan (``brute_force_topk_arrow``, the one numpy
    kernel for exact top-k) — sharing the brute-force oracle proves the
    vectorized path bit-matches the expression path (up to the stated
    1e-6 rounding). Kept under its old name, which it had when a
    separate mapInPandas twin ran it."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk_arrow(emb, queries, k=10, query_id_col="query_id")


@register(
    "hard_negative_mining",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC
               ) AS rn
        FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND({_COS}, 6) + 0.0 AS cosine
            FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 5) q
        ) WHERE cosine < 0.4
    ) WHERE rn <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each anchor, the 5 CLOSEST vectors strictly below the near-dup
    threshold (cosine < 0.4) — similar enough to be informative
    negatives, distant enough to not be positives (the near-dup band at
    ≥ 0.4 belongs to `dedup_embedding_cosine`; self-matches at 1.0 fall
    out with it). Runs on the same GEMM panel scan as
    `similarity_topk_arrow` with the ceiling applied to the rounded
    score inside the kernel, BEFORE the local top-k cut — filtering
    after a plain top-k would lose every negative outranked by the
    anchor's duplicates. Shuffle stays ≤ k rows per anchor per batch."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk_arrow(
        emb, queries, k=5, query_id_col="query_id", max_cosine=0.4
    )


@register(
    "similarity_topk_ivf",
    oracle="""
    WITH cents AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid,
               list_transform(
                   CAST(embedding AS DOUBLE[]),
                   x -> x / greatest(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                           CAST(embedding AS DOUBLE[]))), 1e-12)
               ) AS c
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    corpus AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    cassign AS (
        SELECT neighbor_id, cv, cid,
               row_number() OVER (PARTITION BY neighbor_id
                                  ORDER BY list_dot_product(cv, c) DESC, cid DESC) AS rn
        FROM corpus CROSS JOIN cents
    ),
    clists AS (SELECT neighbor_id, cv, cid AS list_id FROM cassign WHERE rn = 1),
    qs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
    qassign AS (
        SELECT query_id, qv, cid,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY list_dot_product(qv, c) DESC, cid DESC) AS rn
        FROM qs CROSS JOIN cents
    ),
    qlists AS (SELECT query_id, qv, cid AS list_id FROM qassign WHERE rn <= 4),
    scored AS (
        SELECT DISTINCT q.query_id, c.neighbor_id,
               ROUND(list_cosine_similarity(q.qv, c.cv), 6) + 0.0 AS cosine
        FROM clists c JOIN qlists q USING (list_id)
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM scored
    ) WHERE rn <= 10
    """,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF coarse quantization (nlist inverted
    lists, nprobe probed per query) + exact rerank. Fully deterministic
    (first-nlist-by-id quantizer, argmax-dot assignment with
    larger-cid tiebreak), so the DuckDB oracle replays the whole
    pipeline — quantizer, assignment, probing, rerank — exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk(emb, queries, k=10, nlist=16, nprobe=4)


@register("similarity_topk_ivf_kmeans", oracle=None)
def similarity_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 with TRAINED centroids: DISTRIBUTED spherical k-means
    over the whole corpus (`similarity.kmeans_centroids_lloyd` — exact-
    integer Lloyd rounds on unit-normalized vectors, only the nlist×dim
    centroid table ever reaches the driver) replaces the degenerate
    first-nlist quantizer with data-adaptive cells: recall@10 0.86 on
    the sf0.01 audit panel and 0.88 at sf0.001 (floor 0.8 pinned in
    tests/test_scale_guards.py). On this near-uniform synthetic corpus
    the degenerate quantizer recalls 0.92 at the same nprobe; the
    trained cells win on clustered data (also pinned there).
    Exact-integer shuffles keep the result partition-deterministic, but
    k-means itself is not SQL-expressible → rows-only check."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = S.kmeans_centroids_lloyd(emb, nlist=16, iters=5)
    return S.ivf_topk(emb, queries, k=10, nprobe=4, centroids=cents)


# ---------------------------------------------------------------------------
# Text analysis (M4) — full SQL oracle parity.
# ---------------------------------------------------------------------------

_TOKS_RAW = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
_TOKS = (
    "list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')),"
    " '\\s+'), x -> x <> '')"
)
_STOPS = "('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that')"
_MARK = {
    "en": "('the','and','of','to','is')",
    "fr": "('le','la','et','les','des')",
    "de": "('der','die','und','das','ist')",
    "es": "('el','los','las','y','es')",
}


@register(
    "text_stats",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len({_TOKS_RAW}) AS n_tokens_ws,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe,
               {_TOKS} AS toks,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
                    ELSE 0.0 END AS punct,
               substr(md5({_CANON}), 1, 16) AS fingerprint
        FROM documents
    ), scored AS (
        SELECT doc_id, n_chars, n_tokens_ws, n_tokens_bpe, punct, fingerprint,
               len(toks) AS n_tok,
               CASE WHEN len(toks) > 0
                    THEN len(list_filter(toks, t -> t IN {_STOPS})) / len(toks)
                    ELSE 0.0 END AS stop,
               len(list_filter(toks, t -> t IN {_MARK['en']})) AS s_en,
               len(list_filter(toks, t -> t IN {_MARK['fr']})) AS s_fr,
               len(list_filter(toks, t -> t IN {_MARK['de']})) AS s_de,
               len(list_filter(toks, t -> t IN {_MARK['es']})) AS s_es
        FROM base
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_tokens_ws AS INT) AS n_tokens_ws,
           CAST(n_tokens_bpe AS INT) AS n_tokens_bpe,
           ROUND(stop, 4) AS stopword_ratio,
           ROUND(punct, 4) AS punct_ratio,
           ROUND((least(n_tok / 100.0, 1.0)
                  + greatest(1.0 - abs(stop - 0.4) / 0.4, 0.0)
                  + (1.0 - least(punct * 5, 1.0))) / 3, 4) AS quality,
           CASE WHEN greatest(s_en, s_fr, s_de, s_es) <= 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
                WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
                WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
                WHEN s_es = greatest(s_en, s_fr, s_de, s_es) THEN 'es'
                ELSE 'und' END AS lang_pred,
           fingerprint
    FROM scored
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID + quality + token counts + fingerprint in one
    projection pass (operators.textstats.document_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    out = TS.document_stats(docs)
    # n_chars recomputed from text (matches the documents.n_chars column
    # by construction, but we don't rely on it)
    return out


@register(
    "langid_confusion_matrix",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               len(list_filter({_TOKS}, t -> t IN {_MARK['en']})) AS s_en,
               len(list_filter({_TOKS}, t -> t IN {_MARK['fr']})) AS s_fr,
               len(list_filter({_TOKS}, t -> t IN {_MARK['de']})) AS s_de,
               len(list_filter({_TOKS}, t -> t IN {_MARK['es']})) AS s_es
        FROM documents
    )
    SELECT lang AS lang_true,
           CASE WHEN greatest(s_en, s_fr, s_de, s_es) <= 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
                WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
                WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
                WHEN s_es = greatest(s_en, s_fr, s_de, s_es) THEN 'es'
                ELSE 'und' END AS lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored GROUP BY 1, 2
    """,
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation readout for the heuristic language ID:
    predicted vs labeled language as a confusion matrix (one count per
    (true, pred) cell) — the accuracy/coverage audit a pipeline runs
    before trusting a classifier to gate a corpus (here it quantifies
    exactly how weak marker-word lang-ID is on synthetic text: most
    mass lands in the 'und' column). One projection pass + one tiny
    hash aggregate; the #langs² result broadcasts anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("lang_true"),
            TS.lang_id(F.col("text")).alias("lang_pred"),
        )
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@register(
    "langid_kappa_agreement",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               len(list_filter({_TOKS}, t -> t IN {_MARK['en']})) AS s_en,
               len(list_filter({_TOKS}, t -> t IN {_MARK['fr']})) AS s_fr,
               len(list_filter({_TOKS}, t -> t IN {_MARK['de']})) AS s_de,
               len(list_filter({_TOKS}, t -> t IN {_MARK['es']})) AS s_es
        FROM documents
    ),
    pred AS (
        SELECT lang AS lt,
               CASE WHEN greatest(s_en, s_fr, s_de, s_es) <= 0 THEN 'und'
                    WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
                    WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
                    WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
                    WHEN s_es = greatest(s_en, s_fr, s_de, s_es) THEN 'es'
                    ELSE 'und' END AS lp
        FROM scored
    ),
    cells AS (SELECT lt, lp, COUNT(*) AS n FROM pred GROUP BY 1, 2),
    rows_t AS (SELECT lt AS cls, CAST(SUM(n) AS BIGINT) AS rt
               FROM cells GROUP BY 1),
    cols_t AS (SELECT lp AS cls, CAST(SUM(n) AS BIGINT) AS ct
               FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
                   CAST(COALESCE(SUM(n) FILTER (WHERE lt = lp), 0) AS BIGINT)
                       AS agree
            FROM cells),
    pe AS (SELECT CAST(SUM(COALESCE(rt, 0) * COALESCE(ct, 0)) AS BIGINT)
                      AS pe_num
           FROM rows_t FULL JOIN cols_t USING (cls))
    SELECT n_docs, agree, pe_num,
           ROUND(CAST(n_docs * agree - pe_num AS DOUBLE)
                 / NULLIF(CAST(n_docs * n_docs - pe_num AS DOUBLE), 0), 9)
               AS kappa
    FROM tot CROSS JOIN pe
    """,
)
def langid_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the heuristic lang-ID and the stored label
    — chance-corrected agreement, the honest summary of the confusion
    matrix when class priors are skewed (accuracy alone overstates a
    classifier that just predicts the majority class).

    Exact integer arithmetic end-to-end: with n = total docs,
    agree = Σ diag cells, pe_num = Σ_class row_total·col_total,
    ``kappa = (n·agree − pe_num) / (n² − pe_num)`` — both numerator and
    denominator are emitted as BIGINTs (n² ≈ 3.6·10¹¹ at sf1, far
    inside 2⁶³) and the single float division is final + ROUNDed.

    Scale shape: one projection pass + a #langs²-cell aggregate; the
    row/col marginals and the kappa combine are joins between frames
    bounded by the language vocabulary (≤ 5 classes), so the 1-row
    combine is the pinned scalar-join shape, never data-sized."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            F.col("lang").alias("lt"), TS.lang_id(F.col("text")).alias("lp")
        )
        .groupBy("lt", "lp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows_t = cells.groupBy(F.col("lt").alias("cls")).agg(F.sum("n").alias("rt"))
    cols_t = cells.groupBy(F.col("lp").alias("cls")).agg(F.sum("n").alias("ct"))
    tot = cells.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.coalesce(
            F.sum(F.when(F.col("lt") == F.col("lp"), F.col("n"))), F.lit(0)
        )
        .cast("long")
        .alias("agree"),
    )
    pe = (
        rows_t.join(cols_t, "cls", "full_outer")
        .agg(
            F.sum(
                F.coalesce(F.col("rt"), F.lit(0))
                * F.coalesce(F.col("ct"), F.lit(0))
            )
            .cast("long")
            .alias("pe_num")
        )
    )
    # 1-row × 1-row combine (pinned scalar-join shape)
    return tot.crossJoin(pe).select(
        "n_docs",
        "agree",
        "pe_num",
        F.round(
            (F.col("n_docs") * F.col("agree") - F.col("pe_num")).cast("double")
            / F.nullif(
                (F.col("n_docs") * F.col("n_docs") - F.col("pe_num")).cast(
                    "double"
                ),
                F.lit(0.0),
            ),
            9,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Temporal operators: as-of join, sessionization, tumbling windows (M5).
# ---------------------------------------------------------------------------


@register(
    "asof_join_purchases",
    oracle="""
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           ROUND(p.value, 2) AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (
        SELECT user_id, ts, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
            FROM events WHERE event_type = 'purchase'
        ) WHERE rn = 1
    ) p ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event gets the user's most recent
    at-or-before purchase value. Union + fill-forward window — one
    shuffle, no range-join blow-up. DuckDB's native ASOF JOIN is the
    oracle."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = keep_first(
        events.filter(F.col("event_type") == "purchase"),
        ["user_id", "ts"],
        [F.col("event_id")],
    ).select("user_id", "ts", F.col("value").alias("last_purchase_value"))
    joined = as_of_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_purchase_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("last_purchase_value", 2).alias("last_purchase_value"),
    )


@register(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM flagged
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): lag + running sum windows
    (batch twin of session_window)."""
    events = load_table(spark, sf_dir, "events")
    return sessionize_batch(events, gap_minutes=30).select(
        "user_id", "event_id", "session_seq"
    )


_TUMBLING_ORACLE = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
"""


@register("tumbling_window_agg", oracle=_TUMBLING_ORACLE)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate — batch form of the streaming
    operator (same function composes onto readStream)."""
    events = load_table(spark, sf_dir, "events")
    return tumbling_agg(events, window="1 hour")


@register("streaming_tumbling_agg", oracle=_TUMBLING_ORACLE)
def streaming_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME aggregation run through Structured Streaming (file
    source → watermark → windowed agg → memory sink, driven to
    completion). Matching the batch oracle proves stream/batch
    semantic equivalence."""
    return run_streaming_tumbling_agg(spark, sf_dir, window="1 hour")


@register(
    "sliding_window_agg",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM (
        SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                       time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws,
               event_type, value
        FROM events
    ) GROUP BY 1, 2
    """,
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window / 30 min slide): every event lands in
    exactly two windows. The oracle states that expansion explicitly
    (unnest of the two bucket starts); Spark's window() generates the
    same assignment. Composes onto readStream unchanged."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "session_window_agg",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM sessions GROUP BY user_id, sid
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (10-min gap) aggregation — Spark merges
    events into variable-length sessions; the oracle derives identical
    sessions via the lag/cumsum construction. The same groupBy composes
    onto readStream for stateful streaming sessionization."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "10 minutes").alias("win"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "stateful_user_totals_stream",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
               AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stateful_user_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: applyInPandasWithState keeps
    per-user (count, total) accumulators across micro-batches.

    Despite the custom state, a plain SQL oracle holds: the accumulator
    is integer cents (exact, order-independent addition), so the final
    per-user state equals the batch GROUP BY no matter how the file
    source slices micro-batches. The oracle rounds to cents per row the
    same way (2-decimal money => value*100 is integer +- fp error; no .5
    ties, so pandas' half-even and SQL's half-up agree). Batch
    equivalence is also asserted in tests/test_skew_and_streaming.py."""
    from esther_apache_spark_spark.streaming.events import running_user_totals_stream

    return running_user_totals_stream(spark, sf_dir)


@register(
    "json_parse_props",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k,
           TRY_CAST(json_extract_string(props, '$.n') AS BIGINT) AS n,
           (json_extract_string(props, '$.k') IS NOT NULL) AS has_k
    FROM events
    """,
)
def json_parse_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit schema (the declared-schema form of the
    reference's reader-level JSON parsing): parse the props column into a
    struct once, then project typed fields."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn(
        "_p", F.from_json("props", "k string, n long")
    )
    return parsed.select(
        "event_id",
        F.col("_p.k").alias("k"),
        F.col("_p.n").alias("n"),
        F.col("_p.k").isNotNull().alias("has_k"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (stubbed codecs — see operators.multimodal).
# ---------------------------------------------------------------------------


@register(
    "multimodal_fake_features",
    oracle="""
    SELECT doc_id AS media_id,
           'image' AS kind,
           CAST(16 AS INT) AS feat_dim,
           round(CAST(('0x' || substr(sha256(text || '0'), 1, 2))::INT AS DOUBLE)
                 / 255, 6) AS feat0
    FROM documents
    """,
)
def multimodal_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media pipeline plumbing over synthetic media rows (documents text
    encoded as binary payloads): mapInPandas Arrow batches -> deterministic
    fake decode -> fixed-dim feature vectors.

    Oracled end-to-end: the deterministic fake is sha256(payload || ascii
    counter) expanded to floats in [0,1), which DuckDB replays exactly
    (feat0 = first digest byte / 255 rounded to 6; the float32 storage
    round-trips 6-decimal values in [0,1) since eps/2 ~ 6e-8 < 5e-7).
    Only the innermost codec call is a stub -- the Arrow batch plumbing,
    schema, and partitioning the oracle exercises are the real path."""
    from esther_apache_spark_spark.operators.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("image/fake").alias("mime"),
    )
    feats = extract_features(media, fake=True)
    return feats.select(
        "media_id",
        "kind",
        "feat_dim",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("feat0"),
    )


@register(
    "multimodal_jvm_png_features",
    oracle="""
    SELECT doc_id AS media_id, 'image' AS kind, CAST(16 AS INT) AS feat_dim,
           round(list_sum(list_transform(range(16),
                 i -> ('0x' || substr(sha256(text || '0'), 1 + 2*i, 2))::INT))
                 / (255.0 * 16), 6) AS feat0,
           round(list_sum(list_transform(range(16),
                 i -> ('0x' || substr(sha256(text || '7'), 33 + 2*i, 2))::INT))
                 / (255.0 * 16), 6) AS feat15
    FROM documents
    """,
)
def multimodal_jvm_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode end-to-end (r8, VERDICT r7 #4):
    deterministic 16×16 gray-as-RGB pixels (sha256(text||counter)
    expansion — the ``_fake_features`` byte construction, as pixels) are
    PNG-encoded with the stdlib zlib encoder, spilled to files, decoded
    by Spark's built-in JVM ``image`` source (ImageIO — no Python image
    libraries involved), and block-pooled by the same ``image_features``
    the stdlib codecs feed. PNG is lossless and the pixels are
    hash-derived, so DuckDB replays the DECODED features exactly:
    feat_i = Σ(16 digest bytes)/(255·16) — feat0 from digest 0's first
    half, feat15 from digest 7's second half. A hash match here proves
    encoder → ImageIO → BGR→RGB → pooling bit-exact, not just plumbing.
    (Never lands on a round-half boundary: 400·Σb ≡ 2040 (mod 4080) has
    no solution, so Python/DuckDB tie-break styles can't diverge.)"""
    import hashlib
    from collections.abc import Iterator as _It

    import numpy as np
    import pandas as pd

    from esther_apache_spark_spark.operators.multimodal import (
        encode_png,
        jvm_image_features,
    )

    docs = load_table(spark, sf_dir, "documents")

    def make_png(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                b = b"".join(
                    hashlib.sha256(
                        str(text).encode() + str(c).encode()
                    ).digest()
                    for c in range(8)
                )
                v = np.frombuffer(b, dtype=np.uint8).reshape(16, 16)
                payloads.append(encode_png(np.repeat(v[:, :, None], 3, axis=2)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "payload": payloads,
                    "mime": "image/png",
                }
            )

    media = docs.select("doc_id", "text").mapInPandas(
        make_png,
        "media_id long, kind string, payload binary, mime string",
    )
    feats = jvm_image_features(media)
    return feats.select(
        "media_id",
        "kind",
        "feat_dim",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("feat0"),
        F.round(F.element_at("features", 16).cast("double"), 6).alias("feat15"),
    )


# ---------------------------------------------------------------------------
# End-to-end training-corpus pipeline: quality gate -> exact dedup ->
# embedding join. The composed shape a 100 TB data pipeline actually runs;
# each stage individually verified above, composed here under one oracle.
# ---------------------------------------------------------------------------


@register(
    "training_corpus_pipeline",
    oracle="""
    WITH kept AS (
        SELECT doc_id, lang, n_chars, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
        WHERE n_chars >= 100 AND lang IN ('en', 'fr', 'de')
    )
    SELECT k.doc_id, k.lang, CAST(k.n_chars AS BIGINT) AS n_chars,
           CAST(ROUND(sqrt(list_sum(list_transform(e.embedding,
                                                   x -> CAST(x AS DOUBLE) * x))), 4)
               AS DOUBLE) AS l2_norm
    FROM kept k JOIN embeddings e ON k.doc_id = e.vec_id
    WHERE k.rn = 1
    """,
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pipeline: language/length quality gate (P7/P8) → exact
    content dedup keep-first (W1 generalized, md5 so only 16-byte keys
    shuffle) → join to the embeddings table → per-doc L2 norm via a
    codegen'd higher-order fold. At 100 TB: the quality filter pushes to
    the scan, the dedup shuffles hashes not bodies, and the join is a
    plain equi-join on the id both tables share (co-partitionable /
    bucketable by doc_id)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("n_chars") >= 100) & F.col("lang").isin("en", "fr", "de")
    )
    kept = keep_first(
        docs.withColumn("_h", F.md5(F.col("text").cast("binary"))),
        ["_h"],
        [F.col("doc_id")],
    )
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        kept.join(emb, kept.doc_id == emb.vec_id)
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round(norm, 4).alias("l2_norm"),
        )
    )


_QC_SCORE_CTES = """
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    b AS (SELECT doc_id,
                 CAST(CONCAT('0x', substr(md5('qc:' || tok), 1, 15)) AS BIGINT) % 4096 AS bucket
          FROM tok),
    w AS (SELECT doc_id,
                 ((CAST(CONCAT('0x', substr(md5('qcw:' || CAST(bucket AS VARCHAR)), 1, 15)) AS BIGINT) % 2049) - 1024) / 1024.0 AS weight
          FROM b),
    agg AS (SELECT doc_id, SUM(weight) AS sw, CAST(COUNT(*) AS BIGINT) AS n
            FROM w GROUP BY doc_id)
"""


@register(
    "quality_classifier_score_docs",
    oracle=f"""
    WITH toks AS ({_TOKS_CTE}),
    {_QC_SCORE_CTES},
    base AS (SELECT doc_id FROM documents WHERE text IS NOT NULL)
    SELECT b.doc_id, COALESCE(n, 0) AS n_tokens,
           COALESCE(sw / n, 0.0) AS score,
           COALESCE(sw / n, 0.0) / (1 + abs(COALESCE(sw / n, 0.0))) AS quality,
           COALESCE(sw / n, 0.0) > 0 AS keep
    FROM base b LEFT JOIN agg USING (doc_id)
    """,
)
def quality_classifier_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (fasttext/CCNet-style linear scorer):
    token → md5 hash bucket → broadcast weight table (bounded by the
    n_buckets model constant) → per-doc mean → rational squash
    z/(1+|z|). Weights are exact dyadic rationals (k/1024), so sums are
    reduction-order-independent and the oracle matches with NO rounding
    — the whole model inference replays bit-for-bit in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    w = TS.quality_classifier_weights(spark)
    return TS.quality_classifier_score(docs, w)


@register(
    "training_corpus_pipeline_gated",
    oracle=f"""
    WITH toks AS ({_TOKS_CTE}),
    {_QC_SCORE_CTES},
    qc AS (SELECT doc_id FROM agg WHERE sw / n > 0),
    kept AS (
        SELECT d.doc_id, d.lang, d.n_chars, d.text,
               row_number() OVER (PARTITION BY d.text ORDER BY d.doc_id) AS rn
        FROM documents d JOIN qc USING (doc_id)
        WHERE d.n_chars >= 100 AND d.lang IN ('en', 'fr', 'de')
    )
    SELECT k.doc_id, k.lang, CAST(k.n_chars AS BIGINT) AS n_chars,
           CAST(ROUND(sqrt(list_sum(list_transform(e.embedding,
                                                   x -> CAST(x AS DOUBLE) * x))), 4)
               AS DOUBLE) AS l2_norm
    FROM kept k JOIN embeddings e ON k.doc_id = e.vec_id
    WHERE k.rn = 1
    """,
)
def training_corpus_pipeline_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``training_corpus_pipeline`` with the model-based quality gate
    composed in front (the optional classifier stage of the corpus
    pipeline): docs failing the linear classifier (score ≤ 0) never
    reach the dedup/join stages. The gate is a semi-join against the
    classifier's keep set — at 100 TB the broadcast weight lookup and
    the mean are linear, and everything downstream operates on the
    filtered minority."""
    docs = load_table(spark, sf_dir, "documents")
    w = TS.quality_classifier_weights(spark)
    keep = (
        TS.quality_classifier_score(docs, w)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    gated = docs.join(keep, "doc_id", "left_semi").filter(
        (F.col("n_chars") >= 100) & F.col("lang").isin("en", "fr", "de")
    )
    kept = keep_first(
        gated.withColumn("_h", F.md5(F.col("text").cast("binary"))),
        ["_h"],
        [F.col("doc_id")],
    )
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return kept.join(emb, kept.doc_id == emb.vec_id).select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(norm, 4).alias("l2_norm"),
    )


@register(
    "stream_dedup_events",
    oracle="""
    SELECT event_id, min(user_id) AS user_id, min(event_type) AS event_type,
           CAST(min(epoch_us(ts)) AS BIGINT) AS ts_us
    FROM events GROUP BY event_id
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup driven through readStream →
    dropDuplicatesWithinWatermark → memory sink (streaming twin of
    exact_dedup; state GC'd by the watermark). event_id is unique in the
    testdata, so the streamed result equals the batch group-by oracle."""
    from esther_apache_spark_spark.streaming.events import run_stream_dedup

    return run_stream_dedup(spark, sf_dir)


@register(
    "embedding_centroids_by_label",
    oracle="""
    SELECT label, pos,
           CAST(ROUND(CAST(SUM(CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE)
                      / COUNT(*) / 1e6, 6) AS DOUBLE) AS centroid
    FROM (
      SELECT e.label, CAST(g.i AS INT) AS pos,
             CAST(e.embedding[g.i + 1] AS DOUBLE) AS x
      FROM embeddings e, LATERAL (SELECT UNNEST(range(len(e.embedding))) AS i) g
    )
    GROUP BY 1, 2
    """,
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise centroid — the building block for IVF
    coarse-quantizer training and class prototypes. Distributive form:
    posexplode to (label, pos, x) then one hash aggregate keyed on
    (label, pos) — dim× row inflation but a perfectly spread shuffle
    key and map-side partial sums; at 100 TB prefer this over
    collecting vectors anywhere. Elements are quantized to 1e-6 longs
    before summing so the aggregate is order-independent and
    cross-engine exact (double sums are neither)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.round(F.col("x").cast("double") * 1e6).cast("long")
    return (
        emb.select("label", F.posexplode(F.col("embedding")).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum(q).alias("_s"), F.count(F.lit(1)).alias("_n"))
        .select(
            "label",
            "pos",
            F.round(F.col("_s").cast("double") / F.col("_n") / 1e6, 6).alias("centroid"),
        )
    )


@register(
    "deterministic_sample_docs",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE CAST(CONCAT('0x', substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) < CAST(0.2 * 4294967296 AS BIGINT)
    """,
)
def deterministic_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample of documents by key hash — identical
    row set on any engine/partitioning (md5 is bit-identical in Spark
    and DuckDB; `df.sample`'s per-partition RNG is not). Pushes down as
    a plain filter."""
    from esther_apache_spark_spark.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.2, salt="s1").select("doc_id", "lang")


@register(
    "temperature_sample_by_lang",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    r AS (
        SELECT lang,
               pow(CAST(n AS DOUBLE), 0.5)
                   / (SELECT MAX(pow(CAST(n AS DOUBLE), 0.5)) FROM c) AS rate
        FROM c
    )
    SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
    WHERE CAST(CONCAT('0x', substr(md5('temp' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT)
          < CAST(FLOOR(rate * 4294967296) AS BIGINT)
    """,
)
def temperature_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual rebalancing (rate_l ∝ n_l^0.5,
    normalized so the largest language keeps 100%): the standard α<1
    upweighting of tail languages in a multilingual training mixture,
    with the keep-rates derived from the corpus itself — unlike
    `stratified_sample_by_lang`, whose rates are constants. The rate
    computation is a #langs-row aggregate with one pow/divide each
    (fixed op order → bit-identical doubles cross-engine), broadcast
    back as a hash-gate threshold; the sample is one pushed-down filter
    over the single scan and stable under any repartitioning."""
    from esther_apache_spark_spark.operators.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_sample(docs, "doc_id", "lang", alpha=0.5).select(
        "doc_id", "lang"
    )


@register(
    "stratified_sample_by_lang",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          < CASE lang
              WHEN 'en' THEN CAST(0.5 * 4294967296 AS BIGINT)
              WHEN 'fr' THEN CAST(0.25 * 4294967296 AS BIGINT)
              ELSE CAST(0.05 * 4294967296 AS BIGINT)
            END
    """,
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling (rebalancing a multilingual
    corpus): one scan, a CASE-chain threshold per stratum, stable under
    repartitioning — `sampleBy` without the RNG."""
    from esther_apache_spark_spark.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.5, "fr": 0.25}, default_fraction=0.05
    ).select("doc_id", "lang")


@register(
    "range_join_event_windows",
    oracle="""
    WITH iv AS (
        SELECT user_id AS iv_user, min(ts) AS iv_start,
               min(ts) + INTERVAL 2 HOUR AS iv_end
        FROM events GROUP BY user_id
    )
    SELECT iv.iv_user,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events e JOIN iv ON e.ts BETWEEN iv.iv_start AND iv.iv_end
    GROUP BY 1
    """,
)
def range_join_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join via bucketized equi-join
    (operators.rangejoin): per-user 2-hour windows starting at each
    user's first event, matched against ALL events (no equi-key — the
    case Spark would otherwise plan as BroadcastNestedLoopJoin).
    Residual BETWEEN keeps exactness; the oracle is DuckDB's native
    inequality join."""
    from esther_apache_spark_spark.operators.rangejoin import range_join

    events = load_table(spark, sf_dir, "events")
    iv = events.groupBy(F.col("user_id").alias("iv_user")).agg(
        F.min("ts").alias("iv_start")
    ).withColumn("iv_end", F.col("iv_start") + F.expr("INTERVAL 2 HOURS"))
    joined = range_join(
        events.select("ts", "value"),
        iv,
        ts_col="ts",
        start_col="iv_start",
        end_col="iv_end",
        bucket_seconds=3600,
    )
    return joined.groupBy("iv_user").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum(dec2("value"), "total_value"),
    )


@register(
    "pack_documents_into_shards",
    oracle="""
    SELECT doc_id, lang,
           CAST(floor((SUM(n_chars) OVER w - n_chars) / 20000) AS BIGINT)
               AS shard_id
    FROM documents
    WINDOW w AS (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def pack_documents_into_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard packing: greedy sequential fill of ~20k-char shards
    per language — `shard = floor(running_total_before_doc / budget)`,
    a pure window cumulative sum (exact: integer arithmetic). Ordering
    by doc_id makes packing deterministic. Scale note: the window
    partitions by lang, so parallelism is bounded by strata count —
    for billions of docs per stratum add a coarse hash-prefix to the
    partition key (shards stay budget-bounded, global shard numbering
    becomes (prefix, shard))."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = F.sum("n_chars").over(w) - F.col("n_chars")
    return docs.select(
        "doc_id",
        "lang",
        F.floor(before / 20000).cast("long").alias("shard_id"),
    )


@register(
    "dedup_components_docs",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM documents a JOIN documents b
          ON a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 3
         AND a.doc_id < b.doc_id
    ), und AS (
        SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), walk(node, comp) AS (
        SELECT src, src FROM und
        UNION
        SELECT u.dst, w.comp FROM walk w JOIN und u ON u.src = w.node
    )
    SELECT node AS doc_id, CAST(min(comp) AS BIGINT) AS component
    FROM walk GROUP BY node
    """,
)
def dedup_components_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster canonicalization: a deterministic similarity
    graph over documents (same language, near-equal length — a stand-in
    for LSH candidate pairs, chosen because DuckDB can state it too),
    collapsed to connected components by iterative min-label propagation
    (operators.components). component = min doc_id = the canonical doc
    each cluster keeps. Oracle: recursive CTE reachability.

    Candidate pairs come from a BANDED equi-join (the rangejoin.py
    trick on the length axis): ``lang`` alone as the join key makes the
    per-language match a cartesian filter — quadratic per stratum at
    100 TB. Instead one side keeps its single length-bucket (width =
    2·tol+1, so a pair can meet in only the point side's bucket — no
    dedup pass) and the other explodes into the ≤2 buckets its ±tol
    window covers; the join key is (lang, bucket) and |Δlen| ≤ tol is a
    residual filter."""
    from esther_apache_spark_spark.operators.components import connected_components

    tol = 3
    width = 2 * tol + 1
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    point = docs.select(
        F.col("lang").alias("b_lang"),
        F.col("doc_id").alias("dst"),
        F.col("n_chars").alias("b_len"),
        F.floor(F.col("n_chars") / width).alias("_bk"),
    )
    probe = docs.select(
        "lang",
        F.col("doc_id").alias("src"),
        F.col("n_chars").alias("a_len"),
        F.explode(
            F.sequence(
                F.floor((F.col("n_chars") - tol) / width),
                F.floor((F.col("n_chars") + tol) / width),
            )
        ).alias("_bk"),
    )
    edges = (
        probe.join(
            point,
            (probe.lang == point.b_lang)
            & (probe._bk == point._bk)
            & (F.abs(F.col("a_len") - F.col("b_len")) <= tol)
            & (F.col("src") < F.col("dst")),
        )
        .select("src", "dst")
    )
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


_INTERVAL_JOIN_ORACLE = """
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


@register("interval_join_view_purchase", oracle=_INTERVAL_JOIN_ORACLE)
def interval_join_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution interval join, batch: views paired with the same
    user's purchases within the next hour. Equi-key on user_id keeps it
    a hash join (the time bound is a post-join residual predicate, not a
    nested loop); at 100 TB both sides co-partition on user_id."""
    from esther_apache_spark_spark.streaming.events import (
        interval_join_views_purchases,
    )

    events = load_table(spark, sf_dir, "events")
    return interval_join_views_purchases(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "purchase"),
    )


@register("streaming_interval_join", oracle=_INTERVAL_JOIN_ORACLE)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same interval join run as a stream-stream inner join
    (readStream both sides, watermarks bounding join state, append
    mode) and driven to completion — shares the batch twin's oracle
    because inner-join matches emit exactly once regardless of
    microbatching."""
    from esther_apache_spark_spark.streaming.events import (
        run_streaming_interval_join,
    )

    return run_streaming_interval_join(spark, sf_dir)


@register(
    "image_resize_dims",
    oracle="""
    WITH media AS (
        SELECT doc_id AS media_id,
               CAST(100 + n_chars % 1900 AS BIGINT) AS width,
               CAST(100 + (n_chars * 7) % 1000 AS BIGINT) AS height
        FROM documents
    )
    SELECT media_id, width, height,
           CAST(CASE WHEN GREATEST(width, height) > 512
                     THEN GREATEST(CAST(floor(width * 512
                              / GREATEST(width, height)) AS BIGINT), 1)
                     ELSE width END AS BIGINT) AS new_w,
           CAST(CASE WHEN GREATEST(width, height) > 512
                     THEN GREATEST(CAST(floor(height * 512
                              / GREATEST(width, height)) AS BIGINT), 1)
                     ELSE height END AS BIGINT) AS new_h
    FROM media
    """,
)
def image_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize planning (operators/multimodal.resize_plan):
    aspect-preserving target dims, longer side capped at 512, never
    upscaled — pure metadata math, so unlike the codec step it IS
    SQL-oracle-able. Media metadata synthesized deterministically from
    documents (the media table stand-in this testdata lacks). Zero
    shuffle: the whole plan is one projection."""
    from esther_apache_spark_spark.operators.multimodal import resize_plan

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(100) + F.col("n_chars") % 1900).cast("long").alias("width"),
        (F.lit(100) + (F.col("n_chars") * 7) % 1000).cast("long").alias("height"),
    )
    return resize_plan(media, max_side=512)


@register(
    "video_frame_sample_plan",
    oracle="""
    SELECT media_id, unnest(range(0, duration_ms, 1000)) AS frame_ts_ms
    FROM (
        SELECT doc_id AS media_id,
               CAST(GREATEST(n_chars * 20, 1) AS BIGINT) AS duration_ms
        FROM documents
    )
    """,
)
def video_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (operators/multimodal.frame_sample_plan):
    one row per (video, 1 Hz frame timestamp) — sequence+explode on
    metadata; frame DECODE stays the stubbed step. duration synthesized
    from documents (20 ms per char, min 1 so every video yields frame 0,
    matching the plan's zero-duration guard)."""
    from esther_apache_spark_spark.operators.multimodal import frame_sample_plan

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.greatest(F.col("n_chars") * 20, F.lit(1)).cast("long").alias("duration_ms"),
    )
    return frame_sample_plan(media, every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    )


@register(
    "sql_api_revenue_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
               AS total_revenue
    FROM orders
    GROUP BY 1
    """,
)
def sql_api_revenue_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark SQL entry path (survey S5 names spark.read.table; the
    tutorials run spark.sql throughout): register the parquet table as a
    temp view, read it back via ``spark.table``, and run the SAME SQL
    text the DuckDB oracle runs — one portable-ANSI statement planned by
    Catalyst identically to the DataFrame form. Demonstrates that the
    catalog's queries are reachable from pure SQL, not just the
    DataFrame builder."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_view")
    assert spark.table("orders_view") is not None
    return spark.sql(
        """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
                   AS total_revenue
        FROM orders_view
        GROUP BY 1
        """
    )


@register(
    "set_except_all_multiset",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def set_except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (``exceptAll``): bag difference preserving
    multiplicity — each urgent order cancels ONE open-order occurrence
    of the same customer, the semantics dedup accounting needs (distinct
    EXCEPT would erase a key entirely). Spark plans it as a
    count-and-replicate aggregate, one shuffle, no join explosion."""
    orders = load_table(spark, sf_dir, "orders")
    open_keys = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return open_keys.exceptAll(urgent)


@register(
    "set_intersect_all_multiset",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL (``intersectAll``): min-of-multiplicities
    bag intersection — customers appear once per matched (open, final)
    order pair count, the U2 extension the RDD tutorial's distinct-only
    ``intersection`` can't express."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersectAll(b)


@register(
    "date_arithmetic_shipping",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
           strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date,
           CAST(date_diff('day', o_orderdate,
                          o_orderdate + INTERVAL 90 DAY) AS BIGINT) AS days_allowed,
           CAST(dayofweek(o_orderdate) AS INT) AS order_dow
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def date_arithmetic_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic (absent from the reference, which keeps dates as
    strings — §1.3): month truncation, interval addition, day diffs,
    day-of-week — all native date expressions that stay inside codegen
    and push down (the scan reads 3 columns). DuckDB dayofweek is
    0=Sunday vs Spark dayofweek 1=Sunday: aligned via Spark's -1."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    d = F.col("o_orderdate")
    return orders.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("order_month"),
        F.date_format(F.date_add(d.cast("date"), 90), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.date_add(d.cast("date"), 90), d.cast("date"))
        .cast("long")
        .alias("days_allowed"),
        (F.dayofweek(d) - 1).cast("int").alias("order_dow"),
    )


@register(
    "explode_outer_item_arrays",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, ' '), w -> w LIKE 'z%')
                   AS zwords
        FROM documents
    )
    SELECT doc_id, u.zword
    FROM toks LEFT JOIN LATERAL (SELECT unnest(zwords) AS zword) u ON TRUE
    """,
)
def explode_outer_item_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer``: rows with EMPTY arrays survive as a single
    null row (plain explode silently drops them — the row-loss bug every
    flatten pipeline hits once). Filtering tokens to a rare prefix makes
    both populated and empty arrays occur, so the outer semantics are
    actually exercised."""
    docs = load_table(spark, sf_dir, "documents")
    zwords = F.filter(
        F.split(F.col("text"), " "), lambda w: w.startswith("z")
    )
    return docs.select(
        "doc_id", F.explode_outer(zwords).alias("zword")
    )


@register(
    "map_functions_props",
    oracle="""
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), ' ') AS prop_keys,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def map_functions_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface (absent from the reference — §2.9 "no map-type
    functions"): parse props as ``map<string,bigint>`` and use
    map_keys / element_at — the schema-free form for JSON whose keys
    vary per row (the struct form, json_parse_props, needs them
    declared). Keys emitted sorted+joined so the comparison never
    depends on map iteration order."""
    events = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return events.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), " ").alias("prop_keys"),
        F.element_at(m, "k").alias("k_value"),
    )


@register(
    "cogroup_user_activity",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS events_value
        FROM events GROUP BY 1
    ),
    o AS (
        SELECT o_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS orders_total
        FROM orders GROUP BY 1
    )
    SELECT COALESCE(e.user_id, o.user_id) AS user_id,
           CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
           COALESCE(e.events_value, 0.0) AS events_value,
           CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
           COALESCE(o.orders_total, 0.0) AS orders_total
    FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
    """,
)
def cogroup_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (the D3 surface's third form, after
    pandas_udf and mapInPandas): events and orders co-shuffled on the
    user key, one Arrow kernel per (event-group, order-group) pair,
    full-outer emit. The combine here is algebraic on purpose — DuckDB
    states it as FULL OUTER JOIN of two GROUP BYs, oracling the cogroup
    machinery (key routing, empty-side groups, cent-exact sums)."""
    from esther_apache_spark_spark.operators.cogroup import user_activity_cogroup

    return user_activity_cogroup(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders")
    )


_ENRICH_ORACLE = """
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
"""


@register("enriched_segment_totals", oracle=_ENRICH_ORACLE)
def enriched_segment_totals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join: fact ⋈ broadcast
    dim → per-segment totals. Exists so the streaming variant below has
    an exact shared oracle (same kernel function, same decimal-exact
    aggregate)."""
    from esther_apache_spark_spark.streaming.events import enriched_segment_totals

    return enriched_segment_totals(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


@register("streaming_enriched_totals", oracle=_ENRICH_ORACLE)
def streaming_enriched_totals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment driven through readStream →
    complete-mode memory sink. The static customer dim is re-broadcast
    per micro-batch (no state store); the result must match the batch
    twin bit-for-bit, which the shared oracle enforces."""
    from esther_apache_spark_spark.streaming.events import run_streaming_enriched_totals

    return run_streaming_enriched_totals(spark, sf_dir)


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH w1 AS (
        SELECT user_id, event_type, ts,
               MIN(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS vts
        FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    ),
    w2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > vts THEN ts END)
                      OVER (PARTITION BY user_id) AS cts
        FROM w1
    ),
    w3 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > cts THEN ts END)
                      OVER (PARTITION BY user_id) AS pts
        FROM w2
    )
    SELECT CAST(COUNT(DISTINCT CASE WHEN vts IS NOT NULL THEN user_id END) AS BIGINT) AS viewed,
           CAST(COUNT(DISTINCT CASE WHEN cts IS NOT NULL THEN user_id END) AS BIGINT) AS clicked_after_view,
           CAST(COUNT(DISTINCT CASE WHEN pts IS NOT NULL THEN user_id END) AS BIGINT) AS purchased_after_click
    FROM w3
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked strictly AFTER
    their first view, then purchased strictly after that click — the
    event-sequence analysis shape (strict temporal order, not mere
    co-occurrence). Three unordered window passes over ONE user_id
    partitioning: each stage's earliest qualifying timestamp is a
    conditional MIN over the partition referencing the previous stage's
    result — no self-joins, no sort (min needs no ordering), one
    shuffle total. At 100 TB this beats the 3-way self-join form by two
    shuffles and is skew-safe (a power user's events still fit one
    partition's window state). The day-one cutoff keeps the funnel
    DISCRIMINATING on the synthetic traffic (56 viewed / 19 clicked /
    3 purchased at sf0.01) — over the full month every user completes
    every stage, which would verify nothing."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    )
    w = Window.partitionBy("user_id")
    s1 = events.withColumn(
        "vts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "cts",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("vts")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "pts",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("cts")),
                F.col("ts"),
            )
        ).over(w),
    )
    return s3.agg(
        F.countDistinct(F.when(F.col("vts").isNotNull(), F.col("user_id"))).alias(
            "viewed"
        ),
        F.countDistinct(F.when(F.col("cts").isNotNull(), F.col("user_id"))).alias(
            "clicked_after_view"
        ),
        F.countDistinct(F.when(F.col("pts").isNotNull(), F.col("user_id"))).alias(
            "purchased_after_click"
        ),
    )


@register(
    "retention_cohorts_weekly",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS INT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohorts_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-activity week,
    counted as active at each whole-week offset since — the
    product-analytics staple. Two narrow aggregates (per-user first
    event; distinct user-weeks) joined on the user key, then a
    coarse-grained count. Both engines truncate weeks to ISO Monday, so
    offsets are exact integers. Scale: the join carries only
    (user, week) pairs — activity is pre-distincted, so a 100 TB event
    log reduces to |users|×|weeks| rows before anything joins."""
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff("act_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "top_session_paths",
    oracle="""
    WITH lagged AS (
        SELECT user_id, event_id, ts, event_type,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    s AS (
        SELECT user_id, event_id, ts, event_type,
               SUM(CASE WHEN prev_ts IS NULL
                          OR epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM lagged
    ),
    p AS (
        SELECT user_id, session_seq,
               array_to_string(list_slice(list(event_type ORDER BY ts, event_id), 1, 3),
                               '>') AS path
        FROM s GROUP BY 1, 2
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM p GROUP BY 1
    ORDER BY n_sessions DESC, path ASC
    LIMIT 10
    """,
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path analysis: the 10 most common opening 3-step
    event-type sequences across gap-sessionized visits (30-min gap,
    shared with sessionize_batch — same lag + running-sum construction
    the streaming session query uses). Per-session ordering is made
    deterministic by sorting the collected (ts, event_id, type) structs
    INSIDE the aggregate — array_sort of collect_list — rather than
    relying on collect_list order, which Spark does not guarantee.
    Two shuffles (user sessionization, path count) + a top-10
    TakeOrdered; at 100 TB the per-session state is one short struct
    array, never the full history."""
    from esther_apache_spark_spark.streaming.events import sessionize_batch

    ev = sessionize_batch(load_table(spark, sf_dir, "events"), gap_minutes=30)
    per_session = ev.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                1,
                3,
            ),
            ">",
        ).alias("path")
    )
    return (
        per_session.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(10)
    )


@register(
    "interval_join_left_view_purchase",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def interval_join_left_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT OUTER interval join: every view row kept,
    purchase columns null when no conversion lands inside the hour.
    The streaming variant shares the kernel; its prefix-completeness
    containment (a bounded stream cannot null-extend views whose
    horizon the final watermark never passed) is pinned in
    tests/test_skew_and_streaming.py rather than oracled."""
    from esther_apache_spark_spark.streaming.events import (
        interval_join_views_purchases_left,
    )

    events = load_table(spark, sf_dir, "events")
    return interval_join_views_purchases_left(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "purchase"),
    )


@register(
    "interval_join_full_view_purchase",
    oracle="""
    SELECT COALESCE(v.user_id, p.user_id) AS user_id,
           v.event_id AS view_id, p.event_id AS purchase_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def interval_join_full_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the FULL OUTER interval join: unconverted views AND
    orphan purchases both survive with null opposite-side columns —
    the symmetric completion of `interval_join_left_view_purchase`.
    The streaming variant shares the kernel; its two-sided
    prefix-completeness containment is pinned in
    tests/test_skew_and_streaming.py rather than oracled."""
    from esther_apache_spark_spark.streaming.events import (
        interval_join_views_purchases_full,
    )

    events = load_table(spark, sf_dir, "events")
    return interval_join_views_purchases_full(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "purchase"),
    )


# ---------------------------------------------------------------------------
# Iterative graph analytics — PageRank over the brand co-purchase graph.
# ---------------------------------------------------------------------------

def _pagerank_iter_sql(prev: str, out: str) -> str:
    return (
        f"{out} AS (SELECT e.dst AS v, ROUND(0.15 / MAX(nn.n)"
        f" + 0.85 * SUM(r.pr / dg.d), 9) AS pr"
        f" FROM edges e JOIN {prev} r ON e.src = r.v"
        f" JOIN deg dg ON e.src = dg.src CROSS JOIN nn GROUP BY e.dst)"
    )


@register(
    "pagerank_brands",
    oracle=f"""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS k, p.p_brand AS b
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    edges AS (
        SELECT DISTINCT a.b AS src, c.b AS dst
        FROM ob a JOIN ob c USING (k) WHERE a.b <> c.b
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT src AS v, ROUND(1.0 / MAX(nn.n), 9) AS pr
           FROM deg CROSS JOIN nn GROUP BY src),
    {_pagerank_iter_sql("r0", "r1")},
    {_pagerank_iter_sql("r1", "r2")},
    {_pagerank_iter_sql("r2", "r3")}
    SELECT v AS brand, CAST(ROUND(pr, 6) AS DOUBLE) AS pagerank FROM r3
    """,
)
def pagerank_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, damping 0.85) over the brand co-purchase
    graph — the iterative-algorithm pattern a training pipeline uses for
    link-graph quality weighting, expressed as a statically unrolled
    DataFrame loop (each iteration: edges ⋈ ranks, shuffle on dst, one
    hash aggregate). Static unrolling keeps lineage shallow at 3
    iterations; for tens of iterations, ``localCheckpoint`` every few
    rounds (the ``operators/components.py`` doctrine) bounds plan depth.

    Determinism across engines: ranks are ROUNDed to 9 decimals at
    every iteration in BOTH engines, so each iteration's input is
    bit-identical and float summation-order differences cannot
    accumulate; the final report rounds to 6. The co-purchase graph is
    symmetric, so there are no dangling nodes (no rank leak) and every
    node has in-edges. The scalar node count is a 1-row broadcast back
    onto the rank frame (the same pinned scalar-subquery shape as
    ``tfidf_top_terms``' corpus doc count — Catalyst folds the constant
    join key away, so it plans as the allowed one-row
    BroadcastNestedLoopJoin)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("b"))
        .distinct()
    )
    a = ob.select("k", F.col("b").alias("src"))
    c = ob.select("k", F.col("b").alias("dst"))
    edges = (
        a.join(c, "k").filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nn = deg.agg(F.count(F.lit(1)).alias("n")).withColumn("_k", F.lit(1))
    ranks = (
        deg.select(F.col("src").alias("v")).withColumn("_k", F.lit(1))
        .join(nn, "_k")
        .select("v", F.round(F.lit(1.0) / F.col("n"), 9).alias("pr"), "n")
    )
    for _ in range(3):
        ranks = (
            edges.join(ranks, edges.src == ranks.v)
            .join(deg, "src")
            .groupBy("dst")
            .agg(
                F.round(
                    F.lit(0.15) / F.first("n") + F.lit(0.85) * F.sum(F.col("pr") / F.col("d")),
                    9,
                ).alias("pr"),
                F.first("n").alias("n"),
            )
            .select(F.col("dst").alias("v"), "pr", "n")
        )
    return ranks.select(
        F.col("v").alias("brand"), F.round("pr", 6).cast("double").alias("pagerank")
    )


# ---------------------------------------------------------------------------
# Time-series gap fill — per-key daily resample with forward fill.
# ---------------------------------------------------------------------------
@register(
    "gapfill_daily_user_value",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS dv
        FROM events GROUP BY 1, 2
    ),
    spans AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
    cal AS (
        SELECT user_id,
               CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM spans
    )
    SELECT c.user_id, strftime(c.day, '%Y-%m-%d') AS day,
           last_value(d.dv IGNORE NULLS) OVER (
               PARTITION BY c.user_id ORDER BY c.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS day_value,
           CAST(d.dv IS NULL AS BOOLEAN) AS filled
    FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
    """,
)
def gapfill_daily_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily resample with forward fill — the telemetry/feature
    regularization every time-series training pipeline needs (turn an
    irregular event stream into a dense daily grid, carrying the last
    observation across gaps).

    Scale shape: the calendar comes from EXPLODING each user's own
    (min_day, max_day) span — no users×days cartesian, no global
    calendar join; one groupBy for the daily sums, one for the spans,
    one per-user window for the fill. All date math in DATE space,
    emitted as ISO strings for cross-engine stability. The first day of
    each span always has a value (it IS a min), so the fill never
    emits null."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("dv")
        )
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi")).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = cal.join(daily, ["user_id", "day"], "left")
    return joined.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.last("dv", ignorenulls=True).over(w).alias("day_value"),
        F.col("dv").isNull().alias("filled"),
    )


# ---------------------------------------------------------------------------
# Histogram binning — fixed-width buckets, explicit edge semantics.
# ---------------------------------------------------------------------------
_HIST_LO, _HIST_HI, _HIST_NB = -1000.0, 10000.0, 11


@register(
    "histogram_acctbal_by_nation",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(LEAST(GREATEST(FLOOR((CAST(c.c_acctbal AS DOUBLE) - ({_HIST_LO}))
                                     / (({_HIST_HI}) - ({_HIST_LO})) * {_HIST_NB}) + 1,
                               0), {_HIST_NB} + 1) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def histogram_acctbal_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of customer balances per nation — the
    distribution profile an ingest-quality dashboard computes per
    column. The bucket formula is written out identically in BOTH
    engines (floor((x-lo)/(hi-lo)·nb)+1, clamped to [0, nb+1] for
    under/overflow) rather than relying on each engine's width_bucket
    edge conventions; one hash aggregate, map-side combinable, no
    shuffle beyond it."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    x = F.col("c_acctbal").cast("double")
    bucket = F.least(
        F.greatest(
            F.floor((x - F.lit(_HIST_LO)) / F.lit(_HIST_HI - _HIST_LO) * F.lit(_HIST_NB))
            + F.lit(1),
            F.lit(0),
        ),
        F.lit(_HIST_NB + 1),
    ).cast("long")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


@register(
    "filter_docs_by_quality_percentile",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               ROUND((least(len({_TOKS}) / 100.0, 1.0)
                      + greatest(1.0 - abs(
                            (CASE WHEN len({_TOKS}) > 0
                                  THEN len(list_filter({_TOKS}, t -> t IN {_STOPS}))
                                       / len({_TOKS})
                                  ELSE 0.0 END) - 0.4) / 0.4, 0.0)
                      + (1.0 - least((CASE WHEN length(text) > 0
                             THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                                  / length(text)
                             ELSE 0.0 END) * 5, 1.0))) / 3, 4) AS quality
        FROM documents
    ), thr AS (
        SELECT lang, ROUND(quantile_cont(quality, 0.25), 6) AS q25
        FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.quality
    FROM scored s JOIN thr t ON s.lang = t.lang
    WHERE s.quality > t.q25
    """,
)
def filter_docs_by_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-gated corpus filtering — the composition a training
    pipeline actually runs: score every document (textstats
    ``quality_score``, pure expressions), take the per-language exact
    p25 of the score (one small agg — rows = #languages), and keep
    documents strictly above their language's threshold. Per-language
    (not global) thresholds keep a low-resource language from being
    wiped out by a high-resource language's score distribution. The
    threshold frame is vocabulary-sized, so Catalyst broadcasts it back
    onto the corpus — the fact side never shuffles. Rounding the
    threshold to 6dp on both engines pins the boundary comparison."""
    from esther_apache_spark_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", quality_score(F.col("text")).alias("quality")
    )
    thr = scored.groupBy("lang").agg(
        F.round(F.percentile("quality", F.lit(0.25)), 6).alias("q25")
    )
    return (
        scored.join(thr, "lang")
        .filter(F.col("quality") > F.col("q25"))
        .select("doc_id", "lang", "quality")
    )


@register("streaming_distinct_users_hll", oracle=None)
def streaming_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed distinct-user HLL estimates through Structured
    Streaming (file source → watermark → windowed sketch agg → memory
    sink, driven to completion). Bounded state is the point: exact
    streaming distinct keeps every user id in the state store, the
    sketch keeps ~4 KB per group regardless of cardinality. Rows-only
    (DuckDB has no DataSketches twin) but deterministic — register-max
    merge across micro-batches is lossless, so the completed stream
    equals its batch twin bit-for-bit (tests/test_sketches.py)."""
    from esther_apache_spark_spark.streaming.events import (
        run_streaming_distinct_users_hll,
    )

    return run_streaming_distinct_users_hll(spark, sf_dir)


_WINDOWED_CMS_ORACLE = """
    WITH j AS (SELECT unnest([0, 1, 2, 3]) AS j)
    SELECT strftime(time_bucket(INTERVAL 6 HOURS, ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           j.j AS cms_row,
           CAST(CONCAT('0x', substr(md5('cms' || CAST(j.j AS VARCHAR)
                || ':' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 2048 AS cms_slot,
           CAST(COUNT(*) AS BIGINT) AS cms_cnt
    FROM events CROSS JOIN j
    GROUP BY 1, 2, 3
"""


@register("windowed_user_freq_cms", oracle=_WINDOWED_CMS_ORACLE)
def windowed_user_freq_cms_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min counter pages per 6-hour event-time window, batch form
    — the persisted frequency-sketch state a streaming pipeline
    accumulates (the frequency member of the sketch family;
    `distinct_users_hll_rollup` is the distinct member). Unlike the HLL
    twin this is FULLY deterministic (md5 rows, integer counts), so
    both the batch and the streamed form carry the complete value-hash
    oracle. Windows are epoch-aligned in both engines (`F.window` ≡
    `time_bucket`)."""
    from esther_apache_spark_spark.streaming.events import windowed_user_freq_cms

    events = load_table(spark, sf_dir, "events")
    return windowed_user_freq_cms(events)


@register("streaming_user_freq_cms", oracle=_WINDOWED_CMS_ORACLE)
def streaming_user_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME windowed CMS pages accumulated through Structured
    Streaming (file source → watermark → windowed counter agg → memory
    sink, driven to completion). Counter addition is associative, so
    micro-batch accumulation ≡ the batch aggregate — this is the rare
    STREAMING query with a full DuckDB hash oracle, not just a batch
    twin: the sketch state is bit-reproducible end to end. State per
    window is bounded at depth·width counters regardless of user
    cardinality."""
    from esther_apache_spark_spark.streaming.events import (
        run_streaming_user_freq_cms,
    )

    return run_streaming_user_freq_cms(spark, sf_dir)


@register(
    "streaming_bloom_novelty_events",
    oracle="""
    WITH hist AS (
        SELECT event_id FROM events
        WHERE CAST(CONCAT('0x', substr(md5('hist' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
              < CAST(0.5 * 4294967296 AS BIGINT)
    ),
    hpos AS (
        SELECT CAST(CONCAT('0x', substr(md5('sbloom' || CAST(r.i AS VARCHAR) || ':' || CAST(h.event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 131072 AS p
        FROM hist h CROSS JOIN (SELECT unnest(range(7)) AS i) r
    ),
    words AS (
        SELECT p // 60 AS widx,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 60 AS INTEGER)) AS w
        FROM hpos GROUP BY 1
    ),
    probe AS (
        SELECT e.event_id, e.user_id, e.event_type,
               CAST(CONCAT('0x', substr(md5('sbloom' || CAST(r.i AS VARCHAR) || ':' || CAST(e.event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 131072 AS p
        FROM events e CROSS JOIN (SELECT unnest(range(7)) AS i) r
    ),
    flags AS (
        SELECT event_id, min(user_id) AS user_id, min(event_type) AS event_type,
               bool_and(w IS NOT NULL
                        AND (w & (CAST(1 AS BIGINT) << CAST(p % 60 AS INTEGER))) != 0) AS hit
        FROM probe LEFT JOIN words ON words.widx = probe.p // 60
        GROUP BY event_id
    )
    SELECT event_id, user_id, event_type FROM flags WHERE NOT hit
    """,
)
def streaming_bloom_novelty_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming novelty gate vs a history Bloom filter —
    dedup-vs-history with ZERO streaming state: the filter is a pure
    expression over a dense word-list literal (constant size by the
    m_bits model knob), so nothing grows with stream length and the
    deterministic false-drop rate is the sized Bloom FP rate. FULLY
    oracled: DuckDB rebuilds the history filter bit-for-bit and
    replays the 7-bit membership test on every event — the streamed
    result hash-matches it exactly (event_id is unique, so no
    aggregation ambiguity)."""
    from esther_apache_spark_spark.streaming.events import run_stream_bloom_novelty

    return run_stream_bloom_novelty(spark, sf_dir)


@register(
    "equidepth_histogram_order_totals",
    oracle="""
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM (
        SELECT o_totalprice,
               CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INT) AS bucket
        FROM orders
    )
    GROUP BY bucket
    """,
)
def equidepth_histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order totals (10 buckets of equal row
    count) — the ANALYZE-statistics companion to the equi-width
    `histogram_acctbal_by_nation`: bucket boundaries land where the
    DATA is dense, which is what an optimizer's histogram and a data-
    profiling report both want. Deterministic: ntile over a total order
    (value, unique key). Scale note: a global ntile is a single-
    partition window — fine for the profile REPORT shape (the output is
    10 rows); at 100 TB swap the bucketing stage for approx_percentile
    boundaries + a pushdown-able range filter, implemented beside it in
    `quantiles_by_segment`."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
    return (
        o.select("o_totalprice", F.ntile(10).over(w).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "lexical_dedup_survivors_by_quality",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(t) >= 3
                        THEN list_transform(range(1, len(t) - 1),
                                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                        ELSE CAST([] AS VARCHAR[]) END
               ) AS s
        FROM toks
    ),
    pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.s, b.s))
                       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.5
    ),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, comp) AS (
        SELECT src, src FROM und
        UNION
        SELECT u.dst, w.comp FROM walk w JOIN und u ON u.src = w.node
    ),
    lab AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node),
    qual AS (
        SELECT b.doc_id,
               ROUND((least(len(b.toks) / 100.0, 1.0)
                      + greatest(1.0 - abs(CASE WHEN len(b.toks) > 0
                                                THEN len(list_filter(b.toks, x -> x IN {_STOPS})) / len(b.toks)
                                                ELSE 0.0 END - 0.4) / 0.4, 0.0)
                      + (1.0 - least(CASE WHEN length(b.text) > 0
                                          THEN (length(b.text) - length(regexp_replace(b.text, '[^\\w\\s]', '', 'g'))) / length(b.text)
                                          ELSE 0.0 END * 5, 1.0))) / 3, 4) AS quality
        FROM (SELECT d.doc_id, d.text, t.t AS toks
              FROM documents d JOIN toks t USING (doc_id)) b
    ),
    memb AS (
        SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS cluster
        FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
    ),
    ranked AS (
        SELECT m.doc_id, m.cluster, q.quality,
               row_number() OVER (
                   PARTITION BY m.cluster ORDER BY q.quality DESC, m.doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY m.cluster) AS sz
        FROM memb m JOIN qual q USING (doc_id)
    )
    SELECT doc_id, quality, CAST(sz AS BIGINT) AS cluster_size
    FROM ranked WHERE rn = 1
    """,
)
def lexical_dedup_survivors_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection — what a production dedup
    actually keeps: within each lexical near-dup cluster (3-gram
    Jaccard ≥ 0.5 → connected components, same machinery as
    `lexical_dedup_survivors`) the surviving document is the HIGHEST
    heuristic-quality member (doc_id tiebreak), not the lowest id —
    boilerplate-heavy or truncated variants lose to the clean copy.
    Scale shape identical to the min-id twin plus one quality
    projection and a per-cluster keep-first window (partial
    WindowGroupLimit via the rank-1 filter)."""
    from esther_apache_spark_spark.operators import dedup as D
    from esther_apache_spark_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    # quotient-graph labels (r8): see lexical_dedup_survivors
    lab = D.ngram_jaccard_components(docs, shingle_n=3, threshold=0.5)
    memb = (
        docs.select("doc_id", quality_score(F.col("text")).alias("quality"))
        .join(lab, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            "quality",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster"),
        )
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("quality"), "doc_id")
    return (
        memb.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster")))
        .filter(F.col("rn") == 1)
        .select("doc_id", "quality", F.col("cluster_size").cast("long").alias("cluster_size"))
    )


def _bfs_iter_sql(prev: str, out: str) -> str:
    return (
        f"{out} AS (SELECT v, MIN(hop) AS hop FROM ("
        f"SELECT v, hop FROM {prev} "
        f"UNION ALL "
        f"SELECT e.dst AS v, r.hop + 1 AS hop FROM bedges e JOIN {prev} r ON e.src = r.v"
        f") u{out} GROUP BY v)"
    )


@register(
    "bfs_hops_brands",
    oracle=f"""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS k, p.p_brand AS b
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
        SELECT a.b AS src, c.b AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ob a JOIN ob c USING (k) WHERE a.b <> c.b
        GROUP BY a.b, c.b
    ),
    bedges AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY cnt DESC, dst) AS rn
            FROM pairs
        ) tk WHERE rn <= 3
    ),
    seed AS (SELECT MIN(src) AS v FROM bedges),
    r0 AS (SELECT v, 0 AS hop FROM seed),
    {_bfs_iter_sql("r0", "r1")},
    {_bfs_iter_sql("r1", "r2")},
    {_bfs_iter_sql("r2", "r3")}
    SELECT v AS brand, CAST(hop AS INT) AS hops FROM r3
    """,
)
def bfs_hops_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS (3 unrolled frontier expansions) from the
    lexicographically-first brand over the SPARSIFIED co-purchase
    graph: each brand keeps only its 3 strongest co-purchase partners
    (count desc, partner asc — a per-group top-k the optimizer turns
    into WindowGroupLimit), so hop distances stay meaningful at any
    scale factor instead of the dense graph collapsing to diameter 1.
    Each expansion is an equi-join edges ⋈ frontier plus a min-hop
    aggregate — partial-aggregable, shuffles bounded by the frontier,
    never all-pairs; the same statically-unrolled doctrine as
    `pagerank_brands` (checkpoint every few rounds for deep graphs).
    Purely integer/string ops — no float anywhere — so the oracle
    replay is exact by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("b"))
        .distinct()
    )
    a = ob.select("k", F.col("b").alias("src"))
    c = ob.select("k", F.col("b").alias("dst"))
    pairs = (
        a.join(c, "k")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("cnt"), F.asc("dst"))
    edges = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("src", "dst")
        # the sparsified edge list is referenced by every unrolled
        # expansion; materialize it once (components.py doctrine) so
        # the lineitem⋈part co-purchase subtree is not re-evaluated
        # per hop — it is brand²-bounded, tiny at any sf
        .localCheckpoint()
    )
    reach = edges.agg(F.min("src").alias("v")).select("v", F.lit(0).alias("hop"))
    for _ in range(3):
        expanded = edges.join(reach, edges.src == reach.v).select(
            F.col("dst").alias("v"), (F.col("hop") + 1).alias("hop")
        )
        reach = (
            reach.select("v", "hop")
            .unionByName(expanded)
            .groupBy("v")
            .agg(F.min("hop").alias("hop"))
        )
    return reach.select(F.col("v").alias("brand"), F.col("hop").cast("int").alias("hops"))


# ---------------------------------------------------------------------------
# Incremental rollup maintenance — merge partial aggregates, never
# rescan the base.
# ---------------------------------------------------------------------------
@register(
    "incremental_rollup_merge",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value,
           CAST(MIN(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS min_value,
           CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_value
    FROM events GROUP BY strftime(CAST(ts AS DATE), '%Y-%m-%d'), event_type
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance: the daily
    (day, event_type) rollup is kept fresh by MERGING the persisted
    history partials with the new batch's partials — count/sum/min/max
    are all algebraically mergeable, so updating the rollup costs one
    aggregate over the delta plus a merge keyed on the (tiny) rollup
    frame, never a rescan of the base table. Here the two sides are
    split at 2024-01-15 to prove the algebra: the oracle aggregates the
    whole table in one pass and the hashes must agree exactly (decimal
    money arithmetic on both paths — merge order cannot perturb cents).
    At 100 TB the history side is the persisted rollup parquet
    (`sources/incremental.py` manifests decide which day partitions are
    new); this query is the merge kernel that makes that loop sound.
    Same doctrine as `weekly_from_daily_rollup` (re-aggregation) and
    the mergeable sketches (`operators/sketches.py`) for the
    non-algebraic metrics."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-15").cast("date")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec2("value")).alias("sum_v"),
            F.min(dec2("value")).alias("min_v"),
            F.max(dec2("value")).alias("max_v"),
        )

    history = partials(ev.filter(F.col("ts").cast("date") < split))
    delta = partials(ev.filter(F.col("ts").cast("date") >= split))
    return (
        history.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_v"), 2).cast("double").alias("total_value"),
            F.min("min_v").cast("double").alias("min_value"),
            F.max("max_v").cast("double").alias("max_value"),
        )
    )


@register(
    "embedding_outlier_prune",
    oracle="""
    WITH dims AS (
        SELECT e.vec_id, e.label, r.range AS dim,
               CAST(FLOOR(CAST(e.embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * 1000000.0 + 0.5) AS BIGINT) AS qv
        FROM embeddings e CROSS JOIN range(1, 65) r
    ),
    cent AS (
        SELECT label, dim,
               CAST(FLOOR(CAST(SUM(qv) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cv
        FROM dims GROUP BY label, dim
    ),
    dist AS (
        SELECT d.vec_id, d.label,
               CAST(SUM((d.qv - c.cv) * (d.qv - c.cv)) AS BIGINT) AS dist
        FROM dims d JOIN cent c ON d.label = c.label AND d.dim = c.dim
        GROUP BY d.vec_id, d.label
    ),
    ranked AS (
        SELECT label, dist,
               row_number() OVER (PARTITION BY label ORDER BY dist, vec_id) AS rn,
               COUNT(*) OVER (PARTITION BY label) AS n
        FROM dist
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rn > (9 * n) // 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pruned,
           CAST(MAX(CASE WHEN rn <= (9 * n) // 10 THEN dist END) AS BIGINT)
               AS max_kept_dist
    FROM ranked GROUP BY label
    """,
)
def embedding_outlier_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding outlier pruning — drop the 10% of vectors
    farthest from their label centroid, the standard mislabeled/noisy-
    sample filter before contrastive or classifier training. Exact
    integer arithmetic end to end: vectors quantized once
    (`clustering.quantize_vectors`), centroids are rounded integer
    means ((label, dim) partial-sum aggregate — dim× inflation but a
    perfectly spread shuffle key), distances are BIGINT folds, and the
    10% gate is a rank comparison (`rn > 9n//10`), so the whole prune
    decision replays bit-for-bit in SQL. The rank window partitions by
    label — fine while classes stay countable; at extreme per-class
    cardinality swap the exact gate for the KLL-sketch quantile
    (`sketches.kll_group_quantiles`) and keep everything else. Reports
    per label: total, pruned, and the largest surviving distance (the
    effective radius of the kept class ball)."""
    from esther_apache_spark_spark.operators.clustering import quantize_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    dims = quantize_vectors(emb).join(
        emb.select("vec_id", "label"), "vec_id"
    ).select("vec_id", "label", F.posexplode("qv").alias("dim", "qv"))
    cent = dims.groupBy("label", "dim").agg(
        F.floor(
            F.sum("qv").cast("double") / F.count(F.lit(1)).cast("double") + F.lit(0.5)
        )
        .cast("long")
        .alias("cv")
    )
    dist = (
        dims.join(cent, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(F.sum((F.col("qv") - F.col("cv")) * (F.col("qv") - F.col("cv"))).alias("dist"))
    )
    w = Window.partitionBy("label").orderBy(F.asc("dist"), F.asc("vec_id"))
    wn = Window.partitionBy("label")
    ranked = dist.select(
        "label",
        "dist",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    cut = F.floor(F.col("n") * 9 / 10)
    return ranked.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("rn") > cut, 1).otherwise(0)).alias("n_pruned"),
        F.max(F.when(F.col("rn") <= cut, F.col("dist"))).alias("max_kept_dist"),
    )


@register(
    "interpolate_daily_user_value",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS dv
        FROM events GROUP BY 1, 2
    ),
    spans AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
    cal AS (
        SELECT user_id,
               CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM spans
    ),
    g AS (
        SELECT c.user_id, c.day, d.dv,
               last_value(d.dv IGNORE NULLS) OVER (
                   PARTITION BY c.user_id ORDER BY c.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN d.dv IS NOT NULL THEN c.day END IGNORE NULLS)
                   OVER (PARTITION BY c.user_id ORDER BY c.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
               first_value(d.dv IGNORE NULLS) OVER (
                   PARTITION BY c.user_id ORDER BY c.day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN d.dv IS NOT NULL THEN c.day END IGNORE NULLS)
                   OVER (PARTITION BY c.user_id ORDER BY c.day
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           CAST(CASE WHEN dv IS NOT NULL THEN dv
                ELSE ROUND(pv + (nv - pv)
                           * (CAST(date_diff('day', pd, day) AS DOUBLE)
                              / CAST(date_diff('day', pd, nd) AS DOUBLE)), 6)
                END AS DOUBLE) AS day_value,
           CAST(dv IS NULL AS BOOLEAN) AS interpolated
    FROM g
    """,
)
def interpolate_daily_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily resample with LINEAR interpolation across gaps —
    the smooth-fill twin of `gapfill_daily_user_value` (forward fill):
    a missing day gets pv + (nv−pv)·Δt/T between its neighboring
    observations. Same no-cartesian scale shape (calendar exploded from
    each user's own span; one per-user window pass computes all four
    neighbor frames), and the span endpoints are observations by
    construction, so both neighbors always exist — no edge NULLs.
    Determinism: the interpolation fraction is a ratio of exact integer
    day-diffs, one IEEE multiply-add rounded to 6 — bit-identical in
    both engines."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("dv")
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select("user_id", F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("dv").isNotNull(), F.col("day"))
    g = (
        cal.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            "dv",
            F.last("dv", ignorenulls=True).over(wb).alias("pv"),
            F.last(obs_day, ignorenulls=True).over(wb).alias("pd"),
            F.first("dv", ignorenulls=True).over(wf).alias("nv"),
            F.first(obs_day, ignorenulls=True).over(wf).alias("nd"),
        )
    )
    frac = F.datediff(F.col("day"), F.col("pd")).cast("double") / F.datediff(
        F.col("nd"), F.col("pd")
    ).cast("double")
    return g.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(F.col("dv").isNotNull(), F.col("dv"))
        .otherwise(F.round(F.col("pv") + (F.col("nv") - F.col("pv")) * frac, 6))
        .cast("double")
        .alias("day_value"),
        F.col("dv").isNull().alias("interpolated"),
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ),
    totals AS (
        SELECT from_type, SUM(n) AS tot FROM pairs GROUP BY from_type
    )
    SELECT p.from_type, p.to_type, p.n,
           CAST(ROUND(CAST(p.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS DOUBLE)
               AS prob
    FROM pairs p JOIN totals t ON p.from_type = t.from_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event types — the
    behavioral-sequence readout (what follows what, with conditional
    probabilities) that feeds next-event prediction features and
    anomaly baselines. One lead() window per user ordered by (ts,
    event_id) — the total tiebreak makes simultaneous events
    deterministic — then a (from, to) count whose key space is
    |event_types|² (bounded categorical, perfect shuffle key). The
    probability is one exact-integer ratio rounded to 6; the per-from
    totals frame is |event_types| rows, broadcast by size statistics.
    Same windowed-sequence family as `top_session_paths` (which
    concatenates paths) and `lag_event_gaps` (which measures time);
    this one measures structure."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return pairs.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 6).alias(
            "prob"
        ),
    )


@register(
    "key_skew_report",
    oracle="""
    WITH freq AS (
        SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_partkey
    ),
    fof AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS cnt FROM freq GROUP BY n),
    cum AS (
        SELECT n, cnt,
               COALESCE(SUM(cnt) OVER (ORDER BY n
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        FROM fof
    ),
    gini AS (
        SELECT SUM(n * cnt * (2 * c + cnt)) AS wsum,
               SUM(n * cnt) AS s, SUM(cnt) AS k, MAX(n) AS max_n
        FROM cum
    )
    SELECT CAST(k AS BIGINT) AS n_keys,
           CAST(s AS BIGINT) AS n_rows,
           CAST(max_n AS BIGINT) AS max_key_rows,
           CAST(ROUND(CAST(max_n AS DOUBLE) / CAST(s AS DOUBLE), 6) AS DOUBLE)
               AS max_share,
           CAST(ROUND(CAST(wsum AS DOUBLE)
                      / (CAST(k AS DOUBLE) * CAST(s AS DOUBLE))
                      - (CAST(k AS DOUBLE) + 1.0) / CAST(k AS DOUBLE), 6)
                AS DOUBLE) AS gini
    FROM gini
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostics for lineitem.l_partkey — the
    pre-flight report that decides whether a key needs the salted-join
    path (`operators/skew.py`) or AQE skew splitting: distinct keys,
    total rows, the heaviest key's row count and share, and the Gini
    coefficient of the key-frequency distribution (0 = uniform,
    →1 = one hot key) via the exact rank formula
    G = Σ(2i−1)·n_i / (k·Σn) − (k+1)/k. The rank sum is computed WITHOUT
    ranking any key: keys sharing a frequency occupy a contiguous rank
    range, and Σ(2i−1)·n over that range collapses to
    n·cnt·(2·c + cnt) (c = keys with smaller frequency) — so after the
    data-sized frequency aggregate, the only window runs over the
    frequency-OF-frequency frame (distinct count values — dozens, not
    keys), and ties need no break at all. Everything after is 1-row
    scalar algebra — exact integers until two final rounded
    divisions. Feeds the same decision the AQE skew-join threshold
    makes at runtime, but as an inspectable artifact."""
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    fof = freq.groupBy("n").agg(F.count(F.lit(1)).alias("cnt"))
    wc = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, -1)
    cum = fof.select(
        "n", "cnt", F.coalesce(F.sum("cnt").over(wc), F.lit(0)).alias("c")
    )
    scalars = cum.agg(
        F.sum(F.col("n") * F.col("cnt") * (2 * F.col("c") + F.col("cnt"))).alias(
            "wsum"
        ),
        F.sum(F.col("n") * F.col("cnt")).alias("s"),
        F.sum("cnt").alias("k"),
        F.max("n").alias("max_n"),
    )
    return scalars.select(
        F.col("k").alias("n_keys"),
        F.col("s").alias("n_rows"),
        F.col("max_n").alias("max_key_rows"),
        F.round(F.col("max_n").cast("double") / F.col("s").cast("double"), 6).alias(
            "max_share"
        ),
        F.round(
            F.col("wsum").cast("double")
            / (F.col("k").cast("double") * F.col("s").cast("double"))
            - (F.col("k").cast("double") + F.lit(1.0)) / F.col("k").cast("double"),
            6,
        ).alias("gini"),
    )


@register(
    "cusum_changepoint_events",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents
        FROM events
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    idx AS (
        SELECT user_id, day, cents,
               row_number() OVER (PARTITION BY user_id ORDER BY day) AS i,
               SUM(cents) OVER (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
               SUM(cents) OVER (PARTITION BY user_id) AS t,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM daily
    ),
    cusum AS (
        SELECT user_id, day, n,
               CAST(n * prefix - i * t AS BIGINT) AS cu,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY ABS(n * prefix - i * t) DESC, i ASC) AS rk
        FROM idx
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS change_day,
           CAST(n AS BIGINT) AS n_days,
           CAST(ROUND(CAST(cu AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6)
                AS DOUBLE) AS cusum_value
    FROM cusum WHERE rk = 1
    """,
)
def cusum_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per user: the day where the cumulative
    deviation of daily spend from the user's own mean peaks — the
    standard level-shift detector for telemetry/fraud series. The
    classic statistic Σ(x_j − mean) needs the rational mean; scaling
    by n makes it EXACT integer algebra: n·prefix_i − i·T (prefix and
    total in integer cents), so the argmax day — tie-broken earliest —
    is bit-deterministic in both engines, and only the final report
    divides back to value units. One per-user window pass (cumsum +
    count + total share the frame), one rank to pick the peak; no
    global window anywhere. At extreme scale the (n·prefix) product
    bounds BIGINT at ~10¹⁴ user-cents over a year — three orders of
    headroom."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum((dec2("value") * 100).cast("long")).alias("cents")
    )
    wo = Window.partitionBy("user_id").orderBy("day")
    wcum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("user_id")
    idx = daily.select(
        "user_id",
        "day",
        F.row_number().over(wo).alias("i"),
        F.sum("cents").over(wcum).alias("prefix"),
        F.sum("cents").over(wall).alias("t"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    cu = F.col("n") * F.col("prefix") - F.col("i") * F.col("t")
    wrk = Window.partitionBy("user_id").orderBy(F.abs(cu).desc(), F.asc("i"))
    ranked = idx.select(
        "user_id",
        "day",
        "n",
        cu.alias("cu"),
        F.row_number().over(wrk).alias("rk"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("change_day"),
        F.col("n").alias("n_days"),
        F.round(
            F.col("cu").cast("double") / (F.col("n").cast("double") * F.lit(100.0)), 6
        ).alias("cusum_value"),
    )


@register(
    "label_centroid_separation",
    oracle="""
    WITH dims AS (
        SELECT e.label, r.range AS dim,
               CAST(FLOOR(CAST(e.embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * 1000000.0 + 0.5) AS BIGINT) AS qv
        FROM embeddings e CROSS JOIN range(1, 65) r
    ),
    cent AS (
        SELECT label, dim,
               CAST(FLOOR(CAST(SUM(qv) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cv
        FROM dims GROUP BY label, dim
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(SUM((a.cv - b.cv) * (a.cv - b.cv)) AS BIGINT) AS sq_dist
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    GROUP BY a.label, b.label
    """,
)
def label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class separation matrix: exact integer squared distance
    between every pair of label centroids — the readout that tells you
    which classes an embedding space confuses BEFORE training a probe
    (small sq_dist rows are merge candidates; compare against
    `embedding_outlier_prune`'s max_kept_dist per-class radii to see
    which pairs actually overlap). The data-sized work is one
    (label, dim) partial-sum aggregate (same kernel as
    `embedding_outlier_prune`'s centroids); the pair join runs over the
    CENTROID frame — |labels|·dim rows, bounded by the categorical
    domain, never by corpus size — so the |labels|² expansion is free
    at any sf. Rounded-integer centroids keep the whole matrix
    bit-replayable in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    from esther_apache_spark_spark.operators.clustering import quantize_vectors

    dims = (
        quantize_vectors(emb)
        .join(emb.select("vec_id", "label"), "vec_id")
        .select("label", F.posexplode("qv").alias("dim", "qv"))
    )
    cent = dims.groupBy("label", "dim").agg(
        F.floor(
            F.sum("qv").cast("double") / F.count(F.lit(1)).cast("double") + F.lit(0.5)
        )
        .cast("long")
        .alias("cv")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("cv").alias("cv_a")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("cv").alias("cv_b")
    )
    return (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum((F.col("cv_a") - F.col("cv_b")) * (F.col("cv_a") - F.col("cv_b"))).alias(
                "sq_dist"
            )
        )
    )


@register(
    "salted_join_event_totals",
    oracle="""
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS total_value
    FROM events e JOIN (SELECT DISTINCT user_id FROM events
                        WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id
    GROUP BY e.event_type
    """,
)
def salted_join_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted-join path in the graded catalog: events (the side a
    hot user would skew) joined to the purchase-user id list through
    `skew.salted_join` — the left's rows spread over n_salts reducers
    via a DETERMINISTIC salt (hash of identifying columns, never
    rand(): task retries must re-derive the same salt or the join
    double-counts), the right replicated n_salts ways. Semantics are
    identical to the plain join BY CONSTRUCTION, which is exactly what
    the oracle states (plain SQL join) — the salt must change the
    schedule, never the answer. On this uniform test corpus the salt
    is pure overhead (~n_salts× the id-list rows); it earns its keep
    when one user owns a reducer-sized share — the `key_skew_report`
    max_share reading is the trigger. AQE skew-join handles the
    post-shuffle-partition case automatically ONLY when both join
    children read shuffles directly: this exact query's build side
    (purchasers via DISTINCT) leaves a HashAggregate above the shuffle
    read, which blocks OptimizeSkewedJoin at any threshold — measured
    on the r8 sf1skew corpus (one user = 50% of 1M events), where the
    oracle still holds and the salted plan's hot rows spread over 8
    reducers while the plain SMJ's hot partition stays whole (see
    BASELINE.md r8 and operators/skew.py)."""
    from esther_apache_spark_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    purchasers = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    joined = salted_join(
        ev, purchasers, "user_id", n_salts=8, how="inner",
        left_id_cols=["event_id"],
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum(dec2("value"), "total_value"),
    )


@register(
    "streaming_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def streaming_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `event_transition_matrix`'s pair counts:
    per-user last-event state (O(1) per user) bridges micro-batches,
    each batch folds its own rows in (ts, event_id) order — see
    `streaming.events.event_transitions_stream` for the order contract.
    The oracle is the batch lead()-window pair count, which the
    streaming fold must reproduce exactly under in-order replay — the
    same oracle-against-batch-twin doctrine as every other streaming
    entry."""
    from esther_apache_spark_spark.streaming.events import event_transitions_stream

    return event_transitions_stream(spark, sf_dir)


@register(
    "lsh_pair_audit",
    oracle=f"""
    WITH consts AS (SELECT {_MINHASH_PERMS}),
    toks AS ({_TOKS_CTE}),
    th AS (
        SELECT doc_id,
               list_transform(t, x -> CAST(CONCAT('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS h
        FROM toks
    ),
    base AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(h) >= 3
                        THEN list_transform(range(1, len(h) - 1), i ->
                               (h[i]   & 1073741823) * 536870909 + (h[i]   >> 30) * 536870923
                             + (h[i+1] & 1073741823) * 536870951 + (h[i+1] >> 30) * 536870969
                             + (h[i+2] & 1073741823) * 536871001 + (h[i+2] >> 30) * 536871017)
                        ELSE CAST([] AS BIGINT[]) END
               ) AS bh
        FROM th
    ),
    sigs AS (
        SELECT doc_id,
               list_transform(range(32), p ->
                   CASE WHEN len(bh) = 0 THEN CAST(9223372036854775807 AS BIGINT)
                        ELSE list_min(list_transform(bh, x ->
                            CAST((A[p+1] * x + B[p+1]) % 9223372036854775808 AS BIGINT)))
                   END) AS sig
        FROM base CROSS JOIN consts
    ),
    banded AS (
        SELECT doc_id, sig,
               list_transform(range(8), k ->
                   CAST(CONCAT('0x', substr(md5(
                       CAST(sig[4*k+1] AS VARCHAR) || ',' || CAST(sig[4*k+2] AS VARCHAR) || ',' ||
                       CAST(sig[4*k+3] AS VARCHAR) || ',' || CAST(sig[4*k+4] AS VARCHAR)), 1, 15)) AS BIGINT)) AS bands
        FROM sigs
    ),
    expl AS (
        SELECT doc_id, sig, bands, CAST(r.b AS INTEGER) AS band, bands[r.b + 1] AS bucket
        FROM banded CROSS JOIN (SELECT unnest(range(8)) AS b) r
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_filter(range(32), i -> a.sig[i+1] = b.sig[i+1])) AS agree
        FROM expl a JOIN expl b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE list_position(list_transform(range(8), j -> a.bands[j+1] = b.bands[j+1]), true) = a.band + 1
    ),
    jac AS (
        SELECT p.id_a, p.id_b, p.agree,
               len(list_intersect(x.bh, y.bh)) AS inter,
               len(x.bh) + len(y.bh) - len(list_intersect(x.bh, y.bh)) AS uni
        FROM pairs p
        JOIN base x ON p.id_a = x.doc_id
        JOIN base y ON p.id_b = y.doc_id
    )
    SELECT CAST(CASE WHEN uni = 0 THEN 10 ELSE (10 * inter) // uni END AS INT)
               AS jaccard_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(inter) AS BIGINT) AS total_intersection,
           CAST(SUM(uni) AS BIGINT) AS total_union,
           CAST(SUM(agree) AS BIGINT) AS total_sig_agree
    FROM jac GROUP BY 1
    """,
)
def lsh_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision audit of the MinHash-LSH candidate pairs — the
    threshold-tuning loop every approximate dedup deployment runs:
    join each candidate pair back to its EXACT shingle-set Jaccard
    (same md5 hash family, `dedup.shingle_base_frame` — so estimator
    and truth are measured over the identical shingle universe) and
    histogram pairs into Jaccard decile bands with exact-integer
    totals (Σ|∩|, Σ|∪|, Σ matching signature positions — no float
    means, so the whole audit replays bit-for-bit in SQL on top of the
    `dedup_minhash_lsh` pair replay). Reading: mass in low bands means
    the band/row configuration is too permissive — raise rows-per-band
    or post-filter on sig_agreement; the per-band agree/32 vs
    (10·band)% comparison calibrates the estimator itself. Cost: the
    pair join re-uses the cached signature frame; the truth join is
    two hash joins on doc_id carrying the distinct-shingle arrays —
    audit-sized, run on a corpus sample at 100 TB (compose with
    `deterministic_sample_docs`' hash gate)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(
        docs, num_perm=32, bands=8, shingle_n=3
    )
    base = D.shingle_base_frame(docs, shingle_n=3)
    a = base.select(F.col("_id").alias("id_a"), F.col("_base").alias("bh_a"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_base").alias("bh_b"))
    jac = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.floor(F.col("sig_agreement") * 32 + F.lit(0.5))
            .cast("long")
            .alias("agree"),
            F.size(F.array_intersect("bh_a", "bh_b")).cast("long").alias("inter"),
            (
                F.size("bh_a") + F.size("bh_b")
                - F.size(F.array_intersect("bh_a", "bh_b"))
            )
            .cast("long")
            .alias("uni"),
        )
    )
    banded = jac.select(
        "agree",
        "inter",
        "uni",
        F.when(F.col("uni") == 0, F.lit(10))
        .otherwise(F.expr("(10 * inter) div uni"))
        .cast("int")
        .alias("jaccard_band"),
    )
    return banded.groupBy("jaccard_band").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("inter").alias("total_intersection"),
        F.sum("uni").alias("total_union"),
        F.sum("agree").alias("total_sig_agree"),
    )


@register(
    "ngram_novelty_score",
    oracle=f"""
    WITH toks AS ({_TOKS_CTE}),
    th AS (
        SELECT doc_id,
               list_transform(t, x -> CAST(CONCAT('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS h
        FROM toks
    ),
    base AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(h) >= 3
                        THEN list_transform(range(1, len(h) - 1), i ->
                               (h[i]   & 1073741823) * 536870909 + (h[i]   >> 30) * 536870923
                             + (h[i+1] & 1073741823) * 536870951 + (h[i+1] >> 30) * 536870969
                             + (h[i+2] & 1073741823) * 536871001 + (h[i+2] >> 30) * 536871017)
                        ELSE CAST([] AS BIGINT[]) END
               ) AS bh
        FROM th
    ),
    sh AS (SELECT doc_id, unnest(bh) AS s FROM base),
    firsts AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           CAST(ROUND(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                           AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE)
               AS novelty
    FROM sh JOIN firsts f ON sh.s = f.s
    GROUP BY sh.doc_id
    """,
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty: the fraction of a document's distinct
    3-gram shingles that THIS doc introduces to the corpus (it owns the
    minimum doc_id for the shingle) — the contribution-vs-rehash signal
    a curator ranks docs by when trimming a crawl to a token budget
    (novelty ≈ 0 means the doc is assembled from already-seen content
    even when no single pair-level duplicate fires; the exact
    complement of the pairwise view in `dedup_ngram_jaccard` /
    `dedup_substring_spans`). Shingles come from the shared md5-family
    base (`dedup.shingle_base_frame`), so the score is SQL-replayable
    and comparable with the LSH family's universe. Cost: one shingle
    explode + a (shingle → min doc_id) partial-agg shuffle + one join
    back — the same cost family as the substring-span index; docs
    shorter than the shingle width have no shingles and drop out
    (inner join), matching the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    base = D.shingle_base_frame(docs, shingle_n=3)
    sh = base.select(F.col("_id").alias("doc_id"), F.explode("_base").alias("s"))
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    joined = sh.join(firsts, "s")
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(novel).alias("n_novel"),
        F.round(
            F.sum(novel).cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("novelty"),
    )


@register(
    "autocorr_lag1_daily_by_type",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    lagged AS (
        SELECT event_type, cents AS y,
               lag(cents) OVER (PARTITION BY event_type ORDER BY day) AS x
        FROM daily
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM lagged WHERE x IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_pairs,
           CAST(ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                      6) AS DOUBLE) AS autocorr_lag1
    FROM sums
    """,
)
def autocorr_lag1_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily value series per event type —
    the is-today-predicted-by-yesterday readout that separates trending
    metrics from noise before anyone fits a forecaster. Pearson r over
    (yesterday, today) pairs in the textbook five-sums form, with every
    sum an EXACT BIGINT in integer cents (Σx² stays below 2^63 while
    daily per-type totals stay under ~$10M; past that, move the five
    sums to DECIMAL(38,0) — same bound discipline as
    `cusum_changepoint_events`), so the
    only floats are the final ratio and one IEEE-correctly-rounded
    sqrt — deterministic in both engines. The lag window runs over the
    daily AGGREGATE frame (|types| × |days| rows), never the events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum((dec2("value") * 100).cast("long")).alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        F.col("cents").alias("y"),
        F.lag("cents").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    sums = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = F.sqrt(
        (nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return sums.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        F.round(num / den, 6).alias("autocorr_lag1"),
    )


@register(
    "bigram_lift_top_pairs",
    oracle=f"""
    WITH toks AS ({_TOKS_CTE}),
    uni AS (
        SELECT x AS w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(t) AS x FROM toks) GROUP BY x
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM uni),
    big AS (
        SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_co FROM (
            SELECT unnest(CASE WHEN len(t) >= 2
                THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                ELSE CAST([] AS VARCHAR[]) END) AS bg
            FROM toks
        ) GROUP BY bg HAVING COUNT(*) >= 3
    ),
    sp AS (
        SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2, n_co
        FROM big
    )
    SELECT sp.w1, sp.w2, sp.n_co,
           CAST(ROUND(CAST(t.n_tokens AS DOUBLE) * CAST(sp.n_co AS DOUBLE)
                      / (CAST(u1.cnt AS DOUBLE) * CAST(u2.cnt AS DOUBLE)),
                      6) AS DOUBLE) AS lift
    FROM sp
    JOIN uni u1 ON sp.w1 = u1.w
    JOIN uni u2 ON sp.w2 = u2.w
    CROSS JOIN tot t
    ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT 30
    """,
)
def bigram_lift_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the corpus's top token bigrams ranked by
    lift N*c(ab)/(c(a)*c(b)) — PMI's monotone rational core without the
    log, so both engines compute it from exact integer counts with one
    IEEE multiply/divide (the same no-transcendental doctrine as
    `source_lang_purity`'s Simpson form). High-lift pairs are the
    multiword expressions ("new york") a tokenizer or stopword list
    should treat as units; a min-support gate (c(ab) >= 3) kills the
    hapax noise that dominates raw lift. Bigrams reuse
    `functions.text.word_shingles(n=2)` over the house tokenizer, so
    the universe matches the shingle/LSH family. Cost: two counting
    shuffles (unigrams, bigrams) + a vocab-keyed join back; the 1-row
    total-token scalar is cross-joined (constant broadcast, hygiene
    allowlisted) and the top-30 is TakeOrderedAndProject — no global
    sort of the pair frame."""
    from esther_apache_spark_spark.functions.text import tokenize, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    toksdf = docs.filter(F.col("text").isNotNull()).select(
        tokenize(F.col("text")).alias("t")
    )
    uni = (
        toksdf.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = uni.agg(F.sum("cnt").alias("n_tokens"))
    big = (
        toksdf.select(F.explode(word_shingles(F.col("t"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 3)
    )
    sp = big.select(
        F.split("bg", " ").getItem(0).alias("w1"),
        F.split("bg", " ").getItem(1).alias("w2"),
        "n_co",
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cnt").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cnt").alias("c2"))
    return (
        sp.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(total)
        .select(
            "w1",
            "w2",
            "n_co",
            F.round(
                F.col("n_tokens").cast("double")
                * F.col("n_co").cast("double")
                / (F.col("c1").cast("double") * F.col("c2").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
        .limit(30)
    )


@register(
    "ann_recall_audit",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    tb AS (
        {_LSH_MT_TABLES}
    ),
    cb AS (SELECT vec_id AS neighbor_id, e AS cv, _table, _bucket FROM tb),
    qb AS (SELECT vec_id AS query_id, e AS qv, _table, _bucket FROM tb WHERE vec_id < 5),
    cand AS (
        SELECT DISTINCT query_id, neighbor_id,
               ROUND(list_cosine_similarity(qv, cv), 6) + 0.0 AS cosine
        FROM cb JOIN qb USING (_table, _bucket)
    ),
    lsh AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rn
            FROM cand
        ) WHERE rn <= 10
    ),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND({_COS}, 6) DESC, c.vec_id ASC
                   ) AS rn
            FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 5) q
        ) WHERE rn <= 10
    )
    SELECT b.query_id,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(ROUND(CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS recall_at_10
    FROM bf b LEFT JOIN lsh l
      ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
    GROUP BY b.query_id
    """,
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the multi-table SRP-LSH ANN path against the exact
    brute-force ground truth, per query — the eval harness that turns
    "approximate" from a shrug into a number, and the check a pipeline
    owner reruns after touching plane count, table count, or bucket
    caps (DEPLOYMENT.md's stated recall knobs). Both sides are the
    engine's own catalog paths (`similarity_topk_lsh_multi`,
    `similarity_topk_bruteforce`), so the audit is an exact function of
    its inputs and fully SQL-replayable: the oracle re-derives both
    top-10 lists (24 seeded planes as literals) and counts the
    intersection — no float tolerance anywhere, recall is a ratio of
    integers. Scale: ground truth is only ever computed for the fixed
    5-query panel (brute force over the corpus × 5, the audit's
    irreducible cost), the LSH side stays the production bucket join,
    and the intersection is a join over two ≤k·|queries|-row lists."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = S.brute_force_topk(emb, queries, k=10, query_id_col="query_id").select(
        "query_id", "neighbor_id"
    )
    lsh = S.ann_topk_lsh(
        emb, queries, k=10, n_planes=6, n_tables=4, dim=64
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        bf.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("recall_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup threshold calibration — how many pairs/docs each knob setting
# would collapse.
# ---------------------------------------------------------------------------
@register(
    "dedup_threshold_sweep",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(t) >= 3
                        THEN list_transform(range(1, len(t) - 1),
                                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                        ELSE CAST([] AS VARCHAR[]) END
               ) AS s
        FROM toks
    ),
    pairs AS (
        SELECT id_a, id_b, jaccard FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.s, b.s))
                       / (len(a.s) + len(b.s)
                          - len(list_intersect(a.s, b.s))) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.1
    ),
    pb AS (
        SELECT LEAST(CAST(FLOOR(jaccard * 10) AS INT), 9) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS np
        FROM pairs GROUP BY 1
    ),
    docmax AS (
        SELECT doc_id, MAX(jaccard) AS mj FROM (
            SELECT id_a AS doc_id, jaccard FROM pairs
            UNION ALL
            SELECT id_b AS doc_id, jaccard FROM pairs
        ) GROUP BY 1
    ),
    db AS (
        SELECT LEAST(CAST(FLOOR(mj * 10) AS INT), 9) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM docmax GROUP BY 1
    ),
    grid AS (SELECT CAST(r.range AS INT) AS bucket FROM range(1, 10) r),
    cum AS (
        SELECT g.bucket,
               SUM(COALESCE(p.np, 0)) OVER (ORDER BY g.bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_pairs,
               SUM(COALESCE(d.nd, 0)) OVER (ORDER BY g.bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_docs
        FROM grid g
        LEFT JOIN pb p ON g.bucket = p.bucket
        LEFT JOIN db d ON g.bucket = d.bucket
    )
    SELECT ROUND(bucket / 10.0, 1) AS threshold,
           CAST(n_pairs AS BIGINT) AS n_pairs_ge,
           CAST(n_docs AS BIGINT) AS n_docs_ge
    FROM cum
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold CALIBRATION curve — before running a dedup
    pass at 100 TB, answer "what does each knob setting actually
    collapse": for every Jaccard threshold 0.1..0.9, the number of
    exact 3-gram pairs at-or-above it and the number of documents
    touched (by their max pair similarity). The cliff in this curve is
    where boilerplate ends and true duplication begins — the standard
    way the 0.8-ish default in `dedup_ngram_jaccard`/`dedup_minhash_lsh`
    gets justified per-corpus instead of cargo-culted.

    Scale shape: pairs come from the SAME df-pruned inverted-index
    equi-join as `dedup_ngram_jaccard` (floor threshold 0.1 — wider,
    but identical machinery and caps); everything after is bucketing +
    one descending cumulative window over the 9-row threshold grid — a
    model constant, so no per-threshold rescan and NO join against the
    grid. Jaccard is the exact int/int ratio, so bucket edges can't
    disagree between engines."""
    from esther_apache_spark_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.1)
    bucket = F.least(F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9))
    pb = pairs.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("np")
    )
    docmax = (
        pairs.select(F.col("id_a").alias("doc_id"), "jaccard")
        .unionAll(pairs.select(F.col("id_b").alias("doc_id"), "jaccard"))
        .groupBy("doc_id")
        .agg(F.max("jaccard").alias("mj"))
    )
    db = docmax.groupBy(
        F.least(F.floor(F.col("mj") * 10).cast("int"), F.lit(9)).alias(
            "bucket"
        )
    ).agg(F.count(F.lit(1)).alias("nd"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("bucket"))
    wcum = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        grid.join(pb, "bucket", "left")
        .join(db, "bucket", "left")
        .select(
            "bucket",
            F.sum(F.coalesce("np", F.lit(0))).over(wcum).alias("n_pairs"),
            F.sum(F.coalesce("nd", F.lit(0))).over(wcum).alias("n_docs"),
        )
    )
    return cum.select(
        F.round(F.col("bucket") / 10.0, 1).alias("threshold"),
        F.col("n_pairs").cast("long").alias("n_pairs_ge"),
        F.col("n_docs").cast("long").alias("n_docs_ge"),
    )


@register(
    "dup_mass_by_source",
    oracle="""
    WITH fp AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
               md5(lower(text)) AS f
        FROM documents
    ),
    canon AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
        FROM fp
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
               AS dup_chars,
           ROUND(CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END)
                      AS DOUBLE) / SUM(n_chars), 6) AS dup_mass_share
    FROM canon GROUP BY source
    """,
)
def dup_mass_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate text MASS per ingest source — not how many docs are
    dups (`source_mix_report`-adjacent counts) but how many CHARS of
    non-canonical exact-duplicate text each feed contributes: the
    curation readout that decides which source to fix upstream, since
    a feed can have few dup docs but huge dup mass (mirrored long
    pages) or the reverse (boilerplate stubs). Canonical = lowest
    doc_id per lower(text) md5 fingerprint — the same keep-first rule
    as `dedup_exact_docs`, so this report prices exactly what that
    pass would delete.

    Exact integer chars and counts; one fingerprint window (partitioned
    by the hash — perfect shuffle key) + one per-source aggregate; the
    text column never shuffles (only its md5 does)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.md5(F.lower("text")).alias("f"),
    )
    canon = fp.select(
        "source",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("f").orderBy("doc_id"))
        .alias("rn"),
    )
    dup = F.when(F.col("rn") > 1, 1).otherwise(0)
    dup_chars = F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0)
    return canon.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(dup).alias("n_dup_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(dup_chars).alias("dup_chars"),
        F.round(
            F.sum(dup_chars).cast("double") / F.sum("n_chars"), 6
        ).alias("dup_mass_share"),
    )
