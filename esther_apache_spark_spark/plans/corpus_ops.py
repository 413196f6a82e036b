"""Training-corpus pipeline operators, batch 2 (engine extensions,
SURVEY.md §7 M4): eval-set decontamination, CDC latest-wins merge,
exact heavy hitters, unpivot/melt, and exact per-group quantiles.

The reference has none of these (its surface peaks at daily_city_sales,
``pipeline_pyspark.py:175-184``); they are the operations a 100-TB
training-data pipeline runs daily. Every query here is DuckDB-oracled:
hash-gated splits reuse the md5 bucket from ``operators/sampling.py``
(bit-identical across engines), money/quantity math is decimal-exact,
and quantile interpolation uses the same lower+(upper-lower)*frac
formula in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esther_apache_spark_spark.plans.catalog import register
from esther_apache_spark_spark.schemas import load_table
from esther_apache_spark_spark.scope import cache_scope, cached


@register(
    "decontaminate_train_docs",
    oracle="""
    WITH fp AS (
        SELECT doc_id, lang,
               md5(lower(text)) AS fingerprint,
               CAST(CONCAT('0x', substr(md5('decon' || CAST(doc_id AS VARCHAR)),
                                        1, 8)) AS BIGINT)
                   < CAST(0.1 * 4294967296 AS BIGINT) AS is_eval
        FROM documents
    )
    SELECT t.doc_id, t.lang FROM fp t
    WHERE NOT t.is_eval
      AND NOT EXISTS (SELECT 1 FROM fp e
                      WHERE e.is_eval AND e.fingerprint = t.fingerprint)
    """,
)
def decontaminate_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: drop every training document whose
    content fingerprint (md5 of lowercased text) also appears in the
    held-out eval split. The split is the deterministic hash-gate from
    operators/sampling.py (stable under repartitioning — the property a
    leakage check must have), and the removal is a LEFT ANTI join on
    fingerprint. At 100 TB the eval side is tiny (~10% of keys but
    only fingerprints are shipped) → broadcast anti join, no shuffle of
    the train side."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "fingerprint", F.md5(F.lower(F.col("text")))
    )
    is_eval = hash_bucket(F.col("doc_id"), salt="decon") < int(0.1 * (1 << 32))
    train = docs.filter(~is_eval)
    eval_fps = docs.filter(is_eval).select("fingerprint")
    # eval_fps is a fixed FRACTION of the corpus — it grows with sf, so
    # no forced broadcast hint: AQE broadcasts the anti-join build side
    # while it fits and falls back to a shuffled anti join at scale.
    return train.join(eval_fps, "fingerprint", "left_anti").select(
        "doc_id", "lang"
    )


@register(
    "cdc_merge_latest_state",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type, value, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id,
           CAST(ROUND(CAST(value AS DECIMAL(12,2)), 2) AS DOUBLE) AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_merge_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply / latest-wins merge: collapse a changelog (events) to
    current state per key — newest row wins (total order: ts desc,
    event_id desc, so ties can't flap), and a terminal 'error' row acts
    as a delete (key omitted from the state table). This is the MERGE
    INTO / upsert primitive expressed as window-dedup: one shuffle on
    the key, no join. At scale: partition the changelog by key-hash so
    the window never sees skew beyond one key's history."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.round(F.col("value").cast("decimal(12,2)"), 2)
            .cast("double")
            .alias("last_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
    )


@register(
    "heavy_hitter_users",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
    SELECT user_id, CAST(n AS BIGINT) AS n_events
    FROM c
    WHERE CAST(n AS DOUBLE) > 1.1 * (SELECT CAST(SUM(n) AS DOUBLE)
                                         / COUNT(*) FROM c)
    """,
)
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: keys whose event count exceeds 1.1× the
    mean per-key count (testdata user traffic is near-uniform, so a
    higher multiplier returns zero rows at every SF — a vacuous oracle
    match) — per-key count, a 1-row global mean broadcast
    back, filter. This is the skew-detection primitive: its output is
    exactly the key set salted_join/salted_collect_list (operators/
    skew.py) should be given. The mean is sum/count on exact integer
    doubles, bit-identical cross-engine."""
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    mean = counts.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_n")
    )
    return (
        counts.crossJoin(F.broadcast(mean))
        .filter(F.col("n").cast("double") > 1.1 * F.col("mean_n"))
        .select("user_id", F.col("n").cast("long").alias("n_events"))
    )


@register(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt: wide numeric columns to (key, metric, value)
    long form — the inverse of pivot_status_by_segment, done with the
    native ``DataFrame.unpivot`` (SQL ``stack``), which emits N rows per
    input row in one scan with no shuffle at all (verify: no Exchange in
    the plan). The long form is what per-metric aggregation/quality
    dashboards group on."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    )
    return part.unpivot(
        "p_partkey", ["p_retailprice", "p_size"], "metric", "value"
    )


@register(
    "quantiles_by_segment",
    oracle="""
    SELECT c_mktsegment,
           CAST(ROUND(quantile_cont(c_acctbal, 0.25), 6) AS DOUBLE) AS p25,
           CAST(ROUND(quantile_cont(c_acctbal, 0.50), 6) AS DOUBLE) AS p50,
           CAST(ROUND(quantile_cont(c_acctbal, 0.75), 6) AS DOUBLE) AS p75
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def quantiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (p25/p50/p75 of account balance per
    market segment) via ``F.percentile`` — exact sort-based, matching
    DuckDB's quantile_cont interpolation lower+(upper−lower)·frac
    bit-for-bit on the same doubles. Exact quantiles shuffle all group
    rows; at 100 TB swap in ``percentile_approx`` (the engine exposes
    both — approx_distinct_by_priority sets the precedent) unless the
    report is an SLA."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        *[
            F.round(F.percentile("c_acctbal", F.lit(q)), 6)
            .cast("double")
            .alias(f"p{int(q * 100)}")
            for q in (0.25, 0.50, 0.75)
        ]
    )


@register(
    "chunk_documents_overlapping",
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
def chunk_documents_overlapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: each document becomes overlapping
    200-char chunks on a 150-char stride (the sliding-window split an
    LLM training pipeline runs before tokenization). Pure generation —
    ``sequence(0, n-1, stride)`` then ``posexplode`` + ``substring`` —
    so the plan has no shuffle and no Python; chunk count scales with
    text length, not row count. Deterministic chunk_idx = offset/stride
    makes downstream dedup-by-(doc_id, chunk_idx) stable."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "text",
            F.posexplode(
                F.sequence(
                    F.lit(0), (F.col("n_chars") - 1).cast("int"), F.lit(150)
                )
            ).alias("chunk_idx", "off"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.substring(F.col("text"), F.col("off") + 1, F.lit(200)).alias(
                "chunk_text"
            ),
            F.length(
                F.substring(F.col("text"), F.col("off") + 1, F.lit(200))
            ).cast("long").alias("chunk_len"),
        )
    )


_TOKENS_CTE = """
    tokens AS (
        SELECT doc_id,
               unnest(list_filter(
                   regexp_split_to_array(
                       trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')),
                       '\\s+'),
                   w -> w <> '')) AS word
        FROM documents
    )
"""


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH {_TOKENS_CTE},
    tf AS (
        SELECT doc_id, word, COUNT(*) AS tf FROM tokens GROUP BY doc_id, word
    ),
    df AS (
        SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word,
               ROUND(CAST(tf.tf AS DOUBLE) * CAST(n.n_docs + 1 AS DOUBLE)
                     / CAST(df.df + 1 AS DOUBLE), 6) AS relevance
        FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
    )
    SELECT doc_id, word, CAST(relevance AS DOUBLE) AS relevance
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY relevance DESC, word ASC) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf, with a
    RATIONAL idf — tf·(N+1)/(df+1) instead of tf·ln(N/df) — because a
    single division of exact integers is bit-identical across engines
    while libm ``ln`` is not (same ranking: x↦ln is monotone). Plan:
    explode → (doc,word) count → per-word doc frequency → 1-row N
    broadcast → per-doc top-3 window with a word tiebreak. The df
    aggregate reuses the (doc,word) shuffle's word grouping; at 100 TB
    cap the explode with a length filter upstream."""
    from esther_apache_spark_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("word")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf").cast("double")
                * (F.col("n_docs") + 1).cast("double")
                / (F.col("df") + 1).cast("double"),
                6,
            ).alias("relevance"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("relevance").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "relevance")
    )


@register(
    "scrub_pii_docs",
    oracle="""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text, '[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\\.[A-Za-z0-9.]+',
                              '<EMAIL>', 'g'),
               '[0-9][0-9 .-]{6,}[0-9]', '<NUM>', 'g') AS clean_text
    FROM documents
    """,
)
def scrub_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: mask email addresses and long digit runs (phone/
    account shapes) with placeholder tokens — two chained
    ``regexp_replace`` column expressions, JVM-side, no UDF, patterns
    restricted to syntax RE2 and Java regex agree on (explicit classes,
    no lookaround). Pure map: zero shuffle, scales linearly; behavior
    on crafted PII is pinned in tests/test_corpus_ops.py."""
    docs = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.col("text"),
            r"[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\.[A-Za-z0-9.]+",
            "<EMAIL>",
        ),
        r"[0-9][0-9 .-]{6,}[0-9]",
        "<NUM>",
    )
    return docs.select("doc_id", clean.alias("clean_text"))


@register(
    "build_token_vocab",
    oracle=f"""
    WITH {_TOKENS_CTE},
    counts AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM tokens GROUP BY word)
    SELECT word, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT)
               AS token_id
    FROM counts
    ORDER BY token_id LIMIT 1000
    """,
)
def build_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary build: corpus-wide token counts, ids
    assigned by frequency rank (deterministic tiebreak on the token) —
    the id table a BPE/word-level tokenizer trains from. The top-1000
    cut means Catalyst plans TakeOrderedAndProject over the counts (no
    global sort of the full vocab); ids never depend on partitioning.
    At 100 TB the count is the only real shuffle; the ranked head is
    dim-sized and broadcastable to the encode pass."""
    from esther_apache_spark_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(1000)
    w = Window.orderBy(F.col("cnt").desc(), F.col("word").asc())
    return top.select(
        "word", "cnt", F.row_number().over(w).cast("long").alias("token_id")
    )


@register(
    "encode_documents_to_ids",
    oracle=f"""
    WITH {_TOKENS_CTE},
    counts AS (SELECT word, COUNT(*) AS cnt FROM tokens GROUP BY word),
    vocab AS (
        SELECT word,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS token_id
        FROM counts
        ORDER BY token_id LIMIT 1000
    ),
    pos_tokens AS (
        SELECT doc_id, pos, tok.word
        FROM (
            SELECT doc_id,
                   generate_subscripts(toks, 1) AS pos,
                   unnest(toks) AS word
            FROM (
                SELECT doc_id,
                       list_filter(
                           regexp_split_to_array(
                               trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')),
                               '\\s+'),
                           w -> w <> '') AS toks
                FROM documents
            )
        ) tok
    )
    SELECT p.doc_id,
           array_to_string(list(COALESCE(v.token_id, 0) ORDER BY p.pos), ' ')
               AS token_ids,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM pos_tokens p LEFT JOIN vocab v ON p.word = v.word
    GROUP BY p.doc_id
    """,
)
def encode_documents_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer ENCODE pass: documents → space-joined token-id
    sequences against the frequency-ranked vocab (build_token_vocab),
    id 0 for out-of-vocabulary. posexplode keeps token order; the
    dim-sized vocab broadcasts so the only shuffle is the per-doc
    regroup; ordered reassembly is sort_array(collect_list(struct(pos,
    id))) — deterministic regardless of arrival order. Emitted as a
    string (not array) for stable cross-engine hashing."""
    from esther_apache_spark_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokenize(F.col("text"))).alias("pos", "word"),
    )
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(1000)
        .select(
            "word",
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), F.col("word").asc()))
            .alias("token_id"),
        )
    )
    encoded = (
        toks.join(F.broadcast(vocab), "word", "left")
        .select(
            "doc_id",
            "pos",
            F.coalesce(F.col("token_id"), F.lit(0)).alias("token_id"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "token_id"))
                    ),
                    lambda s: s["token_id"].cast("string"),
                ),
                " ",
            ).alias("token_ids"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
    return encoded


@register(
    "rolling_fingerprint_docs",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(0, list_transform(
                   list_filter(
                       regexp_split_to_array(
                           trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')),
                           '\\s+'),
                       w -> w <> ''),
                   w -> CAST(CONCAT('0x', substr(md5(w), 1, 8)) AS BIGINT))),
               (acc, h) -> (acc * 31 + h) % 2147483647) AS rhash
    FROM documents
    """,
)
def rolling_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (operators/textstats.
    rolling_hash): order-sensitive Rabin-Karp fold over normalized
    tokens — the incremental complement to the md5 content fingerprint
    (dedup_fingerprint). Zero shuffle: one projection over the corpus."""
    from esther_apache_spark_spark.functions.text import tokenize
    from esther_apache_spark_spark.operators.textstats import rolling_hash

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_hash(tokenize(F.col("text"))).alias("rhash"))


@register("heavy_hitter_users_approx", oracle=None)
def heavy_hitter_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass approximate heavy hitters via ``DataFrame.freqItems``
    (Karp-Papadimitriou-Shenker counters): candidate keys above a support
    threshold with NO per-key shuffle — the sketch merges per-partition,
    so at 100 TB this is one scan plus a tiny driver merge. Superset
    guarantee (may over-report, never misses a true heavy hitter);
    rows-only check, precision pinned against the exact query in
    tests/test_corpus_ops.py."""
    events = load_table(spark, sf_dir, "events")
    cand = events.freqItems(["user_id"], support=0.005)
    return cand.select(
        F.explode(F.col("user_id_freqItems")).alias("user_id")
    ).orderBy("user_id")


@register(
    "line_dedup_docs",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), segs AS (
        SELECT doc_id,
               CAST(s // 12 AS INT) AS seg_idx,
               array_to_string(t[s + 1 : s + 12], ' ') AS seg_text
        FROM (SELECT doc_id, t, unnest(range(0, len(t), 12)) AS s FROM toks)
    ), marked AS (
        SELECT doc_id, seg_idx, seg_text,
               count(*) OVER (PARTITION BY md5(seg_text)) AS c,
               row_number() OVER (PARTITION BY md5(seg_text)
                                  ORDER BY doc_id, seg_idx) AS rn
        FROM segs
    ), agg AS (
        SELECT doc_id,
               count(*) AS n_kept,
               md5(string_agg(seg_text, ' ' ORDER BY seg_idx)) AS text_hash
        FROM marked
        WHERE c <= 2 OR rn = 1
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(ceil(len(t.t) / 12.0) AS BIGINT) AS n_segments,
           CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(ceil(len(t.t) / 12.0) AS BIGINT)
               - CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped,
           COALESCE(a.text_hash, md5('')) AS text_hash
    FROM documents d
    JOIN toks t USING (doc_id)
    LEFT JOIN agg a USING (doc_id)
    """,
)
def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level line dedup (12-token segments standing in
    for newline-delimited lines — the synthetic corpus has none): every
    segment seen in more than 2 places corpus-wide survives only at its
    first (doc_id, position) occurrence. The oracle replays the policy
    with a window formulation; the Spark plan deliberately does NOT use
    a window over the segment hash (a hot segment would serialize
    through one partition) — see ``dedup.corpus_line_dedup``."""
    from esther_apache_spark_spark.operators.dedup import corpus_line_dedup

    docs = load_table(spark, sf_dir, "documents")
    return corpus_line_dedup(docs, seg_tokens=12, max_df=2)


@register(
    "doc_repetition_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), g AS (
        SELECT doc_id, t,
               list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i + 1]) AS g2,
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS g3
        FROM t
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           ROUND(CASE WHEN len(t) > 0
                      THEN (len(t) - len(list_distinct(t))) / len(t)
                      ELSE 0.0 END, 4) AS dup_token_frac,
           ROUND(CASE WHEN len(g2) > 0
                      THEN (len(g2) - len(list_distinct(g2))) / len(g2)
                      ELSE 0.0 END, 4) AS dup_2gram_frac,
           ROUND(CASE WHEN len(g3) > 0
                      THEN (len(g3) - len(list_distinct(g3))) / len(g3)
                      ELSE 0.0 END, 4) AS dup_3gram_frac
    FROM g
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021): per-doc
    duplicate fraction of tokens, 2-grams and 3-grams. Degenerate
    (looping, boilerplate-stuffed) documents score high and get filtered
    before any expensive pipeline stage. Pure expressions — array build,
    distinct, size — one scan, zero shuffles, exact int/int division so
    the values are bit-identical cross-engine."""
    from esther_apache_spark_spark.functions.text import tokenize, word_shingles
    from esther_apache_spark_spark.operators.textstats import duplicate_fraction

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", tokenize(F.col("text"), normalize=False).alias("_t")
    )
    g = base.select(
        "doc_id",
        "_t",
        word_shingles(F.col("_t"), 2).alias("_g2"),
        word_shingles(F.col("_t"), 3).alias("_g3"),
    )
    return g.select(
        "doc_id",
        F.size("_t").cast("long").alias("n_tokens"),
        F.round(duplicate_fraction(F.col("_t")), 4).alias("dup_token_frac"),
        F.round(duplicate_fraction(F.col("_g2")), 4).alias("dup_2gram_frac"),
        F.round(duplicate_fraction(F.col("_g3")), 4).alias("dup_3gram_frac"),
    )


@register(
    "scd2_user_state_history",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ),
    changes AS (
        SELECT user_id, ts, event_id, event_type FROM ordered
        WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id,
           event_type AS state,
           epoch_us(ts) AS valid_from_us,
           epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to_us
    FROM changes
    """,
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history build from an event log: collapse consecutive
    identical states per user (lag filter), then derive each surviving
    row's validity interval [valid_from, valid_to) from the NEXT change
    (lead; NULL = current). The complement of cdc_merge_latest_state —
    that keeps only the newest row, this keeps the full versioned
    timeline a training-data snapshot-as-of query needs.

    Scale: two window passes over the SAME (user_id / ts, event_id)
    ordering — one Exchange + one sort, the second window reuses the
    partitioning. Deterministic total order via the unique event_id
    tiebreak; timestamps emitted as epoch micros per oracle doctrine."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
    )


@register("approx_quantiles_by_segment", oracle=None)
def approx_quantiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group quantiles via ``percentile_approx``
    (Greenwald-Khanna sketch, accuracy 10000 → rank error ≤ n/10000):
    the 100-TB form of quantiles_by_segment. The sketch merges
    per-partition — no shuffle of group rows, constant memory per group
    — where the exact percentile must sort every row of the group.
    Rows-only for the driver (sketch results aren't SQL-replayable);
    the rank-error bound vs the exact quantile is pinned in
    tests/test_corpus_ops.py."""
    customer = load_table(spark, sf_dir, "customer")
    approx = F.percentile_approx(
        "c_acctbal", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), F.lit(10000)
    )
    return (
        customer.groupBy("c_mktsegment")
        .agg(approx.alias("q"))
        .select(
            "c_mktsegment",
            F.col("q")[0].alias("p25"),
            F.col("q")[1].alias("p50"),
            F.col("q")[2].alias("p75"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "decontaminate_ngram_train_docs",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '') AS t,
               CAST(CONCAT('0x', substr(md5('decon' || CAST(doc_id AS VARCHAR)),
                                        1, 8)) AS BIGINT)
                   < CAST(0.1 * 4294967296 AS BIGINT) AS is_eval
        FROM documents
    ),
    grams AS (
        SELECT doc_id, is_eval, array_to_string(t[i:i+4], ' ') AS gram
        FROM toks, UNNEST(range(1, len(t) - 3)) AS r(i)
        WHERE len(t) >= 5
    ),
    contaminated AS (
        SELECT DISTINCT g.doc_id
        FROM grams g
        WHERE NOT g.is_eval
          AND EXISTS (SELECT 1 FROM grams e
                      WHERE e.is_eval AND e.gram = g.gram)
    )
    SELECT t.doc_id, t.lang FROM toks t
    WHERE NOT t.is_eval
      AND t.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def decontaminate_ngram_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-overlap decontamination (the published eval-contamination
    method for LLM corpora: drop any training document sharing an
    n-gram with the eval set — here n=5 to suit the short synthetic
    docs; production uses 8-13): tokenize once, explode each doc into
    its n-grams, SEMI-join train grams against the eval gram set to
    find contaminated doc_ids, anti-join them away. Catches paraphrase
    splices that the exact-fingerprint decontaminate_train_docs misses.

    Scale: the eval gram set is the small side (held-out fraction) →
    broadcast semi join, so the exploded train grams never shuffle;
    gram explosion multiplies rows ~doc_len× but each row is one small
    string, and the filter collapses back to distinct doc_ids before
    the final anti join. Same hash-gated split as the fingerprint
    variant (salt 'decon'), so the two queries agree on the split."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
        ).alias("t"),
        (hash_bucket(F.col("doc_id"), salt="decon") < int(0.1 * (1 << 32))).alias(
            "is_eval"
        ),
    )
    grams = (
        docs.filter(F.size("t") >= 5)
        .select(
            "doc_id",
            "is_eval",
            F.explode(F.sequence(F.lit(1), F.size("t") - 4)).alias("i"),
            "t",
        )
        .select(
            "doc_id", "is_eval", F.expr("concat_ws(' ', slice(t, i, 5))").alias("gram")
        )
    )
    eval_grams = grams.filter(F.col("is_eval")).select("gram").distinct()
    contaminated = (
        grams.filter(~F.col("is_eval"))
        # eval_grams grows with the corpus (distinct 5-grams of the eval
        # split) — AQE-sized semi join, no forced hint.
        .join(eval_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.filter(~F.col("is_eval"))
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang")
    )


@register(
    "cap_docs_per_lang",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(CONCAT('0x', substr(md5('cap' || CAST(doc_id AS VARCHAR)),
                                                     1, 8)) AS BIGINT),
                            doc_id
               ) AS rn
        FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rn <= 100
    """,
)
def cap_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum cap (the 'at most N docs per domain/language' rule
    every corpus-mixture spec has): a deterministic reservoir — rank
    each lang's docs by a seeded hash of their id (a stable
    pseudo-random shuffle, unlike ``ORDER BY random()``) and keep the
    first 100. Reproducible across runs, partitionings and engines;
    adding new docs only displaces rows at the boundary.

    Scale: the window shuffles one partition per lang — skew-prone when
    one lang dominates the corpus. The 100-TB posture: pre-filter with
    ``hash_bucket < (N/count_per_lang adjusted) * 2^32`` (broadcast the
    per-lang counts) to shed ~all rows before the exact window ranks
    the small survivor set; the operator keeps the simple form because
    the cap itself bounds what the window must sort per group after
    that pre-filter."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        hash_bucket(F.col("doc_id"), salt="cap"), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .select("doc_id", "lang")
    )


@register(
    "cap_chars_per_lang_by_quality",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang, n_chars,
               SUM(n_chars) OVER (
                   PARTITION BY lang
                   ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_chars AS chars_before
        FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked WHERE chars_before < 30000
    """,
)
def cap_chars_per_lang_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted greedy mixture cap: per language, keep the best
    documents until a character budget is spent — the 'N billion tokens
    per language, best-first' rule of a corpus-mixture spec. 'Best' here
    is the longest-first proxy (n_chars DESC with doc_id tiebreak —
    deterministic total order); a doc is kept iff the budget was not
    already exhausted BEFORE it (running sum minus self), so exactly
    the first overshooting doc is still admitted — the standard greedy
    knapsack-prefix semantics, and a pure window cumsum. Unlike
    ``cap_docs_per_lang`` (count cap, pseudo-random order) the budget is
    weighted and the order is merit-based. Same scale posture as every
    per-stratum window: one partition per lang; pre-filter with a
    per-lang quantile gate when a stratum dominates the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = F.sum("n_chars").over(w) - F.col("n_chars")
    return (
        docs.select("doc_id", "lang", "n_chars", before.alias("_before"))
        .filter(F.col("_before") < 30000)
        .drop("_before")
    )


@register(
    "unigram_nll_score_docs",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t AS term FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    v AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
    sc AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot, COUNT(*) AS vocab FROM v),
    lp AS (
        SELECT term,
               ROUND(LN((CAST(cnt AS DOUBLE) + 1.0)
                        / (CAST(tot AS DOUBLE) + CAST(vocab AS DOUBLE))), 9)
                   AS lp
        FROM v CROSS JOIN sc
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(-SUM(lp) / COUNT(*), 4) AS nll
    FROM tok JOIN lp USING (term)
    GROUP BY doc_id
    """,
)
def unigram_nll_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model fluency score per document — the
    CCNet/perplexity-filtering signal of an LLM data pipeline, with the
    LM trained on the corpus itself in the same pass: token
    probabilities are add-one-smoothed corpus frequencies, and each
    doc's score is its mean token negative log-likelihood (low = built
    from common words; high = rare-token noise). The full
    perplexity-gate composes this with the per-lang percentile filter
    (`filter_docs_by_quality_percentile`) exactly as the KenLM-bucketed
    CCNet pipeline does.

    Cross-engine determinism: everything upstream of the single `ln`
    is exact integer arithmetic; the per-TERM log-prob is rounded to
    9 dp once in the vocabulary (thousands of rows), not per
    occurrence, so an ulp disagreement between Java's and libm's `ln`
    would have to land within 5e-10 of a rounding boundary to flip a
    value — and the per-doc mean is rounded to 4 dp like every floating
    aggregate in this catalog.

    Plan shape at scale: tokenize+explode is generate-only; the vocab
    is one (term) hash aggregate; tot/vocab ride the pinned 1-row
    scalar cross-join; scoring is an equi-join of the token stream
    against the vocab (AQE broadcasts it while it fits, shuffle-join
    beyond) followed by one (doc_id) hash aggregate. Raw text never
    shuffles — only (doc_id, term) pairs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    tok = docs.select("doc_id", F.explode("toks").alias("term")).filter(
        F.col("term") != ""
    )
    v = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    sc = v.agg(
        F.sum("cnt").cast("long").alias("tot"),
        F.count(F.lit(1)).alias("vocab"),
    )
    lp = v.crossJoin(F.broadcast(sc)).select(
        "term",
        F.round(
            F.log(
                (F.col("cnt").cast("double") + 1.0)
                / (F.col("tot").cast("double") + F.col("vocab").cast("double"))
            ),
            9,
        ).alias("lp"),
    )
    return (
        tok.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(-F.sum("lp") / F.count(F.lit(1)), 4).alias("nll"),
        )
    )


_BPE_ITERS = 6


def _bpe_oracle() -> str:
    """Build the statically-unrolled DuckDB replay of BPE merge
    learning: w{k} = corpus after k merges, p{k}/m{k} = pair counts and
    argmax of iteration k (same unrolled-CTE doctrine as the PageRank
    oracle)."""
    ctes = [
        """w0 AS (
        SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') || '</w> ' AS s,
               CAST(cnt AS BIGINT) AS cnt
        FROM (
            SELECT t AS w, COUNT(*) AS cnt FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS t
                FROM documents
            ) WHERE t <> '' GROUP BY t
        )
    )"""
    ]
    for k in range(1, _BPE_ITERS + 1):
        ctes.append(f"""p{k} AS (
        SELECT pair, CAST(SUM(cnt) AS BIGINT) AS c FROM (
            SELECT cnt, unnest(list_transform(range(1, len(sy)),
                               i -> sy[i] || ' ' || sy[i + 1])) AS pair
            FROM (SELECT cnt, string_split(trim(s), ' ') AS sy FROM w{k - 1})
        ) GROUP BY pair
    )""")
        ctes.append(
            f"m{k} AS (SELECT pair, c FROM p{k} ORDER BY c DESC, pair LIMIT 1)"
        )
        ctes.append(f"""w{k} AS (
        SELECT replace(s, ' ' || (SELECT pair FROM m{k}) || ' ',
                       ' ' || (SELECT replace(pair, ' ', '') FROM m{k}) || ' ') AS s,
               cnt
        FROM w{k - 1}
    )""")
    rows = "\n    UNION ALL ".join(
        f"SELECT {k} AS rank, string_split(pair, ' ')[1] AS sym_a, "
        f"string_split(pair, ' ')[2] AS sym_b, c AS freq FROM m{k}"
        for k in range(1, _BPE_ITERS + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + rows


def _bpe_subword_oracle() -> str:
    """Same unrolled chain, but the answer is read off the FINAL merged
    vocabulary: corpus-wide subword frequencies after all merges."""
    base = _bpe_oracle()
    chain = base[: base.rindex("SELECT 1 AS rank")]
    return (
        chain
        + f"""SELECT sym, CAST(SUM(cnt) AS BIGINT) AS freq FROM (
        SELECT cnt, unnest(string_split(trim(s), ' ')) AS sym FROM w{_BPE_ITERS}
    ) GROUP BY sym ORDER BY freq DESC, sym LIMIT 20"""
    )


@register("bpe_learn_merges", oracle=_bpe_oracle())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the corpus's first 6 BPE merge rules (Sennrich et al.
    2016 — the tokenizer-training core of an LLM data pipeline): start
    from the character-level word vocabulary (with `</w>` end-of-word
    markers), repeatedly count adjacent-symbol pairs weighted by word
    frequency, pick the most frequent pair (count DESC, pair ASC — a
    total order, so the winner is engine-independent), and merge it
    everywhere. Returns the ranked merge table (rank, sym_a, sym_b,
    freq) — the artifact a tokenizer ships.

    Scale shape: the corpus collapses to its word VOCABULARY first
    (one hash aggregate — pair statistics are weighted by word counts,
    so all later work is sublinear in corpus size, the same
    distinct-first contraction as `fuzzy_canon_part_names`); each
    iteration is one explode + hash aggregate over the vocabulary plus
    a 1-ROW argmax collected to the driver (the same documented
    boundary as `q15_top_supplier`'s scalar and the IVF k-means
    centroids — 6 tiny actions total). Merge application is a literal
    string replace on the space-joined symbol form — left-to-right and
    non-overlapping with identical semantics in both engines. For a
    SELF-ADJACENT pair (a,a) inside an odd run this differs from
    reference BPE's single-scan greedy order in one way: the replace
    consumes the pair's trailing separator, so a run like ``a a a a``
    merges to ``aa a a`` in one pass (reference greedy gives
    ``aa aa``) — a deterministic variant, not an engine divergence
    (both engines and the oracle apply the identical rule; for pairs
    with distinct symbols, which is what natural text learns, it
    coincides with greedy BPE exactly). The DuckDB oracle replays all
    six rounds as unrolled CTEs with scalar-subquery replaces —
    bit-identical including tiebreaks."""
    # the merge table is driver-local, so the vocabulary cache is freed
    # as soon as it is learned
    with cache_scope():
        out, _final = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(
        out, "rank int, sym_a string, sym_b string, freq long"
    )


def _bpe_learn(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Shared BPE trainer: returns (ranked merges, vocabulary with ALL
    merges applied). The char-level vocabulary under the latter is
    cached in the caller's ``cache_scope``."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    base = cached(
        words.select(
            F.concat(
                F.lit(" "), F.regexp_replace("w", "(.)", "$1 "), F.lit("</w> ")
            ).alias("s"),
            "cnt",
        )
    )
    # Right-size the iteration width from the MEASURED vocabulary size
    # (r11, guide §2): the cached vocab inherits the session shuffle
    # width (32 partitions of ~1k rows at bench SF), so all 6 merge
    # rounds ran 32-wide explode+aggregate stages of near-empty tasks.
    # coalesce (no shuffle — tasks read multiple cached blocks) narrows
    # tiny vocabularies; a corpus-scale vocabulary keeps one task per
    # ~32k words up to the full session width, so the change is inert
    # at 100 TB. The count doubles as the cache-fill action. Measured
    # at sf0.1: 1.41 -> 1.05 s, 14 -> 10 jobs, identical merge table.
    # (The TakeOrdered argmax was ALSO A/B'd against a min(struct(-c,
    # pair)) single-row aggregate — VERDICT r10 #6 — and the aggregate
    # measured SLOWER, 1.49 s / 20 jobs: the global agg adds a partial/
    # final exchange pair per round where TakeOrderedAndProject merges
    # per-partition top-1 rows on the driver. Kept TakeOrdered.)
    n_words = base.count()
    try:
        _cap = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        _cap = 200
    cur = base.coalesce(max(1, min(_cap, (n_words + 32767) // 32768)))
    out: list[tuple[int, str, str, int]] = []
    for k in range(1, _BPE_ITERS + 1):
        sy = F.split(F.trim("s"), " ")
        # A fully-merged word collapses to one symbol; size(sy)-1 == 0 would
        # make F.sequence default to a DESCENDING [1, 0] and element_at(sy, 0)
        # throw. Filter to >=2 symbols — identical to the oracle's empty
        # range(1, len) contribution for single-symbol words.
        pairs = cur.filter(F.size(sy) >= 2).select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(sy) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(sy, i), F.element_at(sy, i + 1)
                    ),
                )
            ).alias("pair"),
        ).groupBy("pair").agg(F.sum("cnt").alias("c"))
        best = pairs.orderBy(F.desc("c"), F.asc("pair")).first()
        if best is None:  # corpus fully merged before _BPE_ITERS rounds
            break
        a, b = best["pair"].split(" ")
        out.append((k, a, b, best["c"]))
        cur = cur.withColumn(
            "s", F.replace("s", F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
        )
    return out, cur


@register("bpe_subword_frequencies", oracle=_bpe_subword_oracle())
def bpe_subword_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges back to the corpus and report the
    top-20 subword frequencies — the learn→segment round trip that
    proves the merge table actually tokenizes (merged symbols like
    `th`/`the</w>` displace their constituent characters in the
    frequency table). Same sublinear shape as `bpe_learn_merges`: all
    work happens on the weighted word vocabulary; the final count is
    one explode + hash aggregate with a rounded TakeOrdered head
    (freq DESC, sym ASC — total order)."""
    _merges, final = _bpe_learn(spark, sf_dir)
    out = (
        final.select("cnt", F.explode(F.split(F.trim("s"), " ")).alias("sym"))
        .groupBy("sym")
        .agg(F.sum("cnt").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("sym"))
        .limit(20)
    )
    return out


@register(
    "token_entropy_score_docs",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t AS term FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    dl AS (SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY doc_id),
    tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term),
    contrib AS (
        SELECT tf.doc_id,
               ROUND(-(CAST(c AS DOUBLE) / CAST(len AS DOUBLE))
                     * LN(CAST(c AS DOUBLE) / CAST(len AS DOUBLE)), 9) AS h
        FROM tf JOIN dl USING (doc_id)
    )
    SELECT c.doc_id, CAST(dl.len AS BIGINT) AS n_tokens,
           ROUND(SUM(h) / LN(2.0), 4) AS entropy_bits
    FROM contrib c JOIN dl USING (doc_id)
    GROUP BY c.doc_id, dl.len
    """,
)
def token_entropy_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy (bits) — the lexical-DIVERSITY
    quality signal, orthogonal to `unigram_nll_score_docs`' fluency:
    low entropy flags repetitive/template docs (the Gopher
    duplicate-fraction family measures the same pathology by counting;
    entropy measures it distributionally), high entropy flags
    random-token noise. Same determinism discipline as the NLL score:
    exact integer (c, len) upstream, each token's −p·ln p contribution
    rounded once to 9 dp (ulp-proofing the sole transcendental), the
    per-doc sum rounded to 4 dp. Plan: one explode, two hash aggregates
    on (doc_id[, term]), a doc-level join — text never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    p = F.col("c").cast("double") / F.col("len").cast("double")
    contrib = tf.join(dl, "doc_id").select(
        "doc_id", "len", F.round(-p * F.log(p), 9).alias("h")
    )
    return contrib.groupBy("doc_id", "len").agg(
        F.round(F.sum("h") / F.log(F.lit(2.0)), 4).alias("entropy_bits")
    ).select(
        "doc_id", F.col("len").cast("long").alias("n_tokens"), "entropy_bits"
    )


@register(
    "incremental_dedup_new_docs",
    oracle="""
    WITH fp AS (
        SELECT doc_id, lang, md5(lower(text)) AS fingerprint,
               CAST(CONCAT('0x', substr(md5('incr' || CAST(doc_id AS VARCHAR)),
                                        1, 8)) AS BIGINT)
                   < CAST(0.8 * 4294967296 AS BIGINT) AS in_history
        FROM documents
    ),
    batch AS (
        SELECT doc_id, lang, fingerprint,
               ROW_NUMBER() OVER (PARTITION BY fingerprint
                                  ORDER BY doc_id) AS rn
        FROM fp WHERE NOT in_history
    )
    SELECT b.doc_id, b.lang FROM batch b
    WHERE b.rn = 1
      AND NOT EXISTS (SELECT 1 FROM fp h
                      WHERE h.in_history AND h.fingerprint = b.fingerprint)
    """,
)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-history) exact dedup — the daily-ingest
    shape: the arriving batch (~20% of the corpus here, hash-gated for
    reproducibility) is deduplicated WITHIN itself (keep-first on
    fingerprint) and AGAINST the historical index, which at 100 TB is a
    persisted table of fingerprints only — the history's raw text is
    never re-read, never re-shuffled. Survivors are what gets appended.
    Plan: one window over the (small) batch, one left-anti equi-join
    against the fingerprint index; AQE broadcasts whichever side is
    smaller (no forced hint — both sides grow with corpus age)."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "fingerprint", F.md5(F.lower(F.col("text")))
    )
    in_history = hash_bucket(F.col("doc_id"), salt="incr") < int(0.8 * (1 << 32))
    history_fps = docs.filter(in_history).select("fingerprint")
    batch = docs.filter(~in_history)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    batch_dedup = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return batch_dedup.join(history_fps, "fingerprint", "left_anti").select(
        "doc_id", "lang"
    )


@register(
    "weekly_from_daily_rollup",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(*) AS n,
               SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(date_trunc('week', day), '%Y-%m-%d') AS week,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(cents) / 100.0 AS DOUBLE) AS total_value
    FROM daily GROUP BY 1, 2
    """,
)
def weekly_from_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup-hierarchy reaggregation — the pre-aggregate doctrine made
    explicit: the weekly report is computed FROM THE PERSISTED DAILY
    AGGREGATE (what a 100 TB pipeline materializes once per day), not
    from raw events — the second aggregate touches #types×#days rows
    instead of the fact table. Works because COUNT and integer-cent SUM
    are reaggregable (associative); AVG/quantiles are not — they must
    be carried as (sum, count) pairs or sketches (`operators/sketches`
    holds the distinct-count member of this family). Monday-start weeks
    via date_trunc in both engines; cents keep the money math exact
    across the two levels."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("value").cast("decimal(12,2)") * 100).cast("long")
            ).alias("cents"),
        )
    )
    return (
        daily.groupBy(
            "event_type",
            F.date_format(F.date_trunc("week", "day"), "yyyy-MM-dd").alias("week"),
        )
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            (F.sum("cents") / 100.0).cast("double").alias("total_value"),
        )
    )


@register(
    "pack_training_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '')) AS tok_len
        FROM documents
    ),
    off AS (
        SELECT doc_id, CAST(tok_len AS BIGINT) AS tok_len,
               CAST(COALESCE(SUM(tok_len) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_off
        FROM toks
    ),
    frag AS (
        SELECT doc_id, tok_len, start_off,
               UNNEST(range(start_off // 128, (start_off + tok_len - 1) // 128 + 1)) AS seq_id
        FROM off WHERE tok_len > 0
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(GREATEST(0, seq_id * 128 - start_off) AS BIGINT) AS slice_start,
           CAST(LEAST(start_off + tok_len, (seq_id + 1) * 128)
                - GREATEST(start_off, seq_id * 128) AS BIGINT) AS slice_len,
           CAST(GREATEST(start_off, seq_id * 128) - seq_id * 128 AS BIGINT) AS seq_pos
    FROM frag
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing (the GPT-style pretraining
    exporter step): documents laid end-to-end in doc_id order, the token
    stream cut every 128 tokens, one row per (sequence, doc fragment).
    A training exporter groups by ``seq_id`` to materialize fixed-length
    windows; ``slice_start``/``slice_len`` address the tokens inside
    each document, ``seq_pos`` places the fragment inside its sequence.

    Scale shape: the only global coordination is an exclusive prefix
    sum of ONE number per document, done with the two-pass
    range-partition + driver-prefix-sum-of-partition-totals machinery
    (``operators/packing.py``) — no single-partition window, nothing
    data-sized on the driver. The fragment explode and slice arithmetic
    are pure expressions. The oracle replays the prefix sum as a window
    cumsum (fine at test scale) and the fragment math verbatim."""
    from esther_apache_spark_spark.functions.text import tokenize
    from esther_apache_spark_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    toklen = docs.select(
        "doc_id", F.size(tokenize(F.col("text"))).cast("long").alias("tok_len")
    )
    packed = pack_sequences(toklen, [F.col("doc_id")], "tok_len", seq_len=128)
    return packed.select("seq_id", "doc_id", "slice_start", "slice_len", "seq_pos")


@register(
    "leakage_safe_split",
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
    lab AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node)
    SELECT d.doc_id,
           CAST(COALESCE(l.comp, d.doc_id) AS BIGINT) AS cluster_rep,
           CASE WHEN CAST(CONCAT('0x', substr(md5('lsplit' ||
                         CAST(COALESCE(l.comp, d.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT)
                     < 429496730
                THEN 'test' ELSE 'train' END AS split
    FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: near-duplicate documents must land
    on the SAME side, or the test set silently measures memorization of
    training text. Naive per-doc hash splits violate this for every
    near-dup cluster; this operator splits at CLUSTER granularity —
    lexical 3-gram-Jaccard ≥ 0.5 pairs (`dedup_ngram_jaccard`'s
    df-pruned inverted-index join) → connected components → each doc
    labeled by its cluster representative (itself when unique) → the
    ~10% test gate is the deterministic md5 bucket of the REP, so every
    member of a cluster shares one coin flip.

    Fully oracled: the pair + reachability stages replay as the same
    recursive CTE `lexical_dedup_survivors` uses, and the hash gate is
    the engine's standard md5-hex→BIGINT bucket (bit-identical in
    DuckDB). Scale shape: candidate generation is the capped equi-join,
    components iterate over the PAIR set only, and the final gate is a
    pushdown-able filter — identical posture to the survivor queries."""
    from esther_apache_spark_spark.operators import dedup as D
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    # Quotient-graph component labels (r8, ngram_jaccard_components):
    # byte-identical clones collapse before the inverted index (the r7
    # sf10 checkpoint OOMed the direct path on 100-deep planted clones)
    # and connected components iterate over one node per DISTINCT text —
    # every cluster_rep and split label is byte-identical to CC over the
    # pair API's output, collapsed or direct (oracle unchanged)
    lab = D.ngram_jaccard_components(docs, shingle_n=3, threshold=0.5)
    rep = F.coalesce(F.col("comp"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(lab, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            rep.cast("long").alias("cluster_rep"),
            F.when(hash_bucket(rep, "lsplit") < 429496730, "test")
            .otherwise("train")
            .alias("split"),
        )
    )


def _minhash_perm_literals() -> str:
    """The engine's 32×(a,b) multiply-shift constants as DuckDB HUGEINT
    array literals (same derivation as the ``dedup_minhash_lsh`` oracle
    in ``plans/extensions.py`` — mod 2^63 of the uint64-wrapped product
    equals mod 2^63 of the true HUGEINT product because 2^63 | 2^64)."""
    from esther_apache_spark_spark.operators import dedup as D

    a, b = D.minhash_perm_constants(32, 7)
    return (
        "CAST([" + ",".join(str(int(x)) for x in a) + "] AS HUGEINT[]) AS A, "
        "CAST([" + ",".join(str(int(x)) for x in b) + "] AS HUGEINT[]) AS B"
    )


@register(
    "decontaminate_minhash_train_docs",
    oracle=f"""
    WITH consts AS (SELECT {{perms}}),
    toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '') AS t
        FROM documents WHERE text IS NOT NULL
    ),
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
        SELECT doc_id, sig, bands, CAST(r.b AS INTEGER) AS band, bands[r.b + 1] AS bucket,
               CAST(CONCAT('0x', substr(md5('decon' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   < 429496729 AS is_eval
        FROM banded CROSS JOIN (SELECT unnest(range(8)) AS b) r
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
           ROUND(MAX(agree) / 32.0, 4) + 0.0 AS max_agreement
    FROM (
        SELECT a.doc_id,
               len(list_filter(range(32), i -> a.sig[i+1] = b.sig[i+1])) AS agree
        FROM expl a JOIN expl b
          ON a.band = b.band AND a.bucket = b.bucket
        WHERE NOT a.is_eval AND b.is_eval
          AND list_position(list_transform(range(8), j -> a.bands[j+1] = b.bands[j+1]), true) = a.band + 1
    ) WHERE agree >= 16
    GROUP BY doc_id
    """.replace("{perms}", _minhash_perm_literals()),
)
def decontaminate_minhash_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate eval-contamination report via cross-corpus MinHash:
    training docs whose signature agrees with some held-out eval doc on
    ≥ 16/32 positions (Jaccard ≈ 0.5) in at least one shared LSH band.
    Completes the decontamination triple: exact fingerprint
    (`decontaminate_train_docs`) < n-gram overlap
    (`decontaminate_ngram_train_docs`) < near-dup MinHash (this) —
    paraphrased or lightly-edited eval leakage that survives both
    stricter checks is caught here. Same hash-gated split (salt
    'decon'), so all three agree on the eval set.

    Fully SQL-replayed (md5 hash family): the oracle re-derives both
    sides' signatures, the (band, bucket) cross join, first-meet-band
    emission and the integer agreement threshold bit-for-bit. Scale:
    two narrow signature passes + one equi-join — never train×eval;
    the eval side is the AQE-broadcastable small side (no forced
    hint; it grows with sf)."""
    from esther_apache_spark_spark.operators import dedup as D
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    is_eval = hash_bucket(F.col("doc_id"), salt="decon") < int(0.1 * (1 << 32))
    matches = D.minhash_cross_matches(
        docs.filter(~is_eval),
        docs.filter(is_eval),
        num_perm=32,
        bands=8,
        shingle_n=3,
        min_agree=16,
    )
    return matches.groupBy(F.col("id_a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_eval_matches"),
        F.round(F.max("n_agree") / 32.0, 4).alias("max_agreement"),
    )


@register(
    "source_mix_report",
    oracle="""
    WITH base AS (
        SELECT source, doc_id, text,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '') AS toks,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
                    ELSE 0.0 END AS punct,
               md5(text) AS h
        FROM documents
    ), scored AS (
        SELECT source, doc_id, h, len(toks) AS ntok,
               CASE WHEN len(toks) > 0
                    THEN len(list_filter(toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that'))) / len(toks)
                    ELSE 0.0 END AS stop,
               punct
        FROM base
    ), q AS (
        SELECT source, doc_id, h, ntok,
               CAST(FLOOR(ROUND((least(ntok / 100.0, 1.0)
                      + greatest(1.0 - abs(stop - 0.4) / 0.4, 0.0)
                      + (1.0 - least(punct * 5, 1.0))) / 3, 4) * 10000 + 0.5) AS BIGINT) AS q4
        FROM scored
    ), dc AS (SELECT h, COUNT(*) AS hc FROM base GROUP BY h),
    agg AS (
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(ntok) AS n_tokens,
               SUM(q4) AS qsum,
               SUM(CASE WHEN dc.hc >= 2 THEN 1 ELSE 0 END) AS dup_docs
        FROM q LEFT JOIN dc USING (h) GROUP BY source
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           ROUND(n_docs / SUM(n_docs) OVER (), 4) + 0.0 AS doc_share,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(n_tokens / SUM(n_tokens) OVER (), 4) + 0.0 AS token_share,
           ROUND(qsum / (10000.0 * n_docs), 4) + 0.0 AS mean_quality,
           CAST(dup_docs AS BIGINT) AS dup_docs,
           ROUND(dup_docs / n_docs, 4) + 0.0 AS dup_rate
    FROM agg
    """,
)
def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus composition report — the daily readout a
    crawl-mix pipeline drives reweighting decisions with: document and
    token share, mean heuristic quality, and the exact-duplicate rate
    (share of the source's docs whose full text appears ≥ 2 times
    ANYWHERE in the corpus — cross-source boilerplate counts against
    both sources).

    Determinism: the quality mean sums per-doc scores as exact
    integers (4-dp score × 10⁴ via floor(x·10⁴+0.5) — the engine's
    half-up idiom) so float summation order can't diverge the engines;
    shares divide BIGINTs once at the end. Scale: one narrow projection
    (16-byte text hash, token count, score), one hash-count aggregate +
    hash equi-join for the dup flag, then a #sources-row aggregate; the
    share windows run over that bounded frame, never the corpus."""
    from esther_apache_spark_spark.functions.text import tokenize
    from esther_apache_spark_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        F.size(tokenize(F.col("text"))).cast("long").alias("ntok"),
        F.floor(quality_score(F.col("text")) * 10000 + F.lit(0.5))
        .cast("long")
        .alias("q4"),
        F.md5(F.col("text")).alias("h"),
    )
    dupcnt = per.groupBy("h").agg(F.count(F.lit(1)).alias("hc"))
    agg = (
        per.join(dupcnt, "h", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("n_tokens"),
            F.sum("q4").alias("qsum"),
            F.sum(F.when(F.col("hc") >= 2, 1).otherwise(0)).alias("dup_docs"),
        )
    )
    w = Window.partitionBy()  # #sources rows — bounded aggregate frame
    return agg.select(
        "source",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias("doc_share"),
        "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w), 4).alias("token_share"),
        F.round(F.col("qsum") / (F.lit(10000.0) * F.col("n_docs")), 4).alias(
            "mean_quality"
        ),
        F.col("dup_docs").cast("long").alias("dup_docs"),
        F.round(F.col("dup_docs") / F.col("n_docs"), 4).alias("dup_rate"),
    )


@register(
    "training_corpus_pipeline_packed",
    oracle="""
    WITH kept AS (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
        WHERE n_chars >= 100 AND lang IN ('en', 'fr', 'de')
    ),
    toklen AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '')) AS BIGINT) AS tok_len
        FROM kept WHERE rn = 1
    ),
    off AS (
        SELECT doc_id, tok_len,
               CAST(COALESCE(SUM(tok_len) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_off
        FROM toklen
    ),
    frag AS (
        SELECT doc_id, tok_len, start_off,
               UNNEST(range(start_off // 128, (start_off + tok_len - 1) // 128 + 1)) AS seq_id
        FROM off WHERE tok_len > 0
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(GREATEST(0, seq_id * 128 - start_off) AS BIGINT) AS slice_start,
           CAST(LEAST(start_off + tok_len, (seq_id + 1) * 128)
                - GREATEST(start_off, seq_id * 128) AS BIGINT) AS slice_len,
           CAST(GREATEST(start_off, seq_id * 128) - seq_id * 128 AS BIGINT) AS seq_pos
    FROM frag
    """,
)
def training_corpus_pipeline_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-export path: language/length quality gate →
    exact content dedup keep-first (md5, 16-byte shuffle keys) →
    concat-and-split sequence packing of the survivors (128-token
    sequences in doc_id order). The final shape a pretraining exporter
    materializes; `pack_training_sequences` is the packing stage alone
    on the raw corpus, this entry proves the stages compose.

    Scale: filter pushes to the scan, dedup shuffles hashes, packing's
    global coordination is the O(partitions) prefix-sum handshake —
    nothing data-sized on the driver at any stage."""
    from esther_apache_spark_spark.functions.text import tokenize
    from esther_apache_spark_spark.operators.packing import pack_sequences
    from esther_apache_spark_spark.operators.windows import keep_first

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("n_chars") >= 100) & F.col("lang").isin("en", "fr", "de")
    )
    kept = keep_first(
        docs.withColumn("_h", F.md5(F.col("text").cast("binary"))),
        ["_h"],
        [F.col("doc_id")],
    )
    toklen = kept.select(
        "doc_id", F.size(tokenize(F.col("text"))).cast("long").alias("tok_len")
    )
    packed = pack_sequences(toklen, [F.col("doc_id")], "tok_len", seq_len=128)
    return packed.select("seq_id", "doc_id", "slice_start", "slice_len", "seq_pos")


@register(
    "weighted_sample_docs",
    oracle="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(ln((CAST(CONCAT('0x', substr(md5('wsample' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                    / 1152921504606846976.0) / n_chars, 6) AS _wkey
    FROM documents
    WHERE n_chars > 0
    ORDER BY _wkey DESC, doc_id
    LIMIT 64
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (Efraimidis-Spirakis A-ES),
    64 docs with inclusion probability ∝ n_chars — the standard
    'subsample the corpus proportional to quality/length' step, exact
    and reproducible (md5-derived uniforms, no RNG state). The rank key
    ln(u)/w is rounded to 9 decimals with a doc_id tiebreak, so the
    selected set replays bit-for-bit in DuckDB. Plan shape:
    TakeOrderedAndProject over a narrow projection — no window, no
    shuffle beyond the top-k tree merge."""
    from esther_apache_spark_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = weighted_sample(docs, "doc_id", F.col("n_chars"), k=64)
    return out.select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"), "_wkey"
    )


@register(
    "decontaminate_bloom_train_docs",
    oracle="""
    WITH fp AS (
        SELECT doc_id, lang, md5(lower(text)) AS f,
               CAST(CONCAT('0x', substr(md5('decon' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   < 429496729 AS is_eval
        FROM documents
    ),
    epos AS (
        SELECT CAST(CONCAT('0x', substr(md5('bloomdecon' || CAST(r.i AS VARCHAR) || ':' || e.f), 1, 8)) AS BIGINT) % 131072 AS p
        FROM (SELECT DISTINCT f FROM fp WHERE is_eval) e
        CROSS JOIN (SELECT unnest(range(7)) AS i) r
    ),
    words AS (
        SELECT p // 60 AS widx,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 60 AS INTEGER)) AS w
        FROM epos GROUP BY 1
    ),
    tpos AS (
        SELECT t.doc_id, t.lang,
               CAST(CONCAT('0x', substr(md5('bloomdecon' || CAST(r.i AS VARCHAR) || ':' || t.f), 1, 8)) AS BIGINT) % 131072 AS p
        FROM fp t CROSS JOIN (SELECT unnest(range(7)) AS i) r
        WHERE NOT t.is_eval
    ),
    hits AS (
        SELECT doc_id, lang,
               bool_and(w IS NOT NULL
                        AND (w & (CAST(1 AS BIGINT) << CAST(p % 60 AS INTEGER))) != 0) AS flagged
        FROM tpos LEFT JOIN words ON words.widx = tpos.p // 60
        GROUP BY doc_id, lang
    )
    SELECT doc_id, lang FROM hits WHERE NOT flagged
    """,
)
def decontaminate_bloom_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated exact-fingerprint decontamination: the eval
    split's fingerprints build a ~2.7 KB-per-131072-bits Bloom filter
    (`sketches.bloom_words` — the set-membership member of the
    mergeable-sketch family), and training docs are dropped when ALL 7
    of their fingerprint's bits are set. Same split and fingerprint as
    `decontaminate_train_docs`; the answer differs ONLY by the filter's
    deterministic false positives (~0.1% at these sizes) — the at-scale
    trade: membership against a compact broadcast bitset instead of an
    anti-join against the full eval fingerprint set, and per-day eval
    filters merge by bit_or without re-reading anything.

    Fully SQL-replayed INCLUDING the false-positive set: positions are
    the md5 cms_slot construction, words pack 60 bits (non-negative
    shifts, exact BIGINT both engines)."""
    from esther_apache_spark_spark.operators import sketches as SK
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "fingerprint", F.md5(F.lower(F.col("text")))
    )
    is_eval = hash_bucket(F.col("doc_id"), salt="decon") < int(0.1 * (1 << 32))
    words = SK.bloom_words(
        docs.filter(is_eval), "fingerprint", m_bits=131072, k_hashes=7, salt="bloomdecon"
    )
    flagged = SK.bloom_might_contain(
        docs.filter(~is_eval),
        "fingerprint",
        words,
        m_bits=131072,
        k_hashes=7,
        salt="bloomdecon",
        flag_col="_flag",
    )
    return flagged.filter(~F.col("_flag")).select("doc_id", "lang")


@register(
    "weighted_sample_per_lang",
    oracle="""
    SELECT doc_id, lang, _wkey FROM (
        SELECT doc_id, lang,
               ROUND(ln((CAST(CONCAT('0x', substr(md5('wlang' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                        / 1152921504606846976.0) / n_chars, 6) AS _wkey,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY ROUND(ln((CAST(CONCAT('0x', substr(md5('wlang' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                                     / 1152921504606846976.0) / n_chars, 6) DESC,
                            doc_id
               ) AS rn
        FROM documents WHERE n_chars > 0
    ) WHERE rn <= 8
    """,
)
def weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted sampling without replacement: the A-ES
    exponential rank key (`weighted_sample_docs`), ranked WITHIN each
    language — 8 docs per lang with inclusion probability ∝ n_chars.
    The per-language subsample step of a mixture-balanced corpus build.

    Plan shape: the rank<=8 predicate optimizes into a PARTIAL
    WindowGroupLimit before the exchange (asserted for the rank family
    in tests/test_plan_shapes.py), so each map task forwards at most 8
    rows per language — skew-proof per-group top-k."""
    from esther_apache_spark_spark.operators.sampling import md5_long_u60

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (md5_long_u60(F.col("doc_id"), "wlang") + F.lit(1)) / F.lit(float(1 << 60))
    wkey = F.round(F.log(u) / F.col("n_chars"), 6)
    w = Window.partitionBy("lang").orderBy(F.col("_wkey").desc(), F.col("doc_id"))
    return (
        docs.withColumn("_wkey", wkey)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 8)
        .select("doc_id", "lang", "_wkey")
    )


@register(
    "contamination_overlap_report",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '') AS t,
               CAST(CONCAT('0x', substr(md5('decon' || CAST(doc_id AS VARCHAR)),
                                        1, 8)) AS BIGINT)
                   < CAST(0.1 * 4294967296 AS BIGINT) AS is_eval
        FROM documents
    ),
    grams AS (
        SELECT doc_id, is_eval, array_to_string(t[i:i+4], ' ') AS gram
        FROM toks, UNNEST(range(1, len(t) - 3)) AS r(i)
        WHERE len(t) >= 5
    ),
    eg AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
    per AS (
        SELECT g.doc_id,
               COUNT(*) AS n_grams,
               SUM(CASE WHEN eg.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        FROM grams g LEFT JOIN eg ON eg.gram = g.gram
        WHERE NOT g.is_eval
        GROUP BY g.doc_id
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_hit AS BIGINT) AS n_contaminated,
           ROUND(n_hit / n_grams, 4) + 0.0 AS overlap_frac
    FROM per WHERE n_hit > 0
    """,
)
def contamination_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED eval-contamination report: for each training doc that
    shares at least one 5-gram with the eval split, the FRACTION of its
    5-grams found in the eval set — the signal practitioners tune the
    drop-threshold with, where the binary `decontaminate_ngram_train_docs`
    can only answer any/none. Same split (salt 'decon'), same raw
    whitespace 5-grams, so the two queries agree on what counts as a
    hit.

    Scale shape identical to the binary variant: the distinct eval-gram
    set is the AQE-broadcastable small side of a LEFT join over the
    exploded train grams (positions counted, not distinct — repetition
    of a contaminated passage raises the fraction, deliberately); one
    partial-aggregable per-doc count; integer division only at the
    end."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "").alias("t"),
        (hash_bucket(F.col("doc_id"), salt="decon") < int(0.1 * (1 << 32))).alias(
            "is_eval"
        ),
    )
    grams = (
        docs.filter(F.size("t") >= 5)
        .select(
            "doc_id",
            "is_eval",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 5),
                    lambda i: F.concat_ws(
                        " ", *[F.get("t", i + F.lit(j)) for j in range(5)]
                    ),
                )
            ).alias("gram"),
        )
    )
    eg = grams.filter(F.col("is_eval")).select("gram").distinct()
    hit = grams.filter(~F.col("is_eval")).join(
        eg.withColumn("_hit", F.lit(1)), "gram", "left"
    )
    return (
        hit.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
        .filter(F.col("n_contaminated") > 0)
        .select(
            "doc_id",
            "n_grams",
            F.col("n_contaminated").cast("long").alias("n_contaminated"),
            F.round(F.col("n_contaminated") / F.col("n_grams"), 4).alias(
                "overlap_frac"
            ),
        )
    )


@register(
    "quality_normalized_by_source",
    oracle="""
    WITH base AS (
        SELECT source, doc_id, text,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '') AS toks,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
                    ELSE 0.0 END AS punct
        FROM documents
    ), scored AS (
        SELECT source, doc_id, len(toks) AS ntok,
               CASE WHEN len(toks) > 0
                    THEN len(list_filter(toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that'))) / len(toks)
                    ELSE 0.0 END AS stop,
               punct
        FROM base
    ), q AS (
        SELECT source, doc_id,
               CAST(FLOOR(ROUND((least(ntok / 100.0, 1.0)
                      + greatest(1.0 - abs(stop - 0.4) / 0.4, 0.0)
                      + (1.0 - least(punct * 5, 1.0))) / 3, 4) * 10000 + 0.5) AS BIGINT) AS q4
        FROM scored
    ), mom AS (
        SELECT source, COUNT(*) AS n, SUM(q4) AS s1, SUM(q4 * q4) AS s2
        FROM q GROUP BY source
    )
    SELECT q.doc_id, q.source,
           ROUND(q.q4 / 10000.0, 4) AS quality,
           CASE WHEN mom.n * mom.s2 - mom.s1 * mom.s1 > 0
                THEN ROUND((q.q4 * mom.n - mom.s1)
                           / (sqrt(CAST(mom.n * mom.s2 - mom.s1 * mom.s1 AS DOUBLE)) * sqrt(CAST(mom.n AS DOUBLE))), 4) + 0.0
                ELSE 0.0 END AS quality_z
    FROM q JOIN mom USING (source)
    """,
)
def quality_normalized_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: each doc's heuristic quality
    z-normalized WITHIN its source — the step that makes a global
    quality threshold fair when sources have different score baselines
    (a mid-quality doc from a clean source shouldn't outrank a top doc
    from a noisy one). Exact cross-engine: per-doc scores become 4-dp
    integers, per-source moments are INTEGER sums (n, Σq, Σq²), and
    z = (q·n − Σq) / (√(n·Σq² − (Σq)²)·√n) — algebraically (q−μ)/σ·…
    computed from integers with exactly two float ops (sqrt, divide)
    before the final rounding. Degenerate sources (zero variance) read
    z = 0. Scale: one narrow projection + a #sources-row aggregate
    joined back (AQE-broadcastable)."""
    from esther_apache_spark_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        "source",
        F.floor(quality_score(F.col("text")) * 10000 + F.lit(0.5))
        .cast("long")
        .alias("q4"),
    )
    mom = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q4").alias("s1"),
        F.sum(F.col("q4") * F.col("q4")).alias("s2"),
    )
    var_num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    z = F.round(
        (F.col("q4") * F.col("n") - F.col("s1"))
        / (F.sqrt(var_num.cast("double")) * F.sqrt(F.col("n").cast("double"))),
        4,
    )
    return (
        q.join(mom, "source")
        .select(
            "doc_id",
            "source",
            F.round(F.col("q4") / 10000.0, 4).alias("quality"),
            F.when(var_num > 0, z).otherwise(F.lit(0.0)).alias("quality_z"),
        )
    )


@register(
    "corpus_pipeline_funnel",
    oracle="""
    WITH raw AS (SELECT doc_id, lang, n_chars, text FROM documents),
    gated AS (
        SELECT * FROM raw WHERE n_chars >= 100 AND lang IN ('en', 'fr', 'de')
    ),
    kept AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM gated
        ) WHERE rn = 1
    ),
    toklen AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '')) AS tok
        FROM kept
    )
    SELECT stage, n_docs, n_tokens FROM (
        SELECT 1 AS ord, 'raw' AS stage,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM raw) AS n_docs,
               CAST(NULL AS BIGINT) AS n_tokens
        UNION ALL
        SELECT 2, 'quality_gate',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM gated), CAST(NULL AS BIGINT)
        UNION ALL
        SELECT 3, 'exact_dedup',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM kept),
               (SELECT CAST(SUM(tok) AS BIGINT) FROM toklen)
        UNION ALL
        SELECT 4, 'packed_sequences',
               (SELECT CAST(CAST((SUM(tok) + 127) // 128 AS BIGINT) AS BIGINT) FROM toklen),
               (SELECT CAST(SUM(tok) AS BIGINT) FROM toklen)
    )
    """,
)
def corpus_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline funnel accounting — the daily observability readout for
    the packed training-export path: docs surviving each stage (raw →
    language/length gate → exact dedup) and the token totals the packer
    will cut, with the final row counting the 128-token sequences the
    export materializes. Every number is a COUNT/SUM — the report a
    data-ops dashboard alerts on when a stage's survival rate moves.

    Plan shape: the stages share one scan lineage; each funnel row is a
    1-row aggregate (the packed-sequence count is pure arithmetic on
    the token total — ceil division — no packing job needed for the
    COUNT). Exact cross-engine: counts and integer token sums only."""
    from esther_apache_spark_spark.functions.text import tokenize
    from esther_apache_spark_spark.operators.windows import keep_first

    docs = load_table(spark, sf_dir, "documents")
    gated = docs.filter(
        (F.col("n_chars") >= 100) & F.col("lang").isin("en", "fr", "de")
    )
    kept = keep_first(
        gated.withColumn("_h", F.md5(F.col("text").cast("binary"))),
        ["_h"],
        [F.col("doc_id")],
    )
    toklen = kept.select(F.size(tokenize(F.col("text"))).cast("long").alias("tok"))
    n_raw = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    n_gated = gated.agg(F.count(F.lit(1)).cast("long").alias("n"))
    tok_agg = toklen.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("tok").cast("long").alias("toks"),
    )
    rows = [
        n_raw.select(
            F.lit("raw").alias("stage"),
            F.col("n").alias("n_docs"),
            F.lit(None).cast("long").alias("n_tokens"),
        ),
        n_gated.select(
            F.lit("quality_gate").alias("stage"),
            F.col("n").alias("n_docs"),
            F.lit(None).cast("long").alias("n_tokens"),
        ),
        tok_agg.select(
            F.lit("exact_dedup").alias("stage"),
            F.col("n").alias("n_docs"),
            F.col("toks").alias("n_tokens"),
        ),
        tok_agg.select(
            F.lit("packed_sequences").alias("stage"),
            F.expr("(toks + 127) DIV 128").cast("long").alias("n_docs"),
            F.col("toks").alias("n_tokens"),
        ),
    ]
    out = rows[0]
    for rdf in rows[1:]:
        out = out.union(rdf)
    return out


# ---------------------------------------------------------------------------
# Dataset-version diff — what changed between two corpus snapshots.
# ---------------------------------------------------------------------------
@register(
    "corpus_diff_versions",
    oracle="""
    WITH v1 AS (
        SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
    ),
    v2 AS (
        SELECT doc_id, source,
               md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h
        FROM documents
    ),
    diff AS (
        SELECT COALESCE(v2.source, v1.source) AS source,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.h <> v2.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM diff GROUP BY source, status
    """,
)
def corpus_diff_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff — the dataset-versioning readout
    a training pipeline publishes with every release (added / removed /
    changed / unchanged per source). Contract: join the two snapshots
    full-outer on the stable doc key and compare CONTENT HASHES, never
    the text — the shuffle then carries (key, 16-byte md5) instead of
    documents, so the diff costs two narrow scans + one join keyed on
    doc_id at any corpus size (same hash-not-payload doctrine as
    `dedup_exact_docs` and `incremental_dedup_new_docs`, which handles
    the new-batch-vs-history special case of this general diff). The
    two snapshots here are derived deterministically from the one test
    table (v1 drops every 10th doc; v2 revises every 7th), so the
    oracle replays the exact same diff."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("h")
    )
    v2 = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            )
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("h"),
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    diff = j.select(
        F.coalesce(F.col("b.source"), F.col("a.source")).alias("source"),
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.h") != F.col("b.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    return diff.groupBy("source", "status").agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# Length-bucketed padded batching — the fixed-shape-batch alternative
# to sequence packing.
# ---------------------------------------------------------------------------
@register(
    "length_bucket_batches",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '')) AS n_tok
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id, n_tok,
               CASE WHEN n_tok <= 1 THEN 1
                    ELSE 1::BIGINT << length(ltrim(bin(n_tok - 1), '0')) END AS bucket
        FROM tok
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST((COUNT(*) + GREATEST(4096 // bucket, 1) - 1)
                // GREATEST(4096 // bucket, 1) AS BIGINT)
               AS n_batches,
           CAST(ROUND(CAST(SUM(n_tok) AS DOUBLE)
                      / CAST(COUNT(*) * bucket AS DOUBLE), 6) AS DOUBLE)
               AS padding_efficiency
    FROM bucketed GROUP BY bucket
    """,
)
def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed PADDED batching plan — the fixed-shape-batch
    twin of `pack_training_sequences` (packing concatenates into a
    stream; bucketing pads every doc in a bucket to the bucket length,
    the right shape for models that want aligned batches). Buckets are
    power-of-two ceilings of the whitespace token count, computed with
    pure integer/bit ops (``1 << bits(n-1)`` — no log2 float); batch
    counts per bucket fall out of arithmetic alone
    (``ceil(n_docs / floor(4096/bucket))``), so the whole plan is one
    partial-aggregable groupBy on the bucket key — no window, no skewed
    per-bucket row_number (contrast the two-pass contiguous-position
    export in `shuffled_export_order` when explicit batch MEMBERSHIP
    must be materialized). padding_efficiency = real tokens / padded
    tokens is the readout that tells you which buckets waste compute —
    the number a pipeline owner tunes bucket boundaries against."""
    from esther_apache_spark_spark.operators.textstats import token_count

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", token_count(F.col("text"), mode="ws").cast("long").alias("n_tok")
    )
    bucketed = tok.select(
        "n_tok",
        F.when(F.col("n_tok") <= 1, F.lit(1).cast("long"))
        .otherwise(
            F.expr("shiftleft(1L, length(ltrim('0', bin(n_tok - 1))))")
        )
        .alias("bucket"),
    )
    # A doc longer than the 4096-token batch budget yields floor(4096/bucket)=0;
    # clamp to 1 (one over-budget doc per batch) so the division can't hit
    # ANSI DIVIDE_BY_ZERO. Oracle mirrors with GREATEST(4096 // bucket, 1).
    cap = F.greatest(
        F.floor(F.lit(4096) / F.col("bucket")).cast("long"), F.lit(1).cast("long")
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    ).select(
        "bucket",
        "n_docs",
        "total_tokens",
        F.floor((F.col("n_docs") + cap - 1) / cap).cast("long").alias("n_batches"),
        F.round(
            F.col("total_tokens").cast("double")
            / (F.col("n_docs") * F.col("bucket")).cast("double"),
            6,
        ).alias("padding_efficiency"),
    )


@register(
    "decode_token_ids_roundtrip",
    oracle=f"""
    WITH {_TOKENS_CTE},
    counts AS (SELECT word, COUNT(*) AS cnt FROM tokens GROUP BY word),
    vocab AS (
        SELECT word,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS token_id
        FROM counts
        ORDER BY token_id LIMIT 1000
    ),
    pos_tokens AS (
        SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS word
        FROM (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(
                           trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')),
                           '\\s+'),
                       w -> w <> '') AS toks
            FROM documents
        )
    ),
    encoded AS (
        SELECT p.doc_id, p.pos, p.word,
               COALESCE(v.token_id, 0) AS token_id
        FROM pos_tokens p LEFT JOIN vocab v ON p.word = v.word
    ),
    decoded AS (
        SELECT e.doc_id, e.pos, e.word AS orig_word,
               COALESCE(v2.word, '<unk>') AS dec_word
        FROM encoded e LEFT JOIN vocab v2 ON e.token_id = v2.token_id
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN dec_word = '<unk>' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           (array_to_string(list(dec_word ORDER BY pos), ' ')
            = array_to_string(list(orig_word ORDER BY pos), ' ')) AS roundtrip_ok
    FROM decoded GROUP BY doc_id
    """,
)
def decode_token_ids_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer DECODE pass, closing the encode round trip: id
    sequences (encode_documents_to_ids' ids against the same
    frequency-ranked vocab) are joined BACK through the id→word table
    (id 0 → '<unk>') and reassembled in token order; `roundtrip_ok`
    certifies decode(encode(text)) == normalized(text) exactly for
    fully in-vocabulary docs, and `n_oov` counts the tokens where the
    round trip is lossy by construction. Both directions broadcast the
    1000-row vocab (limit-capped); the only data-sized shuffle is the
    per-doc regroup, with ordered reassembly via
    array_sort(collect_list(struct(pos, word))) — arrival-order-proof.
    This is the validation query a pipeline runs after retraining a
    tokenizer, before re-encoding a corpus with it."""
    from esther_apache_spark_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "word")
    )
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    ww = Window.orderBy(F.col("cnt").desc(), F.col("word").asc())
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(1000)
        .select("word", F.row_number().over(ww).alias("token_id"))
    )
    encoded = toks.join(F.broadcast(vocab), "word", "left").select(
        "doc_id",
        "pos",
        F.col("word").alias("orig_word"),
        F.coalesce(F.col("token_id"), F.lit(0)).alias("token_id"),
    )
    dec_vocab = vocab.select(
        F.col("token_id").alias("dec_id"), F.col("word").alias("dec_word")
    )
    decoded = encoded.join(
        F.broadcast(dec_vocab), encoded.token_id == dec_vocab.dec_id, "left"
    ).select(
        "doc_id",
        "pos",
        "orig_word",
        F.coalesce(F.col("dec_word"), F.lit("<unk>")).alias("dec_word"),
    )

    def _joined(col: str):
        return F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", col))),
                lambda s: s[col],
            ),
            " ",
        )

    return decoded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("dec_word") == "<unk>", 1).otherwise(0)).alias("n_oov"),
        (_joined("dec_word") == _joined("orig_word")).alias("roundtrip_ok"),
    )


@register(
    "corpus_dataset_card",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, source, n_chars,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '')) AS n_tok,
               md5(text) AS h
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
           CAST(ROUND(CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                AS DOUBLE) AS mean_tokens,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
           CAST(ROUND(1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE)
                            / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE)
               AS exact_dup_rate
    FROM base
    """,
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one row — the stats manifest a pipeline
    publishes beside every corpus release (and the numbers a consumer
    checks before training): doc/token/char volume, language and source
    breadth, token-length envelope, and the exact-duplicate rate
    (1 − distinct content hashes / docs — the md5 never leaves the
    aggregate, so the shuffle carries 16-byte hashes). One scan, one
    aggregate: the count-distincts share a single Expand the same way
    `column_stats_lineitem` documents; per-source and per-lang slices
    of the same readout live in `source_mix_report` /
    `cap_docs_per_lang`, and the near-dup rate (this one is EXACT dups
    only) comes from the LSH family. Mean tokens is one rounded ratio
    of exact integers."""
    from esther_apache_spark_spark.operators.textstats import token_count

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        "n_chars",
        token_count(F.col("text"), mode="ws").cast("long").alias("n_tok"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    return base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("n_tok").alias("min_tokens"),
        F.max("n_tok").alias("max_tokens"),
        F.round(
            F.sum("n_tok").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dups"),
        F.round(
            F.lit(1.0)
            - F.countDistinct("h").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("exact_dup_rate"),
    )


@register(
    "source_lang_purity",
    oracle="""
    WITH counts AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY source, lang
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(ROUND(1.0 - CAST(SUM(n * n) AS DOUBLE)
                            / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)),
                      6) AS DOUBLE) AS lang_impurity
    FROM counts GROUP BY source
    """,
)
def source_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language purity — the mixture-health readout a corpus
    curator checks per ingest feed (a crawl source whose language mix
    suddenly broadens usually changed its extraction, not its
    audience). Impurity is the Gini/Simpson index 1 − Σ(nᵢ/N)², kept
    EXACT until the end: Σnᵢ² and N are BIGINT sums over the bounded
    (source, lang) count frame, so no per-term float ever enters —
    deliberately the no-transcendental alternative to Shannon entropy
    (whose per-term log ulps differ between libm and the JVM; the
    repo-wide doctrine is rational forms wherever the metric allows,
    same as BM25's rational idf). Two partial-aggregable groupBys on
    bounded categorical keys; one rounded division per source."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.round(
            F.lit(1.0)
            - F.sum(F.col("n") * F.col("n")).cast("double")
            / (F.sum("n").cast("double") * F.sum("n").cast("double")),
            6,
        ).alias("lang_impurity"),
    )


@register(
    "kfold_assignment_balance",
    oracle="""
    WITH folds AS (
        SELECT doc_id, lang,
               CAST(CONCAT('0x', substr(md5(CONCAT('fold1|',
                    CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 5 AS fold
        FROM documents
    )
    SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM folds GROUP BY fold, lang
    """,
)
def kfold_assignment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment + its balance
    audit: fold = md5-bucket(doc_id) mod 5 — the same salted
    md5-hex→BIGINT gate as `deterministic_sample_docs`, so folds are
    identical on any engine/partitioning and STABLE under corpus
    growth (a doc never changes folds when others are added — the
    property random shuffles lack), and fold ∩ fold' = ∅ by
    construction. The report is the per-(fold, lang) count matrix a
    practitioner eyeballs for stratification balance before trusting
    CV numbers; the assignment itself is the WHERE-clause filter
    (fold <> i to train, fold = i to validate) that pushes down to the
    scan. For leakage-safe folds on near-duplicated corpora, compose
    with the cluster-granular gate of `leakage_safe_split` (assign the
    CLUSTER representative's fold to every member)."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    folds = docs.select(
        "lang", (hash_bucket(F.col("doc_id"), salt="fold1|") % 5).alias("fold")
    )
    return folds.groupBy("fold", "lang").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "class_balance_weights",
    oracle="""
    WITH counts AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS k FROM counts)
    SELECT c.label, c.n,
           CAST(ROUND(CAST(t.total AS DOUBLE)
                      / (CAST(t.k AS DOUBLE) * CAST(c.n AS DOUBLE)), 6)
                AS DOUBLE) AS weight
    FROM counts c CROSS JOIN tot t
    """,
)
def class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class weights — N/(k·n_c) per label, the
    standard loss-reweighting table for imbalanced classification
    (weights average to 1 over the dataset by construction). One
    bounded-key aggregate; the (total, k) scalars are a 1-row frame
    the |labels|-row count table cross-joins (Catalyst folds it to the
    pinned 1-row broadcast shape). Exact integers until one rounded
    division; the weight table is what `weighted_sample_docs`-style
    A-ES sampling or a training loss consumes downstream."""
    emb = load_table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("k")
    ).withColumn("_k", F.lit(1))
    return (
        counts.withColumn("_k", F.lit(1))
        .join(F.broadcast(tot), "_k")
        .select(
            "label",
            "n",
            F.round(
                F.col("total").cast("double")
                / (F.col("k").cast("double") * F.col("n").cast("double")),
                6,
            ).alias("weight"),
        )
    )


@register(
    "dup_cluster_size_histogram",
    oracle="""
    WITH corpus AS (
        SELECT text FROM documents
        UNION ALL SELECT text FROM documents WHERE doc_id % 7 = 0
        UNION ALL SELECT text FROM documents WHERE doc_id % 21 = 0
    ),
    clusters AS (
        SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS size
        FROM corpus GROUP BY md5(text)
    )
    SELECT size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(size * COUNT(*) AS BIGINT) AS n_docs
    FROM clusters GROUP BY size
    """,
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size histogram — the dedup
    observability readout that tells you WHAT KIND of duplication a
    corpus carries before you pick a strategy: a fat size=2 band is
    organic near-reposts (plain keep-first handles it), a long tail of
    deep clusters is template/boilerplate mass (turn on
    `collapse_exact` so LSH work doesn't grow quadratically in clone
    depth — the measured r2 lesson), and n_docs per band quantifies
    exactly how many documents each policy would drop. Two
    partial-aggregable hash aggregates (content md5 → size,
    size → cluster count); text never shuffles, and the second
    aggregate runs over the frequency-of-frequency frame — the same
    collapse as `key_skew_report`'s Gini. The test corpus carries no
    exact dups, so the histogram's input plants deterministic reposts
    (every 7th doc twice, every 21st three times) — the same
    derived-snapshot trick as `corpus_diff_versions` — so all three
    bands (1, 2, 3) are exercised and oracled."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.select("text")
        .unionByName(docs.filter(F.col("doc_id") % 7 == 0).select("text"))
        .unionByName(docs.filter(F.col("doc_id") % 21 == 0).select("text"))
    )
    clusters = corpus.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.count(F.lit(1)).alias("size")
    )
    return clusters.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("size") * F.count(F.lit(1))).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Mutual information lang ↔ source — the Shannon complement of
# source_lang_purity's Gini impurity.
# ---------------------------------------------------------------------------
@register(
    "mi_lang_source_docs",
    oracle="""
    WITH joint AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    marg AS (
        SELECT lang, source, c,
               SUM(c) OVER (PARTITION BY lang) AS cx,
               SUM(c) OVER (PARTITION BY source) AS cy,
               SUM(c) OVER () AS n
        FROM joint
    ),
    mi AS (
        SELECT ROUND(SUM(ROUND((CAST(c AS DOUBLE) / n)
                     * LN(CAST(c AS DOUBLE) * n
                          / (CAST(cx AS DOUBLE) * cy)), 9)), 6) AS mi_nats
        FROM marg
    ),
    hx AS (
        SELECT ROUND(SUM(ROUND(-(CAST(cx AS DOUBLE) / n)
                               * LN(CAST(cx AS DOUBLE) / n), 9)), 6) AS h_lang
        FROM (SELECT DISTINCT lang, cx, n FROM marg)
    ),
    hy AS (
        SELECT ROUND(SUM(ROUND(-(CAST(cy AS DOUBLE) / n)
                               * LN(CAST(cy AS DOUBLE) / n), 9)), 6) AS h_source
        FROM (SELECT DISTINCT source, cy, n FROM marg)
    )
    SELECT mi_nats, h_lang, h_source,
           ROUND(mi_nats / LEAST(h_lang, h_source), 6) AS nmi
    FROM mi, hx, hy
    """,
)
def mi_lang_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between a corpus's two categorical axes
    (lang × source) — the Shannon-side complement of
    `source_lang_purity`'s Gini/Simpson impurity: MI says how much
    knowing the ingest feed tells you about the language (near 0 =
    feeds share one mix; near min(H) = each feed is language-pure),
    and NMI = MI/min(H_lang, H_source) normalizes it to [0,1] for
    dataset cards that compare corpora of different sizes. The
    uncertainty-coefficient family every profiler (pandas-profiling,
    Sweetviz) reports, done distributed.

    Determinism discipline (same as `token_entropy_score_docs`):
    counts stay exact BIGINT through the (lang, source) contingency
    frame; each transcendental term — p(x,y)·ln(p(x,y)/(p(x)p(y))) and
    the −p·ln p entropy terms — is rounded once to 9 dp, summed, and
    the three statistics rounded to 6 dp before the final NMI ratio of
    already-rounded values.

    Scale shape: ONE hash aggregate over the corpus (partial map-side
    combine to the |langs|×|sources| contingency frame); everything
    after runs on that bounded model-constant frame, where the
    marginal/total window sums and the 1-row combine are free. The
    document text column never leaves the scan."""
    docs = load_table(spark, sf_dir, "documents")
    joint = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    marg = joint.select(
        "lang",
        "source",
        "c",
        F.sum("c").over(Window.partitionBy("lang")).alias("cx"),
        F.sum("c").over(Window.partitionBy("source")).alias("cy"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    cd, nd = F.col("c").cast("double"), F.col("n").cast("double")
    mi_term = F.round(
        (cd / nd)
        * F.log(cd * nd / (F.col("cx").cast("double") * F.col("cy"))),
        9,
    )
    mi = marg.agg(F.round(F.sum(mi_term), 6).alias("mi_nats"))
    px = F.col("cx").cast("double") / nd
    hx = (
        marg.select("lang", "cx", "n")
        .distinct()
        .agg(F.round(F.sum(F.round(-px * F.log(px), 9)), 6).alias("h_lang"))
    )
    py = F.col("cy").cast("double") / nd
    hy = (
        marg.select("source", "cy", "n")
        .distinct()
        .agg(F.round(F.sum(F.round(-py * F.log(py), 9)), 6).alias("h_source"))
    )
    return (
        mi.crossJoin(hx)
        .crossJoin(hy)
        .select(
            "mi_nats",
            "h_lang",
            "h_source",
            F.round(
                F.col("mi_nats") / F.least("h_lang", "h_source"), 6
            ).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# Multinomial naive Bayes language classifier — trained AND applied
# fully relationally, with a real train/holdout split.
# ---------------------------------------------------------------------------
@register(
    "naive_bayes_langid_docs",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, t AS term FROM (
            SELECT doc_id, lang,
                   unnest(string_split(lower(text), ' ')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    trtok AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
    vocab AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM trtok),
    lt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
           FROM trtok GROUP BY 1),
    dlang AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS d_l
              FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
    dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS d
             FROM documents WHERE doc_id % 2 = 0),
    model AS (SELECT term, lang, CAST(COUNT(*) AS BIGINT) AS c
              FROM trtok GROUP BY 1, 2),
    w AS (
        SELECT m.term, m.lang,
               CAST(FLOOR(LN(CAST(m.c + 1 AS DOUBLE) / (lt.n_l + vocab.v))
                          * 1000000.0 + 0.5) AS BIGINT) AS w
        FROM model m JOIN lt ON m.lang = lt.lang, vocab
    ),
    defs AS (
        SELECT lt.lang,
               CAST(FLOOR(LN(1.0 / (lt.n_l + vocab.v))
                          * 1000000.0 + 0.5) AS BIGINT) AS defw,
               CAST(FLOOR(LN(CAST(dlang.d_l AS DOUBLE) / dtot.d)
                          * 1000000.0 + 0.5) AS BIGINT) AS priorw
        FROM lt JOIN dlang ON lt.lang = dlang.lang, vocab, dtot
    ),
    dtf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, lang AS actual, CAST(COUNT(*) AS BIGINT) AS len
           FROM tok GROUP BY 1, 2),
    mt AS (
        SELECT dtf.doc_id, w.lang,
               SUM(dtf.tf * w.w) AS sw, SUM(dtf.tf) AS m
        FROM dtf JOIN w ON dtf.term = w.term GROUP BY 1, 2
    ),
    scored AS (
        SELECT dl.doc_id, dl.actual, d.lang,
               d.priorw + COALESCE(mt.sw, 0)
                        + (dl.len - COALESCE(mt.m, 0)) * d.defw AS score
        FROM dl CROSS JOIN defs d
        LEFT JOIN mt ON mt.doc_id = dl.doc_id AND mt.lang = d.lang
    ),
    pick AS (
        SELECT doc_id, actual, lang, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang ASC) AS rn
        FROM scored
    )
    SELECT doc_id, actual AS lang, lang AS pred_lang,
           CAST(score AS BIGINT) AS score_micro,
           doc_id % 2 <> 0 AS is_holdout
    FROM pick WHERE rn = 1
    """,
)
def naive_bayes_langid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier, trained AND applied
    entirely relationally — the model-based upgrade to the n-gram
    heuristic behind `langid_confusion_matrix`: training is two hash
    aggregates over the even-doc_id half (per-(term, lang) counts +
    per-lang totals), the model IS a weight table, and scoring every
    doc (holdout odd half included, flagged) is one join against that
    table — the same broadcast-model shape as
    `quality_classifier_score_docs`, generalized to multiclass
    generative scoring with add-one smoothing.

    The determinism trick that makes a log-likelihood ARGMAX
    oracle-able: every log term — add-one token likelihood
    ln((c+1)/(N_l+V)), unseen-token default ln(1/(N_l+V)), prior
    ln(d_l/D) — is quantized ONCE to integer micro-nats
    (floor(x·1e6 + 0.5)); a doc's score is then the exact BIGINT
    Σ tf·w + (len−matched)·defw + prior, so the per-doc argmax (score
    DESC, lang ASC) has no float comparison anywhere. Zero-token docs
    drop out identically in both engines.

    Scale: the weight table is vocab-bounded and the 5-row per-lang
    default/prior frame is a model constant (allowlisted cross join);
    the doc-side Σ tf·w aggregate is partial-aggregable; raw text never
    shuffles past tokenization."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        ).filter(F.col("term") != "")
    )
    trtok = tok.filter(F.col("doc_id") % 2 == 0)
    vocab = trtok.agg(F.countDistinct("term").alias("v"))
    lt = trtok.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    dlang = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("d_l"))
    )
    dtot = docs.filter(F.col("doc_id") % 2 == 0).agg(
        F.count(F.lit(1)).alias("d")
    )
    model = trtok.groupBy("term", "lang").agg(F.count(F.lit(1)).alias("c"))
    micro = lambda col: F.floor(col * 1000000.0 + 0.5).cast("long")  # noqa: E731
    w = (
        model.join(lt, "lang")
        .crossJoin(vocab)
        .select(
            "term",
            "lang",
            micro(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("n_l") + F.col("v"))
                )
            ).alias("w"),
        )
    )
    defs = (
        lt.join(dlang, "lang")
        .crossJoin(vocab)
        .crossJoin(dtot)
        .select(
            "lang",
            micro(F.log(F.lit(1.0) / (F.col("n_l") + F.col("v")))).alias(
                "defw"
            ),
            micro(
                F.log(F.col("d_l").cast("double") / F.col("d"))
            ).alias("priorw"),
        )
    )
    dtf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id", F.col("lang").alias("actual")).agg(
        F.count(F.lit(1)).alias("len")
    )
    mt = (
        dtf.join(w, "term")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("tf") * F.col("w")).alias("sw"),
            F.sum("tf").alias("m"),
        )
    )
    scored = (
        dl.crossJoin(defs)
        .join(mt, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "actual",
            "lang",
            (
                F.col("priorw")
                + F.coalesce("sw", F.lit(0))
                + (F.col("len") - F.coalesce("m", F.lit(0))) * F.col("defw")
            ).alias("score"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("actual").alias("lang"),
            F.col("lang").alias("pred_lang"),
            F.col("score").cast("long").alias("score_micro"),
            (F.col("doc_id") % 2 != 0).alias("is_holdout"),
        )
    )


# ---------------------------------------------------------------------------
# Jensen–Shannon divergence between corpus halves — the symmetric,
# bounded drift measure for token distributions.
# ---------------------------------------------------------------------------
@register(
    "js_divergence_corpus_halves",
    oracle="""
    WITH tok AS (
        SELECT doc_id % 2 = 0 AS in_a, t AS term FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    cnt AS (
        SELECT term,
               CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        FROM tok GROUP BY 1
    ),
    nn AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
        FROM cnt
    ),
    tot AS (SELECT term, ca, cb, na, nb FROM cnt, nn),
    terms AS (
        SELECT term, ca, cb,
               CASE WHEN ca > 0 THEN ROUND(
                   0.5 * (CAST(ca AS DOUBLE) / na)
                   * LN((CAST(ca AS DOUBLE) / na)
                        / (0.5 * (CAST(ca AS DOUBLE) / na)
                           + 0.5 * (CAST(cb AS DOUBLE) / nb))), 9)
                    ELSE 0.0 END
             + CASE WHEN cb > 0 THEN ROUND(
                   0.5 * (CAST(cb AS DOUBLE) / nb)
                   * LN((CAST(cb AS DOUBLE) / nb)
                        / (0.5 * (CAST(ca AS DOUBLE) / na)
                           + 0.5 * (CAST(cb AS DOUBLE) / nb))), 9)
                    ELSE 0.0 END AS j
        FROM tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(SUM(j), 6) AS jsd_nats,
           ROUND(SUM(j) / LN(2.0), 6) AS jsd_bits
    FROM terms
    """,
)
def js_divergence_corpus_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between the token distributions of the
    even- and odd-doc_id corpus halves — the symmetric, always-finite
    (≤ ln 2) drift measure for comparing corpus VERSIONS or shards
    (`corpus_diff_versions` counts what changed; JSD weighs how much
    the language itself moved — the standard dataset-shift readout
    between crawl snapshots). The A/B split here is the deterministic
    stand-in for "yesterday's corpus vs today's".

    Determinism: exact integer (term, count_a, count_b) frame from one
    hash aggregate; totals via window sums over that vocab frame; each
    half's p·ln(p/m) contribution (mixture m = (p+q)/2) rounded once at
    9 dp — zero-count sides contribute exactly 0 by the KL convention,
    with no smoothing needed since m > 0 wherever either side is
    present. Scale: one map-combinable aggregate over tokens; text
    never shuffles; the vocab frame is the only shuffled relation, and
    the grand totals ride a 1-row scalar broadcast (allowlisted) rather
    than an empty-partition window — the vocab frame is data-sized, so
    funneling it through one partition would be the bottleneck."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            (F.col("doc_id") % 2 == 0).alias("in_a"),
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        ).filter(F.col("term") != "")
    )
    cnt = tok.groupBy("term").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).alias("cb"),
    )
    nn = cnt.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    tot = cnt.crossJoin(nn)
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    m = 0.5 * pa + 0.5 * pb
    j = F.when(
        F.col("ca") > 0, F.round(0.5 * pa * F.log(pa / m), 9)
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("cb") > 0, F.round(0.5 * pb * F.log(pb / m), 9)
    ).otherwise(F.lit(0.0))
    return tot.select(j.alias("j")).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(F.sum("j"), 6).alias("jsd_nats"),
        F.round(F.sum("j") / F.log(F.lit(2.0)), 6).alias("jsd_bits"),
    )


# ---------------------------------------------------------------------------
# Bigram LM fluency score — the conditional upgrade of the unigram NLL.
# ---------------------------------------------------------------------------
@register(
    "bigram_nll_score_docs",
    oracle="""
    WITH arrs AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                           x -> x <> '') AS arr
        FROM documents
    ),
    bg AS (
        SELECT doc_id, z[1] AS prev, z[2] AS cur FROM (
            SELECT doc_id, unnest(list_zip(arr, arr[2:])) AS z FROM arrs
        ) WHERE z[2] IS NOT NULL
    ),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM (
            SELECT unnest(arr) AS t FROM arrs
        )
    ),
    ctx AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS cp FROM bg GROUP BY 1),
    bc AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c
           FROM bg GROUP BY 1, 2),
    lp AS (
        SELECT bc.prev, bc.cur,
               ROUND(LN((CAST(bc.c AS DOUBLE) + 1.0)
                        / (CAST(ctx.cp AS DOUBLE) + vocab.v)), 9) AS lp
        FROM bc JOIN ctx ON bc.prev = ctx.prev, vocab
    )
    SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(lp.lp) / COUNT(*), 4) AS bigram_nll
    FROM bg JOIN lp ON bg.prev = lp.prev AND bg.cur = lp.cur
    GROUP BY bg.doc_id
    """,
)
def bigram_nll_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score per document — the
    CONDITIONAL upgrade of `unigram_nll_score_docs`: P(cur|prev) with
    add-one smoothing over the vocabulary, so word-order scrambles
    (which the unigram model cannot see) score as disfluent — the same
    reason CCNet-style pipelines use n-gram KenLM models rather than
    frequency lexicons. Documents with <2 tokens drop out identically
    in both engines (no transition to score).

    Determinism (the unigram query's discipline, one conditioning level
    up): the bigram and context-count tables are exact integers; the
    single ln per DISTINCT (prev, cur) pair is rounded once at 9 dp in
    the model table, not per occurrence; per-doc mean rounded at 4 dp.
    Adjacency is defined on the EMPTY-FILTERED token array in both
    engines — filtering after explode would disagree about double
    spaces.

    Scale: the model is a (vocab × observed-successor) table — data-
    derived but vocabulary-bounded, like BM25's; the doc-side join is a
    partial-aggregable sum over transitions; text leaves the scan only
    as tokens."""
    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower("text"), " "), lambda x: x != ""
        ).alias("arr"),
    )
    e = arrs.select(
        "doc_id", "arr", F.posexplode("arr").alias("pos", "prev")
    )
    bg = e.filter(F.col("pos") + 2 <= F.size("arr")).select(
        "doc_id",
        "prev",
        F.element_at("arr", F.col("pos") + 2).alias("cur"),
    )
    vocab = arrs.select(F.explode("arr").alias("t")).agg(
        F.countDistinct("t").alias("v")
    )
    ctx = bg.groupBy("prev").agg(F.count(F.lit(1)).alias("cp"))
    bc = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c"))
    lp = (
        bc.join(ctx, "prev")
        .crossJoin(vocab)
        .select(
            "prev",
            "cur",
            F.round(
                F.log(
                    (F.col("c").cast("double") + 1.0)
                    / (F.col("cp").cast("double") + F.col("v"))
                ),
                9,
            ).alias("lp"),
        )
    )
    return (
        bg.join(lp, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(-F.sum("lp") / F.count(F.lit(1)), 4).alias("bigram_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility — subword cost per language.
# ---------------------------------------------------------------------------
@register(
    "tokenizer_fertility_by_lang",
    oracle="""
    WITH base AS (
        SELECT lang,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_ws,
               CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                   AS n_bpe,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS total_words,
           CAST(SUM(n_bpe) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS fertility,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_bpe), 6)
               AS chars_per_token
    FROM base WHERE n_ws > 0
    GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — subword tokens per whitespace
    word (and chars per token), the budgeting metric behind multilingual
    training-mix decisions: a language whose fertility is 2× pays twice
    the sequence length for the same text, which shifts both its
    effective epoch count and its serving cost. Uses the engine's
    BPE-ish regex tokenizer (`operators/textstats.token_count`) against
    the whitespace word count — swap in `bpe_learn_merges`' trained
    merges for a corpus-specific vocabulary; the ratio algebra is
    unchanged.

    Exact integer token counts summed per lang (one map-combinable
    aggregate); the two ratios are single double divisions of exact
    totals. Zero-word docs are excluded identically in both engines."""
    from esther_apache_spark_spark.functions.text import tokenize
    from esther_apache_spark_spark.operators.textstats import token_count

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        F.size(tokenize(F.col("text"), normalize=False)).cast("long").alias(
            "n_ws"
        ),
        token_count(F.col("text"), "bpe").cast("long").alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        base.filter(F.col("n_ws") > 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").alias("total_words"),
            F.sum("n_bpe").alias("total_tokens"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6
            ).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf tail index — the corpus frequency-law companion to Heaps growth.
# ---------------------------------------------------------------------------
@register(
    "zipf_slope_vocab",
    oracle="""
    WITH tok AS (
        SELECT t AS term FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents
        ) WHERE t <> ''
    ),
    v AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
    ranked AS (
        SELECT cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rnk
        FROM v
    ),
    top AS (
        SELECT ROUND(LN(CAST(rnk AS DOUBLE)), 9) AS x,
               ROUND(LN(CAST(cnt AS DOUBLE)), 9) AS y
        FROM ranked WHERE rnk <= 1000
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM top
    )
    SELECT n AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               AS zipf_slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS log_intercept
    FROM s
    """,
)
def zipf_slope_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf tail index of the corpus vocabulary — the OLS slope of
    ln(freq) on ln(rank) over the top-1000 terms (natural text sits
    near −1; a corpus whose slope drifts flat is template/boilerplate-
    heavy, one that steepens lost its long tail to over-aggressive
    filtering). The frequency-LAW companion to `vocab_growth_heaps`
    (which tracks vocabulary SIZE) — together they are the two
    classical sanity checks a dataset card reports on token statistics.

    Determinism: ranks from a (cnt DESC, term ASC) total order; both
    logs rounded once at 9 dp per term (the transcendental doctrine);
    the OLS slope/intercept are the standard cross-multiplied closed
    form over four sums of those rounded values, divided once. Scale:
    one token aggregate, one vocabulary rank (TakeOrderedAndProject-
    style cap at 1000 rows), then arithmetic on a model-constant
    frame."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    v = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    # distributed top-k FIRST (TakeOrderedAndProject), so the global
    # rank window only ever sees the 1000-row model-constant frame —
    # never a single-partition sort of the data-sized vocabulary
    top1k = v.orderBy(F.desc("cnt"), F.asc("term")).limit(1000)
    ranked = top1k.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("term")))
        .alias("rnk"),
    )
    top = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 9).alias("y"),
    )
    s = top.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        n.cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "log_intercept"
        ),
    )


# ---------------------------------------------------------------------------
# Lexical diversity per source — type-token ratio family.
# ---------------------------------------------------------------------------
@register(
    "lexical_diversity_by_source",
    oracle="""
    WITH tok AS (
        SELECT source, t AS term FROM (
            SELECT source, unnest(string_split(lower(text), ' ')) AS t
            FROM documents
        ) WHERE t <> ''
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT term) AS BIGINT) AS n_types,
           ROUND(CAST(COUNT(DISTINCT term) AS DOUBLE) / COUNT(*), 6) AS ttr,
           ROUND(CAST(COUNT(DISTINCT term) AS DOUBLE)
                 / SQRT(CAST(COUNT(*) AS DOUBLE)), 6) AS root_ttr
    FROM tok GROUP BY source
    """,
)
def lexical_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per ingest source — corpus-level lexical
    diversity (the per-FEED counterpart of `token_entropy_score_docs`'
    per-document signal): a feed whose TTR collapses is pumping
    templates/boilerplate even when its per-doc quality scores look
    fine, because repetition across documents is invisible to per-doc
    metrics. Guiraud's root TTR (types/√tokens) rides along since raw
    TTR shrinks mechanically with volume — compare feeds of different
    sizes on root_ttr, same-size snapshots on ttr.

    Exact integer counts (one aggregate with an exact COUNT DISTINCT —
    the Expand-based plan documented at `column_stats_lineitem`; swap
    in the HLL sketch variant at 100 TB if ±1% suffices); the two
    ratios are single divisions with one IEEE sqrt."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    return tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("n_types"),
        F.round(
            F.countDistinct("term").cast("double") / F.count(F.lit(1)), 6
        ).alias("ttr"),
        F.round(
            F.countDistinct("term").cast("double")
            / F.sqrt(F.count(F.lit(1)).cast("double")),
            6,
        ).alias("root_ttr"),
    )


# ---------------------------------------------------------------------------
# Fertility × quality cross report — where does the tokenizer pay, and
# is it paying on text worth keeping?
# ---------------------------------------------------------------------------
@register(
    "fertility_quality_cross_by_source",
    oracle="""
    WITH base AS (
        SELECT source,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '')) AS n_ws,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
                   '[^\\w\\s]', '', 'g')), '\\s+'), x -> x <> '') AS toks,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text,
                         '[^\\w\\s]', '', 'g'))) / length(text)
                    ELSE 0.0 END AS punct
        FROM documents
    ),
    scored AS (
        SELECT source, n_ws, n_bpe,
               ROUND((least(len(toks) / 100.0, 1.0)
                      + greatest(1.0 - abs((CASE WHEN len(toks) > 0
                           THEN len(list_filter(toks, t -> t IN
                                ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that')))
                                / len(toks) ELSE 0.0 END) - 0.4) / 0.4, 0.0)
                      + (1.0 - least(punct * 5, 1.0))) / 3, 4) AS q
        FROM base
    ),
    banded AS (
        SELECT source,
               CASE WHEN q < 0.5 THEN 'low'
                    WHEN q < 0.62 THEN 'mid'
                    ELSE 'high' END AS quality_band,
               n_ws, n_bpe,
               CAST(FLOOR(q * 10000 + 0.5) AS BIGINT) AS q10k
        FROM scored WHERE n_ws > 0
    )
    SELECT source, quality_band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS total_words,
           ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS fertility,
           ROUND(CAST(SUM(q10k) AS DOUBLE) / COUNT(*) / 10000.0, 4)
               AS mean_quality
    FROM banded GROUP BY 1, 2
    """,
)
def fertility_quality_cross_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility CROSSED with quality band per source — the
    curation question neither marginal report answers alone: a feed
    whose high-fertility (expensive-to-tokenize) documents are also its
    LOW-quality ones is pure cost, while high fertility concentrated in
    the high-quality band may be worth the tokens (code, non-Latin
    scripts). Bands cut the composite quality heuristic
    (`operators.textstats.quality_score`, the oracled text_stats
    expression) at 0.5 / 0.62 — fixed breaks, not data quantiles, so
    the contract is stable as the corpus grows.

    Determinism: fertility is a ratio of exact BIGINT token counts;
    mean quality is summed as exact integers (each doc's 4dp-rounded
    score requantized to q·10⁴ before the group sum — a float sum of
    rounded doubles would be shuffle-order-dependent) and divided once.
    Scale: one projection pass + one hash agg to |sources|×3 rows; text
    never shuffles."""
    from esther_apache_spark_spark.operators.textstats import (
        quality_score,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    base = docs.select(
        "source",
        token_count(F.col("text"), "ws").alias("n_ws"),
        token_count(F.col("text"), "bpe").alias("n_bpe"),
        F.when(q < 0.5, "low").when(q < 0.62, "mid").otherwise("high").alias(
            "quality_band"
        ),
        F.floor(q * 10000 + F.lit(0.5)).cast("long").alias("q10k"),
    ).filter(F.col("n_ws") > 0)
    return base.groupBy("source", "quality_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_ws").cast("long").alias("total_words"),
        F.round(
            F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6
        ).alias("fertility"),
        F.round(
            F.sum("q10k").cast("double") / F.count(F.lit(1)) / 10000.0, 4
        ).alias("mean_quality"),
    )


# ---------------------------------------------------------------------------
# Stupid-backoff bigram LM on a held-out half — the generalization
# upgrade of the in-corpus bigram NLL.
# ---------------------------------------------------------------------------
@register(
    "bigram_backoff_nll_docs",
    oracle="""
    WITH arrs AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                           x -> x <> '') AS arr
        FROM documents
    ),
    tr AS (SELECT * FROM arrs WHERE doc_id % 2 = 0),
    te AS (SELECT * FROM arrs WHERE doc_id % 2 = 1),
    bgt AS (
        SELECT doc_id, z[1] AS prev, z[2] AS cur FROM (
            SELECT doc_id, unnest(list_zip(arr, arr[2:])) AS z FROM tr
        ) WHERE z[2] IS NOT NULL
    ),
    bge AS (
        SELECT doc_id, z[1] AS prev, z[2] AS cur FROM (
            SELECT doc_id, unnest(list_zip(arr, arr[2:])) AS z FROM te
        ) WHERE z[2] IS NOT NULL
    ),
    uni AS (
        SELECT t AS cur, CAST(COUNT(*) AS BIGINT) AS cu FROM (
            SELECT unnest(arr) AS t FROM tr
        ) GROUP BY 1
    ),
    consts AS (
        SELECT CAST(SUM(cu) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS v
        FROM uni
    ),
    ctx AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS cp FROM bgt GROUP BY 1),
    bi AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c
           FROM bgt GROUP BY 1, 2),
    bil AS (
        SELECT bi.prev, bi.cur,
               ROUND(LN(CAST(c AS DOUBLE) / CAST(cp AS DOUBLE)), 9) AS lp_bi
        FROM bi JOIN ctx USING (prev)
    ),
    unil AS (
        SELECT cur,
               ROUND(LN(0.4 * CAST(cu AS DOUBLE) / CAST(nn AS DOUBLE)), 9)
                   AS lp_uni
        FROM uni, consts
    )
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(COALESCE(lp_bi, lp_uni,
                               ROUND(LN(0.4 / CAST(v AS DOUBLE)), 9)))
                 / COUNT(*), 4) AS backoff_nll,
           ROUND(SUM(CASE WHEN lp_bi IS NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS backoff_rate
    FROM bge e
    LEFT JOIN bil USING (prev, cur)
    LEFT JOIN unil USING (cur), consts
    GROUP BY 1
    """,
)
def bigram_backoff_nll_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram fluency score on a HELD-OUT half: the model
    (bigram MLE, 0.4-discounted unigram backoff, uniform 0.4/V floor —
    Brants et al.'s web-LM recipe) trains on even doc_ids and scores odd
    ones, so unseen transitions actually exercise the backoff chain —
    `bigram_nll_score_docs` scores in-corpus where every bigram is seen
    and smoothing never fires. `backoff_rate` (share of transitions that
    fell back) is the domain-shift diagnostic: a feed whose rate spikes
    against the corpus LM is out-of-distribution for the corpus.

    Determinism: all counts exact BIGINT; exactly one ln per DISTINCT
    model key, rounded at 9dp in the model table (never per
    occurrence); the uniform floor is one rounded expression of the
    exact vocab size. Scale: the model is vocabulary-bounded; the
    doc-side is two broadcast-able LEFT joins and a partial-aggregable
    per-doc sum; text leaves the scan only as tokens."""
    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda x: x != "").alias("arr"),
    )
    train = arrs.filter(F.col("doc_id") % 2 == 0)
    test = arrs.filter(F.col("doc_id") % 2 == 1)

    def bigrams(a: DataFrame) -> DataFrame:
        e = a.select("doc_id", "arr", F.posexplode("arr").alias("pos", "prev"))
        return e.filter(F.col("pos") + 2 <= F.size("arr")).select(
            "doc_id", "prev", F.element_at("arr", F.col("pos") + 2).alias("cur")
        )

    bg_tr, bg_te = bigrams(train), bigrams(test)
    uni = train.select(F.explode("arr").alias("cur")).groupBy("cur").agg(
        F.count(F.lit(1)).alias("cu")
    )
    consts = uni.agg(
        F.sum("cu").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    ctx = bg_tr.groupBy("prev").agg(F.count(F.lit(1)).alias("cp"))
    bil = (
        bg_tr.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(ctx, "prev")
        .select(
            "prev",
            "cur",
            F.round(
                F.log(F.col("c").cast("double") / F.col("cp").cast("double")), 9
            ).alias("lp_bi"),
        )
    )
    unil = uni.crossJoin(consts).select(
        "cur",
        F.round(
            F.log(0.4 * F.col("cu").cast("double") / F.col("nn").cast("double")),
            9,
        ).alias("lp_uni"),
    )
    scored = (
        bg_te.join(bil, ["prev", "cur"], "left")
        .join(unil, "cur", "left")
        .crossJoin(consts)
        .select(
            "doc_id",
            "lp_bi",
            F.coalesce(
                "lp_bi",
                "lp_uni",
                F.round(F.log(0.4 / F.col("v").cast("double")), 9),
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(-F.sum("lp") / F.count(F.lit(1)), 4).alias("backoff_nll"),
        F.round(
            F.sum(F.when(F.col("lp_bi").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("backoff_rate"),
    )
