"""Incremental NEAR-dup dedup catalog entries (VERDICT r8 #1) — the
daily-ingest shape ``incremental_dedup_new_docs`` covers for exact
fingerprints, now for MinHash and embeddings: a persisted signature
index carries the history slice, the arriving batch is banded/bucketed
and joined against the index (history content is NEVER re-read — the
plan pin in tests/test_incremental_dedup.py proves it), and new pairs
merge into the existing component labels without a global
connected-components recompute (see ``operators/incremental.py``).

Each entry simulates both halves of the production shape in one call —
the nightly index build over the hash-gated 80% "history" slice
(committed to a per-call snapshot store, the plan barrier that makes
phase 2's lineage index-fed), then the merge of the 20% "batch" — and
returns the batch's final labels. The oracle replays the FULL-corpus
recompute in SQL (signatures/buckets, pairing, recursive-CTE
components) restricted to batch docs: the incremental merge's correctness claim IS that its
labels equal the full recompute's (min-of-mins over merged components),
so the oracle never needs to model the index at all.

The per-call store is a ``scope.scratch_dir``: the returned labels read
it lazily, so it is removed when the caller's ``cache_scope`` exits
(materialize inside it), or at interpreter exit outside any scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esther_apache_spark_spark.operators import incremental as I
from esther_apache_spark_spark.plans.catalog import register
from esther_apache_spark_spark.plans.extensions import (
    MINHASH_PAIRS_CTE_BODY,
    SRP_PAIRS_CTE_BODY,
    minhash_pairs_cte_body,
)
from esther_apache_spark_spark.schemas import EMBEDDING_DIM, load_table
from esther_apache_spark_spark.scope import scratch_dir
from esther_apache_spark_spark.sources.index_store import read_snapshot

# Shared with the streaming novelty gate (ADVICE r9): one definition.
_HIST_FRAC = I.HIST_GATE_FRAC

# The recursive min-label walk shared by both oracles; expects a
# ``pairs(id_a, id_b)`` CTE in scope and yields ``lab(node, comp)``.
_CC_CTES = """
    und AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, comp) AS (
        SELECT src, src FROM und
        UNION
        SELECT u.dst, w.comp FROM walk w JOIN und u ON u.src = w.node
    ),
    lab AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node)"""


def _batch_gate_sql(id_expr: str, salt: str) -> str:
    """The NOT-in-history side of operators/sampling.hash_bucket,
    replayed in DuckDB (same md5 prefix → uint32 rule as the exact
    incremental entry's oracle)."""
    return (
        f"CAST(CONCAT('0x', substr(md5('{salt}' || CAST({id_expr} AS VARCHAR)),"
        f" 1, 8)) AS BIGINT) >= CAST({_HIST_FRAC} AS BIGINT)"
    )


# The retirement entry's simulated takedown slice: 30% of HISTORY docs
# by an independent hash gate — enough retired docs at every test SF to
# exercise min re-election and component splits.
_RETIRE_FRAC = int(0.3 * (1 << 32))


def _retire_gate_sql(id_expr: str) -> str:
    return (
        f"CAST(CONCAT('0x', substr(md5('retire' || CAST({id_expr} AS"
        f" VARCHAR)), 1, 8)) AS BIGINT) < CAST({_RETIRE_FRAC} AS BIGINT)"
    )


@register(
    "incremental_minhash_dedup_new_docs",
    oracle=f"""
    WITH RECURSIVE {MINHASH_PAIRS_CTE_BODY},
    pairs AS (SELECT id_a, id_b FROM mh_pairs),
    {_CC_CTES}
    SELECT d.doc_id, CAST(COALESCE(l.comp, d.doc_id) AS BIGINT) AS comp
    FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
    WHERE {_batch_gate_sql('d.doc_id', 'incrmh')}
    """,
)
def incremental_minhash_dedup_new_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental MinHash near-dedup against a persisted band index:
    the hash-gated 80% history slice is indexed once (bucket→component
    reps + labels, committed to a snapshot store — history text leaves
    the plan there), then the arriving 20% batch is banded, probe-joined
    against the index, self-joined for batch pairs, and merged into the
    existing labels by ONE connected-components run over batch ids +
    touched component reps. Returns (doc_id, comp) for every batch doc
    — comp identical to a full-corpus recompute's label (the oracle
    replays exactly that: md5-family signatures → bands → bucket join →
    recursive components → batch filter)."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    in_hist = hash_bucket(F.col("doc_id"), salt="incrmh") < _HIST_FRAC
    history, batch = docs.filter(in_hist), docs.filter(~in_hist)

    path = scratch_dir("mh")
    I.commit_index(I.build_minhash_bucket_index(history), path)
    reps = read_snapshot(spark, path, ["bucket_reps"])["bucket_reps"]
    batch_labels, _remap = I.incremental_minhash_merge(batch, reps)
    return batch_labels.select("doc_id", F.col("comp").cast("long").alias("comp"))


@register(
    "incremental_semantic_dedup_new_docs",
    oracle=f"""
    WITH RECURSIVE {SRP_PAIRS_CTE_BODY},
    pairs AS (SELECT id_a, id_b FROM srp_pairs),
    {_CC_CTES}
    SELECT e.vec_id, CAST(COALESCE(l.comp, e.vec_id) AS BIGINT) AS comp
    FROM embeddings e LEFT JOIN lab l ON l.node = e.vec_id
    WHERE {_batch_gate_sql('e.vec_id', 'incrsem')}
    """,
)
def incremental_semantic_dedup_new_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SEMANTIC near-dedup against a persisted SRP index:
    same shape as the minhash twin, with the cosine gate embeddings
    need — the index persists bucket keys AND the history vectors, so
    the batch↔history rerank (exact 4-dp cosine ≥ 0.4 on candidate
    pairs) reads the index copy, never the history embedding source.
    Returns (vec_id, comp) for batch vectors, equal to the full-corpus
    ``embedding_cosine_components`` labels (oracle: seeded-plane
    buckets → cosine rerank → recursive components → batch filter)."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    in_hist = hash_bucket(F.col("vec_id"), salt="incrsem") < _HIST_FRAC
    history, batch = emb.filter(in_hist), emb.filter(~in_hist)

    path = scratch_dir("srp")
    I.commit_index(I.build_srp_vector_index(history, dim=EMBEDDING_DIM), path)
    idx = read_snapshot(spark, path, ["buckets", "vectors", "labels"])
    batch_labels, _remap = I.incremental_srp_merge(
        batch,
        idx["buckets"],
        idx["vectors"],
        idx["labels"],
        dim=EMBEDDING_DIM,
    )
    return batch_labels.select("vec_id", F.col("comp").cast("long").alias("comp"))


@register(
    "streaming_minhash_novelty_docs",
    oracle=f"""
    WITH {MINHASH_PAIRS_CTE_BODY},
    hb AS (
        SELECT DISTINCT band, bucket FROM expl
        WHERE NOT ({_batch_gate_sql('expl.doc_id', 'incrmh')})
    ),
    hits AS (
        SELECT DISTINCT x.doc_id FROM expl x
        JOIN hb ON x.band = hb.band AND x.bucket = hb.bucket
    )
    SELECT d.doc_id, d.lang FROM documents d
    WHERE {_batch_gate_sql('d.doc_id', 'incrmh')}
      AND NOT EXISTS (SELECT 1 FROM hits WHERE hits.doc_id = d.doc_id)
    """,
)
def streaming_minhash_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup novelty over a file stream of arriving docs,
    gated against the SAME persisted MinHash band index the batch
    incremental merge probes (one index format for both ingest paths —
    VERDICT r8 #6; the exact-id sibling is
    ``streaming_bloom_novelty_events``). Docs whose band keys share no
    (band, bucket) with history have no LSH candidate anywhere in the
    corpus — they are novel and stream through; everything else is
    near-dup-suspect and held for the batch merge. The oracle replays
    signatures → bands for the WHOLE corpus and checks batch docs for
    history bucket co-occupancy — exactly the gate's semantics, no
    index modeled."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from esther_apache_spark_spark.streaming.events import run_stream_novelty

    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(
        hash_bucket(F.col("doc_id"), salt="incrmh") < _HIST_FRAC
    )
    path = scratch_dir("mh")
    I.commit_index(I.build_minhash_bucket_index(history), path)
    return run_stream_novelty(spark, sf_dir, path)


@register(
    "incremental_dedup_after_retire",
    oracle=f"""
    WITH RECURSIVE surviving AS (
        SELECT * FROM documents
        WHERE NOT (NOT ({_batch_gate_sql('doc_id', 'incrmh')})
                   AND {_retire_gate_sql('doc_id')})
    ),
    {minhash_pairs_cte_body('surviving')},
    pairs AS (SELECT id_a, id_b FROM mh_pairs),
    {_CC_CTES}
    SELECT d.doc_id, CAST(COALESCE(l.comp, d.doc_id) AS BIGINT) AS comp
    FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
    WHERE {_batch_gate_sql('d.doc_id', 'incrmh')}
    """,
)
def incremental_dedup_after_retire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index lifecycle end-to-end (VERDICT r9 #2a): the nightly MinHash
    index is built over history, a takedown slice (30% of history by an
    independent hash gate) is RETIRED from the index store —
    ``retire_index`` re-elects component minima, realizes
    bridge-splits and drops orphaned bucket rows from the index's own
    per-doc ``doc_bands``, never re-reading corpus content, and commits
    the pruned index — and the arriving batch then merges against it.
    Returns (doc_id, comp) for batch docs; the oracle replays the fresh build
    over the SURVIVING corpus (documents minus the retired history
    slice) restricted to batch docs, so a single leaked bucket row or
    stale label in the pruned index would shift a component minimum and
    break the hash."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    in_hist = hash_bucket(F.col("doc_id"), salt="incrmh") < _HIST_FRAC
    history, batch = docs.filter(in_hist), docs.filter(~in_hist)

    path = scratch_dir("mh")
    I.commit_index(I.build_minhash_bucket_index(history), path)
    retired = history.filter(
        hash_bucket(F.col("doc_id"), salt="retire") < _RETIRE_FRAC
    ).select("doc_id")
    I.retire_index(spark, path, retired)
    reps = read_snapshot(spark, path, ["bucket_reps"])["bucket_reps"]
    batch_labels, _remap = I.incremental_minhash_merge(batch, reps)
    return batch_labels.select(
        "doc_id", F.col("comp").cast("long").alias("comp")
    )


@register(
    "streaming_srp_novelty_docs",
    oracle=f"""
    WITH {SRP_PAIRS_CTE_BODY},
    hist AS (
        SELECT vec_id FROM embeddings
        WHERE NOT ({_batch_gate_sql('vec_id', 'incrsem')})
    ),
    hits AS (
        SELECT p.id_a AS vid FROM srp_pairs p JOIN hist h ON p.id_b = h.vec_id
        UNION
        SELECT p.id_b FROM srp_pairs p JOIN hist h ON p.id_a = h.vec_id
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE {_batch_gate_sql('e.vec_id', 'incrsem')}
      AND NOT EXISTS (SELECT 1 FROM hits WHERE hits.vid = e.vec_id)
    """,
)
def streaming_srp_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SEMANTIC novelty over a file stream of arriving
    embeddings, gated against the SAME persisted SRP index the batch
    incremental merge probes (VERDICT r9 #4 — the embedding twin of
    ``streaming_minhash_novelty_docs``). Bucket co-occupancy alone is
    only a candidate for embeddings, so the gate reranks against the
    index's ``vectors`` copy through the batch merge's own probe
    (``srp_batch_history_hits``): vectors with no exact-cosine hit
    ≥ 0.4 anywhere in history are novel and stream through. The oracle
    replays SRP buckets + cosine rerank for the WHOLE corpus and checks
    batch vectors for a reranked history partner — exactly the gate's
    semantics, no index modeled."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from esther_apache_spark_spark.streaming.events import run_stream_novelty

    emb = load_table(spark, sf_dir, "embeddings")
    history = emb.filter(
        hash_bucket(F.col("vec_id"), salt="incrsem") < _HIST_FRAC
    )
    path = scratch_dir("srp")
    I.commit_index(I.build_srp_vector_index(history, dim=EMBEDDING_DIM), path)
    return run_stream_novelty(spark, sf_dir, path, dim=EMBEDDING_DIM)
