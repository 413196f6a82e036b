"""Incremental (batch-vs-history) NEAR-duplicate dedup against a
persisted signature index — the daily-ingest shape a 100 TB pipeline
actually runs (VERDICT r8 #1; engine extension — the reference's surface
peaks at batch joins, ``pipeline_pyspark.py:175-184``).

The batch shape everything else in ``operators/dedup.py`` serves is
"dedup the corpus once". A crawl pipeline instead runs: a nightly job
labels the corpus and PERSISTS a signature index; each arriving batch is
then deduplicated against that index WITHOUT re-reading, re-shingling or
re-bucketing a byte of history content, and its pairs are merged into
the existing component labels WITHOUT a global connected-components
recompute — new labels are minima over the AFFECTED components only.

Index formats — each index is the tables of ONE snapshot store
(``sources/index_store.py``), published by ``commit_index`` and read
through ``index_store.read_snapshot`` or ``read_index_resolved``. The
store's tables name its family; the lifecycle reads it from there:

- MinHash (``build_minhash_bucket_index``): ``bucket_reps`` — one row
  per occupied ``(_band, _bucket)`` per distinct component representative
  in it — plus ``labels`` (node, comp) for history docs with any pair
  and the per-doc ``doc_bands`` retirement re-pairs from.
  Under the LSH-banding pair criterion, every pair of docs sharing a
  bucket IS a candidate pair, so after history CC each bucket's members
  collapse to (almost always exactly one) component representative —
  the probe side of the index is the BUCKET→COMPONENT map, not the raw
  band rows: an arriving doc landing in a 10⁶-member boilerplate bucket
  creates ONE edge, not 10⁶.
- SRP / embeddings (``build_srp_vector_index``): ``buckets`` (vec id ×
  table × bucket), ``vectors`` (the normalized-content copy the exact
  cosine rerank needs — persisted INTO the index so the merge never
  re-reads the history embedding source), plus ``labels``. Cosine gates
  each candidate, so buckets cannot collapse to reps here; the rerank
  is one cross-GEMM per (table, bucket, shard) cogroup.
- Both: a ``remap_log`` table (old_comp, new_comp) once a fold has been
  appended (``commit_fold``), resolved at read time.

Merge (``incremental_minhash_merge`` / ``incremental_srp_merge``):
the arriving batch is banded/bucketed (one narrow pass over BATCH
content only), equi-joined against the index to get batch↔history
edges (history side entering as its component label — the quotient
trick of ``_quotient_labels`` applied across time), self-joined for
batch↔batch edges via the existing pair operators, then ONE
connected-components run over this small graph — nodes are batch ids
plus touched history component labels, never history members. Because
history labels are min-member-ids and CC labels are minima, the merged
labels equal a full-corpus recompute's labels exactly (min of mins);
``tests/test_incremental_dedup.py`` pins that equality, and the catalog
oracles replay the full recompute in SQL.

Scale notes: the index probe join shuffles only the batch's band keys
(history side is a parquet scan of (band, bucket, rep) — at 100 TB,
write it sorted/bucketed by the join key so AQE keeps the exchange on
the batch side); the CC graph is O(new pairs), not O(corpus); the
label remap touches only merged components. Hot-bucket caps from the
batch operators apply to the batch self-join; the index probe is
bounded by the bucket→rep collapse (minhash) / per-candidate rerank
(SRP).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esther_apache_spark_spark.functions.vector import vector_dim
from esther_apache_spark_spark.operators import dedup as D
from esther_apache_spark_spark.operators.components import connected_components
from esther_apache_spark_spark.scope import cached
from esther_apache_spark_spark.sources import index_store as S

# Single definition of the simulated history/batch split used by every
# incremental catalog entry, its DuckDB oracle, AND the streaming
# novelty gate (ADVICE r9: the gate was duplicated inline in
# streaming/events.py — changing it in one place silently desynced the
# streaming entry from its oracle). hash_bucket(id, salt) < HIST_GATE_FRAC
# selects the 80% "history" slice; >= is the arriving batch.
HIST_GATE_FRAC = int(0.8 * (1 << 32))


def _merge_labels(
    edges: DataFrame, batch: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """CC over a merge graph's ``(src, dst)`` edges, split into the
    merge's ``(batch_labels, remap)`` pair (see
    ``incremental_minhash_merge``)."""
    merged = connected_components(edges)
    batch_ids = batch.select(F.col(id_col))
    batch_labels = batch_ids.join(
        merged, batch_ids[id_col] == merged.node, "left"
    ).select(
        F.col(id_col),
        F.coalesce("comp", F.col(id_col)).alias("comp"),
    )
    # History-side label moves: every NON-batch node in the merge graph
    # is a history rep — a component label (whose members' labels must
    # be rewritten) or a previously-UNLABELED singleton now joined to a
    # component (whose implicit own-id label gains a real one). In both
    # cases the rep's old label IS the node id, so the remap is simply
    # (node, comp) where they differ; the nightly job applies it to the
    # labels table (rewrite on match, insert for singleton reps).
    remap = (
        merged.join(batch_ids, merged.node == batch_ids[id_col], "left_anti")
        .filter(F.col("comp") != F.col("node"))
        .select(F.col("node").alias("old_comp"), F.col("comp").alias("new_comp"))
    )
    return batch_labels, remap


# ---------------------------------------------------------------------------
# MinHash band index.
# ---------------------------------------------------------------------------


def _minhash_doc_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc band keys ``(_id, _band, _bucket)`` — the ``doc_bands``
    rows the build and a fold persist, and the merge's probe keys."""
    sig = D.minhash_band_frame(
        docs,
        id_col=id_col,
        text_col=text_col,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
    )
    return sig.select("_id", F.posexplode("_bh").alias("_band", "_bucket"))


def _bucket_reps(doc_bands: DataFrame, labels: DataFrame) -> DataFrame:
    """The bucket→component map: each doc's band keys under its
    component label (``labels`` node → comp; unlabeled docs are their
    own rep), one row per distinct ``(_band, _bucket, _rep)``."""
    return (
        doc_bands.join(labels, doc_bands._id == labels.node, "left")
        .select(
            "_band",
            "_bucket",
            F.coalesce("comp", F.col("_id")).alias("_rep"),
        )
        .distinct()
    )


def build_minhash_bucket_index(
    history: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int | None = 4096,
    collapse_exact: bool | str = "auto",
) -> dict[str, DataFrame]:
    """The nightly index build: history's component ``labels`` (CC over
    ``minhash_lsh_candidates`` pairs — min-member-id labels) and the
    ``bucket_reps`` map (one row per occupied (band, bucket) per
    distinct component rep occupying it). History content is read ONCE
    here and never again by the merge.

    It also emits the PER-DOC band keys ``doc_bands (_id, _band,
    _bucket)`` — the inverse mapping document RETIREMENT needs
    (``retire_minhash_docs``): ``bucket_reps`` merges
    each bucket's members into component reps, so without the per-doc
    rows a takedown could neither re-elect a component's minimum nor
    detect a bridge-doc split without re-reading (possibly already
    TTL'd) corpus content. Cost: ``bands`` narrow rows per doc off the
    already-cached signature frame — the same order as the SRP index's
    ``buckets`` table."""
    pairs = D.minhash_lsh_candidates(
        history,
        id_col=id_col,
        text_col=text_col,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
        max_bucket=max_bucket,
        collapse_exact=collapse_exact,
    )
    labels = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    banded = _minhash_doc_bands(
        history, id_col, text_col, num_perm, bands, shingle_n
    )
    return {
        "bucket_reps": _bucket_reps(banded, labels),
        "labels": labels,
        "doc_bands": banded,
    }


def minhash_merge_edges(
    batch: DataFrame,
    bucket_reps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int | None = 4096,
    collapse_exact: bool | str = "auto",
) -> DataFrame:
    """The merge graph's edge set ``(src, dst)`` — batch↔history-rep
    edges from the index probe join plus batch↔batch edges from the
    ordinary pair operator. Split out from the merge so its lineage
    can be audited (tests pin that it scans the index parquet and the
    BATCH slice only — CC's checkpoints would truncate this plan
    from the final labels frame)."""
    bband = _minhash_doc_bands(
        batch, id_col, text_col, num_perm, bands, shingle_n
    )
    # batch ↔ history-component edges: bucket co-occupancy IS the
    # banding pair criterion, and the index already collapsed each
    # bucket to its component reps
    bh = (
        bband.join(bucket_reps, ["_band", "_bucket"])
        .select(F.col("_id").alias("src"), F.col("_rep").alias("dst"))
        .distinct()
    )
    # batch ↔ batch edges: the ordinary within-corpus pair operator
    bb = D.minhash_lsh_candidates(
        batch,
        id_col=id_col,
        text_col=text_col,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
        max_bucket=max_bucket,
        collapse_exact=collapse_exact,
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return bh.unionByName(bb)


def incremental_minhash_merge(
    batch: DataFrame,
    bucket_reps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int | None = 4096,
    collapse_exact: bool | str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Merge an arriving batch into the persisted MinHash index.
    (The labels table itself is not consulted — ``bucket_reps`` already
    carries each bucket's component reps; labels are only the remap's
    application target.)

    Returns ``(batch_labels, remap)``: ``batch_labels`` is (doc_id,
    comp) for EVERY batch doc — comp equal to what a full-corpus
    recompute would assign (novel docs label themselves); ``remap`` is
    (old_comp, new_comp) for history reps whose label changed — merged
    components (rewrite matching rows in the labels table) and
    previously-unlabeled singletons now joined to a component (insert)
    — what the nightly job applies to the persisted labels.

    Plan shape: one narrow band pass over batch text, one equi-join of
    batch band keys against ``bucket_reps`` (the only touch of
    history — component REPS, never members), the batch self-join via
    ``minhash_lsh_candidates``, then CC over the union graph whose
    node count is O(batch + touched components)."""
    edges = minhash_merge_edges(
        batch,
        bucket_reps,
        id_col=id_col,
        text_col=text_col,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
        max_bucket=max_bucket,
        collapse_exact=collapse_exact,
    )
    return _merge_labels(edges, batch, id_col)


# ---------------------------------------------------------------------------
# SRP / embedding index.
# ---------------------------------------------------------------------------


def _srp_doc_rows(
    docs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> dict[str, DataFrame]:
    """Per-doc SRP index rows — ``buckets`` (``_id, _table, _bucket``)
    and ``vectors`` (``_id, _v``) — as the build and a fold persist
    them."""
    from esther_apache_spark_spark.operators.similarity import (
        srp_table_buckets_vec,
    )

    if dim is None:
        dim = vector_dim(docs, vec_col)
    proj = docs.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        srp_table_buckets_vec(
            F.col(vec_col), dim, n_planes, n_tables, seed
        ).alias("_all"),
    )
    return {
        "buckets": proj.select(
            "_id", F.posexplode("_all").alias("_table", "_bucket")
        ),
        "vectors": proj.select("_id", "_v"),
    }


def build_srp_vector_index(
    history: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = 4096,
) -> dict[str, DataFrame]:
    """The nightly embedding-index build: SRP ``buckets`` (id × table ×
    bucket), the ``vectors`` copy the merge's exact rerank reads
    (history's embedding SOURCE is never re-read), and component
    ``labels`` (CC over cosine-gated pairs, the
    ``embedding_cosine_components`` labels)."""
    if dim is None:
        dim = vector_dim(history, vec_col)
    labels = D.embedding_cosine_components(
        history,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        dim=dim,
        max_bucket=max_bucket,
    )
    rows = _srp_doc_rows(history, id_col, vec_col, n_planes, n_tables, seed, dim)
    return {**rows, "labels": labels}


def srp_batch_history_hits(
    batch: DataFrame,
    buckets: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Cosine-gated batch↔history candidate pairs ``(_bid, _hid)``
    against the persisted SRP index — the probe shared by the batch
    merge (``incremental_srp_merge``) and the streaming novelty gate
    (``streaming/events.run_stream_novelty``): batch vectors are
    SRP-bucketed, bucket co-occupancy with the index ``buckets``
    nominates candidates, and the index ``vectors`` copy supplies the
    exact rerank (4-dp cosine ≥ ``threshold``) — the history embedding
    SOURCE is never read.

    Rerank shape (r9 sf1 finding): the first cut joined candidate
    PAIRS to both vector tables and folded the cosine as a per-pair
    interpreted expression — 148 s vs the direct path's 19 s at sf1,
    because the direct path GEMMs each bucket. This version cogroups
    batch and history rows per (table, bucket) and reranks as ONE
    numpy cross-GEMM per group (Arrow-batched applyInPandas, float64,
    round-4 — the same kernel contract as ``_srp_rep_pairs``), with
    the batch side chunked inside the kernel so memory stays bounded.
    ``max_bucket`` shards the HISTORY side of hot buckets (batch rows
    replicate to every shard — the pair set is exactly preserved, the
    per-task GEMM is bounded at O(chunk × max_bucket))."""
    import numpy as np
    import pandas as pd

    from esther_apache_spark_spark.operators.similarity import (
        srp_table_buckets_vec,
    )

    if dim is None:
        dim = vector_dim(batch, vec_col)
    bproj = cached(
        batch.select(
            F.col(id_col).alias("_bid"),
            F.col(vec_col).alias("_bv"),
            srp_table_buckets_vec(
                F.col(vec_col), dim, n_planes, n_tables, seed
            ).alias("_all"),
        )
    )
    bbuck = bproj.select(
        "_bid", "_bv", F.posexplode("_all").alias("_table", "_bucket")
    )
    hbuck = buckets.select(
        F.col("_id").alias("_hid"), "_table", "_bucket"
    ).join(
        vectors.select(F.col("_id").alias("_hid"), F.col("_v").alias("_hv")),
        "_hid",
    )
    if max_bucket is not None:
        # hot-bucket sharding, cross-join flavor: split the HISTORY
        # rows of any (table, bucket) over ceil(n/max_bucket) shards
        # and replicate the batch rows to every shard — same pairs,
        # bounded per-task GEMM, restored parallelism on boilerplate
        # buckets (the self-join analog lives in _srp_rep_pairs)
        hcnt = hbuck.groupBy("_table", "_bucket").agg(
            F.count(F.lit(1)).alias("_hn")
        )
        hot = hcnt.filter(F.col("_hn") > max_bucket).select(
            "_table",
            "_bucket",
            F.ceil(F.col("_hn") / max_bucket).cast("int").alias("_nsh"),
        )
        # no forced broadcast: the hot-bucket list is usually tiny
        # (boilerplate clusters) but grows with corpus in the worst
        # case — AQE broadcasts it while it fits (repo hint doctrine)
        hbuck = hbuck.join(hot, ["_table", "_bucket"], "left").withColumn(
            "_shard",
            F.when(
                F.col("_nsh").isNotNull(),
                F.pmod(F.xxhash64("_hid"), F.col("_nsh")),
            ).otherwise(F.lit(0)),
        ).drop("_nsh")
        bbuck = bbuck.join(hot, ["_table", "_bucket"], "left").withColumn(
            "_shard",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.coalesce(F.col("_nsh"), F.lit(1)) - 1,
                )
            ),
        ).drop("_nsh")
    else:
        hbuck = hbuck.withColumn("_shard", F.lit(0))
        bbuck = bbuck.withColumn("_shard", F.lit(0))

    bside = bbuck.select(
        "_table", "_bucket", "_shard",
        F.col("_bid").alias("_rid"), F.col("_bv").alias("_rv"),
        F.lit("b").alias("_side"),
    )
    hside = hbuck.select(
        "_table", "_bucket", "_shard",
        F.col("_hid").alias("_rid"), F.col("_hv").alias("_rv"),
        F.lit("h").alias("_side"),
    )
    thr = float(threshold)

    def _cross_rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"_bid": [], "_hid": []}).astype(
            {"_bid": "int64", "_hid": "int64"}
        )
        bm = pdf[pdf["_side"] == "b"]
        hm = pdf[pdf["_side"] == "h"]
        if bm.empty or hm.empty:
            return empty
        bids = bm["_rid"].to_numpy()
        hids = hm["_rid"].to_numpy()
        mb = np.array(bm["_rv"].tolist(), dtype="float64")
        mh = np.array(hm["_rv"].tolist(), dtype="float64")
        nb_ = np.linalg.norm(mb, axis=1)
        nh_ = np.linalg.norm(mh, axis=1)
        kb, kh = nb_ > 0, nh_ > 0  # zero-norm: cosine undefined, drop
        bids, mb, nb_ = bids[kb], mb[kb], nb_[kb]
        hids, mh, nh_ = hids[kh], mh[kh], nh_[kh]
        if len(bids) == 0 or len(hids) == 0:
            return empty
        mb = mb / nb_[:, None]
        mh = mh / nh_[:, None]
        out_b, out_h = [], []
        chunk = 1024  # bounds the GEMM block at chunk × |hist shard|
        for lo in range(0, len(bids), chunk):
            s = np.round(mb[lo : lo + chunk] @ mh.T, 4)
            ii, jj = np.nonzero(s >= thr)
            out_b.append(bids[lo : lo + chunk][ii])
            out_h.append(hids[jj])
        return pd.DataFrame(
            {
                "_bid": np.concatenate(out_b) if out_b else [],
                "_hid": np.concatenate(out_h) if out_h else [],
            }
        ).astype({"_bid": "int64", "_hid": "int64"})

    return (
        bside.unionByName(hside)
        .groupBy("_table", "_bucket", "_shard")
        .applyInPandas(_cross_rerank, "_bid long, _hid long")
        .dropDuplicates(["_bid", "_hid"])
    )

def incremental_srp_merge(
    batch: DataFrame,
    buckets: DataFrame,
    vectors: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = 4096,
) -> tuple[DataFrame, DataFrame]:
    """Merge an arriving embedding batch into the persisted SRP index.
    Same contract as ``incremental_minhash_merge``, with the cosine
    gate the minhash path doesn't need: batch↔history candidates
    (bucket co-occupancy against the index ``buckets``) are exactly
    reranked against the index ``vectors`` copy — zero-norm rows
    dropped, cosine rounded to 4 dp, ≥ ``threshold`` — before entering
    the merge graph through the history side's component label."""
    gated = srp_batch_history_hits(
        batch,
        buckets,
        vectors,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        dim=dim,
        max_bucket=max_bucket,
    )
    bh = (
        gated.join(labels, gated._hid == labels.node, "left")
        .select(
            F.col("_bid").alias("src"),
            F.coalesce("comp", F.col("_hid")).alias("dst"),
        )
        .distinct()
    )
    bb = D.embedding_cosine_dups(
        batch,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        dim=dim,
        max_bucket=max_bucket,
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return _merge_labels(bh.unionByName(bb), batch, id_col)


# ---------------------------------------------------------------------------
# Index lifecycle (VERDICT r9 #2): document retirement (tombstones) and
# sub-linear folds (append-commit + remap log + compaction), one code
# path over either family.
#
# The r9 index could only GROW: every fold rewrote the ENTIRE labels /
# bucket_reps tables (at 100 TB the nightly job re-writes the whole
# index daily), and there was no way to retire documents — takedowns
# and TTL'd crawl slices, which a production pipeline hits within its
# first month. Two additions close both:
#
# RETIREMENT (``retire_minhash_docs`` / ``retire_srp_docs``; published
# by ``retire_index``): exact deletion is NOT "drop the member rows" —
# removing a doc can
# (a) orphan a component label (the retired doc WAS the min id: the
#     survivors must re-elect their minimum),
# (b) SPLIT a component (the retired doc was the only bridge between
#     two halves: survivors must re-partition into several components),
# (c) orphan bucket rows (buckets only the retired doc occupied must
#     stop attracting future merge edges).
# All three are resolved by re-running CC over the SURVIVORS OF THE
# AFFECTED COMPONENTS ONLY — sub-linear: retirement never touches a
# component without a retired member, and never re-reads corpus
# content (minhash re-pairs survivors from the index's own per-doc
# ``doc_bands``; SRP re-ranks from the index's ``vectors`` copy).
# Result is pinned equal to a fresh build over the surviving corpus.
#
# SUB-LINEAR FOLDS (``commit_fold`` + ``remap_log`` +
# ``compact_index``): the daily fold APPENDS to the index store (new
# parquet files only — O(batch) rows written, no base table
# rewritten): the batch's labels/bands/vectors plus the merge's remap
# appended to a ``remap_log`` table, in one commit. Readers resolve
# labels through the log's transitive closure (``read_index_resolved``
# — CC over the log's (old, new) edges; exact because merge labels
# only ever DECREASE to the new component minimum, so the closure's min
# IS the final label; retirement, which can RAISE labels, is a
# compaction-class operation and runs on the resolved view).
# ``compact_index`` materializes the resolved view and truncates the
# log — the weekly job. Fold and retirement costs are recorded in
# BASELINE.md (r10).
# ---------------------------------------------------------------------------


def _chain_edges_within(keys_df: DataFrame, id_col: str, part_cols: list[str]) -> DataFrame:
    """Connectivity-preserving linear edge set: within each partition
    (bucket), chain members in id order — (prev, id) per consecutive
    pair. For CC purposes a path is equivalent to the bucket's full
    clique while emitting O(members) edges instead of O(members²), so
    a 10⁶-member boilerplate bucket costs 10⁶ edges, not 10¹². (The
    window sorts each bucket in one task — linear output, and hot
    buckets are bounded upstream by the build's ``max_bucket`` caps.)"""
    from pyspark.sql import Window

    w = Window.partitionBy(*part_cols).orderBy(id_col)
    return (
        keys_df.withColumn("_prev", F.lag(id_col).over(w))
        .filter(F.col("_prev").isNotNull() & (F.col("_prev") != F.col(id_col)))
        .select(F.col("_prev").alias("src"), F.col(id_col).alias("dst"))
    )


def _affected(
    labels: DataFrame, retired: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The retirement prelude: ``(rid, aff, surv, kept)`` — the distinct
    retired ids (``_retid``), the AFFECTED components (``comp`` of any
    retired member), their surviving members (``node``, the only docs a
    retirement re-labels) and the untouched label rows of every other
    component. The new labels are ``kept`` plus the survivors' re-run
    CC."""
    rid = retired.select(F.col(id_col).alias("_retid")).distinct()
    aff = (
        labels.join(rid, labels.node == rid._retid, "semi")
        .select("comp")
        .distinct()
    )
    members = labels.join(aff, "comp", "semi")
    surv = members.join(rid, members.node == rid._retid, "left_anti").select(
        "node"
    )
    return rid, aff, surv, labels.join(aff, "comp", "left_anti")


def retire_minhash_docs(
    bucket_reps: DataFrame,
    labels: DataFrame,
    doc_bands: DataFrame,
    retired: DataFrame,
    id_col: str = "doc_id",
) -> dict[str, DataFrame]:
    """Retire documents from a MinHash index (takedowns / TTL): returns
    the index frames exactly equal to ``build_minhash_bucket_index``
    over the surviving corpus (pinned by tests/test_index_lifecycle.py,
    including min-re-election, bridge-split, whole-component and
    singleton retirement).

    Plan: the AFFECTED components are those with a retired member;
    their surviving members' band keys are pulled from ``doc_bands``
    (corpus content is never read — the takedown may arrive after the
    crawl slice was TTL'd), re-connected via per-bucket chain edges
    (clique-equivalent for CC, linear in bucket size) and re-labeled by
    ONE CC over that subgraph — which re-elects minima and realizes
    splits in the same pass. ``bucket_reps`` drops every row owned by
    an affected component or a retired singleton and regenerates the
    survivors' contribution under their new labels; unaffected rows
    pass through untouched (components never share buckets, so the
    rewrite is proportional to the affected slice, not the index)."""
    rid, aff, surv, kept_labels = _affected(labels, retired, id_col)
    sb = doc_bands.join(surv, doc_bands._id == surv.node, "semi")
    sub = connected_components(
        _chain_edges_within(sb.select("_id", "_band", "_bucket"), "_id",
                            ["_band", "_bucket"])
    )
    # rows to drop: every row owned by an affected component, plus the
    # retired docs' own-id rows (unlabeled singletons are their own rep
    # and never share a bucket — sharing one would make them a pair)
    drop = aff.select(F.col("comp").alias("_rep")).unionByName(
        rid.select(F.col("_retid").alias("_rep"))
    )
    kept = bucket_reps.join(drop, "_rep", "left_anti")
    return {
        "bucket_reps": kept.unionByName(_bucket_reps(sb, sub)),
        "labels": kept_labels.unionByName(sub),
        "doc_bands": doc_bands.join(
            rid, doc_bands._id == rid._retid, "left_anti"
        ),
    }


def retire_srp_docs(
    buckets: DataFrame,
    vectors: DataFrame,
    labels: DataFrame,
    retired: DataFrame,
    id_col: str = "vec_id",
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = 4096,
) -> dict[str, DataFrame]:
    """Retire vectors from an SRP index, with the contract of
    ``retire_minhash_docs``. ``buckets``/``vectors`` are
    per-doc tables, so their retirement is a plain anti-join; labels of
    AFFECTED components are re-derived by re-ranking the surviving
    members' vectors — read from the index's own ``vectors`` copy, the
    embedding source is never touched — through the SAME pair operator
    the fresh build uses (``embedding_cosine_dups``: seeded SRP
    buckets, exact 4-dp cosine gate, hot-bucket sharding), then one CC
    over those pairs. Cosine edges are not transitive, so the minhash
    path's chain shortcut does not apply here; the pair operator's
    ``max_bucket`` caps bound the rerank instead."""
    rid, _, surv, kept_labels = _affected(labels, retired, id_col)
    surv_vecs = vectors.join(surv, vectors._id == surv.node, "semi").select(
        F.col("_id").alias(id_col), F.col("_v").alias("embedding")
    )
    pairs = D.embedding_cosine_dups(
        surv_vecs,
        id_col=id_col,
        vec_col="embedding",
        threshold=threshold,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        dim=dim,
        max_bucket=max_bucket,
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    sub = connected_components(pairs)
    return {
        "buckets": buckets.join(rid, buckets._id == rid._retid, "left_anti"),
        "vectors": vectors.join(rid, vectors._id == rid._retid, "left_anti"),
        "labels": kept_labels.unionByName(sub),
    }


# ---------------------------------------------------------------------------
# One lifecycle over either family. A store's manifest names its family
# (``bucket_reps`` → MinHash, ``vectors`` → SRP); the spec below is all
# the read, fold, retire and compact steps — and the streaming novelty
# gate ``streaming/events.run_stream_novelty`` — need to know about it.
# ---------------------------------------------------------------------------


class _Family(NamedTuple):
    id_col: str  # the batch / retired frames' default id column
    # (batch, labels(node, comp), **kw) → the fold's per-doc tables
    fold_rows: Callable[..., dict[str, DataFrame]]
    # (resolved tables, retired, **kw) → the pruned index
    retire: Callable[..., dict[str, DataFrame]]
    # the streaming gate's probe: the tables it reads from one pinned
    # version, and (batch, those tables, *, probe parameters) → ``_id``
    # of batch rows with a history near-dup candidate
    probe_tables: tuple[str, ...]
    history_hits: Callable[..., DataFrame]
    source: str  # the testdata table the gate streams
    hist_salt: str  # hash_bucket salt of the history/batch split
    out_cols: tuple[str, ...]  # the gate's output columns


def _minhash_fold_rows(
    batch: DataFrame, labels: DataFrame, **kw
) -> dict[str, DataFrame]:
    doc_bands = _minhash_doc_bands(batch, **kw)
    return {"bucket_reps": _bucket_reps(doc_bands, labels), "doc_bands": doc_bands}


def _minhash_history_hits(
    batch: DataFrame,
    tables: dict[str, DataFrame],
    *,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    # bucket co-occupancy IS the banding pair criterion: any shared
    # (band, bucket) with history is an LSH candidate
    keys = tables["bucket_reps"].select("_band", "_bucket")
    bands_df = _minhash_doc_bands(
        batch, num_perm=num_perm, bands=bands, shingle_n=shingle_n
    )
    return bands_df.join(keys, ["_band", "_bucket"], "semi").select("_id")


def _srp_history_hits(
    batch: DataFrame,
    tables: dict[str, DataFrame],
    *,
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = 4096,
) -> DataFrame:
    hits = srp_batch_history_hits(
        batch,
        tables["buckets"],
        tables["vectors"],
        threshold=threshold,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        dim=dim,
        max_bucket=max_bucket,
    )
    return hits.select(F.col("_bid").alias("_id"))


_FAMILIES = {
    "bucket_reps": _Family(
        "doc_id",
        _minhash_fold_rows,
        lambda t, retired, **kw: retire_minhash_docs(
            t["bucket_reps"], t["labels"], t["doc_bands"], retired, **kw
        ),
        ("bucket_reps",),
        _minhash_history_hits,
        "documents",
        "incrmh",
        ("doc_id", "lang"),
    ),
    "vectors": _Family(
        "vec_id",
        lambda batch, labels, **kw: _srp_doc_rows(batch, **kw),
        lambda t, retired, **kw: retire_srp_docs(
            t["buckets"], t["vectors"], t["labels"], retired, **kw
        ),
        ("buckets", "vectors"),
        _srp_history_hits,
        "embeddings",
        "incrsem",
        ("vec_id", "label"),
    ),
}


def _family(tables) -> _Family:
    """The family of a store holding ``tables`` (names)."""
    for name, fam in _FAMILIES.items():
        if name in tables:
            return fam
    raise ValueError(
        "not an index store: it holds neither bucket_reps (MinHash) nor "
        f"vectors (SRP), only {sorted(tables)}"
    )


def _with_rep_self_rows(labels: DataFrame) -> DataFrame:
    """Close a labels frame under representative self-rows: every comp
    value referenced by a member must itself carry (comp, comp) — the
    shape ``connected_components`` emits (the min node of a component
    labels itself). The resolved reads need this for reps that newly
    GAINED members: a previously-unlabeled history singleton joined by
    a larger-id batch doc, or the min id of an all-novel batch clone
    group — neither appears as a member row or in the remap."""
    comps = labels.select(F.col("comp").alias("node")).distinct()
    self_rows = comps.join(labels, "node", "left_anti").select(
        "node", F.col("node").alias("comp")
    )
    return labels.unionByName(self_rows)


def _resolve_col(
    df: DataFrame, col: str, res: DataFrame | None
) -> DataFrame:
    """Rewrite ``col`` through a resolution map (left join + coalesce);
    identity when the index has no log."""
    if res is None:
        return df
    rl = res.select(F.col("node").alias("_rold"), F.col("comp").alias("_rnew"))
    others = [c for c in df.columns if c != col]
    return (
        df.join(rl, df[col] == rl._rold, "left")
        .select(*others, F.coalesce("_rnew", col).alias(col))
        .select(*df.columns)
    )


def read_index_resolved(
    spark: SparkSession, path: str, version: int | None = None
) -> dict[str, DataFrame]:
    """Open an index store (either family) as its resolved view:
    ``labels.comp`` and, in a MinHash store, ``bucket_reps._rep`` pushed
    through the remap-log closure, duplicates folded, the label frame
    closed under rep self-rows — equal (pinned) to a fresh build over
    the accumulated corpus. Every other table (``doc_bands``,
    ``buckets``, ``vectors`` — per-doc appends) passes through raw.

    The closure is CC over the log's (old, new) edges, mapping every
    logged comp to its final label. Exact because merge-remaps only
    ever LOWER a label to the new component minimum: the log is a
    forest of decreasing chains/trees whose connected minimum IS the
    final label (retirement can raise labels, which is why it is
    compaction-class and never enters the log). The log is O(components
    touched per fold), so the closure is cheap and its application a
    broadcast-size join.

    ALL tables (the log included) are read from one pinned manifest
    version (latest by default), so concurrent folds/compactions cannot
    tear the view; ``version`` time-travels."""
    tables = S.read_snapshot(spark, path, version=version)
    _family(tables)  # a store that names no family is not an index
    log = tables.pop("remap_log", None)
    res = None if log is None else connected_components(
        log.select(
            F.col("old_comp").alias("src"), F.col("new_comp").alias("dst")
        )
    )
    tables["labels"] = _with_rep_self_rows(
        _resolve_col(tables["labels"], "comp", res).distinct()
    )
    if "bucket_reps" in tables:
        tables["bucket_reps"] = _resolve_col(
            tables["bucket_reps"], "_rep", res
        ).distinct()
    return tables


# ---------------------------------------------------------------------------
# Lifecycle commits: every step the nightly fold, weekly compaction and
# takedown retirement take is published as one atomic manifest commit
# of the snapshot store (sources/index_store.py), so streaming novelty
# gates and ad-hoc merges can READ the index while those jobs WRITE it.
# ---------------------------------------------------------------------------


def _with_truncated_log(
    spark: SparkSession, path: str, version: int, frames: dict
) -> dict:
    """Attach an EMPTY remap_log to a replace-commit's frames when the
    snapshot at ``version`` carries one: retirement and compaction both
    publish fully-resolved labels, so any surviving log rows would
    re-lower them wrongly at read."""
    m = S.read_manifest(path, version)
    if "remap_log" not in m["tables"]:
        return frames
    log = S.read_snapshot(spark, path, ["remap_log"], version)["remap_log"]
    return {**frames, "remap_log": log.limit(0)}


def commit_index(index: dict[str, DataFrame], path: str) -> int:
    """Publish an index (e.g. a fresh ``build_*_index`` output) as one
    atomic replace-commit; returns the published version. The replace
    is compare-and-swapped against the store's latest version — the
    empty store included — so a commit racing in between raises
    ``ConcurrentReplaceError`` (rebuilds derive from the corpus, so the
    caller decides whether the race matters and re-publishes)."""
    return S.commit_snapshot(
        path, index, mode="replace", expected_base=S.latest_version(path)
    )


def commit_fold(
    path: str,
    batch: DataFrame,
    batch_labels: DataFrame,
    remap: DataFrame,
    expected_epoch: int | None = None,
    **kw,
) -> int:
    """The SUB-LINEAR nightly fold (VERDICT r9 #2b): a merge's O(batch)
    row delta published as ONE append-commit — no existing file is
    rewritten, and a reader never sees the fold's rows without its
    ``remap_log``. Readers resolve stale labels through the log's
    closure (``read_index_resolved``); ``compact_index`` materializes
    and truncates weekly. ``kw`` are the family's build parameters
    (``id_col``, and ``text_col``/``num_perm``/``bands``/``shingle_n``
    or ``vec_col``/``n_planes``/``n_tables``/``seed``/``dim``).

    The delta: the batch's non-self labels PLUS the remap rows as label
    rows — (old_comp → new_comp) is exactly the label row a
    previously-singleton rep gains, and for already-labeled reps it
    duplicates what log resolution computes (the resolved read's
    distinct folds it) — the remap itself (``remap_log``), and the
    batch's per-doc rows from the same function the build uses
    (MinHash ``doc_bands`` plus their ``bucket_reps`` under the final
    labels; SRP ``buckets`` and ``vectors``). Correctness precondition,
    pinned by test: merges must run against the RESOLVED view, so each
    remap's old_comp is a CURRENT label and the log stays a forest of
    strictly-decreasing chains whose closure-min is the final label.

    Pass ``expected_epoch`` (the manifest ``epoch`` captured when the
    resolved view the merge ran against was read): a retirement landing
    between derivation and commit then raises ``StaleAppendError``
    instead of silently re-merging labels that may reference retired
    documents."""
    m = S.read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no published snapshot under {path}")
    fam = _family(m["tables"])
    id_col = kw.setdefault("id_col", fam.id_col)
    labels = batch_labels.select(F.col(id_col).alias("node"), "comp")
    rm = remap.select("old_comp", "new_comp")
    delta = fam.fold_rows(batch, labels, **kw)
    delta["labels"] = labels.filter(
        F.col("comp") != F.col("node")
    ).unionByName(
        rm.select(F.col("old_comp").alias("node"), F.col("new_comp").alias("comp"))
    )
    delta["remap_log"] = rm
    return S.commit_snapshot(
        path, delta, mode="append", expected_epoch=expected_epoch
    )


def retire_index(
    spark: SparkSession, path: str, retired: DataFrame, **retire_kw
) -> int:
    """Retire documents from an index store: read the resolved view at
    one pinned version, prune it with the family's ``retire_*_docs``
    (``retire_kw`` are its parameters), and publish the pruned index as
    a replace-commit compare-and-swapped against that version.
    Retirement re-elects labels (it can RAISE them), so the remap log —
    whose closure assumes labels only ever decrease — is truncated in
    the same commit; the pruned tables it publishes are already fully
    resolved."""
    version = S.latest_version(path)
    resolved = read_index_resolved(spark, path, version)
    pruned = _family(resolved).retire(resolved, retired, **retire_kw)
    return S.commit_snapshot(
        path,
        _with_truncated_log(spark, path, version, pruned),
        mode="replace",
        expected_base=version,
    )


def compact_index(spark: SparkSession, path: str) -> None:
    """The weekly compaction: materialize the resolved view into fresh
    base tables and truncate the remap log, bounding resolved-read cost
    between compactions. The resolved view is published as one
    replace-commit — concurrent readers keep whatever version they
    pinned, the log truncates to an empty table in the same commit, and
    old files survive until ``vacuum_snapshots``."""
    version = S.latest_version(path)
    resolved = read_index_resolved(spark, path, version)
    # expected_base: the resolved frames were computed at `version`;
    # a commit landing in between must fail the publish
    # (ConcurrentReplaceError) rather than be silently erased.
    # bump_epoch=False: compaction preserves the logical view, so a
    # concurrent fold's delta stays valid and may re-merge.
    S.commit_snapshot(
        path,
        _with_truncated_log(spark, path, version, resolved),
        mode="replace",
        expected_base=version,
        bump_epoch=False,
    )
