"""Incremental near-dup dedup vs the full-corpus recompute (VERDICT r8
#1). Two claims, pinned per modality (minhash bands, SRP embeddings):

1. LABEL EQUALITY — (batch labels from the merge) plus (history labels
   with the merge's remap applied) must equal a from-scratch recompute
   over the whole corpus, doc for doc. This is the min-of-mins
   argument: history labels are component minima, the merge graph's
   nodes are batch ids + history component reps, so CC over the merge
   graph yields the global minima exactly.

2. HISTORY CONTENT NEVER RE-READ — the merge graph's lineage touches
   the persisted index parquet and the arriving-batch table only; the
   history source enters no scan. Pinned via ``inputFiles()`` plus the
   withCachedData plan string (each lens covers what the other hides).

3. FOLD EQUALITY — a merge folded back into the index store
   (``commit_fold``) resolves (``read_index_resolved``) to the
   fresh build over the unioned corpus, day after day.

Also covers the adversarial merge shapes: a batch doc BRIDGING two
history components (labels must fuse to the global min), a batch id
SMALLER than its history component's label (remap must rewrite
history), and novel batch docs (label themselves).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from esther_apache_spark_spark.operators import dedup as D
from esther_apache_spark_spark.operators import incremental as I
from esther_apache_spark_spark.operators.components import connected_components
from esther_apache_spark_spark.sources import index_store as S

# slow tier (VERDICT r10 #2): excluded from the default fast tier;
# run with --full-tests / SPARK_GRAFT_FULL_TESTS=1 (the round-close gate)
pytestmark = pytest.mark.slow


def _labels(df, id_col="doc_id") -> dict[int, int]:
    return {int(r[id_col]): int(r["comp"]) for r in df.collect()}


def _full_labels(ids_df, id_col, pairs) -> dict[int, int]:
    lab = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    out = ids_df.join(lab, ids_df[id_col] == lab.node, "left").select(
        F.col(id_col), F.coalesce("comp", F.col(id_col)).alias("comp")
    )
    return _labels(out, id_col)


def _apply_remap(history_labels, remap, all_hist_ids, id_col) -> dict[int, int]:
    """history view after the nightly job applies the merge's remap."""
    lab = {int(r["node"]): int(r["comp"]) for r in history_labels.collect()}
    rm = {int(r["old_comp"]): int(r["new_comp"]) for r in remap.collect()}
    return {
        int(i): rm.get(lab.get(int(i), int(i)), lab.get(int(i), int(i)))
        for i in all_hist_ids
    }


# --- minhash ---------------------------------------------------------------

TXT_A = "the quick brown fox jumps over the lazy dog again and again"
TXT_B = "the quick brown fox jumps over the lazy dog again and again today"
TXT_C = "completely different text about spark catalyst optimizer internals"
TXT_D = "yet another unrelated document mentioning parquet row groups only"


@pytest.fixture(scope="module")
def mh_split(spark):
    # history: two genuinely-separate components (clone pairs of C and
    # D — unlike A/B, C and D share no shingles) plus a singleton
    hist = [
        (10, TXT_A), (11, TXT_A),          # comp 10
        (20, TXT_C), (21, TXT_C),          # comp 20
        (30, TXT_D),                        # singleton
    ]
    # batch: id 5 clones A (joins comp 10 with an id SMALLER than its
    # label -> remap 10->5), id 40 clones C (joins comp 20, id larger,
    # no remap), id 3 clones D (joins the UNLABELED history singleton
    # 30 -> remap must emit the singleton's implicit own-id label,
    # 30->3 — the case a labels-table-only remap misses), id 50 novel
    batch = [
        (5, TXT_A),
        (40, TXT_C),
        (3, TXT_D),
        (50, "totally novel content never seen before anywhere"),
    ]
    h = spark.createDataFrame(hist, "doc_id long, text string")
    b = spark.createDataFrame(batch, "doc_id long, text string")
    return h, b


def test_incremental_minhash_equals_full_recompute(spark, mh_split):
    h, b = mh_split
    idx = I.build_minhash_bucket_index(h)
    batch_labels, remap = I.incremental_minhash_merge(
        b, idx["bucket_reps"]
    )
    full = _full_labels(
        h.unionByName(b).select("doc_id"),
        "doc_id",
        D.minhash_lsh_candidates(h.unionByName(b)),
    )
    got_batch = _labels(batch_labels)
    assert got_batch == {k: full[k] for k in got_batch}
    # batch id 5 < history comp 10: the merge must remap history
    assert got_batch[5] == 5
    hist_ids = [r["doc_id"] for r in h.select("doc_id").collect()]
    got_hist = _apply_remap(idx["labels"], remap, hist_ids, "doc_id")
    assert got_hist == {k: full[k] for k in hist_ids}
    # novel batch doc labels itself
    assert got_batch[50] == 50
    # the singleton history doc 30 gained a label through batch id 3
    rm = {int(r["old_comp"]): int(r["new_comp"]) for r in remap.collect()}
    assert rm[30] == 3 and rm[10] == 5 and got_hist[30] == 3


def test_incremental_minhash_no_false_merges(spark):
    # two history components that never pair with each other; a batch
    # doc joining each must NOT fuse them (each probe edge lands on its
    # own component only), and with both batch ids larger than the
    # labels they join, the remap stays empty.
    h = spark.createDataFrame(
        [(10, TXT_C), (11, TXT_C), (20, TXT_D), (21, TXT_D)],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(40, TXT_C), (41, TXT_D)], "doc_id long, text string"
    )
    idx = I.build_minhash_bucket_index(h)
    batch_labels, remap = I.incremental_minhash_merge(
        b, idx["bucket_reps"]
    )
    got = _labels(batch_labels)
    assert got == {40: 10, 41: 20}
    assert remap.count() == 0  # 40 > 10 and 41 > 20: labels unchanged


def test_incremental_minhash_on_testdata(spark, sf_dir):
    """The catalog entry's exact shape on the real documents table at
    sf0.001: hash-gated 80/20 split, merge labels == full recompute."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from esther_apache_spark_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    in_hist = hash_bucket(F.col("doc_id"), salt="incrmh") < int(0.8 * (1 << 32))
    h, b = docs.filter(in_hist), docs.filter(~in_hist)
    idx = I.build_minhash_bucket_index(h)
    batch_labels, remap = I.incremental_minhash_merge(
        b, idx["bucket_reps"]
    )
    full = _full_labels(
        docs.select("doc_id"),
        "doc_id",
        D.minhash_lsh_candidates(docs),
    )
    got_batch = _labels(batch_labels)
    assert len(got_batch) == b.count()
    assert got_batch == {k: full[k] for k in got_batch}
    hist_ids = [r["doc_id"] for r in h.select("doc_id").collect()]
    got_hist = _apply_remap(idx["labels"], remap, hist_ids, "doc_id")
    assert got_hist == {k: full[k] for k in hist_ids}


# --- SRP / embeddings --------------------------------------------------------


@pytest.fixture(scope="module")
def vec_split(spark):
    base = [1.0, 0.2, 0.1, 0.05]
    near = [0.9, 0.25, 0.12, 0.04]       # cosine ~0.99 with base
    other = [-0.1, 1.0, -0.3, 0.2]
    far = [0.0, 0.0, -1.0, 0.4]
    hist = [(10, base), (11, near), (20, other), (30, far)]
    # 5 joins comp 10 (clone of base, id < 10 -> remap), 40 joins comp
    # 20, 50 is novel (orthogonal-ish)
    batch = [(5, base), (40, other), (50, [0.0, 0.0, 0.1, -1.0])]
    mk = lambda rows: spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    return mk(hist), mk(batch)


def test_incremental_srp_equals_full_recompute(spark, vec_split):
    h, b = vec_split
    kw = dict(threshold=0.4, n_planes=4, n_tables=12, dim=4)
    idx = I.build_srp_vector_index(h, **kw)
    batch_labels, remap = I.incremental_srp_merge(
        b, idx["buckets"], idx["vectors"], idx["labels"], **kw
    )
    full = _full_labels(
        h.unionByName(b).select("vec_id"),
        "vec_id",
        D.embedding_cosine_dups(h.unionByName(b), **kw),
    )
    got_batch = _labels(batch_labels, "vec_id")
    assert got_batch == {k: full[k] for k in got_batch}
    assert got_batch[5] == 5 and got_batch[50] == 50
    hist_ids = [r["vec_id"] for r in h.select("vec_id").collect()]
    got_hist = _apply_remap(idx["labels"], remap, hist_ids, "vec_id")
    assert got_hist == {k: full[k] for k in hist_ids}


def test_incremental_srp_on_testdata(spark, sf_dir):
    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from esther_apache_spark_spark.schemas import EMBEDDING_DIM, load_table

    emb = load_table(spark, sf_dir, "embeddings")
    in_hist = hash_bucket(F.col("vec_id"), salt="incrsem") < int(0.8 * (1 << 32))
    h, b = emb.filter(in_hist), emb.filter(~in_hist)
    kw = dict(threshold=0.4, n_planes=4, n_tables=12, dim=EMBEDDING_DIM)
    idx = I.build_srp_vector_index(h, **kw)
    batch_labels, remap = I.incremental_srp_merge(
        b, idx["buckets"], idx["vectors"], idx["labels"], **kw
    )
    full = _full_labels(
        emb.select("vec_id"),
        "vec_id",
        D.embedding_cosine_dups(emb, **kw),
    )
    got_batch = _labels(batch_labels, "vec_id")
    assert len(got_batch) == b.count()
    assert got_batch == {k: full[k] for k in got_batch}
    hist_ids = [r["vec_id"] for r in h.select("vec_id").collect()]
    got_hist = _apply_remap(idx["labels"], remap, hist_ids, "vec_id")
    assert got_hist == {k: full[k] for k in hist_ids}


# --- history-content-never-read plan pin -------------------------------------


def test_merge_plan_reads_index_not_history(spark, sf_dir):
    """History content never re-read: with the arriving batch as its
    own table (the production shape — the catalog entries' hash-gated
    filter is simulation plumbing), the merge-graph plan must scan the
    index parquet and the batch parquet, and contain ZERO scans of the
    history source. Audited on ``minhash_merge_edges`` (the labels
    frame itself sits behind CC checkpoints that truncate lineage)."""
    import shutil
    import tempfile

    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from esther_apache_spark_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    in_hist = hash_bucket(F.col("doc_id"), salt="incrmh") < int(0.8 * (1 << 32))
    h = docs.filter(in_hist)
    # short scratch paths: FileScan location strings truncate at
    # spark.sql.maxMetadataStringLength and InMemoryRelation captures
    # its string at CACHE time, so the markers must fit the kept prefix
    root = tempfile.mkdtemp(prefix="incrpin_")
    try:
        batch_path = f"{root}/arrbatch"
        docs.filter(~in_hist).write.parquet(batch_path)
        b = spark.read.parquet(batch_path)
        path = f"{root}/mhindex"
        I.commit_index(I.build_minhash_bucket_index(h), path)
        idx = S.read_snapshot(spark, path, ["bucket_reps", "labels"])
        edges = I.minhash_merge_edges(
            b, idx["bucket_reps"], collapse_exact=False
        )
        # two lenses, because each hides one side: inputFiles() resolves
        # un-cached scans (the index probe) but not cached ones; the
        # withCachedData plan prints InMemoryRelations' child scans (the
        # cached batch signature frame) but elides resolved file listings
        files = edges.inputFiles()
        assert any("mhindex" in f for f in files)
        assert not any("documents.parquet" in f for f in files)
        cached_plan = edges._jdf.queryExecution().withCachedData().toString()
        assert "arrbatch" in cached_plan
        assert "documents.parquet" not in cached_plan
        # and the merge still works end-to-end off the parquet index
        batch_labels, _ = I.incremental_minhash_merge(
            b, idx["bucket_reps"]
        )
        assert batch_labels.count() == b.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- index maintenance: fold the merge back into the index -------------------


def _kv(df, *cols):
    return {tuple(int(r[c]) if not isinstance(r[c], str) else r[c] for c in cols)
            for r in df.collect()}


def _fold_minhash(spark, path, batch):
    """One nightly fold against the store: merge the batch into the
    resolved view pinned at the latest manifest, commit the fold with
    that manifest's epoch, and return the batch labels."""
    m = S.read_manifest(path)
    idx = I.read_index_resolved(spark, path, m["version"])
    batch_labels, remap = I.incremental_minhash_merge(
        batch, idx["bucket_reps"]
    )
    I.commit_fold(
        path, batch, batch_labels, remap, expected_epoch=m["epoch"]
    )
    return batch_labels


def _assert_minhash_index_equal(got, fresh):
    assert _kv(got["labels"], "node", "comp") == _kv(
        fresh["labels"], "node", "comp"
    )
    assert _kv(got["bucket_reps"], "_band", "_bucket", "_rep") == _kv(
        fresh["bucket_reps"], "_band", "_bucket", "_rep"
    )


def test_minhash_fold_equals_fresh_build(spark, sf_dir, tmp_path):
    """After the merge is folded back (commit_fold), the
    resolved index must equal build_minhash_bucket_index over the
    UNIONED corpus row-for-row — labels AND bucket reps — so the
    nightly job never needs a from-scratch rebuild."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from esther_apache_spark_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    in_hist = hash_bucket(F.col("doc_id"), salt="incrmh") < int(0.8 * (1 << 32))
    h, b = docs.filter(in_hist), docs.filter(~in_hist)
    path = str(tmp_path / "mh")
    I.commit_index(I.build_minhash_bucket_index(h), path)
    _fold_minhash(spark, path, b)
    _assert_minhash_index_equal(
        I.read_index_resolved(spark, path),
        I.build_minhash_bucket_index(docs),
    )


def test_minhash_fold_fixture_shapes(spark, mh_split, tmp_path):
    """The adversarial shapes on the tiny fixture: singleton-gains-
    member (30+3), smaller-batch-id remap (10->5), all-novel batch
    self-rows — resolved index == fresh build over the union."""
    h, b = mh_split
    path = str(tmp_path / "mh")
    I.commit_index(I.build_minhash_bucket_index(h), path)
    _fold_minhash(spark, path, b)
    _assert_minhash_index_equal(
        I.read_index_resolved(spark, path),
        I.build_minhash_bucket_index(h.unionByName(b)),
    )


def test_srp_fold_equals_fresh_build(spark, vec_split, tmp_path):
    h, b = vec_split
    kw = dict(threshold=0.4, n_planes=4, n_tables=12, dim=4)
    path = str(tmp_path / "srp")
    I.commit_index(I.build_srp_vector_index(h, **kw), path)
    m = S.read_manifest(path)
    idx = I.read_index_resolved(spark, path, m["version"])
    batch_labels, remap = I.incremental_srp_merge(
        b, idx["buckets"], idx["vectors"], idx["labels"], **kw
    )
    I.commit_fold(
        path, b, batch_labels, remap, expected_epoch=m["epoch"],
        n_planes=4, n_tables=12, dim=4,
    )
    updated = I.read_index_resolved(spark, path)
    fresh = I.build_srp_vector_index(h.unionByName(b), **kw)
    assert _kv(updated["labels"], "node", "comp") == _kv(
        fresh["labels"], "node", "comp"
    )
    assert _kv(updated["buckets"], "_id", "_table", "_bucket") == _kv(
        fresh["buckets"], "_id", "_table", "_bucket"
    )
    assert updated["vectors"].count() == fresh["vectors"].count()


def test_two_day_merge_fold_merge_equals_fresh(spark, mh_split, tmp_path):
    """Induction pinned concretely: day-1 merge folded into the index,
    then a day-2 batch merged against the UPDATED index — labels and
    index equal a from-scratch build over all three slices."""
    h, b1 = mh_split
    b2 = spark.createDataFrame(
        [(60, TXT_D), (2, TXT_C), (70, "yet more genuinely novel content here")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh")
    I.commit_index(I.build_minhash_bucket_index(h), path)
    _fold_minhash(spark, path, b1)
    bl2 = _fold_minhash(spark, path, b2)
    union = h.unionByName(b1).unionByName(b2)
    _assert_minhash_index_equal(
        I.read_index_resolved(spark, path),
        I.build_minhash_bucket_index(union),
    )
    # day-2 batch labels equal the full recompute over the union
    full = _full_labels(
        union.select("doc_id"), "doc_id",
        D.minhash_lsh_candidates(union),
    )
    got2 = _labels(bl2)
    assert got2 == {k: full[k] for k in got2}
    # day-2 id 2 clones C and undercuts the component's previous min
    # (20): the second remap must rewrite a label the FIRST fold wrote
    assert got2[2] == 2
