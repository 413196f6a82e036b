"""Snapshot-isolated index commits (sources/index_store.py).

The shared-index deployment runs the nightly fold / weekly compaction /
takedown retirement as WRITERS while streaming novelty gates and ad-hoc
merges READ the same path; plain directory reads tear under that, so
the store is the only way an index is written and read. The store's
claims, each pinned here:

1. EQUIVALENCE — every lifecycle step run through snapshot commits
   (build → fold → fold → retire → compact) yields resolved frames
   equal to a fresh build over the then-current corpus (the frame-level
   operators are pinned the same way in tests/test_index_lifecycle.py).
2. ATOMICITY — data files written but not yet published are invisible;
   a reader resolves only complete manifests (publication is a single
   create-if-absent link of an fsynced temp file).
3. IMMUTABILITY — no commit (including compaction) rewrites or deletes
   a live data file; only ``vacuum_snapshots`` deletes, and only files
   outside the kept horizon.
4. TIME TRAVEL — a pinned version keeps reading the exact frames it
   named even after later folds, retirement, and compaction.
5. OPTIMISTIC CONCURRENCY — a version collision re-merges and republishes;
   both appends survive with both deltas visible.
6. EPOCH FENCE — a meaning-changing replace (retirement) bumps the
   manifest epoch, so a fold delta derived before it cannot land
   (StaleAppendError → re-derive); compaction does not bump. Both
   writers' retry loops converge under real thread concurrency to the
   fresh build over the final corpus.

The live reader-vs-writer race (folds + compaction + vacuum against a
resolved-read loop in another thread) is driven by
``tools/index_snapshot_check.py`` — wall-clock-heavy, so it lives with
the other drills rather than in pytest.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from esther_apache_spark_spark import scope
from esther_apache_spark_spark.operators import incremental as I
from esther_apache_spark_spark.sources import index_store as S

# slow tier (VERDICT r10 #2): excluded from the default fast tier;
# run with --full-tests / SPARK_GRAFT_FULL_TESTS=1 (the round-close gate)
pytestmark = pytest.mark.slow

TXT_A = "the quick brown fox jumps over the lazy dog again and again"
TXT_C = "completely different text about spark catalyst optimizer internals"
TXT_D = "yet another unrelated document mentioning parquet row groups only"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _kv(df, *cols):
    return {tuple(int(r[c]) for c in cols) for r in df.collect()}


def _labels_set(resolved):
    return _kv(resolved["labels"], "node", "comp")


def _data_file_sigs(path):
    out = {}
    for p in glob.glob(os.path.join(path, "*", "c-*", "*.parquet")):
        st = os.stat(p)
        out[p] = (st.st_mtime_ns, st.st_size)
    return out


@pytest.fixture()
def store_root():
    root = tempfile.mkdtemp(prefix="idxsnap_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _fold_once(spark, path, day):
    # the production fold pattern: capture the epoch WITH the resolved
    # view the merge derives from, so a retirement landing in between
    # fails the commit (StaleAppendError) instead of re-merging stale
    # labels
    m = S.read_manifest(path)
    resolved = I.read_index_resolved(spark, path, m["version"])
    bl, rm = I.incremental_minhash_merge(
        day, resolved["bucket_reps"]
    )
    return I.commit_fold(
        path, day, bl, rm, expected_epoch=m.get("epoch", 0),
    )


def test_snapshot_lifecycle_equals_fresh_build(spark, store_root):
    """Claim 1 end-to-end: build/fold/fold/retire/compact as snapshot
    commits; after every step the resolved view equals a fresh build
    over the then-current corpus."""
    path = f"{store_root}/mh"
    h = _docs(spark, [(10, TXT_A), (11, TXT_A), (20, TXT_C), (21, TXT_C)])
    v = I.commit_index(I.build_minhash_bucket_index(h), path)
    assert v == 1

    def check(corpus):
        got = I.read_index_resolved(spark, path)
        fresh = I.build_minhash_bucket_index(corpus)
        assert _labels_set(got) == _labels_set(fresh)
        assert _kv(got["bucket_reps"], "_band", "_bucket", "_rep") == _kv(
            fresh["bucket_reps"], "_band", "_bucket", "_rep"
        )

    union = h
    for day in (
        _docs(spark, [(5, TXT_A), (50, "totally novel content one")]),
        _docs(spark, [(2, TXT_C), (60, TXT_D)]),
    ):
        _fold_once(spark, path, day)
        union = union.unionByName(day)
        check(union)

    I.retire_index(
        spark, path, spark.createDataFrame([(2,), (50,)], "doc_id long")
    )
    union = union.filter(~F.col("doc_id").isin(2, 50))
    check(union)

    I.compact_index(spark, path)
    check(union)
    # the log is truncated by the compaction commit (0 rows — the
    # commit may still carry one empty schema-bearing parquet file)
    log = S.read_snapshot(spark, path, ["remap_log"])["remap_log"]
    assert log.count() == 0


def test_unpublished_files_are_invisible(spark, store_root):
    """Claim 2: rows written without a manifest publication do not
    reach readers — the torn state a plain-directory append exposes
    mid-fold."""
    path = f"{store_root}/mh"
    h = _docs(spark, [(10, TXT_A), (11, TXT_A)])
    I.commit_index(I.build_minhash_bucket_index(h), path)
    before = _labels_set(I.read_index_resolved(spark, path))
    # land data files for a bogus label row, but never publish
    S._write_table_files(
        spark.createDataFrame([(999, 1)], "node long, comp long"),
        path,
        "labels",
    )
    assert _labels_set(I.read_index_resolved(spark, path)) == before


def test_commits_never_touch_live_files_and_time_travel(spark, store_root):
    """Claims 3+4: across fold, retirement, and compaction every
    pre-existing data file survives byte-identical, and a version
    pinned BEFORE those steps still reads its original frames."""
    path = f"{store_root}/mh"
    h = _docs(spark, [(10, TXT_A), (11, TXT_A), (20, TXT_C), (21, TXT_C)])
    I.commit_index(I.build_minhash_bucket_index(h), path)
    v1 = S.latest_version(path)
    labels_v1 = _labels_set(I.read_index_resolved(spark, path, v1))
    sigs = _data_file_sigs(path)

    _fold_once(spark, path, _docs(spark, [(5, TXT_A)]))
    I.retire_index(
        spark, path, spark.createDataFrame([(20,)], "doc_id long")
    )
    I.compact_index(spark, path)

    after = _data_file_sigs(path)
    for p, sig in sigs.items():
        assert after.get(p) == sig, f"live data file touched: {p}"
    assert _labels_set(
        I.read_index_resolved(spark, path, v1)
    ) == labels_v1
    # and the latest view reflects all three steps
    assert _labels_set(I.read_index_resolved(spark, path)) == {
        (5, 5), (10, 5), (11, 5),
    }


def test_optimistic_concurrency_merges_both_appends(spark, store_root):
    """Claim 5: a commit that loses the version race re-merges against
    the winner's manifest — both append deltas are visible after."""
    path = f"{store_root}/t"
    S.commit_snapshot(
        path,
        {"labels": spark.createDataFrame([(1, 1)], "node long, comp long")},
        mode="replace",
    )

    orig = S._publish
    raced = {"done": False}

    def racing_publish(p, base_version, tables, epoch=0):
        # first attempt: another writer lands the same version first
        if not raced["done"]:
            raced["done"] = True
            win = {
                "labels": {
                    "files": S._write_table_files(
                        spark.createDataFrame(
                            [(2, 2)], "node long, comp long"
                        ),
                        p,
                        "labels",
                    ),
                    "schema": tables["labels"]["schema"],
                }
            }
            win["labels"]["files"] = (
                S.read_manifest(p)["tables"]["labels"]["files"]
                + win["labels"]["files"]
            )
            orig(p, base_version, win, epoch)
        return orig(p, base_version, tables, epoch)

    S._publish = racing_publish
    try:
        v = S.commit_snapshot(
            path,
            {
                "labels": spark.createDataFrame(
                    [(3, 3)], "node long, comp long"
                )
            },
            mode="append",
        )
    finally:
        S._publish = orig
    assert v == 3  # lost v2 to the racer, republished at v3
    got = _kv(S.read_snapshot(spark, path, ["labels"])["labels"],
              "node", "comp")
    assert got == {(1, 1), (2, 2), (3, 3)}


def test_replace_conflict_raises_instead_of_clobbering(spark, store_root):
    """A replace's frames are computed from a pinned version; if any
    commit (e.g. an append fold) lands in between, publishing blindly
    would erase that commit's rows. With ``expected_base`` the replace
    raises ConcurrentReplaceError and the interleaved append survives;
    re-deriving from the new latest then succeeds."""
    path = f"{store_root}/t"

    def _df(*pairs):
        return spark.createDataFrame(list(pairs), "node long, comp long")

    S.commit_snapshot(path, {"labels": _df((1, 1))}, mode="replace")
    base = S.latest_version(path)  # a replace computed from v1...
    S.commit_snapshot(path, {"labels": _df((2, 2))}, mode="append")  # ...races a fold
    with pytest.raises(S.ConcurrentReplaceError):
        S.commit_snapshot(
            path, {"labels": _df((9, 9))}, mode="replace",
            expected_base=base,
        )
    got = _kv(S.read_snapshot(spark, path, ["labels"])["labels"],
              "node", "comp")
    assert got == {(1, 1), (2, 2)}  # the fold's rows survived
    # re-derived from the new latest: the replace goes through
    v = S.commit_snapshot(
        path, {"labels": _df((9, 9))}, mode="replace",
        expected_base=S.latest_version(path),
    )
    assert v == 3  # the failed replace published nothing
    got = _kv(S.read_snapshot(spark, path, ["labels"])["labels"],
              "node", "comp")
    assert got == {(9, 9)}


def test_stale_append_fails_after_semantic_replace(spark, store_root):
    """The other direction of the fold-vs-retire race: a fold delta
    derived BEFORE a retirement must not re-merge onto the pruned index
    (its labels can resurrect retired docs). A meaning-changing replace
    bumps the manifest epoch, so the stale append raises; a compaction
    (bump_epoch=False) does not invalidate concurrent folds."""
    path = f"{store_root}/t"

    def _df(*pairs):
        return spark.createDataFrame(list(pairs), "node long, comp long")

    S.commit_snapshot(path, {"labels": _df((1, 1))}, mode="replace")
    epoch0 = S.read_manifest(path).get("epoch", 0)
    # a compaction-class replace: logical view preserved, no bump
    S.commit_snapshot(
        path, {"labels": _df((1, 1))}, mode="replace",
        expected_base=S.latest_version(path), bump_epoch=False,
    )
    v = S.commit_snapshot(
        path, {"labels": _df((2, 2))}, mode="append",
        expected_epoch=epoch0,
    )
    assert v == 3  # fold survives a compaction race
    # a retirement-class replace: epoch bumps, stale appends fail
    S.commit_snapshot(
        path, {"labels": _df((1, 1))}, mode="replace",
        expected_base=S.latest_version(path),
    )
    with pytest.raises(S.StaleAppendError):
        S.commit_snapshot(
            path, {"labels": _df((3, 3))}, mode="append",
            expected_epoch=epoch0,
        )
    got = _kv(S.read_snapshot(spark, path, ["labels"])["labels"],
              "node", "comp")
    assert got == {(1, 1)}  # the stale delta never landed


def test_replace_requires_expected_base_on_nonempty_store(spark, store_root):
    """The replace contract is enforced, not advisory: omitting
    expected_base on a store that already has versions raises (the
    first commit on an empty store is exempt)."""
    path = f"{store_root}/t"
    df = spark.createDataFrame([(1, 1)], "node long, comp long")
    S.commit_snapshot(path, {"labels": df}, mode="replace")  # empty: ok
    with pytest.raises(ValueError, match="expected_base"):
        S.commit_snapshot(path, {"labels": df}, mode="replace")


def test_empty_store_replace_race_raises_for_the_loser(
    spark, store_root, monkeypatch
):
    """Two replace-commits computed against an EMPTY store (two index
    builds publishing to one fresh path): the one that publishes second
    must raise ConcurrentReplaceError instead of erasing the first. The
    competitor publishes from inside the first writer's data-file
    write, so the interleaving is fixed, not left to thread timing."""
    path = f"{store_root}/t"

    def _df(*pairs):
        return spark.createDataFrame(list(pairs), "node long, comp long")

    orig = S._write_table_files
    raced: list = []

    def racing_write(df, p, table):
        if not raced:
            raced.append(table)
            I.commit_index({"labels": _df((2, 2))}, p)
        return orig(df, p, table)

    monkeypatch.setattr(S, "_write_table_files", racing_write)
    with pytest.raises(S.ConcurrentReplaceError):
        I.commit_index({"labels": _df((1, 1))}, path)
    assert raced == ["labels"]
    assert S.latest_version(path) == 1
    got = _kv(S.read_snapshot(spark, path, ["labels"])["labels"],
              "node", "comp")
    assert got == {(2, 2)}  # only the competitor's rows


@pytest.mark.parametrize(
    "step", ["read_index_resolved", "compact_index", "retire_index",
             "commit_fold"],
)
def test_lifecycle_rejects_store_without_family(spark, store_root, step):
    """The lifecycle reads an index's family off its manifest
    (``bucket_reps`` → MinHash, ``vectors`` → SRP); a store holding
    neither is not an index, and every step refuses it before
    publishing anything."""
    path = f"{store_root}/t"
    labels = spark.createDataFrame([(1, 1)], "node long, comp long")
    S.commit_snapshot(path, {"labels": labels}, mode="replace")
    batch = _docs(spark, [(5, TXT_A)])
    batch_labels = spark.createDataFrame([(5, 5)], "doc_id long, comp long")
    remap = spark.createDataFrame([], "old_comp long, new_comp long")
    calls = {
        "read_index_resolved": lambda: I.read_index_resolved(spark, path),
        "compact_index": lambda: I.compact_index(spark, path),
        "retire_index": lambda: I.retire_index(
            spark, path, batch.select("doc_id")
        ),
        "commit_fold": lambda: I.commit_fold(
            path, batch, batch_labels, remap
        ),
    }
    with pytest.raises(ValueError, match="neither bucket_reps"):
        calls[step]()
    assert S.latest_version(path) == 1


def test_retire_invalidates_inflight_fold_end_to_end(spark, store_root):
    """Wrapper-level twin of the stale-append test: a minhash fold
    merged against the pre-retirement resolved view must fail its
    commit once retire_index has landed."""
    path = f"{store_root}/mh"
    h = _docs(spark, [(10, TXT_A), (11, TXT_A), (20, TXT_C), (21, TXT_C)])
    I.commit_index(I.build_minhash_bucket_index(h), path)
    m = S.read_manifest(path)
    resolved = I.read_index_resolved(spark, path, m["version"])
    day = _docs(spark, [(5, TXT_A)])
    bl, rm = I.incremental_minhash_merge(
        day, resolved["bucket_reps"]
    )
    bl = bl.localCheckpoint()
    rm = rm.localCheckpoint()
    # the retirement lands while the fold is in flight
    I.retire_index(
        spark, path, spark.createDataFrame([(10,)], "doc_id long")
    )
    with pytest.raises(S.StaleAppendError):
        I.commit_fold(
            path, day, bl, rm, expected_epoch=m.get("epoch", 0),
        )
    # re-derived against the post-retirement view: goes through and
    # equals the fresh build over the post-retirement corpus
    m2 = S.read_manifest(path)
    resolved2 = I.read_index_resolved(spark, path, m2["version"])
    bl2, rm2 = I.incremental_minhash_merge(
        day, resolved2["bucket_reps"]
    )
    I.commit_fold(
        path, day, bl2, rm2, expected_epoch=m2.get("epoch", 0),
    )
    got = I.read_index_resolved(spark, path)
    fresh = I.build_minhash_bucket_index(
        h.filter(F.col("doc_id") != 10).unionByName(day),
    )
    assert _labels_set(got) == _labels_set(fresh)


def test_two_writer_fold_vs_retire_race_converges(spark, store_root):
    """Claim 6 under REAL thread concurrency: a fold writer running the
    production pattern (derive at a pinned manifest, commit with
    expected_epoch, re-derive on StaleAppendError) races a retirement
    writer (replace CAS; the wrapper re-reads latest each call, so the
    retry is simply calling it again on ConcurrentReplaceError).
    Whatever interleaving the scheduler produces, both writers' loops
    must converge and the resolved view must equal the fresh build over
    the final corpus — i.e. the concurrent execution equals SOME serial
    schedule, and every serial schedule is pinned correct by
    tests/test_lifecycle_fuzz.py."""
    import threading

    path = f"{store_root}/mh"
    history = [
        (10, TXT_A), (11, TXT_A), (20, TXT_C), (21, TXT_C), (30, TXT_D),
    ]
    h = _docs(spark, history)
    I.commit_index(I.build_minhash_bucket_index(h), path)

    batches = [[(5, TXT_A)], [(6, TXT_C), (7, TXT_D)]]
    retire_ids = [10, 20]
    errors: list = []
    stale_retries = {"fold": 0, "retire": 0}
    start = threading.Barrier(2)

    def fold_writer() -> None:
        try:
            start.wait()
            for rows in batches:
                day = _docs(spark, rows)
                for _ in range(12):
                    m = S.read_manifest(path)
                    resolved = I.read_index_resolved(
                        spark, path, m["version"]
                    )
                    bl, rm = I.incremental_minhash_merge(
                        day, resolved["bucket_reps"]
                    )
                    try:
                        I.commit_fold(
                            path, day, bl, rm,
                            expected_epoch=m.get("epoch", 0),
                        )
                        break
                    except S.StaleAppendError:
                        stale_retries["fold"] += 1
                        continue
                else:
                    raise AssertionError("fold never landed in 12 tries")
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    def retire_writer() -> None:
        try:
            start.wait()
            for rid in retire_ids:
                ids = spark.createDataFrame([(rid,)], "doc_id long")
                for _ in range(12):
                    try:
                        I.retire_index(spark, path, ids)
                        break
                    except S.ConcurrentReplaceError:
                        stale_retries["retire"] += 1
                        continue
                else:
                    raise AssertionError("retire never landed in 12 tries")
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [
        threading.Thread(target=fold_writer),
        threading.Thread(target=retire_writer),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, (errors, stale_retries)

    final_corpus = h.unionByName(
        _docs(spark, [r for b in batches for r in b])
    ).filter(~F.col("doc_id").isin(retire_ids))
    fresh = I.build_minhash_bucket_index(final_corpus)
    got = I.read_index_resolved(spark, path)
    assert _labels_set(got) == _labels_set(fresh)


@pytest.mark.parametrize(
    "family, cols",
    [("minhash", {"doc_id", "lang"}), ("srp", {"vec_id", "label"})],
)
def test_stream_gate_survives_all_empty_triggers(
    spark, sf_dir, store_root, family, cols
):
    """A trigger whose rows all fall in the history slice yields an
    empty micro-batch; with dim unset the probe's dim inference used to
    raise inside foreachBatch and kill the stream. hist_frac at the
    hash ceiling makes EVERY trigger empty — the gate must return an
    empty novel set, not crash, for a store of either family."""
    from esther_apache_spark_spark.schemas import EMBEDDING_DIM, load_table
    from esther_apache_spark_spark.streaming.events import run_stream_novelty

    path = f"{store_root}/{family}"
    if family == "srp":
        emb = load_table(spark, sf_dir, "embeddings")
        index = I.build_srp_vector_index(emb.limit(50), dim=EMBEDDING_DIM)
    else:
        docs = load_table(spark, sf_dir, "documents")
        index = I.build_minhash_bucket_index(docs.limit(50))
    I.commit_index(index, path)
    got = run_stream_novelty(spark, sf_dir, path, hist_frac=(1 << 32))
    assert got.count() == 0
    assert set(got.columns) == cols == set(I._family(index).out_cols)


def test_stream_gate_output_lives_under_the_reaped_root(
    spark, sf_dir, store_root
):
    """The gate's accumulated output is written under the per-process
    scratch root that is removed at interpreter exit — not into a bare
    mkdtemp directory nothing ever removes."""
    from esther_apache_spark_spark.schemas import load_table
    from esther_apache_spark_spark.streaming.events import run_stream_novelty

    path = f"{store_root}/mh"
    docs = load_table(spark, sf_dir, "documents")
    I.commit_index(I.build_minhash_bucket_index(docs.limit(5)), path)
    got = run_stream_novelty(spark, sf_dir, path)
    files = got.inputFiles()
    root = os.path.realpath(scope.scratch_root())
    assert files and got.count() > 0
    assert root in scope._REAPED
    for f in files:
        local = os.path.realpath(urlparse(f).path)
        assert os.path.commonpath([local, root]) == root, f


def test_vacuum_keeps_horizon_and_drops_the_rest(spark, store_root):
    """Vacuum deletes exactly the files outside the kept manifests and
    the old manifests themselves; the kept versions read unchanged."""
    path = f"{store_root}/mh"
    h = _docs(spark, [(10, TXT_A), (11, TXT_A), (20, TXT_C), (21, TXT_C)])
    I.commit_index(I.build_minhash_bucket_index(h), path)
    _fold_once(spark, path, _docs(spark, [(5, TXT_A)]))
    I.compact_index(spark, path)  # v3: fresh files only
    want = _labels_set(I.read_index_resolved(spark, path))

    n_files_before = len(_data_file_sigs(path))
    stats = S.vacuum_snapshots(path, keep_last=1, grace_seconds=0)
    assert stats["manifests_deleted"] == 2
    assert stats["files_deleted"] > 0
    assert len(_data_file_sigs(path)) == n_files_before - stats["files_deleted"]
    # kept version unchanged; vacuumed versions are gone
    assert _labels_set(I.read_index_resolved(spark, path)) == want
    with pytest.raises(FileNotFoundError):
        S.read_manifest(path, 1)
    # referenced-file accounting was exact: nothing the kept manifest
    # names was deleted (the read above already proves readability; this
    # pins the inverse — every remaining file is referenced)
    m = S.read_manifest(path)
    referenced = {
        os.path.join(path, f)
        for t in m["tables"].values()
        for f in t["files"]
    }
    assert set(_data_file_sigs(path)) == referenced


def test_real_concurrent_writers_all_appends_survive(spark, store_root):
    """Claim 5 under REAL thread concurrency (the monkeypatch test above
    pins the merge logic; this pins the whole protocol): N threads
    append-commit distinct rows simultaneously — every commit must
    publish a distinct version and the final table must hold all rows."""
    import threading

    path = f"{store_root}/t"
    S.commit_snapshot(
        path,
        {"labels": spark.createDataFrame([(0, 0)], "node long, comp long")},
        mode="replace",
    )
    n = 6
    versions: list = []
    errors: list = []

    def writer(i: int) -> None:
        try:
            versions.append(
                S.commit_snapshot(
                    path,
                    {
                        "labels": spark.createDataFrame(
                            [(i, i)], "node long, comp long"
                        )
                    },
                    mode="append",
                )
            )
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(1, n + 1)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert sorted(versions) == list(range(2, n + 2))  # all distinct
    got = _kv(S.read_snapshot(spark, path, ["labels"])["labels"],
              "node", "comp")
    assert got == {(i, i) for i in range(0, n + 1)}


def test_vacuum_grace_spares_inflight_and_sweeps_crashed(spark, store_root):
    """A crashed commit's data files and tmp manifest are unreferenced:
    inside the grace window vacuum must NOT touch them (they could be a
    commit in flight); with the grace elapsed it sweeps both."""
    path = f"{store_root}/t"
    S.commit_snapshot(
        path,
        {"labels": spark.createDataFrame([(1, 1)], "node long, comp long")},
        mode="replace",
    )
    # simulate a writer that died between data-file write and publish
    orphan = S._write_table_files(
        spark.createDataFrame([(9, 9)], "node long, comp long"),
        path,
        "labels",
    )
    tmp = os.path.join(path, S._MANIFEST_DIR, ".tmp-crashed")
    with open(tmp, "w") as f:
        f.write("{}")
    # fresh files: the grace window protects them
    stats = S.vacuum_snapshots(path, keep_last=1, grace_seconds=3600)
    assert stats["files_deleted"] == 0
    assert os.path.exists(os.path.join(path, orphan[0]))
    assert os.path.exists(tmp)
    # grace elapsed (grace 0): the orphans are swept
    stats = S.vacuum_snapshots(path, keep_last=1, grace_seconds=0)
    assert stats["files_deleted"] == len(orphan)
    assert not os.path.exists(os.path.join(path, orphan[0]))
    assert not os.path.exists(tmp)
    # the published snapshot is untouched throughout
    got = _kv(S.read_snapshot(spark, path, ["labels"])["labels"],
              "node", "comp")
    assert got == {(1, 1)}


def test_empty_table_round_trips_schema(spark, store_root):
    """A truncated table (the compacted remap log) reads back as an
    empty frame with its committed schema."""
    path = f"{store_root}/t"
    df = spark.createDataFrame([(1, 2)], "old_comp long, new_comp long")
    S.commit_snapshot(path, {"remap_log": df.limit(0)}, mode="replace")
    got = S.read_snapshot(spark, path, ["remap_log"])["remap_log"]
    assert got.count() == 0
    assert got.schema == df.schema


def test_srp_snapshot_fold_and_retire(spark, store_root):
    """SRP twin of the lifecycle equivalence: snapshot build + fold +
    retire resolves to the fresh build over the surviving vectors."""
    base = [1.0, 0.2, 0.1, 0.05]
    other = [-0.1, 1.0, -0.3, 0.2]

    def _vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    kw = dict(threshold=0.4, n_planes=4, n_tables=12, dim=4)
    bkw = dict(kw)
    path = f"{store_root}/srp"
    h = _vecs([(10, base), (11, base), (20, other), (30, other)])
    I.commit_index(I.build_srp_vector_index(h, **bkw), path)
    day = _vecs([(5, base), (50, [0.0, 0.0, 0.1, -1.0])])
    resolved = I.read_index_resolved(spark, path)
    bl, rm = I.incremental_srp_merge(
        day, resolved["buckets"], resolved["vectors"], resolved["labels"],
        **bkw,
    )
    I.commit_fold(path, day, bl, rm, n_planes=4, n_tables=12, dim=4)
    I.retire_index(
        spark, path, spark.createDataFrame([(10,)], "vec_id long"),
        **{**kw, "seed": 42},
    )
    got = I.read_index_resolved(spark, path)
    fresh = I.build_srp_vector_index(
        h.unionByName(day).filter(F.col("vec_id") != 10), **bkw
    )
    assert _labels_set(got) == _labels_set(fresh)
    assert _kv(got["vectors"], "_id") == _kv(fresh["vectors"], "_id")


def test_streaming_gate_reads_snapshot_store(spark, sf_dir, store_root):
    """The per-trigger streaming novelty gate is the concurrent reader
    the store exists for: it must gate against the LATEST published
    snapshot (a v1 index over half the history, replaced by a v2 over
    all of it) and admit exactly the batch docs whose band keys share
    no (band, bucket) with v2's ``bucket_reps``."""
    from esther_apache_spark_spark.operators import dedup as D
    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from esther_apache_spark_spark.schemas import load_table
    from esther_apache_spark_spark.streaming.events import run_stream_novelty

    docs = load_table(spark, sf_dir, "documents")
    in_hist = hash_bucket(F.col("doc_id"), salt="incrmh") < I.HIST_GATE_FRAC
    history, batch = docs.filter(in_hist), docs.filter(~in_hist)
    half = history.filter(hash_bucket(F.col("doc_id"), salt="half") < (1 << 31))
    path = f"{store_root}/snap"
    v1 = I.build_minhash_bucket_index(half)
    v2 = I.build_minhash_bucket_index(history)
    I.commit_index(v1, path)
    I.commit_index(v2, path)
    bband = D.minhash_band_frame(batch).select(
        "_id", F.posexplode("_bh").alias("_band", "_bucket")
    )

    def novel(idx):
        hits = bband.join(
            idx["bucket_reps"].select("_band", "_bucket"),
            ["_band", "_bucket"],
            "semi",
        ).select(F.col("_id").alias("doc_id"))
        return _kv(batch.join(hits, "doc_id", "left_anti"), "doc_id")

    want = novel(v2)
    assert want != novel(v1)  # the two versions gate differently
    got = _kv(run_stream_novelty(spark, sf_dir, path), "doc_id")
    assert got == want and len(got) > 0


def test_manifest_is_json_and_relative_paths(spark, store_root):
    """The manifest is portable: plain JSON, file paths relative to the
    store root (the store can be moved / mirrored)."""
    path = f"{store_root}/t"
    S.commit_snapshot(
        path,
        {"labels": spark.createDataFrame([(1, 1)], "node long, comp long")},
        mode="replace",
    )
    raw = json.load(open(S._manifest_path(path, 1)))
    files = raw["tables"]["labels"]["files"]
    assert files and all(not f.startswith("/") for f in files)
    moved = f"{store_root}/moved"
    shutil.move(path, moved)
    got = S.read_snapshot(spark, moved, ["labels"])["labels"]
    assert _kv(got, "node", "comp") == {(1, 1)}
