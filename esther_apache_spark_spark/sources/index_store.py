"""Snapshot-isolated commits for multi-table parquet stores.

The incremental dedup index (``operators/incremental.py``) is a set of
parquet tables that one job WRITES (the nightly fold, weekly compaction,
takedown retirement) while other jobs READ — the streaming novelty gate
re-opens it every trigger, and ad-hoc merges probe it. Plain directory
reads over ``append``/``overwrite`` writes tear under that concurrency:
a reader that lists ``bucket_reps`` after a fold's files landed but
``remap_log`` before its append finishes resolves labels against a
half-applied fold, and an rmtree+rename compaction swap has a window
where a table directory simply does not exist (BASELINE.md r10: 8 of
12 concurrent reads torn). This store is therefore the ONLY way an
index is written and read.

This module is the minimal fix, the commit idea behind Delta Lake /
Apache Iceberg (public designs) reduced to what a shared index needs:

* Data files are immutable once written; every commit writes its rows
  into a fresh ``{table}/c-{uuid}/`` directory, so no live file is ever
  rewritten or deleted by a commit.
* A commit is PUBLISHED by a single atomic manifest-file creation
  (``_manifests/v{N}.json``, written to a temp name, fsynced, then
  ``os.link``ed into place — link fails if the version already exists,
  which is the optimistic-concurrency conflict signal; the loser
  re-reads the latest manifest, re-merges its file lists, and retries
  at N+1). Readers resolve the highest published version and read the
  exact file list it names — they see every commit entirely or not at
  all, never a torn middle.
* Old versions stay readable (time travel: pin the snapshot a training
  run consumed) until ``vacuum_snapshots`` drops files unreferenced by
  the kept manifests.

At 100 TB the same protocol holds on an object store that supports
if-absent puts (S3 conditional PUT, GCS preconditions); the manifest is
KB-scale regardless of index size, so publishing cost is flat.

This is deliberately NOT a general table format: no partition specs, no
row-level deletes, no schema evolution — index tables are replaced or
appended wholesale, which is all the lifecycle (build / fold / retire /
compact) needs.

Relation to ``sources/sinks.py:publish_parquet_atomic``: that is the
SINGLE-table, full-replace-only publish (one dataset, symlink pointer
swap, predecessor kept for rollback) for pipeline OUTPUT datasets; this
store exists for the index's needs that primitive cannot express —
multiple tables changing in one atomic commit, O(batch) append deltas
(a fold must not rewrite the index), concurrent writers, and reads
pinned to arbitrary retained versions.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifests"


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:08d}.json")


def _list_versions(path: str) -> list[int]:
    pat = os.path.join(path, _MANIFEST_DIR, "v*.json")
    out = []
    for p in glob.glob(pat):
        stem = os.path.basename(p)[1:-5]
        if stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def latest_version(path: str) -> int | None:
    """Highest published snapshot version, or None for an empty store."""
    vs = _list_versions(path)
    return vs[-1] if vs else None


def read_manifest(path: str, version: int | None = None) -> dict | None:
    """Load a published manifest (latest by default). A visible manifest
    is always complete — publication is an atomic link of a fully
    fsynced temp file."""
    if version is None:
        version = latest_version(path)
        if version is None:
            return None
    with open(_manifest_path(path, version)) as f:
        m = json.load(f)
    m["version"] = version
    return m


def _write_table_files(df: DataFrame, path: str, table: str) -> list[str]:
    """Write ``df`` into a fresh commit directory and return the data
    files it produced (relative to ``path`` so the store can be moved)."""
    cdir = f"{table}/c-{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(os.path.join(path, cdir))
    files = sorted(
        os.path.join(cdir, os.path.basename(p))
        for p in glob.glob(os.path.join(path, cdir, "*.parquet"))
    )
    return files


def _publish(path: str, base_version: int, tables: dict,
             epoch: int = 0) -> int:
    """Atomically publish ``tables`` as the next manifest version after
    ``base_version``; returns the published version. Raises
    FileExistsError only internally (the retry is the caller's merge
    loop in ``commit_snapshot``)."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    body = json.dumps({"tables": tables, "epoch": epoch}, sort_keys=True)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(body)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _manifest_path(path, base_version + 1))
    finally:
        os.unlink(tmp)
    return base_version + 1


class ConcurrentReplaceError(RuntimeError):
    """A replace commit's base version was overtaken by another commit.

    A replace publishes frames COMPUTED FROM a specific snapshot
    (retirement prunes the resolved view at version V; compaction
    materializes it); if any commit lands after V, blindly publishing
    would silently erase that commit's rows (an append fold's documents
    would vanish) or break the remap log's decreasing-chain invariant.
    The caller must re-derive its frames from the new latest version
    and retry — which the lifecycle wrappers surface rather than hide,
    since re-deriving means re-running the pruning/materialization
    plan."""


class StaleAppendError(RuntimeError):
    """An append delta was derived from a snapshot whose SEMANTIC epoch
    has since changed (a retirement or other meaning-changing replace
    landed in between).

    An append that merely loses the version race to another APPEND can
    be re-merged mechanically (both deltas are independent row sets).
    But an append derived from pre-retirement state must not land on
    the pruned index: its labels/remap rows can reference retired
    documents, silently un-doing the takedown. The caller re-derives
    the delta from the new resolved view and retries. (Compaction
    preserves the logical view, so it does NOT bump the epoch — a fold
    racing a compaction re-merges fine.)"""


def commit_snapshot(
    path: str,
    delta: dict[str, DataFrame],
    mode: str = "append",
    expected_base: int | None = None,
    expected_epoch: int | None = None,
    bump_epoch: bool = True,
) -> int:
    """Commit ``delta`` (table name → DataFrame) to the store.

    ``mode="append"`` adds the delta's rows to each named table;
    ``mode="replace"`` makes the delta's rows the table's new full
    contents. Untouched tables carry over from the latest snapshot
    unchanged. Returns the published version.

    Concurrency: the data files are written first (invisible until
    published); the manifest link is create-if-absent, so two
    concurrent commits serialize.

    * APPEND: a loser re-reads the winner's manifest and re-merges, so
      two appends both survive with both deltas visible. Pass
      ``expected_epoch`` (the manifest ``epoch`` at the snapshot the
      delta was DERIVED from): if a meaning-changing replace (e.g. a
      retirement) landed in between, the re-merge would resurrect
      retired state, so the commit raises :class:`StaleAppendError`
      instead and the caller re-derives.
    * REPLACE on a non-empty store REQUIRES ``expected_base`` (the
      version its frames were computed from) — enforced, because a
      replace that loses a race cannot be re-merged mechanically;
      losing raises :class:`ConcurrentReplaceError` and the caller
      re-derives from the new latest. On an empty store an omitted
      ``expected_base`` means "computed against the empty store": a
      replace that another commit beats to the first version raises
      too, rather than erasing it. ``bump_epoch=True`` (default)
      marks the replace as meaning-changing (retirement, rebuild);
      compaction — which preserves the logical view — passes False so
      concurrent appends keep their mechanical re-merge.
    """
    if mode not in ("append", "replace"):
        raise ValueError(f"unknown commit mode: {mode!r}")
    if mode == "replace" and expected_base is None:
        if latest_version(path) is not None:
            raise ValueError(
                "replace on a non-empty store requires expected_base (the "
                "version the replacement frames were computed from) — "
                "otherwise a concurrent commit can be silently erased"
            )
        expected_base = 0  # computed against the empty store
    written: dict[str, dict] = {}
    for name, df in delta.items():
        written[name] = {
            "files": _write_table_files(df, path, name),
            "schema": df.schema.json(),
        }
    while True:
        latest = read_manifest(path)
        base_tables = dict(latest["tables"]) if latest else {}
        base_version = latest["version"] if latest else 0
        base_epoch = latest.get("epoch", 0) if latest else 0
        if mode == "replace" and base_version != expected_base:
            raise ConcurrentReplaceError(
                f"replace computed from v{expected_base} but the store "
                f"is at v{base_version}; re-derive and retry"
            )
        if (
            mode == "append"
            and expected_epoch is not None
            and base_epoch != expected_epoch
        ):
            raise StaleAppendError(
                f"append derived at epoch {expected_epoch} but the "
                f"store is at epoch {base_epoch} (a meaning-changing "
                "replace landed); re-derive from the resolved view"
            )
        tables = {k: dict(v) for k, v in base_tables.items()}
        for name, w in written.items():
            if mode == "append" and name in tables:
                tables[name] = {
                    "files": list(tables[name]["files"]) + w["files"],
                    "schema": w["schema"],
                }
            else:
                tables[name] = w
        epoch = base_epoch + (1 if mode == "replace" and bump_epoch else 0)
        try:
            return _publish(path, base_version, tables, epoch)
        except FileExistsError:
            continue


def read_snapshot(
    spark: SparkSession,
    path: str,
    names: list[str] | None = None,
    version: int | None = None,
) -> dict[str, DataFrame]:
    """Open tables from a published snapshot (latest by default;
    ``version`` pins an older one — time travel). Each DataFrame reads
    the exact files the manifest names, so concurrent commits and
    compactions cannot tear it. A table with no files resolves to an
    empty frame with its committed schema."""
    m = read_manifest(path, version)
    if m is None:
        raise FileNotFoundError(f"no published snapshot under {path}")
    if names is None:
        names = sorted(m["tables"])
    out = {}
    for n in names:
        t = m["tables"][n]
        files = [os.path.join(path, f) for f in t["files"]]
        if files:
            out[n] = spark.read.parquet(*files)
        else:
            schema = StructType.fromJson(json.loads(t["schema"]))
            out[n] = spark.createDataFrame([], schema)
    return out


def vacuum_snapshots(
    path: str, keep_last: int = 2, grace_seconds: float = 600.0
) -> dict:
    """Drop data files unreferenced by the newest ``keep_last``
    manifests and delete the older manifests. Readers pinned to a
    kept version are unaffected; time travel beyond the horizon is
    traded for space, exactly like Delta's VACUUM. Returns counts.

    ``grace_seconds`` protects a CONCURRENT writer that has written its
    commit's data files but not yet published its manifest — those
    files are unreferenced too, so without the grace window a racing
    vacuum would delete a commit in flight (the same hazard Delta's
    retention period exists for). Unreferenced files younger than the
    grace are left for the next vacuum; crashed commits' orphans age
    out and are swept then. Pass 0 only when no writer can be active."""
    import time as _time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _list_versions(path)
    if not versions:
        return {"files_deleted": 0, "manifests_deleted": 0}
    kept = versions[-keep_last:]
    referenced: set[str] = set()
    for v in kept:
        m = read_manifest(path, v)
        for t in m["tables"].values():
            referenced.update(t["files"])
    files_deleted = 0
    now = _time.time()
    for p in glob.glob(os.path.join(path, "*", "c-*", "*.parquet")):
        rel = os.path.relpath(p, path)
        if rel not in referenced:
            try:
                if now - os.stat(p).st_mtime < grace_seconds:
                    continue  # possibly a commit in flight
            except OSError:
                continue
            os.unlink(p)
            files_deleted += 1
    # Sweep emptied commit dirs (and their _SUCCESS/_temporary leavings)
    # — same grace window, aged by the NEWEST mtime anywhere in the
    # dir's subtree: the c-dir's own mtime freezes at write start while
    # Spark fills `_temporary/`, so a long-running in-flight write must
    # be aged by its most recent activity, not its start.
    import shutil as _shutil

    for d in glob.glob(os.path.join(path, "*", "c-*")):
        try:
            if any(e.endswith(".parquet") for e in os.listdir(d)):
                continue
            newest = os.stat(d).st_mtime
            for sub, _dirs, names in os.walk(d):
                newest = max(
                    newest,
                    os.stat(sub).st_mtime,
                    *(os.stat(os.path.join(sub, n)).st_mtime
                      for n in names),
                )
            if now - newest < grace_seconds:
                continue  # possibly a commit in flight
            _shutil.rmtree(d, ignore_errors=True)
        except OSError:
            continue
    manifests_deleted = 0
    for v in versions:
        if v not in kept:
            os.unlink(_manifest_path(path, v))
            manifests_deleted += 1
    # a writer that crashed mid-_publish leaves a .tmp- manifest (its
    # data files age out above — unpublished means unreferenced); drop
    # those too, same grace window for a publish in flight
    for p in glob.glob(os.path.join(path, _MANIFEST_DIR, ".tmp-*")):
        try:
            if now - os.stat(p).st_mtime >= grace_seconds:
                os.unlink(p)
        except OSError:
            pass
    return {
        "files_deleted": files_deleted,
        "manifests_deleted": manifests_deleted,
    }
