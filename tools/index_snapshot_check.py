#!/usr/bin/env python
"""Reader-vs-writer race drill for the snapshot index store
(sources/index_store.py) — the deployment the store exists for: the
nightly fold / takedown retirement / weekly compaction WRITING the
shared dedup index while streaming novelty gates and ad-hoc merges
READ it concurrently.

Two arms over the same sf0.1 MinHash index workload:

1. SNAPSHOT arm (the claim under test): build -> K folds -> retire ->
   compact, each published as an atomic manifest commit, with reader
   threads hammering the resolved view throughout. VERIFIED, not just
   reported: every reader observation (version, labels+reps checksum)
   must equal the canonical checksum recomputed AFTER the run by
   time-traveling to that version, and reader errors must be zero.
   Ends with a vacuum and a latest-still-reads check.

2. LEGACY arm (the motivation): the same index served as a plain
   directory while repeated ``compact_index`` swaps (rmtree+rename)
   run — each swap has a window where a table directory does not
   exist. Readers record exceptions and checksums not matching the
   (unchanged) quiesced state; both counts are REPORTED as torn reads
   (timing-dependent on one box, so not asserted — zero just means the
   race window was not hit this run).

The snapshot arm is also runnable under real separate executor JVMs
via ``tools/local_cluster_check.py --snapshot-drill`` (this module's
arms are imported there), so the store's executor-side data-file
writes + driver-side manifest publication cross process boundaries.

Prints one JSON line. Run idle.

Usage: python tools/index_snapshot_check.py [--folds K] [--readers N]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _checksum(resolved) -> tuple:
    """Order-insensitive fingerprint of the resolved view: (sum of row
    hashes, row count) for labels and bucket_reps — cross-table tearing
    (a fold's reps visible without its remap log) shifts it."""
    from pyspark.sql import functions as F

    # decimal accumulator: a plain long sum of xxhash64 overflows under
    # ANSI mode
    lab = resolved["labels"].agg(
        F.sum(F.xxhash64("node", "comp").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    ).first()
    rep = resolved["bucket_reps"].agg(
        F.sum(
            F.xxhash64("_band", "_bucket", "_rep").cast("decimal(38,0)")
        ).alias("s"),
        F.count(F.lit(1)).alias("c"),
    ).first()
    return (str(lab["s"]), lab["c"], str(rep["s"]), rep["c"])


def build_inputs(spark, sf_dir: str, folds: int):
    """History slice, K disjoint daily batches, and a retirement slice
    over the documents table — the shared workload of both arms."""
    from pyspark.sql import functions as F

    from esther_apache_spark_spark.operators import incremental as I
    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from esther_apache_spark_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    gate = hash_bucket(F.col("doc_id"), salt="incrmh")
    history = docs.filter(gate < I.HIST_GATE_FRAC).localCheckpoint()
    batch = docs.filter(gate >= I.HIST_GATE_FRAC)
    days = [
        batch.filter(
            hash_bucket(F.col("doc_id"), salt="day") % folds == i
        ).localCheckpoint()
        for i in range(folds)
    ]
    retired = history.filter(
        hash_bucket(F.col("doc_id"), salt="retire") < int(0.1 * (1 << 32))
    ).select("doc_id").localCheckpoint()
    return history, days, retired


def snapshot_arm(spark, path: str, history, days, retired,
                 readers: int = 2) -> dict:
    """Run the full snapshot-commit lifecycle against concurrent reader
    threads; verify every observation post-hoc via time travel."""
    from esther_apache_spark_spark.operators import incremental as I
    from esther_apache_spark_spark.sources import index_store as S

    stop = threading.Event()
    observations: list = []
    errors: list = []

    def reader_loop() -> None:
        while not stop.is_set():
            try:
                v = S.latest_version(path)
                if v is None:
                    time.sleep(0.02)
                    continue
                chk = _checksum(
                    I.read_minhash_index_resolved(spark, path, v)
                )
                observations.append((v, chk))
            except Exception as e:  # noqa: BLE001
                errors.append(f"{type(e).__name__}: {e}"[:200])

    threads = [
        threading.Thread(target=reader_loop, daemon=True)
        for _ in range(readers)
    ]
    t0 = time.perf_counter()
    I.commit_index(
        I.build_minhash_bucket_index(history), path
    )
    for th in threads:
        th.start()
    commit_secs = []
    for day in days:
        t1 = time.perf_counter()
        m = S.read_manifest(path)
        resolved = I.read_minhash_index_resolved(spark, path, m["version"])
        bl, rm = I.incremental_minhash_merge(
            day, resolved["bucket_reps"]
        )
        I.commit_minhash_fold(
            path, day, bl, rm, expected_epoch=m.get("epoch", 0),
        )
        commit_secs.append(round(time.perf_counter() - t1, 3))
    t1 = time.perf_counter()
    I.retire_minhash_index(spark, path, retired)
    retire_sec = round(time.perf_counter() - t1, 3)
    t1 = time.perf_counter()
    I.compact_index(spark, path, "minhash")
    compact_sec = round(time.perf_counter() - t1, 3)
    # let readers catch the final state before stopping
    time.sleep(1.0)
    stop.set()
    for th in threads:
        th.join(timeout=120)
    wall = time.perf_counter() - t0

    # verification: every observation equals the canonical checksum of
    # ITS version, recomputed via time travel after the fact (the
    # latest version is always canonized, even if no reader happened to
    # observe it — the post-vacuum check below needs it)
    latest = S.latest_version(path)
    canon = {
        v: _checksum(I.read_minhash_index_resolved(spark, path, v))
        for v in sorted({v for v, _ in observations} | {latest})
    }
    mismatches = [(v, chk) for v, chk in observations if canon[v] != chk]
    vac = S.vacuum_snapshots(path, keep_last=2, grace_seconds=0)
    latest_ok = _checksum(
        I.read_minhash_index_resolved(spark, path)
    ) == canon[latest]
    out = {
        "wall_sec": round(wall, 3),
        "versions_published": S.latest_version(path),
        "reads_completed": len(observations),
        "distinct_versions_observed": len(canon),
        "reader_errors": len(errors),
        "checksum_mismatches": len(mismatches),
        "fold_commit_secs": commit_secs,
        "retire_sec": retire_sec,
        "compact_sec": compact_sec,
        "vacuum": vac,
        "latest_reads_after_vacuum": latest_ok,
        "ok": not errors and not mismatches and latest_ok,
    }
    if errors:
        out["first_error"] = errors[0]
    return out


def legacy_arm(spark, path: str, history, days, readers: int = 2,
               compactions: int = 6) -> dict:
    """Serve the same index as a plain directory and hammer it with
    readers while compaction swaps run; report torn reads."""
    from esther_apache_spark_spark.operators import incremental as I

    I.write_index(
        I.build_minhash_bucket_index(history), path
    )
    for day in days:
        resolved = I.read_minhash_index_resolved(spark, path)
        bl, rm = I.incremental_minhash_merge(
            day, resolved["bucket_reps"]
        )
        I.append_minhash_merge_to_index(path, day, bl, rm)
    quiesced = _checksum(I.read_minhash_index_resolved(spark, path))
    lstop = threading.Event()
    ltorn: list = []
    lreads = [0]

    def legacy_reader() -> None:
        while not lstop.is_set():
            try:
                chk = _checksum(I.read_minhash_index_resolved(spark, path))
                lreads[0] += 1
                if chk != quiesced:
                    ltorn.append(("checksum", str(chk)))
            except Exception as e:  # noqa: BLE001
                ltorn.append(("exception", f"{type(e).__name__}: {e}"[:160]))

    lthreads = [
        threading.Thread(target=legacy_reader, daemon=True)
        for _ in range(readers)
    ]
    for th in lthreads:
        th.start()
    # compaction preserves the view, so every deviation a reader sees
    # during these swaps is a torn read by definition
    for _ in range(compactions):
        I.compact_index(spark, path, "minhash")
    lstop.set()
    for th in lthreads:
        th.join(timeout=120)
    return {
        "compactions": compactions,
        "reads_completed": lreads[0],
        "torn_reads": len(ltorn),
        "first_torn": ltorn[0] if ltorn else None,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--folds", type=int, default=4)
    ap.add_argument("--readers", type=int, default=2)
    ap.add_argument("--legacy-compactions", type=int, default=6)
    args = ap.parse_args()

    from esther_apache_spark_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("index-snapshot-check")
    spark.sparkContext.setLogLevel("ERROR")

    history, days, retired = build_inputs(spark, sf_dir, args.folds)
    root = tempfile.mkdtemp(prefix="idxsnapchk_")
    out: dict = {"folds": args.folds, "readers": args.readers}
    try:
        out["snapshot"] = snapshot_arm(
            spark, f"{root}/snap", history, days, retired, args.readers
        )
        out["legacy"] = legacy_arm(
            spark, f"{root}/legacy", history, days, args.readers,
            args.legacy_compactions,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)

    print(json.dumps(out))
    if not out["snapshot"]["ok"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
