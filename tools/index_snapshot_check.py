#!/usr/bin/env python
"""Reader-vs-writer race drill for the snapshot index store
(sources/index_store.py) — the deployment the store exists for: the
nightly fold / takedown retirement / weekly compaction WRITING the
shared dedup index while streaming novelty gates and ad-hoc merges
READ it concurrently.

Over an sf0.1 MinHash index workload: build -> K folds -> retire ->
compact, each published as an atomic manifest commit, with reader
threads hammering the resolved view throughout. VERIFIED, not just
reported: every reader observation (version, labels+reps checksum)
must equal the canonical checksum recomputed AFTER the run by
time-traveling to that version, and reader errors must be zero. Ends
with a vacuum and a latest-still-reads check. (The plain-directory
protocol this store replaced tore 8 of 12 concurrent reads during
compaction swaps — BASELINE.md r10.)

The drill is also runnable under real separate executor JVMs via
``tools/local_cluster_check.py --snapshot-drill`` (``snapshot_arm`` is
imported there), so the store's executor-side data-file
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
    over the documents table."""
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
                    I.read_index_resolved(spark, path, v)
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
        resolved = I.read_index_resolved(spark, path, m["version"])
        bl, rm = I.incremental_minhash_merge(
            day, resolved["bucket_reps"]
        )
        I.commit_fold(
            path, day, bl, rm, expected_epoch=m.get("epoch", 0),
        )
        commit_secs.append(round(time.perf_counter() - t1, 3))
    t1 = time.perf_counter()
    I.retire_index(spark, path, retired)
    retire_sec = round(time.perf_counter() - t1, 3)
    t1 = time.perf_counter()
    I.compact_index(spark, path)
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
        v: _checksum(I.read_index_resolved(spark, path, v))
        for v in sorted({v for v, _ in observations} | {latest})
    }
    mismatches = [(v, chk) for v, chk in observations if canon[v] != chk]
    vac = S.vacuum_snapshots(path, keep_last=2, grace_seconds=0)
    latest_ok = _checksum(
        I.read_index_resolved(spark, path)
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--folds", type=int, default=4)
    ap.add_argument("--readers", type=int, default=2)
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
    finally:
        shutil.rmtree(root, ignore_errors=True)

    print(json.dumps(out))
    if not out["snapshot"]["ok"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
