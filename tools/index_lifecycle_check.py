#!/usr/bin/env python
"""Measure the index-lifecycle cost claims (VERDICT r9 #2) for the
BASELINE.md row:

1. FOLD SUB-LINEARITY — with a FIXED ~1k-doc arriving batch, the
   nightly fold's cost is timed against a small index (sf0.1 corpus)
   and a 10× index (sf1): the rewrite fold
   (``apply_minhash_merge_to_index`` + full ``write_index``) re-writes
   the whole index, so its cost should scale with index size; the
   append fold (``append_minhash_merge_to_index``) writes O(batch)
   rows + the remap log, so its cost should stay ~flat. Each arm also
   times the merge itself (shared by both) so the fold delta is
   attributable.
2. RETIREMENT LOCALITY — retiring a 1% takedown slice from the
   persisted sf1 index (``retire_minhash_docs``, materialized by
   writing the pruned index) vs the only r9-era alternative: a fresh
   ``build_minhash_bucket_index`` over the surviving corpus.

Prints one JSON line (plus the standard load calibration). Run idle.

Usage: python tools/index_lifecycle_check.py
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CALIBRATION_REF, _ensure_scale  # noqa: E402

BATCH_TARGET = 1000  # fixed arriving-batch size across index scales


def _du(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                pass
    return total


def main() -> None:
    from pyspark.sql import functions as F

    from esther_apache_spark_spark import plans
    from esther_apache_spark_spark.operators import incremental as I
    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from esther_apache_spark_spark.schemas import load_table
    from esther_apache_spark_spark.session import get_spark

    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/scale/sf1")
    _ensure_scale(sf1_dir, 10)
    cal_dir = os.environ.get("SPARK_GRAFT_CAL_DIR", "/root/testdata/sf0.1")

    spark = get_spark("index-lifecycle-check")
    spark.sparkContext.setLogLevel("ERROR")

    def _cal() -> float:
        # the ONE probe protocol, imported from bench (a drift here
        # would desynchronize this tool's load factor from bench's)
        from bench import calibration_probe

        return calibration_probe(spark, cal_dir)

    root = tempfile.mkdtemp(prefix="idxlife_")
    out: dict = {"batch_target": BATCH_TARGET, "scales": {}}
    probes = [_cal()]
    try:
        for tag, sf_dir in (("sf0.1", "/root/testdata/sf0.1"), ("sf1", sf1_dir)):
            docs = load_table(spark, sf_dir, "documents")
            n = docs.count()
            # complement slices of one corpus: ids never collide, and the
            # batch stays ~BATCH_TARGET docs at EVERY index scale
            frac = int((1 - BATCH_TARGET / n) * (1 << 32))
            gate = hash_bucket(F.col("doc_id"), salt="incrmh")
            history, batch = docs.filter(gate < frac), docs.filter(gate >= frac)
            path = f"{root}/{tag}"

            t0 = time.perf_counter()
            I.write_index(
                I.build_minhash_bucket_index(history), path
            )
            build_sec = time.perf_counter() - t0

            idx = I.read_index(spark, path, ["bucket_reps", "labels", "doc_bands"])
            t0 = time.perf_counter()
            bl, rm = I.incremental_minhash_merge(
                batch, idx["bucket_reps"]
            )
            bl = bl.localCheckpoint()  # merge materialized; folds timed alone
            rm = rm.localCheckpoint()
            merge_sec = time.perf_counter() - t0

            t0 = time.perf_counter()
            I.write_index(
                I.apply_minhash_merge_to_index(
                    idx["bucket_reps"], idx["labels"], batch, bl, rm,
                    doc_bands=idx["doc_bands"],
                ),
                f"{root}/{tag}_rewritten",
            )
            rewrite_sec = time.perf_counter() - t0

            pre_append = _du(path)
            t0 = time.perf_counter()
            I.append_minhash_merge_to_index(path, batch, bl, rm)
            append_sec = time.perf_counter() - t0

            # snapshot-commit arm: the SAME fold delta published through
            # sources/index_store.py — prices the isolation protocol's
            # overhead (manifest write + per-commit dirs) over the plain
            # directory append; the manifest is KB-scale regardless of
            # index size, so the delta should stay flat across scales
            spath = f"{root}/{tag}_snap"
            # seed from the already-built index frames (a parquet copy),
            # not a second full build
            I.commit_index(idx, spath)
            pre_commit = _du(spath)
            t0 = time.perf_counter()
            I.commit_minhash_fold(spath, batch, bl, rm)
            commit_sec = time.perf_counter() - t0
            import glob as _glob

            manifest_bytes = sum(
                os.path.getsize(p)
                for p in _glob.glob(f"{spath}/_manifests/v*.json")
            )

            row = {
                "docs": n,
                "batch_docs": batch.count(),
                "build_sec": round(build_sec, 2),
                "merge_sec": round(merge_sec, 2),
                "fold_rewrite_sec": round(rewrite_sec, 2),
                "fold_append_sec": round(append_sec, 2),
                "fold_snapshot_commit_sec": round(commit_sec, 2),
                # single-box wall-clock is job-launch-floor-dominated at
                # these scales; the sub-linearity that matters at 100 TB
                # is WRITTEN BYTES — full-index rewrite vs O(batch) delta
                "fold_rewrite_bytes": _du(f"{root}/{tag}_rewritten"),
                "fold_append_bytes": _du(path) - pre_append,
                "fold_snapshot_commit_bytes": _du(spath) - pre_commit,
                "snapshot_manifest_bytes": manifest_bytes,
            }

            if tag == "sf1":
                retired = history.filter(
                    hash_bucket(F.col("doc_id"), salt="retire")
                    < int(0.01 * (1 << 32))
                ).select("doc_id")
                # retirement reads the PRE-fold persisted index tables
                base = I.read_index(
                    spark, f"{root}/{tag}_rewritten",
                    ["bucket_reps", "labels", "doc_bands"],
                )
                t0 = time.perf_counter()
                I.write_index(
                    I.retire_minhash_docs(
                        base["bucket_reps"], base["labels"],
                        base["doc_bands"], retired,
                    ),
                    f"{root}/{tag}_retired",
                )
                retire_sec = time.perf_counter() - t0
                t0 = time.perf_counter()
                I.write_index(
                    I.build_minhash_bucket_index(
                        docs.join(retired, "doc_id", "left_anti"),
                    ),
                    f"{root}/{tag}_rebuilt",
                )
                rebuild_sec = time.perf_counter() - t0
                row["retired_docs"] = retired.count()
                row["retire_sec"] = round(retire_sec, 2)
                row["fresh_rebuild_sec"] = round(rebuild_sec, 2)

            out["scales"][tag] = row
            print(f"[lifecycle] {tag}: {row}", file=sys.stderr, flush=True)
            probes.append(_cal())
    finally:
        shutil.rmtree(root, ignore_errors=True)

    out["calibration"] = {
        "probes_sec": [round(p, 4) for p in probes],
        "load_factor": round(
            statistics.median(probes) / CALIBRATION_REF, 3
        ),
    }
    spark.stop()
    print(json.dumps(out, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
