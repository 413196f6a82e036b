#!/usr/bin/env python
"""Price the incremental near-dup merge against the full-corpus
recompute it replaces (VERDICT r8 #1's value claim, measured).

For each modality (minhash bands over documents, SRP over embeddings),
on a hash split of the given corpus (history = 1 - batch_frac):

- ``index_build_sec`` — the NIGHTLY cost: pair-gen + CC over history,
  band/bucket projection, one snapshot commit to the index store.
  Paid once per corpus refresh.
- ``merge_sec`` — the DAILY cost: band the arriving batch, probe the
  persisted index (its resolved view, as the nightly fold reads it),
  self-join the batch, CC over the touched subgraph,
  materialize batch labels + remap. This is the number that must stay
  small as history grows.
- ``full_recompute_sec`` — what a pipeline without the index pays
  every day: pair-gen + CC over the WHOLE corpus, labels for the batch.

The merge/full ratio understates the real win: at a fixed batch size,
``merge_sec`` is flat in history size (the probe join reads bucket→rep
rows, not content) while ``full_recompute_sec`` grows with the corpus.

Usage: python tools/incremental_scale_check.py [sf_dir] [batch_frac] [--cold]
Prints one JSON line. ``batch_frac`` defaults to 0.02 — the daily shape
is a SMALL arriving batch against a big history (the catalog entries
use 20% only so the driver oracle sees a meaty result set).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _drop_caches() -> bool:
    try:
        os.sync()
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("1\n")
        return True
    except OSError:
        return False


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    batch_frac = float(args[1]) if len(args) > 1 else 0.02
    cold = "--cold" in sys.argv
    # reliable disk checkpoints for every CC round — same posture as
    # bench.py --sf10-cold (localCheckpoint blocks live on the driver
    # heap in local mode and are the sf10 OOM/GC-thrash axis, r7/r8)
    os.environ.setdefault("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/spark_graft_ckpt")

    from pyspark.sql import functions as F

    from esther_apache_spark_spark.operators import dedup as D
    from esther_apache_spark_spark.operators import incremental as I
    from esther_apache_spark_spark.operators.components import (
        connected_components,
    )
    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from esther_apache_spark_spark.schemas import EMBEDDING_DIM, load_table
    from esther_apache_spark_spark.session import get_spark

    spark = get_spark("incremental-scale")
    spark.sparkContext.setLogLevel("ERROR")
    n = spark.sparkContext.defaultParallelism

    def _ident(it):
        yield from it

    spark.range(0, n, 1, n).mapInPandas(_ident, "id long").count()

    hist_gate = int((1.0 - batch_frac) * (1 << 32))
    out = {"sf_dir": sf_dir, "batch_frac": batch_frac, "cold": cold, "modalities": {}}
    root = tempfile.mkdtemp(prefix="incr_scale_")

    def _full_labels_count(batch_ids, id_col, pairs):
        lab = connected_components(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )
        return (
            batch_ids.join(lab, batch_ids[id_col] == lab.node, "left")
            .select(F.coalesce("comp", F.col(id_col)))
            .count()
        )

    # --- minhash / documents -------------------------------------------------
    docs = load_table(spark, sf_dir, "documents")
    gate = hash_bucket(F.col("doc_id"), salt="incrmh") < hist_gate
    hist, batch = docs.filter(gate), docs.filter(~gate)
    idx_path = f"{root}/mh"

    if cold:
        _drop_caches()
    t0 = time.perf_counter()
    I.commit_index(I.build_minhash_bucket_index(hist), idx_path)
    build = time.perf_counter() - t0

    idx = I.read_index_resolved(spark, idx_path)
    if cold:
        _drop_caches()
    t0 = time.perf_counter()
    bl, remap = I.incremental_minhash_merge(batch, idx["bucket_reps"])
    n_batch, n_remap = bl.count(), remap.count()
    merge = time.perf_counter() - t0

    if cold:
        _drop_caches()
    t0 = time.perf_counter()
    _full_labels_count(
        batch.select("doc_id"), "doc_id",
        D.minhash_lsh_candidates(docs),
    )
    full = time.perf_counter() - t0
    out["modalities"]["minhash"] = {
        "index_build_sec": round(build, 2),
        "merge_sec": round(merge, 2),
        "full_recompute_sec": round(full, 2),
        "speedup": round(full / merge, 1),
        "batch_rows": n_batch,
        "remap_rows": n_remap,
    }
    print(f"[incr] minhash {out['modalities']['minhash']}", file=sys.stderr, flush=True)

    # --- SRP / embeddings ----------------------------------------------------
    emb = load_table(spark, sf_dir, "embeddings")
    vgate = hash_bucket(F.col("vec_id"), salt="incrsem") < hist_gate
    vh, vb = emb.filter(vgate), emb.filter(~vgate)
    srp_path = f"{root}/srp"
    kw = dict(threshold=0.4, n_planes=4, n_tables=12, dim=EMBEDDING_DIM)

    if cold:
        _drop_caches()
    t0 = time.perf_counter()
    I.commit_index(I.build_srp_vector_index(vh, **kw), srp_path)
    build = time.perf_counter() - t0

    vidx = I.read_index_resolved(spark, srp_path)
    if cold:
        _drop_caches()
    t0 = time.perf_counter()
    vbl, vremap = I.incremental_srp_merge(
        vb, vidx["buckets"], vidx["vectors"], vidx["labels"], **kw
    )
    n_batch, n_remap = vbl.count(), vremap.count()
    merge = time.perf_counter() - t0

    if cold:
        _drop_caches()
    t0 = time.perf_counter()
    _full_labels_count(
        vb.select("vec_id"), "vec_id", D.embedding_cosine_dups(emb, **kw)
    )
    full = time.perf_counter() - t0
    out["modalities"]["srp"] = {
        "index_build_sec": round(build, 2),
        "merge_sec": round(merge, 2),
        "full_recompute_sec": round(full, 2),
        "speedup": round(full / merge, 1),
        "batch_rows": n_batch,
        "remap_rows": n_remap,
    }
    print(f"[incr] srp {out['modalities']['srp']}", file=sys.stderr, flush=True)

    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
