"""Differential fuzz for the index LIFECYCLE: seeded random schedules
of fold / retire / compact / vacuum on a snapshot-store MinHash index,
with the resolved view checked against a fresh
``build_minhash_bucket_index`` over the live corpus after EVERY step.

The hand-pinned shapes (tests/test_index_lifecycle.py,
test_index_snapshots.py) cover the known-hard cases — min re-election,
bridge splits, remap chains, log truncation. This harness generates the
interleavings nobody thought to pin: retire immediately after a fold
whose remap is still only in the log, compact-then-fold-then-retire,
vacuum between folds, retiring docs that arrived in different folds of
the same clone family. A failure message carries the seed and the op
trace, so any divergence is a one-line repro.

Each seed expands deterministically into ~8 ops over a universe of
docs drawn from a handful of clone families (so folds routinely merge
existing components and retirement routinely splits them).
"""

from __future__ import annotations

import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from esther_apache_spark_spark.operators import incremental as I
from esther_apache_spark_spark.sources import index_store as S

# fuzz tier (VERDICT r10 #2): excluded from the default fast tier;
# run with --full-tests / SPARK_GRAFT_FULL_TESTS=1 (the round-close gate)
pytestmark = pytest.mark.fuzz

FAMILIES = [
    "the quick brown fox jumps over the lazy dog again and again",
    "completely different text about spark catalyst optimizer internals",
    "yet another unrelated document mentioning parquet row groups only",
    "streaming watermarks hold back window finalization for late data",
]

SEEDS = range(6)
OPS_PER_SEED = 8


def _text_for(rng: random.Random, doc_id: int) -> str:
    # ~70% of docs land in a clone family; the rest are unique
    if rng.random() < 0.7:
        return rng.choice(FAMILIES)
    return f"unique document body number {doc_id} with its own words"


def _kv(df, *cols):
    return {tuple(int(r[c]) for c in cols) for r in df.collect()}


def _assert_resolved_equals_fresh(spark, path, live, trace):
    got = I.read_index_resolved(spark, path)
    corpus = spark.createDataFrame(
        sorted(live.items()), "doc_id long, text string"
    )
    fresh = I.build_minhash_bucket_index(corpus)
    ctx = f"trace={trace}"
    assert _kv(got["labels"], "node", "comp") == _kv(
        fresh["labels"], "node", "comp"
    ), f"labels diverged; {ctx}"
    assert _kv(got["bucket_reps"], "_band", "_bucket", "_rep") == _kv(
        fresh["bucket_reps"], "_band", "_bucket", "_rep"
    ), f"bucket_reps diverged; {ctx}"
    assert _kv(got["doc_bands"], "_id", "_band", "_bucket") == _kv(
        fresh["doc_bands"], "_id", "_band", "_bucket"
    ), f"doc_bands diverged; {ctx}"


@pytest.mark.parametrize("seed", SEEDS)
def test_random_lifecycle_schedule_matches_fresh_build(spark, seed):
    rng = random.Random(seed)
    next_id = 1

    def take_ids(n):
        nonlocal next_id
        ids = list(range(next_id, next_id + n))
        next_id += n
        return ids

    root = tempfile.mkdtemp(prefix=f"lifefuzz{seed}_")
    path = f"{root}/mh"
    trace: list[str] = []
    try:
        live = {
            i: _text_for(rng, i) for i in take_ids(rng.randint(4, 10))
        }
        corpus = spark.createDataFrame(
            sorted(live.items()), "doc_id long, text string"
        )
        I.commit_index(
            I.build_minhash_bucket_index(corpus), path
        )
        trace.append(f"build({sorted(live)})")

        for _ in range(OPS_PER_SEED):
            op = rng.choices(
                ["fold", "retire", "compact", "vacuum"],
                weights=[5, 3, 2, 2],
            )[0]
            if op == "fold":
                batch_ids = take_ids(rng.randint(1, 5))
                batch_rows = {i: _text_for(rng, i) for i in batch_ids}
                batch = spark.createDataFrame(
                    sorted(batch_rows.items()), "doc_id long, text string"
                )
                m = S.read_manifest(path)
                resolved = I.read_index_resolved(
                    spark, path, m["version"]
                )
                bl, rm = I.incremental_minhash_merge(
                    batch, resolved["bucket_reps"]
                )
                I.commit_fold(
                    path, batch, bl, rm,
                    expected_epoch=m.get("epoch", 0),
                )
                live.update(batch_rows)
                trace.append(f"fold({batch_ids})")
            elif op == "retire":
                if not live:
                    continue
                k = min(len(live), rng.randint(1, 4))
                ids = rng.sample(sorted(live), k)
                I.retire_index(
                    spark,
                    path,
                    spark.createDataFrame(
                        [(int(i),) for i in ids], "doc_id long"
                    ),
                )
                for i in ids:
                    del live[i]
                trace.append(f"retire({sorted(ids)})")
            elif op == "compact":
                I.compact_index(spark, path)
                trace.append("compact")
            else:
                # grace 0: ops are single-threaded here, no writer in
                # flight
                stats = S.vacuum_snapshots(path, keep_last=2, grace_seconds=0)
                trace.append(f"vacuum({stats['files_deleted']}f)")
            _assert_resolved_equals_fresh(spark, path, live, trace)
    finally:
        shutil.rmtree(root, ignore_errors=True)
