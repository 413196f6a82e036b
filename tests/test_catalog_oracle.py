"""The correctness gate, run locally: every catalog query with an oracle
is executed on Spark AND DuckDB at sf0.001 and compared the way the
driver does — row count, column names, and order-insensitive values.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from conftest import driver_panel_queries

from esther_apache_spark_spark import plans

ORACLE_QUERIES = sorted(n for n, s in plans.QUERIES.items() if s.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, s in plans.QUERIES.items() if not s.oracle)

# Tiering (VERDICT r10 #2): the fast default tier keeps (a) the driver's
# own 50-query panel — the exact set the round driver hash-verifies —
# and (b) the two frozen bench sets (HEADLINE + PIPELINE), so every
# graded query stays oracle-checked by default; the rest of the
# 360-query sweep carries the slow mark (full tier: --full-tests /
# SPARK_GRAFT_FULL_TESTS=1, the round-close gate).
import sys as _sys
from pathlib import Path as _Path

_sys.path.insert(0, str(_Path(__file__).resolve().parents[1]))
import bench as _bench

# one oracle representative per family the panel/bench sets miss
_FAMILY_REPS = {
    "incremental_minhash_dedup_new_docs",
    "streaming_minhash_novelty_docs",
    "streaming_srp_novelty_docs",
}
_PANEL = (
    driver_panel_queries()
    | set(_bench.HEADLINE)
    | set(_bench.PIPELINE)
    | _FAMILY_REPS
)


def _tiered(names):
    return [
        n if n in _PANEL else pytest.param(n, marks=pytest.mark.slow)
        for n in names
    ]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            # exactness already enforced by rounding inside the queries;
            # normalize -0.0 and NaN representation only
            df[c] = df[c].apply(
                lambda x: 0.0 if x == 0 else (math.nan if pd.isna(x) else x)
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", _tiered(ORACLE_QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = plans.QUERIES[name]
    got = _canon(spec.fn(spark, sf_dir).toPandas())
    want = _canon(duck.execute(spec.oracle).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


@pytest.mark.slow
def test_incremental_entries_on_two_threads_in_one_session(
    spark, duck, sf_dir, monkeypatch
):
    """Two incremental entries run at once on one session, each thread
    inside its own ``cache_scope``. Each call commits its index into a
    store of its own, so neither call's replace-commit races the
    other's (a shared store path would raise ConcurrentReplaceError),
    and both results stay oracle-exact. Each scope removes only its own
    thread's stores: the first thread's are gone once its scope exits,
    while the second's stay on disk until the second scope exits."""
    import os
    import threading

    from esther_apache_spark_spark import scope
    from esther_apache_spark_spark.plans import incremental_plans

    # the race itself is timing-dependent; the per-call store is not
    assert scope.scratch_dir("mh") != scope.scratch_dir("mh")
    made: dict[str, list[str]] = {}
    real_scratch_dir = incremental_plans.scratch_dir

    def recording_scratch_dir(kind: str) -> str:
        path = real_scratch_dir(kind)
        made.setdefault(threading.current_thread().name, []).append(path)
        return path

    monkeypatch.setattr(incremental_plans, "scratch_dir", recording_scratch_dir)
    first, second = names = [
        "incremental_minhash_dedup_new_docs",
        "incremental_dedup_after_retire",
    ]
    got: dict = {}
    errors: list = []
    computed = threading.Barrier(len(names) + 1, timeout=900)
    release = {n: threading.Event() for n in names}

    def run(name: str) -> None:
        try:
            with scope.cache_scope():
                got[name] = _canon(plans.QUERIES[name].fn(spark, sf_dir).toPandas())
                computed.wait()
                release[name].wait(timeout=900)
        except Exception as e:  # noqa: BLE001
            errors.append(f"{name}: {e!r}")
            computed.abort()

    threads = {n: threading.Thread(target=run, args=(n,), name=n) for n in names}
    for t in threads.values():
        t.start()
    try:
        computed.wait()
        assert made[first] and made[second]
        assert all(os.path.isdir(p) for p in made[first] + made[second])
        release[first].set()
        threads[first].join(timeout=900)
        assert not any(os.path.exists(p) for p in made[first])
        assert all(os.path.isdir(p) for p in made[second])
        release[second].set()
        threads[second].join(timeout=900)
        assert not any(os.path.exists(p) for p in made[second])
    except threading.BrokenBarrierError:
        pass  # a thread failed; ``errors`` says why
    finally:
        for e in release.values():
            e.set()
        for t in threads.values():
            t.join(timeout=900)
    assert not any(t.is_alive() for t in threads.values())
    assert not errors, errors
    for name in names:
        want = _canon(duck.execute(plans.QUERIES[name].oracle).df())
        pd.testing.assert_frame_equal(
            got[name], want, check_dtype=False, check_exact=True
        )


@pytest.mark.parametrize("name", _tiered(ROWS_ONLY_QUERIES))
def test_rows_only_queries_run(name, spark, sf_dir):
    spec = plans.QUERIES[name]
    df = spec.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


@pytest.mark.parametrize("name", _tiered(ROWS_ONLY_QUERIES))
def test_rows_only_queries_deterministic_across_partitioning(name, spark, sf_dir):
    """Rows-only queries have no oracle cross-check, so pin the next
    best thing: the result must be bit-identical when the shuffle
    partitioning changes (catches partition-order- and tie-sensitive
    emissions). The full catalog passes the same audit run-to-run; this
    keeps the unoracled subset pinned in CI."""
    spec = plans.QUERIES[name]
    base = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        a = _canon(spec.fn(spark, sf_dir).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        b = _canon(spec.fn(spark, sf_dir).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
