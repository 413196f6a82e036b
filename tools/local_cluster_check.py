#!/usr/bin/env python
"""local-cluster verification tier (VERDICT r8 #2).

Everything else in this repo runs ``local[k]``, where executors share
the driver JVM — Java/Arrow serialization bugs, closure-capture bugs,
and accidental driver-state coupling (e.g. a Python callback touching
driver-only files) are INVISIBLE there. This script re-runs the frozen
bench sets under ``master=local-cluster[2,8,4096]`` — two real separate
executor JVM processes with their own python workers, no new hardware —
with reliable disk checkpoints on, and checks each query's ROW COUNT
against the DuckDB oracle (value hashing is the driver/pytest tier's
job; this tier exists to catch distribution bugs, which show up as
crashes, serialization errors, or lost rows).

Usage:
    python tools/local_cluster_check.py [sf_dir]      # default sf0.01
    python tools/local_cluster_check.py --kill-executor [sf_dir]  # sf0.1
    python tools/local_cluster_check.py --snapshot-drill [sf_dir] # sf0.01
Prints one JSON line: {"ok": bool, "ran": n, "failures": {...}, ...}.
Exit code 0 iff every query ran and row counts matched.

``--kill-executor`` (VERDICT r9 #5) is the executor-LOSS drill the
plain tier cannot provide: it runs ``semantic_dedup_survivors`` (the
checkpointed-CC heavyweight) once undisturbed for a baseline, then
again while SIGKILLing one executor JVM mid-flight (as the first
distributed CC round checkpoints, which the drill forces by setting
``components.DRIVER_MAX_EDGES = 0``), and asserts the second run
COMPLETES with row-identical results. Recovery is Spark
standalone's own machinery — the worker relaunches the executor, lost
tasks re-run, lost shuffle blocks recompute from lineage, and the CC
rounds' reliable disk checkpoints (shared storage) survive the loss —
which is exactly the claim ("loss-survivable by construction",
operators/components.py) this drill turns from argument into evidence.

Scale notes: local-cluster is Spark's own test harness for exactly this
gap (real BlockManager transfers, real executor-side class loading,
real task-result serialization over the wire). What it still cannot
exercise: multi-NODE shuffle IO.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _executor_pids() -> list[int]:
    """PIDs of the separate executor JVMs local-cluster spawned (the
    driver JVM is not one — executors run CoarseGrainedExecutorBackend
    as their main class)."""
    import subprocess

    out = subprocess.run(
        ["ps", "-eo", "pid,args"], capture_output=True, text=True
    ).stdout
    pids = []
    for line in out.splitlines():
        if "CoarseGrainedExecutorBackend" in line and "ps -eo" not in line:
            pids.append(int(line.strip().split()[0]))
    return pids


def _kill_executor_drill(sf_dir: str) -> None:
    import signal
    import threading

    os.environ.setdefault(
        "SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/spark_graft_ckpt_lc"
    )
    from esther_apache_spark_spark import plans
    from esther_apache_spark_spark.operators import components
    from esther_apache_spark_spark.session import get_spark

    # The drill exists to lose an executor inside the distributed CC
    # rounds; the survivor graph (826 edges at sf0.1) would otherwise be
    # labelled in driver memory.
    components.DRIVER_MAX_EDGES = 0
    master = "local-cluster[2,8,4096]"
    spark = get_spark(
        "local-cluster-kill-drill",
        master=master,
        shuffle_partitions=16,
        extra_conf={"spark.executor.memory": "3g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spec = plans.QUERIES["semantic_dedup_survivors"]

    # The kill waits for the first round checkpoint of the disturbed
    # run: a fixed delay measured on the cold baseline landed after the
    # warm run had already finished.
    frame_cls = type(spark.range(0))
    in_rounds = threading.Event()
    checkpoint = frame_cls.checkpoint

    def _checkpoint(self, *args, **kwargs):
        in_rounds.set()
        return checkpoint(self, *args, **kwargs)

    frame_cls.checkpoint = _checkpoint

    def run_once() -> tuple[set, float]:
        t0 = time.perf_counter()
        rows = spec.fn(spark, sf_dir).collect()
        return {tuple(r) for r in rows}, time.perf_counter() - t0

    print("[kill-drill] baseline run", file=sys.stderr, flush=True)
    baseline, t_base = run_once()
    print(
        f"[kill-drill] baseline rows={len(baseline)} in {t_base:.1f}s",
        file=sys.stderr, flush=True,
    )

    result: dict = {}

    def _target() -> None:
        try:
            result["rows"], result["sec"] = run_once()
        except Exception as exc:  # noqa: BLE001 — the drill's verdict
            result["err"] = str(exc).splitlines()[0][:300]

    in_rounds.clear()
    th = threading.Thread(target=_target)
    t0 = time.perf_counter()
    th.start()
    while not in_rounds.wait(0.1) and th.is_alive():
        pass
    time.sleep(0.2)  # let the checkpoint job start its tasks
    kill_at = time.perf_counter() - t0
    in_flight = in_rounds.is_set() and th.is_alive()
    pids = _executor_pids()
    killed = None
    if pids:
        killed = pids[0]
        os.kill(killed, signal.SIGKILL)
        print(f"[kill-drill] SIGKILLed executor pid={killed}", file=sys.stderr, flush=True)
    th.join()
    spark.stop()
    ok = (
        killed is not None
        and in_flight
        and "err" not in result
        and result.get("rows") == baseline
    )
    out = {
        "ok": ok,
        "mode": "kill-executor",
        "master": master,
        "sf_dir": sf_dir,
        "query": "semantic_dedup_survivors",
        "baseline_rows": len(baseline),
        "baseline_sec": round(t_base, 3),
        "killed_pid": killed,
        "kill_at_sec": round(kill_at, 3),
        "killed_in_flight": in_flight,
        "recovered_rows": len(result.get("rows", ())),
        "recovered_sec": round(result.get("sec", 0.0), 3),
        "rows_identical": result.get("rows") == baseline,
        "error": result.get("err"),
    }
    print(json.dumps(out, separators=(",", ":")), flush=True)
    sys.exit(0 if ok else 1)


def _snapshot_drill(sf_dir: str) -> None:
    """The snapshot-store race drill (tools/index_snapshot_check.py)
    under REAL separate executor JVMs: data files are written by
    executor processes while the atomic manifest publication happens
    driver-side — this proves the commit protocol isn't accidentally
    relying on local[k]'s shared JVM (e.g. a file visible to the
    driver before executors finished writing it)."""
    import shutil
    import tempfile

    from esther_apache_spark_spark.session import get_spark

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import index_snapshot_check as isc

    spark = get_spark(
        "local-cluster-snapshot-drill",
        master="local-cluster[2,8,4096]",
        shuffle_partitions=16,
        extra_conf={"spark.executor.memory": "3g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    history, days, retired = isc.build_inputs(spark, sf_dir, folds=4)
    root = tempfile.mkdtemp(prefix="lcsnap_")
    try:
        out = isc.snapshot_arm(
            spark, f"{root}/snap", history, days, retired, readers=2
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    out = {
        "mode": "snapshot-drill",
        "master": "local-cluster[2,8,4096]",
        "sf_dir": sf_dir,
        **out,
    }
    print(json.dumps(out, separators=(",", ":")), flush=True)
    sys.exit(0 if out["ok"] else 1)


def main() -> None:
    if "--kill-executor" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--kill-executor"]
        _kill_executor_drill(args[0] if args else "/root/testdata/sf0.1")
        return
    if "--snapshot-drill" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--snapshot-drill"]
        _snapshot_drill(args[0] if args else "/root/testdata/sf0.01")
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ.setdefault("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/spark_graft_ckpt_lc")

    import duckdb

    import bench
    from esther_apache_spark_spark import plans
    from esther_apache_spark_spark.session import get_spark

    spark = get_spark(
        "local-cluster-check",
        master="local-cluster[2,8,4096]",
        shuffle_partitions=16,
        extra_conf={"spark.executor.memory": "3g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    # beyond the frozen bench sets: the r9 incremental-index family —
    # applyInPandas cross-GEMM, parquet index probe, CC and a streaming
    # foreachBatch sink all crossing real executor-process boundaries
    extras = [
        "incremental_minhash_dedup_new_docs",
        "incremental_semantic_dedup_new_docs",
        "streaming_minhash_novelty_docs",
        "streaming_srp_novelty_docs",
    ]
    names = bench.HEADLINE + bench.PIPELINE + extras
    failures: dict[str, str] = {}
    timings: dict[str, float] = {}
    for name in names:
        spec = plans.QUERIES[name]
        t0 = time.perf_counter()
        try:
            got = spec.fn(spark, sf_dir).count()
        except Exception as exc:  # noqa: BLE001 — record every query
            failures[name] = f"spark-err {str(exc).splitlines()[0][:200]}"
            print(f"[lc] {name} FAILED: {failures[name]}", file=sys.stderr, flush=True)
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
        if spec.oracle:
            want = con.execute(
                f"SELECT COUNT(*) FROM ({spec.oracle})"
            ).fetchone()[0]
            if got != want:
                failures[name] = f"rows {got} vs oracle {want}"
                print(f"[lc] {name} ROW MISMATCH: {failures[name]}", file=sys.stderr, flush=True)
                continue
        print(f"[lc] {name} ok rows={got} ({timings[name]}s)", file=sys.stderr, flush=True)

    spark.stop()
    out = {
        "ok": not failures,
        "master": "local-cluster[2,8,4096]",
        "sf_dir": sf_dir,
        "ran": len(names),
        "failed": len(failures),
        "failures": failures,
        "total_sec": round(sum(timings.values()), 3),
    }
    print(json.dumps(out, separators=(",", ":")), flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
