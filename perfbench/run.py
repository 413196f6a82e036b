#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload freshkart_etl --seed 1 --seconds 15 --trace 0

Generates (or reuses) the seeded inputs, then starts ``measure.py`` as a
fresh process with a fresh JVM and every scratch path (Spark local dirs,
warehouse, temp files, sink outputs) under a per-run directory inside
``perfbench/.work``, which is removed at exit. Once it has ended, checks
the outputs its warm-up pass wrote against the DuckDB oracle. Prints, as its last stdout
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170  # the whole run, generation included


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--size", default="full", choices=("full", "tiny"),
                   help="input size class; tiny is for the benchmark's own tests")
    p.add_argument("--corrupt-expected", default=None, metavar="OUTPUT",
                   help="self-test: expect one row too many for OUTPUT")
    return p.parse_args()


def _task_slots() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group (the JVM and
    its Python workers) and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    t_start = time.monotonic()
    a = _args()
    if not os.path.isdir(os.path.join(ROOT, "esther_apache_spark_spark")):
        print("perfbench: the esther_apache_spark_spark package is not beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs

    if a.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {inputs.WORKLOADS}",
              file=sys.stderr)
        return 2
    input_dir, manifest = inputs.prepare(
        a.workload, a.seed, a.size, os.path.join(WORK, "inputs"))

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_MASTER", "PYSPARK_DRIVER_PYTHON"):
        env.pop(k, None)
    env.update({
        "SPARK_GRAFT_CPUS": str(_task_slots()),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "measure.py"),
        "--workload", a.workload, "--input-dir", input_dir,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work-dir", run_dir, "--result", result_path,
        "--trace-out", os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json"),
    ]
    if a.corrupt_expected:
        cmd += ["--corrupt-expected", a.corrupt_expected]
    try:
        cmd += ["--t0", repr(time.time())]
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            print("perfbench: the measured process ran out of time", file=sys.stderr)
            code = -1
        finally:
            _stop_group(proc)
        if code != 0 or not os.path.exists(result_path):
            print(f"perfbench: the measured process failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
        from perfbench import check

        expected = manifest["expected"]
        if a.corrupt_expected:
            expected[a.corrupt_expected]["rows"] += 1
        wrong = check.verify(a.workload, res["written"], expected)
        res["failed"] += len(wrong)
        res["errors"] = wrong + res["errors"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for e in res["errors"]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    for p in res["passes"]:
        print(f"perfbench: pass {p['wall_s']:.3f} s{' traced' if p['traced'] else ''}, steps "
              + " ".join(f"{w:.2f}" for w in p["step_walls_s"]), file=sys.stderr)
    if "components_calls_per_pass" in res:
        print("perfbench: connected_components calls per traced pass "
              f"{res['components_calls_per_pass']}", file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
