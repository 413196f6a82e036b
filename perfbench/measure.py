"""The measured process: one fresh Python driver with one fresh JVM.

Started by ``run.py`` with the generated input directory; never run by
hand. Order of work:

1. set-up — import the package, ``get_spark``, spawn the Arrow/pandas
   worker pool, then one warm-up pass at the workload's own input size.
   The warm-up pass writes every step's full output into the run
   directory (corpus steps as parquet, FreshKart through its own sinks);
   ``run.py`` compares them with the DuckDB oracle once this process has
   ended (``check.py``), so the checker's memory is not this driver's.
2. timed passes until ``--seconds`` have gone by (at least ``MIN_PASSES``).
   Each step runs in its own ``cache_scope()``; ``clearCache()`` runs
   after each pass; each pass checks row counts only.

Writes one JSON object to ``--result``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import sqlite3
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402

# Timed passes per run at least, whatever ``--seconds`` says. Passes keep
# getting faster for several passes after the warm-up (JIT), so one pass
# is too noisy; more do not fit the benchmark's time budget of 4 + 22 runs
# per workload in 3,420 s (each run first pays ~17 s of JVM start, first
# job and worker spawn plus a cold pass; a corpus pass is ~12 s on a
# 4-core box, a FreshKart pass ~5-7 s).
MIN_PASSES = 2


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    p.add_argument("--input-dir", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--work-dir", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--trace-out", required=True)
    p.add_argument("--t0", type=float, required=True, help="wall clock at process spawn")
    p.add_argument("--corrupt-expected", default=None,
                   help="add 1 to this output's expected row count (self-test)")
    return p.parse_args()


class Steps:
    """The steps of one workload, as a client of the package's public
    entry points."""

    def __init__(self, spark, workload: str, input_dir: str, work_dir: str, manifest: dict,
                 tracer):
        self.spark = spark
        self.workload = workload
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.expected = manifest["expected"]
        self.tracer = tracer
        if workload == "corpus_dedup":
            from esther_apache_spark_spark.plans import QUERIES

            self.names = list(inputs.CORPUS_STEPS)
            self.fns = {n: QUERIES[n].fn for n in self.names}
        else:
            self.names = [inputs.FRESHKART_STEP]
        self.check_s = 0.0  # time spent counting output rows, not part of any metric
        self.written: dict[str, str] = {}  # step -> its warm-up output, for check.py

    def span(self, name, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def run(self, name: str, warmup: bool, tag: str) -> str | None:
        """Run one step. The warm-up writes the step's full output for
        ``check.py`` and returns None; a timed pass returns None if the
        output has the expected row count, else why not."""
        from esther_apache_spark_spark.operators.dedup import cache_scope

        out = os.path.join(self.work_dir, "check" if warmup else "out", name, tag)
        with self.span("step", step=name) as s, cache_scope():
            if self.workload == "corpus_dedup":
                with self.span("plans.build", fn=name):
                    df = self.fns[name](self.spark, self.input_dir)
                with self.span("spark.action", fn="write.parquet" if warmup else "count"):
                    if warmup:
                        df.write.parquet(out)
                    else:
                        got = {name: df.count()}
            else:
                from esther_apache_spark_spark.freshkart import (
                    run_freshkart_pipeline,
                    write_freshkart_outputs,
                )

                with self.span("plans.build", fn="run_freshkart_pipeline"):
                    dfs = run_freshkart_pipeline(self.spark, self.input_dir)
                with self.span("spark.action", fn="write_freshkart_outputs"):
                    write_freshkart_outputs(dfs, out, os.path.join(out, "freshkart.db"))
        if s is not None:
            s.attrs["stages"] = self.tracer.stage_stats()
        if warmup:
            self.written[name] = out
            return None
        t = time.perf_counter()
        try:
            if self.workload != "corpus_dedup":
                got = _freshkart_counts(out)
            for output, n in got.items():
                want = self.expected[output]["rows"]
                if n != want:
                    return f"{output}: {n} rows, expected {want}"
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)
            self.check_s += time.perf_counter() - t


def _freshkart_counts(out: str) -> dict:
    """Row counts of the written FreshKart outputs."""

    def csv_rows(d):
        return sum(max(0, sum(1 for _ in open(f)) - 1)
                   for f in glob.glob(f"{out}/{d}/**/part-*.csv", recursive=True))

    with sqlite3.connect(os.path.join(out, "freshkart.db")) as conn:
        counts = {f"sqlite_{t}": conn.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
                  for t in ("orders_clean", "daily_city_sales")}
    return {
        "daily_city_sales_csv": csv_rows("daily_city_sales_csv"),
        "rejects_csv": csv_rows("rejects_items_csv"),
        **counts,
    }


def _spawn_workers(spark) -> None:
    """Start the full Arrow/pandas worker pool (set-up, not data path)."""
    n = spark.sparkContext.defaultParallelism

    def ident(batches):
        yield from batches

    spark.range(0, n, 1, n).mapInPandas(ident, "id long").count()


def main() -> int:
    a = _args()
    with open(os.path.join(a.input_dir, "manifest.json")) as f:
        manifest = json.load(f)
    if a.corrupt_expected:
        manifest["expected"][a.corrupt_expected]["rows"] += 1
    setup = {}
    t = time.perf_counter()
    from esther_apache_spark_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(a.work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    setup["session.start_s"] = time.perf_counter() - t
    try:
        return _run(a, spark, manifest, setup)
    finally:
        spark.stop()


def _run(a, spark, manifest, setup) -> int:
    tracer = None
    if a.trace:
        from perfbench.tracing import Tracer

        tracer = Tracer(spark, f"{a.workload}-{os.getpid()}")
    t = time.perf_counter()
    _spawn_workers(spark)
    setup["session.worker_spawn_s"] = time.perf_counter() - t

    steps = Steps(spark, a.workload, a.input_dir, a.work_dir, manifest, tracer)
    attempted = failed = 0
    errors: list[str] = []

    def record(err):
        nonlocal attempted, failed
        attempted += 1
        if err:
            failed += 1
            if len(errors) < 5:
                errors.append(err)

    def step(name, warmup, tag):
        try:
            record(steps.run(name, warmup, tag))
        except Exception as exc:  # a failing step is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            first_line = (str(exc).splitlines() or [""])[0]
            record(f"{name}: {type(exc).__name__}: {first_line[:200]}")

    t = time.perf_counter()
    for name in steps.names:
        step(name, True, "warmup")
    spark.catalog.clearCache()
    setup["session.warmup_s"] = time.perf_counter() - t
    setup_s = time.time() - a.t0

    passes: list[tuple[bool, float, list[float]]] = []
    pass_metrics: list[dict] = []
    t_measure = time.perf_counter()
    # A traced run alternates traced and untraced passes, starting traced;
    # with three, the two traced passes bracket the untraced one in time.
    min_passes = MIN_PASSES + 1 if tracer else MIN_PASSES
    while len(passes) < min_passes or time.perf_counter() - t_measure < a.seconds:
        traced = tracer is not None and len(passes) % 2 == 0
        if tracer:
            tracer.enabled = traced
            if traced:
                tracer.mark()
        check0 = steps.check_s
        t = time.perf_counter()
        step_walls = []
        with (tracer.span("pass", n=len(passes)) if traced else contextlib.nullcontext()) as ps:
            for name in steps.names:
                t_step, c_step = time.perf_counter(), steps.check_s
                step(name, False, f"p{len(passes)}")
                step_walls.append(time.perf_counter() - t_step - (steps.check_s - c_step))
        wall = time.perf_counter() - t - (steps.check_s - check0)
        spark.catalog.clearCache()
        passes.append((traced, wall, step_walls))
        if traced:
            pass_metrics.append(tracer.pass_metrics(ps))
            tracer.enabled = False

    result = {"attempted": attempted, "failed": failed, "errors": errors,
              "written": steps.written,
              "passes": [{"traced": tr, "wall_s": w, "step_walls_s": sw}
                         for tr, w, sw in passes]}
    if tracer is None:
        pass_s = statistics.median(w for _, w, _ in passes)
        rows = sum(manifest["input_rows"].values())
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (rows / pass_s, "rows/s"),
            # VmHWM, not ru_maxrss: Linux carries ru_maxrss across exec, so
            # it would report the spawning process's peak
            "driver_peak_rss_mb": (_vm_hwm_mb(os.getpid()), "MB"),
        }
    else:
        traced = [w for tr, w, _ in passes if tr]
        untraced = [w for tr, w, _ in passes if not tr]
        per_layer = {k: statistics.median(m[k] for m in pass_metrics) for k in pass_metrics[0]}
        per_layer.update(setup)
        per_layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        # The JVM's peak RSS moves by a third between runs of one commit
        # (heap growth follows GC timing), so it is a layer figure here,
        # not an end-to-end metric with a bound.
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        per_layer["spark.jvm_peak_rss_mb"] = _vm_hwm_mb(jvm_pid)
        result["metrics"] = {k: (v, _unit(k)) for k, v in per_layer.items()}
        result["components_calls_per_pass"] = [
            m["operators.components.calls"] for m in pass_metrics]
        tracer.dump(a.trace_out)
    with open(a.result, "w") as f:
        json.dump(result, f)
    return 0


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_rows"):
        return "rows"
    return "count"


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


if __name__ == "__main__":
    sys.exit(main())
