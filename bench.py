#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query runs a warmup pass at sf0.001 (amortizes session and codegen
startup out of the numbers), then $SPARK_GRAFT_BENCH_RUNS (default 3)
timed passes of the full plan (count() forces execution without
collecting results to the driver); the reported figure is the per-query
MEDIAN — single-run numbers jitter 10-40% under machine load, which is
indistinguishable from a real plan regression.

Load calibration (BASELINE.md "calibration protocol"): the same plans
measured 7.56-13.7 s across rounds purely from ambient machine load — a
1.8× same-code spread that swamps real regressions. Each warm bench run
therefore times a fixed probe (``global_agg``, NOT in the headline set,
unchanged since r1) before and after the headline loop and reports
``calibration.load_factor`` = probe median / CALIBRATION_REF (the
recorded idle-condition probe median) plus ``value_load_normalized`` =
total / load_factor. Cross-round comparisons should use the normalized
total; the raw total remains the primary ``value`` for continuity.

``--sf1-cold`` runs the scale-checkpoint protocol instead (BASELINE.md):
sf1 data is generated if absent (tools/make_scale_data.py, 10× sf0.1
with planted 10-clone dup clusters), codegen is warmed at sf0.001, then
each query runs ONCE with the OS page cache dropped first (sync +
/proc/sys/vm/drop_caches, privilege permitting — the JSON records
whether the drop succeeded as "cold"). sf1 wall-clock on a single box
is page-cache-dominated (BASELINE.md r2: 43.3 s cold vs 17.1 s warm for
one query), so only cold first-touch rows are comparable across rounds.
``--sf10-cold`` is the same protocol at 100× sf0.1 (~60M lineitem).

Both modes also run the second frozen set ``PIPELINE`` — the LLM-
pipeline tier (dedup survivors, packing, leakage split, BPE) whose cost
the 19-query headline never covered — reported as ``pipeline_total`` /
``pipeline_queries`` (+ ``pipeline_first_runs`` warm); the primary
``value`` stays headline-only for cross-round continuity. Pass
``--no-pipeline`` to skip the set.

Emission: progress goes to stderr only; stdout carries exactly one
compact JSON line, printed last (after session shutdown), and the same
line is written to ``bench_result.json`` beside this file so the
numbers survive any stdout-tail clipping in the caller.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Idle-condition median of the calibration probe (global_agg at sf0.1,
# median of 5), recorded 2026-08-14 on the canonical box at load-avg < 1.
# The probe query is frozen (r1-era aggregate, not in HEADLINE); re-pin
# this constant only if the probe's PLAN changes, never for load.
CALIBRATION_REF = 0.125
CALIBRATION_QUERY = "global_agg"


def calibration_probe(spark, probe_dir: str, runs: int = 5,
                      first_touch: bool = True) -> float:
    """Median of ``runs`` calibration-probe executions at ``probe_dir``
    — THE load-factor protocol CALIBRATION_REF is pinned against.
    A tool that needs a load factor imports this rather than re-rolling
    the loop, so a future re-pin of the protocol (run count, warmup
    discipline) cannot silently desynchronize it from bench's."""
    import statistics as _statistics
    import time as _time

    from esther_apache_spark_spark import plans as _plans

    spec = _plans.QUERIES[CALIBRATION_QUERY]
    if first_touch:
        spec.fn(spark, probe_dir).count()
    samples = []
    for _ in range(runs):
        t0 = _time.perf_counter()
        spec.fn(spark, probe_dir).count()
        samples.append(_time.perf_counter() - t0)
    return _statistics.median(samples)

HEADLINE = [
    "flagship_daily_segment_sales",
    "multikey_agg",
    "preagg_left_join",
    "topk_customers_by_revenue",
    "dedup_keep_first",
    "word_count",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "similarity_topk_bruteforce",
    "text_stats",
    "asof_join_purchases",
    "tumbling_window_agg",
    "sliding_window_agg",
    "session_window_agg",
    "semi_join_orders_with_returns",
    "anti_join_customers_no_orders",
    "freshkart_daily_city_sales",
]

# Second frozen set (r7, VERDICT r06 #8): the LLM-pipeline tier — the
# most expensive operators in the engine (CC-iteration survivors,
# sequence packing, leakage-safe splitting, BPE merge rounds, substring
# spans). Frozen like HEADLINE: names never change meaning across
# rounds; the set reports its own subtotal so the headline `value`
# stays comparable to every prior BENCH_r{N}.json.
PIPELINE = [
    "semantic_dedup_survivors",
    "lexical_dedup_survivors",
    "leakage_safe_split",
    "pack_training_sequences",
    "pack_documents_into_shards",
    "bpe_learn_merges",
    "dedup_substring_spans",
    "training_corpus_pipeline_packed",
]


# Keys allowed on the stdout line, in emission order. The per-query
# HEADLINE map stays (the driver brief's contract names it) — it is the
# pipeline_* / first_runs / probe_stats breakdowns that blew the window
# in r7 and r9; those live only in bench_result.json.
_SLIM_FIELDS = (
    "metric",
    "value",
    "unit",
    "sf",
    "queries",
    "pipeline_total",
    "first_run_total",
    "cold",
    "calibration",
    "value_load_normalized",
)
# Driver stdout tail window is ~2000 bytes (measured r7/r9); leave slack.
SLIM_BUDGET_BYTES = 1500


def build_slim_result(out: dict) -> dict:
    """Project the full bench result onto the slim stdout contract.

    VERDICT r9 #1: the final stdout JSON line must stay parseable inside
    the driver's ~2000-byte tail window. Pinned <= SLIM_BUDGET_BYTES by
    tests/test_bench_emission.py; if a future field pushes past budget
    anyway, the per-query map is dropped first — metric/value/
    calibration must always survive.
    """
    slim = {k: out[k] for k in _SLIM_FIELDS if k in out}
    if out.get("errors"):
        slim["error_count"] = len(out["errors"])
    if len(json.dumps(slim, separators=(",", ":"))) > SLIM_BUDGET_BYTES:
        slim.pop("queries", None)
    return slim


def _drop_caches() -> bool:
    """Best-effort OS page-cache drop; False when unprivileged."""
    try:
        os.sync()
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("1\n")
        return True
    except OSError:
        return False


def _ensure_scale(out_dir: str, k: int) -> None:
    if os.path.isdir(out_dir) and os.listdir(out_dir):
        return
    import subprocess

    tool = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools", "make_scale_data.py")
    subprocess.run(
        [sys.executable, tool, str(k), "/root/testdata/sf0.1", out_dir],
        check=True,
    )


def main() -> None:
    cold_sf1 = "--sf1-cold" in sys.argv
    cold_sf10 = "--sf10-cold" in sys.argv
    if cold_sf10:
        sf_dir = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/scale/sf10")
        _ensure_scale(sf_dir, 100)
        sf: object = 10.0
        cold_sf1 = True  # same cold protocol, bigger data
        # Reliable disk checkpoints for the survivor family's connected
        # components (r8): localCheckpoint blocks live on the driver
        # heap in local mode and OOMed 8g/48g at sf10 (r7); with a
        # checkpoint dir the default 8g heap suffices and the protocol
        # no longer needs SPARK_DRIVER_MEMORY=48g.
        os.environ.setdefault(
            "SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/spark_graft_ckpt"
        )
    elif cold_sf1:
        sf_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/scale/sf1")
        _ensure_scale(sf_dir, 10)
        sf = 1.0
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        s = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        sf = float(s) if s.replace(".", "").isdigit() else s

    from esther_apache_spark_spark import plans
    from esther_apache_spark_spark.session import get_spark

    spark = get_spark("esther-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Spawn the FULL Arrow/pandas worker pool before any timing: python
    # worker daemons persist per JVM and are reused, but the sf0.001
    # warm-up passes only materialize a handful of partitions, so the
    # first pandas-backed query at the bench SF used to pay the
    # remaining spawns inside its measurement (~25 s at 32 partitions,
    # measured r6 — it landed entirely on dedup_embedding_cosine, the
    # first Arrow query in the headline order, and dominated the cold
    # sf1 readings). Worker spawn is session startup, not data-path
    # cost — same amortization class as the codegen warm-up.
    _n_workers = spark.sparkContext.defaultParallelism

    def _ident_batches(it):
        yield from it

    spark.range(0, _n_workers, 1, _n_workers).mapInPandas(
        _ident_batches, "id long"
    ).count()

    warm_dir = "/root/testdata/sf0.001"
    runs = 1 if cold_sf1 else int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    first_runs: dict[str, float] = {}
    dropped = True

    def _probe(probe_dir: str | None = None) -> float:
        """Median of 5 calibration-probe runs (cheap: ~0.1 s each).
        Cold protocols pass the WARM sf0.1 dir: the probe measures
        ambient machine load (the thing CALIBRATION_REF is pinned
        against), never the cold protocol's own data scale."""
        probe_dir = probe_dir or sf_dir
        plans.QUERIES[CALIBRATION_QUERY].fn(spark, warm_dir).count()  # codegen warmup
        return calibration_probe(spark, probe_dir)

    include_pipeline = "--no-pipeline" not in sys.argv
    # VERDICT r8 #4: cold rows must cite their own load factor — probe
    # warm sf0.1 before/after the cold loop so 81-vs-184 s swings are
    # attributable without cross-referencing same-hour warm runs.
    # ADVICE r9: the calibration dir follows SPARK_GRAFT_CAL_DIR (default
    # the canonical sf0.1 path) so cold modes work on hosts without
    # /root/testdata; fail loudly before any timing if it's absent.
    _CAL_DIR = os.environ.get("SPARK_GRAFT_CAL_DIR", "/root/testdata/sf0.1")
    if cold_sf1 and not os.path.isdir(_CAL_DIR):
        sys.exit(
            f"[bench] calibration dir {_CAL_DIR!r} is absent — set "
            "SPARK_GRAFT_CAL_DIR to a warm sf0.1-scale parquet dir "
            "(the cold protocols probe it to report load_factor)"
        )
    probe_before = _probe(_CAL_DIR) if cold_sf1 else _probe()
    pipeline_timings: dict[str, float] = {}
    pipeline_first: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Per-query dup-mass-probe accounting (VERDICT r8 #3): snapshot the
    # adaptive operators' probe counters around each query so the JSON
    # shows where probe time lands (first_runs: one miss per adaptive
    # source; warm medians: memo hits only, 0 ms).
    from esther_apache_spark_spark.operators.dedup import (
        AUTO_PROBE_STATS,
        cache_scope,
    )

    probe_stats: dict[str, dict] = {}
    for name in HEADLINE + (PIPELINE if include_pipeline else []):
        print(f"[bench] {name}", file=sys.stderr, flush=True)
        spec = plans.QUERIES[name]
        # r10 harness hygiene: scope each query's plan-barrier caches to
        # its own warmup+runs block. Within-query behavior is unchanged
        # (the 3 timed runs still share the signature caches, as every
        # prior round measured); what changes is that 27 queries' worth
        # of MEMORY_AND_DISK blocks no longer accumulate on the 8 GB
        # local heap for the rest of the bench — late-bench queries were
        # competing with dead caches for execution memory.
        _scope = cache_scope()
        _scope.__enter__()
        try:
            spec.fn(spark, warm_dir).count()  # warmup: codegen + classloading
            # ADVICE r9: snapshot the probe counters AFTER the warmup
            # pass so probe_ms attributes only probes paid at the bench
            # SF, not the warmup-dir probe at sf0.001.
            _ps0 = dict(AUTO_PROBE_STATS)
            if cold_sf1:
                # data pages cold per query; codegen stays JIT-warm in the JVM
                dropped = _drop_caches() and dropped
            samples = []
            # PIPELINE queries are single-pass even warm: their cost is
            # checkpoint/CC materialization, which a warm median would hide
            # (and 3 passes of the survivors family would dwarf the whole
            # headline loop's budget)
            for _ in range(1 if name in PIPELINE else runs):
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).count()
                samples.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001 — record, keep benching
            errors[name] = str(exc).split("\n")[0][:200]
            print(f"[bench] {name} FAILED: {errors[name]}", file=sys.stderr, flush=True)
            continue
        finally:
            _scope.__exit__(None, None, None)
        _d_miss = AUTO_PROBE_STATS["misses"] - _ps0["misses"]
        _d_hit = AUTO_PROBE_STATS["hits"] - _ps0["hits"]
        if _d_miss or _d_hit:
            probe_stats[name] = {
                "probe_ms": round(
                    (AUTO_PROBE_STATS["probe_sec"] - _ps0["probe_sec"]) * 1000, 1
                ),
                "memo_misses": _d_miss,
                "memo_hits": _d_hit,
            }
        into_t = pipeline_timings if name in PIPELINE else timings
        into_f = pipeline_first if name in PIPELINE else first_runs
        into_t[name] = round(statistics.median(samples), 3)
        print(f"[bench] {name} = {into_t[name]}s", file=sys.stderr, flush=True)
        # The first timed run evaluates with FRESH operator caches (the
        # in-scope signature/stats caches the later runs reuse), so it
        # prices cache-fronted stages the warm median structurally
        # cannot — the r4 md5-shingle regression hid exactly there.
        into_f[name] = round(samples[0], 3)

    total = round(sum(timings.values()), 3)
    metric = "headline_queries_total"
    if cold_sf10:
        metric = "headline_queries_total_sf10_cold"
    elif cold_sf1:
        metric = "headline_queries_total_sf1_cold"
    out = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if include_pipeline:
        out["pipeline_total"] = round(sum(pipeline_timings.values()), 3)
        out["pipeline_queries"] = pipeline_timings
    if errors:
        out["errors"] = errors
    if probe_stats:
        out["probe_stats"] = probe_stats
    if cold_sf1:
        out["cold"] = dropped
        probe_after = _probe(_CAL_DIR)
        probe_median = statistics.median([probe_before, probe_after])
        out["calibration"] = {
            "query": CALIBRATION_QUERY,
            "ref_sec": CALIBRATION_REF,
            "probe_before_sec": round(probe_before, 4),
            "probe_after_sec": round(probe_after, 4),
            "load_factor": round(probe_median / CALIBRATION_REF, 3),
        }
    else:
        out["first_run_total"] = round(sum(first_runs.values()), 3)
        out["first_runs"] = first_runs
        if include_pipeline:
            out["pipeline_first_runs"] = pipeline_first
        probe_after = _probe()
        probe_median = statistics.median([probe_before, probe_after])
        load_factor = probe_median / CALIBRATION_REF
        out["calibration"] = {
            "query": CALIBRATION_QUERY,
            "ref_sec": CALIBRATION_REF,
            "probe_before_sec": round(probe_before, 4),
            "probe_after_sec": round(probe_after, 4),
            "load_factor": round(load_factor, 3),
        }
        out["value_load_normalized"] = round(total / load_factor, 3)
    # Emission contract (VERDICT r7 #2, recurred r9 as parsed:null —
    # the full result object outgrew the driver's ~2000-byte stdout
    # tail window TWICE): stdout carries a SLIM headline object only
    # (judge-measured ~300 bytes; build_slim_result is pinned <1500
    # bytes in tests/test_bench_emission.py so a future field can't
    # re-break it), printed as the very LAST stdout line after
    # spark.stop(); the FULL detail (queries, first_runs, probe_stats,
    # pipeline_* breakdowns) lives only in bench_result.json on disk.
    result_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_result.json"
    )
    try:
        with open(result_path, "w") as f:
            f.write(json.dumps(out, separators=(",", ":")) + "\n")
    except OSError as exc:
        print(f"[bench] could not write {result_path}: {exc}", file=sys.stderr)
    line = json.dumps(build_slim_result(out), separators=(",", ":"))
    spark.stop()
    print(line, flush=True)


if __name__ == "__main__":
    main()
