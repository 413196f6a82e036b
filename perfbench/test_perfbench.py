"""The benchmark's own smoke tests, on tiny inputs.

    python -m pytest perfbench -q

Each workload runs twice through ``run.py`` at ``--size tiny``: untraced
with one expected row count planted wrong (that step must be reported as
failed, and every end-to-end metric must be printed), and traced (every
per-layer metric printed, the predicted zeros reading zero). About a
minute per run: each starts its own JVM.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# per workload: the output whose expected row count gets planted wrong,
# and the per-layer metrics the workload never touches
CASES = {
    "freshkart_etl": (
        "sqlite_orders_clean",
        ("operators.components.", "operators.dedup."),
    ),
    "corpus_dedup": ("lexical_dedup_survivors", ("sources.sinks.",)),
}


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def _assert_metrics(out: dict, declared: list) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in declared}


def test_workloads_match_benchmark_json():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(CASES)


@pytest.mark.parametrize("workload", sorted(CASES))
def test_untraced_reports_planted_failure_and_all_metrics(workload):
    wrong, _ = CASES[workload]
    out, _ = _run(workload, 0, "--corrupt-expected", wrong)
    _assert_metrics(out, SPEC["end_to_end"])
    assert out["correct"] is False
    # the output check of the warm-up pass and every timed pass miss it
    assert 3 <= out["failed"] <= out["attempted"]
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(CASES))
def test_traced_reports_all_layers_and_predicted_zeros(workload):
    _, zero_prefixes = CASES[workload]
    out, err = _run(workload, 1)
    _assert_metrics(out, SPEC["per_layer"])
    assert out["correct"] is True and out["failed"] == 0
    m = {k: v["value"] for k, v in out["metrics"].items()}
    for k, v in m.items():
        if k.startswith(zero_prefixes):
            assert v == 0, k
    calls = re.search(r"connected_components calls per traced pass \[(.*)\]", err)
    per_pass = [int(c) for c in calls.group(1).split(",")]
    assert len(per_pass) == 2 and len(set(per_pass)) == 1  # repeats exactly
    if workload == "corpus_dedup":
        assert m["operators.components.calls"] > 0
        assert m["sources.output_bytes"] == 0
    else:
        assert m["sources.sinks.csv_s"] > 0 and m["sources.sinks.sqlite_s"] > 0
        assert m["sources.output_bytes"] > 0
    assert m["sources.input_rows"] > 0 and m["spark.jobs"] > 0


def test_bare_directory_fails_without_result(tmp_path):
    """Beside BENCHMARK.json and perfbench/ alone, the run must fail fast."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "freshkart_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
