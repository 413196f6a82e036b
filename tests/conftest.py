from __future__ import annotations

import glob
import json
import os
import re

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Test tiers (VERDICT r10 #2): the full suite outgrew the round driver's
# verification window (~811 tests, 50-64 min — the r10 driver run was cut
# mid-suite and read as tests_ok: false). The DEFAULT tier deselects tests
# marked slow / fuzz / cluster and finishes in well under 10 minutes while
# still touching every operator family (the driver's own 50-query oracle
# panel stays in, see test_catalog_oracle). The full tier is opt-in:
#
#     SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/     # or
#     python -m pytest tests/ --full-tests
#
# and remains the round-close gate.
# ---------------------------------------------------------------------------

_TIER_MARKS = ("slow", "fuzz", "cluster")

# Per-family smoke representatives from slow-marked modules that STAY in
# the fast tier, so every operator family keeps at least one default-tier
# functional test (the module-level mark covers everything else).
_FAST_EXCEPTIONS = {
    "test_retire_minhash_bridge_split_synthetic_topology",  # index lifecycle
    "test_unpublished_files_are_invisible",                 # snapshot store
    "test_incremental_minhash_no_false_merges",             # incremental dedup
}


def pytest_addoption(parser):
    parser.addoption(
        "--full-tests",
        action="store_true",
        default=False,
        help="run the full tier (slow/fuzz/cluster tests included)",
    )


def full_tier_enabled(config) -> bool:
    """``--full-tests``, or ``SPARK_GRAFT_FULL_TESTS`` set to 1/true/yes
    (any case); every other value, ``0`` included, keeps the fast tier."""
    env = os.environ.get("SPARK_GRAFT_FULL_TESTS", "").strip().lower()
    return bool(config.getoption("--full-tests", default=False)) or env in (
        "1", "true", "yes",
    )


def pytest_collection_modifyitems(config, items):
    if full_tier_enabled(config):
        return
    skip = {
        m: pytest.mark.skip(
            reason=f"{m} tier — opt in with --full-tests or SPARK_GRAFT_FULL_TESTS=1"
        )
        for m in _TIER_MARKS
    }
    for item in items:
        if item.originalname in _FAST_EXCEPTIONS or item.name in _FAST_EXCEPTIONS:
            continue
        for m in _TIER_MARKS:
            if m in item.keywords:
                item.add_marker(skip[m])
                break


def driver_panel_queries() -> set[str]:
    """The query names of the round driver's own correctness panel —
    the latest CORRECTNESS_r*.json artifact committed in the repo. The
    fast tier keeps exactly this panel oracle-checked (what the driver
    re-verifies every round); the full tier sweeps the whole catalog."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    if not paths:
        return set()

    def rnum(p: str) -> int:
        m = re.search(r"_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    try:
        with open(max(paths, key=rnum)) as f:
            return set(json.load(f))
    except (OSError, ValueError):
        return set()


@pytest.fixture(scope="session")
def spark():
    from esther_apache_spark_spark.session import get_spark

    s = get_spark("esther-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle harness."""
    import duckdb

    from esther_apache_spark_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
