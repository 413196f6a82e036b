"""FreshKart replay: dirty-data paths and sink round-trips.

The full Spark↔DuckDB differential equivalence of the three output
tables runs in test_catalog_oracle.py (the freshkart_* queries carry
full-pipeline oracles). Here: the cleaning paths hit the fixture's
planted dirt, and the sinks write the reference's dialect.
"""

from __future__ import annotations

import csv
import glob
import sqlite3

import pytest

from esther_apache_spark_spark.freshkart import (
    ensure_fixture,
    run_freshkart_pipeline,
    write_freshkart_outputs,
)


@pytest.fixture(scope="module")
def fk(spark):
    return run_freshkart_pipeline(spark, ensure_fixture())


def test_rejects_quarantine_nonempty(fk):
    # planted ~2.5% negative unit prices must land in the side channel
    assert fk["rejects"].count() > 0
    assert fk["rejects"].filter("item_unit_price >= 0").count() == 0


def test_dedup_one_row_per_order(fk):
    # reference semantics: ONE item row per order_id after dedup
    oc = fk["orders_clean"]
    assert oc.count() == oc.select("order_id").distinct().count()


def test_net_revenue_sign_convention(fk):
    # refunds negative => net = gross + refunds <= gross, strictly less
    # somewhere (the fixture plants refunds)
    rows = fk["daily_city_sales"].selectExpr(
        "sum(case when net_revenue_eur > gross_revenue_eur then 1 else 0 end) as bad",
        "sum(case when net_revenue_eur < gross_revenue_eur then 1 else 0 end) as refunded",
    ).first()
    assert rows["bad"] == 0
    assert rows["refunded"] > 0


def test_csv_dialect_and_partitioned_layout(fk, tmp_path):
    db = str(tmp_path / "sales.db")
    write_freshkart_outputs(fk, str(tmp_path), db)

    # K2: per-date partition dirs
    parts = sorted(glob.glob(str(tmp_path / "daily_city_sales_csv" / "date=*")))
    assert len(parts) == 31, parts[:3]

    # K1: `;` separator and %.2f floats inside a partition file
    part_csv = glob.glob(parts[0] + "/*.csv")[0]
    with open(part_csv) as f:
        rows = list(csv.reader(f, delimiter=";"))
    header, first = rows[0], rows[1]
    assert "gross_revenue_eur" in header
    val = first[header.index("gross_revenue_eur")]
    assert "." in val and len(val.split(".")[1]) == 2, val

    # K3: sqlite overwrite-mode tables
    with sqlite3.connect(db) as conn:
        n = conn.execute("SELECT count(*) FROM daily_city_sales").fetchone()[0]
    assert n == fk["daily_city_sales"].count()

    # K4: rejects side channel written as a single file
    rej = glob.glob(str(tmp_path / "rejects_items_csv" / "*.csv"))
    assert len(rej) == 1


def _input_rows_since(spark, last_stage: int) -> tuple[int, int]:
    """(input rows summed over the stages newer than ``last_stage`` that
    ran, newest stage id), read from the in-process status store the way
    ``perfbench/tracing.py:stage_stats`` reads it. A scan counts its file
    rows; a cached-block read counts one record per columnar batch."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    no_quantiles = spark.sparkContext._gateway.new_array(
        spark.sparkContext._gateway.jvm.double, 0
    )
    seq = jsc.statusStore().stageList(None, False, False, no_quantiles, None)
    rows, newest = 0, last_stage
    while not seq.isEmpty():  # newest first
        st = seq.head()
        seq = seq.tail()
        if st.stageId() <= last_stage:
            break
        newest = max(newest, st.stageId())
        if st.status().toString() != "SKIPPED":
            rows += st.inputRecords()
    return rows, newest


def test_write_computes_each_shared_frame_once(spark, fk, tmp_path):
    """One write reads the orders input at most twice: once for the
    chain ``orders_clean`` and ``daily_city_sales`` share, once for the
    rejects sink. Refunds and customers are read at most once each. A
    writer that recomputes per sink reads the orders four times."""
    import json
    from pathlib import Path

    fixture = Path(ensure_fixture())
    n_orders = sum(len(json.loads(f.read_text())) for f in fixture.glob("orders_*.json"))
    n_other = sum(
        len((fixture / f"{name}.csv").read_text().splitlines()) - 1
        for name in ("refunds", "customers")
    )
    _, last = _input_rows_since(spark, -1)
    write_freshkart_outputs(fk, str(tmp_path), str(tmp_path / "sales.db"))
    rows, _ = _input_rows_since(spark, last)
    assert rows >= 2 * n_orders, rows  # both orders scans were seen
    assert rows <= 2 * n_orders + n_other, (rows, n_orders, n_other)


def test_write_leaves_no_cache_behind(spark, fk, tmp_path):
    """The writer's two caches live only for the write."""
    from pyspark import StorageLevel

    write_freshkart_outputs(fk, str(tmp_path), str(tmp_path / "sales.db"))
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for name in ("orders_clean", "daily_city_sales"):
        assert fk[name].storageLevel == StorageLevel.NONE, name
        assert cache_manager.lookupCachedData(fk[name]._jdf).isEmpty(), name


@pytest.mark.parametrize(
    "failing",
    [("rejects_items_csv",), ("daily_city_sales_csv",),
     ("rejects_items_csv", "daily_city_sales_csv")],
    ids=["rejects", "daily", "both"],
)
def test_failed_sink_reaches_caller_and_frees_caches(spark, fk, tmp_path, monkeypatch, failing):
    """The rejects sink runs on a worker thread and the daily chain in
    the caller's: a failure on either side propagates, none is dropped
    (when both fail the rejects error carries the daily one as its
    ``__context__``), and the writer's caches are freed on every path."""
    from pyspark import StorageLevel

    from esther_apache_spark_spark.freshkart import pipeline

    real_sink = pipeline.write_csv_dialect

    def sink(df, path, **kw):
        name = path.rsplit("/", 1)[-1]
        if name in failing:
            raise RuntimeError(f"injected {name} failure")
        return real_sink(df, path, **kw)

    monkeypatch.setattr(pipeline, "write_csv_dialect", sink)
    with pytest.raises(RuntimeError, match=f"injected {failing[0]} failure") as err:
        write_freshkart_outputs(fk, str(tmp_path), str(tmp_path / "sales.db"))
    if len(failing) == 2:
        assert "injected daily_city_sales_csv failure" in str(err.value.__context__)
    for name in ("orders_clean", "daily_city_sales"):
        assert fk[name].storageLevel == StorageLevel.NONE, name


def test_write_jobs_keep_the_callers_group_and_tags(spark, fk, tmp_path):
    """Every job of a write, the rejects job on the worker thread
    included, runs in the caller's job group and carries its session
    tag."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    first = jsc.dagScheduler().numTotalJobs()
    sc.setJobGroup("freshkart-write", "one FreshKart write")
    spark.addTag("freshkart-write-tag")
    try:
        write_freshkart_outputs(fk, str(tmp_path), str(tmp_path / "sales.db"))
    finally:
        spark.removeTag("freshkart-write-tag")
        sc._jsc.clearJobGroup()
    jobs = set(range(first, jsc.dagScheduler().numTotalJobs()))
    jsc.listenerBus().waitUntilEmpty()
    assert len(jobs) >= 2
    assert jobs <= set(sc.statusTracker().getJobIdsForGroup("freshkart-write"))
    for j in jobs:
        tags = jsc.statusStore().job(j).jobTags()
        assert any(
            tags.apply(i).endswith("-freshkart-write-tag") for i in range(tags.size())
        ), (j, tags.mkString(", "))


def test_rejects_file_keeps_the_scan_order(spark, fk, tmp_path):
    """The single rejects file holds the quarantined rows in scan order,
    as the reference writes them: row for row what one partition of the
    rejects frame collects."""
    write_freshkart_outputs(fk, str(tmp_path), str(tmp_path / "sales.db"))
    (path,) = glob.glob(str(tmp_path / "rejects_items_csv" / "*.csv"))
    with open(path, newline="") as f:
        header, *rows = list(csv.reader(f, delimiter=";"))
    expected = fk["rejects"].coalesce(1).collect()
    assert header == fk["rejects"].columns
    assert rows == [[str(v) for v in r] for r in expected]


@pytest.mark.parametrize("level", [None, "DISK_ONLY"])
def test_dim_cache_freed_by_the_active_scope(spark, level):
    """The customers dim cache, at the default level or an explicit one,
    is enrolled in the active ``cache_scope`` and gone once it exits."""
    from pyspark import StorageLevel

    from esther_apache_spark_spark.operators.dedup import cache_scope

    def cached_plan(df) -> str:
        # a fresh Dataset re-runs the cache lookup
        return df.select("*")._jdf.queryExecution().withCachedData().toString()

    storage_level = getattr(StorageLevel, level) if level else None
    with cache_scope():
        dfs = run_freshkart_pipeline(spark, ensure_fixture(), storage_level)
        assert "InMemoryRelation" in cached_plan(dfs["orders_clean"])
    assert "InMemoryRelation" not in cached_plan(dfs["orders_clean"])


def test_run_from_settings_file(spark, tmp_path):
    """The reference's config contract end-to-end: a settings.yaml with
    relative paths and a custom dialect drives the whole pipeline —
    outputs land in the configured locations with the configured
    separator/precision, and missing keys take the reference defaults."""
    import csv
    import glob
    import sqlite3

    from esther_apache_spark_spark.freshkart.fixture import ensure_fixture
    from esther_apache_spark_spark.settings import load_settings, run_freshkart_from_settings

    fixture = ensure_fixture()
    cfg_path = tmp_path / "settings.yaml"
    cfg_path.write_text(
        f"input_dir: {fixture}\n"
        "output_dir: ./out\n"          # relative → resolves beside the file
        "db_path: ./out/sales.db\n"
        'csv_sep: "|"\n'
        'csv_float_format: "%.3f"\n'
    )
    cfg = load_settings(str(cfg_path))
    assert cfg["output_dir"] == str(tmp_path / "out")
    assert cfg["csv_encoding"] == "utf-8"  # default fills the missing key

    res = run_freshkart_from_settings(spark, str(cfg_path))
    files = glob.glob(f"{cfg['output_dir']}/daily_city_sales_csv/date=*/*.csv")
    assert files
    with open(files[0]) as fh:
        rows = list(csv.reader(fh, delimiter="|"))
    assert len(rows[0]) > 1  # the custom separator actually split columns
    # %.3f made it to the bytes: every revenue field has 3 decimals
    header_file_cols = rows[0]
    rev_idx = header_file_cols.index("net_revenue_eur")
    assert all("." in r[rev_idx] and len(r[rev_idx].rsplit(".", 1)[1]) == 3 for r in rows[1:])
    with sqlite3.connect(cfg["db_path"]) as con:
        n = con.execute("SELECT COUNT(*) FROM daily_city_sales").fetchone()[0]
    assert n == res["daily_city_sales"].count()


def test_load_settings_rejects_bad_float_format(tmp_path):
    from esther_apache_spark_spark.settings import _float_decimals

    import pytest as _pt

    assert _float_decimals("%.2f") == 2
    with _pt.raises(ValueError):
        _float_decimals("{:.2f}")
