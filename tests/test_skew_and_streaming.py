"""Skew helpers: semantic equivalence with the unsalted plan.
Streaming foreachBatch sink: stream/batch parity of the written layout.
IVF ANN: precision of the rerank + recall on planted near-dups.
"""

from __future__ import annotations

import glob

import numpy as np
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from esther_apache_spark_spark.functions.money import dec2
from esther_apache_spark_spark.operators.skew import salted_collect_list, salted_join
from esther_apache_spark_spark.operators.similarity import ivf_topk
from esther_apache_spark_spark.schemas import load_table
from esther_apache_spark_spark.streaming.events import stream_to_partitioned_parquet


def _skewed_dfs(spark):
    # 90% of left rows share one hot key
    left = spark.createDataFrame(
        [(1 if i % 10 else i, i, float(i)) for i in range(2000)],
        "k long, row_id long, v double",
    )
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(200)], "k long, label string"
    )
    return left, right


def test_salted_join_matches_plain_join(spark):
    left, right = _skewed_dfs(spark)
    for how in ("inner", "left"):
        plain = left.join(right, "k", how).select("k", "row_id", "v", "label")
        salted = salted_join(left, right, "k", n_salts=4, how=how).select(
            "k", "row_id", "v", "label"
        )
        assert plain.exceptAll(salted).count() == 0
        assert salted.exceptAll(plain).count() == 0


def test_salted_collect_list_matches_plain(spark):
    left, _ = _skewed_dfs(spark)
    plain = left.groupBy("k").agg(F.sort_array(F.collect_list("v")).alias("values"))
    salted = salted_collect_list(left, "k", "v", n_salts=4)
    diff = plain.join(salted, "k").filter(plain["values"] != salted["values"])
    assert diff.count() == 0
    assert plain.count() == salted.count()


def test_stream_foreachbatch_partitioned_sink(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_by_type")
    ckpt = str(tmp_path / "ckpt")
    stream_to_partitioned_parquet(spark, sf_dir, out, ckpt)

    parts = sorted(glob.glob(out + "/event_type=*"))
    assert parts, "no partition directories written"

    written = spark.read.parquet(out)
    batch = load_table(spark, sf_dir, "events")
    assert written.count() == batch.count()
    # per-type counts identical to batch (partition pruning works too)
    one_type = parts[0].rsplit("=", 1)[1]
    assert (
        written.filter(F.col("event_type") == one_type).count()
        == batch.filter(F.col("event_type") == one_type).count()
    )


def test_stateful_stream_matches_batch_aggregate(spark, sf_dir):
    from esther_apache_spark_spark.streaming.events import running_user_totals_stream

    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in running_user_totals_stream(spark, sf_dir).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(dec2("value")), 2).cast("double").alias("t"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for u, (n, t) in want.items():
        assert got[u][0] == n, u
        # stream accumulates integer cents -> exactly the decimal batch sum
        assert got[u][1] == t, (u, got[u][1], t)


def test_ivf_topk_precision_and_planted_recall(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((80, 16)).astype("float64")
    for i in range(5):  # plant near-identical neighbors
        vecs[70 + i] = vecs[i] + rng.standard_normal(16) * 0.02
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_topk(df, queries, k=5, nlist=8, nprobe=3).collect()

    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = norm @ norm.T
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
        # precision: reported cosine is the true cosine
        assert abs(r["cosine"] - cos[r["query_id"], r["neighbor_id"]]) < 1e-4
    for q in range(5):
        rows = by_q.get(q, [])
        assert len(rows) == 5, f"query {q}: {len(rows)} rows"
        ids = {r["neighbor_id"] for r in rows}
        # the planted near-dup (and the query itself) must be retrieved:
        # both live in the query's own probed cell
        assert q in ids
        assert 70 + q in ids, f"planted neighbor missing for query {q}"


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data handling: after the watermark advances past an event's
    window, an update-mode windowed aggregate must drop it. Two
    micro-batches via the file source: batch 1 advances the watermark to
    10:50; batch 2 carries an 08:15 straggler (dropped) and an 11:30
    fresh row (kept)."""
    import json
    import uuid as _uuid

    indir = tmp_path / "in"
    indir.mkdir()

    def write_batch(name, rows):
        with open(indir / name, "w") as f:
            for ts, uid, v in rows:
                f.write(json.dumps({"ts": ts, "user_id": uid, "value": v}) + "\n")

    write_batch("b1.json", [
        ("2025-01-01 10:00:00", 1, 1.0),
        ("2025-01-01 10:30:00", 1, 1.0),
        ("2025-01-01 11:00:00", 2, 1.0),
    ])

    src = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("win.start", "HH:mm").alias("w"), "n")
    )
    name = f"late_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: watermark -> 11:00 - 10m = 10:50
        write_batch("b2.json", [
            ("2025-01-01 08:15:00", 3, 1.0),   # window 08:00 < watermark: drop
            ("2025-01-01 11:30:00", 2, 1.0),   # fresh: kept
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.table(name).collect()
    seen = {}
    for r in rows:  # update mode re-emits; keep the latest count per window
        seen[r["w"]] = max(seen.get(r["w"], 0), r["n"])
    assert "08:00" not in seen, seen          # straggler dropped by watermark
    assert seen.get("10:00") == 2, seen
    assert seen.get("11:00") == 2, seen       # 11:00 + late-but-in-horizon 11:30


def test_stream_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Kill a file-source stream mid-run, restart it on the SAME
    checkpoint: the file-source offset log + parquet-sink commit log
    must give exactly-once output (no lost batches, no duplicates) —
    the property that makes a 100 TB ingest restartable."""
    import time

    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events")
    events.repartition(4).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    deadline = time.time() + 60
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["numInputRows"] > 0:
            break  # at least one batch committed; die mid-stream
        time.sleep(0.2)
    q.stop()

    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    written = spark.read.parquet(out)
    n = events.count()
    assert written.count() == n, "lost or duplicated rows across restart"
    assert written.select("event_id").distinct().count() == n


def test_streaming_left_interval_join_prefix_containment(spark, sf_dir):
    """Streaming LEFT OUTER interval join vs its batch twin: every
    MATCHED row must appear (inner rows emit on arrival), every
    streamed row must exist in the batch answer, and null-extended
    rows may only be missing (views whose horizon the final watermark
    never passed) — never wrong."""
    import uuid

    from pyspark.sql import functions as F

    from esther_apache_spark_spark.schemas import load_table
    from esther_apache_spark_spark.streaming.events import (
        interval_join_views_purchases_left,
        streaming_events_source,
    )

    events = load_table(spark, sf_dir, "events")
    batch = {
        tuple(r)
        for r in interval_join_views_purchases_left(
            events.filter(F.col("event_type") == "view"),
            events.filter(F.col("event_type") == "purchase"),
        ).collect()
    }
    matched_batch = {r for r in batch if r[2] is not None}

    name = f"stream_loj_{uuid.uuid4().hex[:8]}"
    q = (
        interval_join_views_purchases_left(
            streaming_events_source(spark, sf_dir).filter(
                F.col("event_type") == "view"
            ),
            streaming_events_source(spark, sf_dir).filter(
                F.col("event_type") == "purchase"
            ),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {tuple(r) for r in spark.table(name).collect()}

    assert matched_batch <= streamed, "inner rows must all emit"
    assert streamed <= batch, "streamed rows must agree with the batch twin"


def test_stateful_stream_on_rocksdb_state_store(spark, sf_dir):
    """The RocksDB provider must be selectable per-query and produce the
    same answer as the default on-heap provider: run the stateful
    running-totals stream under state_store_provider(...) and compare to
    the batch aggregate (the same oracle the on-heap test uses). Also
    asserts the conf round-trips (set inside the scope, restored after)."""
    from esther_apache_spark_spark.streaming.events import (
        ROCKSDB_STATE_STORE,
        running_user_totals_stream,
        state_store_provider,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    with state_store_provider(spark):
        assert spark.conf.get(key) == ROCKSDB_STATE_STORE
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in running_user_totals_stream(spark, sf_dir).collect()
        }
    assert spark.conf.get(key, None) == before

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("tv"),
        )
        .collect()
    }
    assert got == want


def test_transform_with_state_peak_or_honest_gate(spark, sf_dir):
    """The modern state API (transformWithStateInPandas) either runs —
    matching the batch max/count oracle — or raises the documented
    NotImplementedError BEFORE starting a query, because its state
    protocol needs the protobuf package this container lacks. Either
    way the gate is exact: tws_available() decides which branch."""
    import pytest as _pytest

    from esther_apache_spark_spark.streaming.events import (
        running_user_peak_stream,
        tws_available,
    )

    if not tws_available():
        with _pytest.raises(NotImplementedError, match="protobuf"):
            running_user_peak_stream(spark, sf_dir)
        return

    got = {
        r["user_id"]: (r["max_value"], r["n_events"])
        for r in running_user_peak_stream(spark, sf_dir).collect()
    }
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        r["user_id"]: (r["mx"], r["n"])
        for r in events.groupBy("user_id")
        .agg(
            (F.max(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("mx"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want


def test_aqe_skew_join_splits_hot_partition(spark):
    """The built-in complement to salted_join: with AQE skew handling on
    (engine default) and thresholds scaled down to test data, a planted
    hot key makes AQE split the oversized shuffle partition at runtime —
    the executed plan shows SortMergeJoin(skew=true) over a skewed
    AQEShuffleRead, and the answer still matches the broadcast-join
    truth. At 100 TB the default 256 MB threshold plays the same role
    without any salting code."""
    from pyspark.sql import functions as F

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(300000).selectExpr("cast(0 as long) k", "id v").union(
            spark.range(30000).selectExpr("1 + cast(id % 99 as long) k", "id v")
        )
        right = spark.range(100).selectExpr("id k", "id * 10 w")
        j = left.join(right, "k").groupBy().agg(
            F.sum("v").alias("s"), F.sum("w").alias("t")
        )
        got = j.collect()[0]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        want = (
            left.join(right.hint("broadcast"), "k")
            .groupBy()
            .agg(F.sum("v").alias("s"), F.sum("w").alias("t"))
            .collect()[0]
        )
        assert (got["s"], got["t"]) == (want["s"], want["t"])
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_streaming_full_interval_join_prefix_containment(spark, sf_dir):
    """Streaming FULL OUTER interval join vs its batch twin: matched
    rows must all emit, every streamed row must exist in the batch
    answer, and null-extensions on EITHER side may only be missing
    (rows whose horizon the final watermark never passed) — never
    wrong."""
    import uuid

    from pyspark.sql import functions as F

    from esther_apache_spark_spark.schemas import load_table
    from esther_apache_spark_spark.streaming.events import (
        interval_join_views_purchases_full,
        streaming_events_source,
    )

    events = load_table(spark, sf_dir, "events")
    batch = {
        tuple(r)
        for r in interval_join_views_purchases_full(
            events.filter(F.col("event_type") == "view"),
            events.filter(F.col("event_type") == "purchase"),
        ).collect()
    }
    matched_batch = {r for r in batch if r[1] is not None and r[2] is not None}

    name = f"stream_foj_{uuid.uuid4().hex[:8]}"
    q = (
        interval_join_views_purchases_full(
            streaming_events_source(spark, sf_dir).filter(
                F.col("event_type") == "view"
            ),
            streaming_events_source(spark, sf_dir).filter(
                F.col("event_type") == "purchase"
            ),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {tuple(r) for r in spark.table(name).collect()}

    assert matched_batch <= streamed, "inner rows must all emit"
    assert streamed <= batch, "streamed rows must agree with the batch twin"


class _FakeGroupState:
    """Minimal stand-in for pyspark GroupState: exists/get/update."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def _run_transition_batches(batches):
    import pandas as pd

    from esther_apache_spark_spark.streaming.events import _transitions_update

    state = _FakeGroupState()
    pairs = {}
    for rows in batches:
        pdf = pd.DataFrame(
            rows, columns=["ts", "event_id", "event_type"]
        ).astype({"ts": "datetime64[ns]"})
        for out in _transitions_update(("u",), [pdf], state):
            for _, r in out.iterrows():
                k = (r["from_type"], r["to_type"])
                pairs[k] = pairs.get(k, 0) + int(r["n"])
    return pairs, state.get


def test_transitions_state_keeps_full_last_event_in_order():
    """Regression (ADVICE r5): state persists (ts, event_id, type), and
    in-order batches reproduce the plain prepend-bridge fold."""
    pairs, last = _run_transition_batches(
        [
            [("2024-01-01 00:00:10", 1, "view"), ("2024-01-01 00:00:20", 2, "cart")],
            [("2024-01-01 00:00:30", 3, "buy")],
        ]
    )
    assert pairs == {("view", "cart"): 1, ("cart", "buy"): 1}
    assert last[2] == "buy" and last[1] == 3


def test_transitions_bridge_merges_out_of_order_batch():
    """A batch arriving entirely BEFORE the saved event (late data) used
    to be folded as if it followed it; the merged fold places the saved
    event at its true (ts, event_id) position."""
    pairs, last = _run_transition_batches(
        [
            [("2024-01-01 00:00:50", 9, "buy")],
            # late batch: both events precede the saved 'buy'
            [("2024-01-01 00:00:10", 1, "view"), ("2024-01-01 00:00:20", 2, "cart")],
        ]
    )
    # merged timeline: view -> cart -> buy; saved event stays the last
    assert pairs == {("view", "cart"): 1, ("cart", "buy"): 1}
    assert last[2] == "buy" and last[1] == 9
    # the old prepend fold would have produced buy->view + view->cart
    assert ("buy", "view") not in pairs


def test_transitions_bridge_tiebreak_on_event_id():
    """Equal timestamps order by event_id — the saved event with a lower
    event_id at the same ts sorts before the batch row."""
    pairs, _ = _run_transition_batches(
        [
            [("2024-01-01 00:00:10", 5, "view")],
            [("2024-01-01 00:00:10", 7, "cart")],  # same ts, higher id
        ]
    )
    assert pairs == {("view", "cart"): 1}


def test_daily_anomaly_stream_prefix_containment(spark, sf_dir, tmp_path):
    """The daily anomaly state machine over a day-per-file stream
    (no sentinels): every emission must equal the batch twin's row for
    that day, and exactly the days that CLOSED (all but the last per
    type) may emit — the prefix-containment contract of the stateful
    family (VERDICT r06 #7)."""
    import os
    import time
    import uuid

    import duckdb

    from esther_apache_spark_spark.plans.mlprep import (
        _anomaly_readout,
        daily_anomaly_zscore_by_type,
    )
    from esther_apache_spark_spark.schemas import TESTDATA
    from esther_apache_spark_spark.streaming.events import daily_anomaly_updates

    # split the first 10 days into one parquet per day, mtime-ordered
    src = f"{sf_dir}/events.parquet"
    con = duckdb.connect()
    days = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT strftime(ts, '%Y-%m-%d') FROM read_parquet('{src}') "
            "ORDER BY 1 LIMIT 10"
        ).fetchall()
    ]
    stream_dir = tmp_path / "byday"
    stream_dir.mkdir()
    t0 = time.time() - 600
    for i, d in enumerate(days):
        p = str(stream_dir / f"{i:02d}_{d}.parquet")
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}') "
            f"WHERE strftime(ts, '%Y-%m-%d') = '{d}') TO '{p}' (FORMAT PARQUET)"
        )
        os.utime(p, (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(TESTDATA["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    name = f"anom_prefix_{uuid.uuid4().hex[:8]}"
    q = (
        daily_anomaly_updates(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        tuple(r) for r in _anomaly_readout(spark.table(name)).collect()
    }

    full_batch = {
        tuple(r) for r in daily_anomaly_zscore_by_type(spark, sf_dir).collect()
    }
    # closed days within the prefix: strictly before the prefix's last day
    expected = {r for r in full_batch if r[1] < days[-1] and r[1] in set(days)}
    assert streamed == expected, (
        len(streamed), len(expected), streamed ^ expected,
    )
    assert streamed <= full_batch
    assert len(streamed) > 0


def test_novelty_gate_rejects_bad_store_before_the_stream_starts(
    spark, sf_dir, tmp_path
):
    """The gate reads its store's family before it starts the stream: a
    missing store, a store that names no index family, and a probe
    keyword the store's family does not take all raise on the caller's
    thread and leave no query running."""
    from esther_apache_spark_spark.sources import index_store as S
    from esther_apache_spark_spark.streaming.events import run_stream_novelty

    before = {q.id for q in spark.streams.active}
    with pytest.raises(FileNotFoundError):
        run_stream_novelty(spark, sf_dir, str(tmp_path / "missing"))
    path = str(tmp_path / "labels_only")
    labels = spark.createDataFrame([(1, 1)], "node long, comp long")
    S.commit_snapshot(path, {"labels": labels}, mode="replace")
    with pytest.raises(ValueError, match="not an index store"):
        run_stream_novelty(spark, sf_dir, path)
    # the other family's parameter, and a column name neither probe
    # lets the caller override (the gate's source schema is fixed)
    for table, bad in (("bucket_reps", "dim"), ("vectors", "num_perm")):
        path = str(tmp_path / table)
        S.commit_snapshot(path, {table: labels}, mode="replace")
        for kw in (bad, "id_col", "text_col", "vec_col"):
            with pytest.raises(TypeError, match=kw):
                run_stream_novelty(spark, sf_dir, path, **{kw: 8})
    assert {q.id for q in spark.streams.active} == before


def test_events_ts_unit_follows_a_rewritten_file(tmp_path):
    """The ts unit is read from the footer on every call, so a file
    rewritten in place at the same path reports its new unit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from esther_apache_spark_spark.schemas import _events_ts_unit

    path = str(tmp_path / "events.parquet")
    for unit in ("ns", "us"):
        ts = pa.array([0, 1], pa.timestamp(unit))
        pq.write_table(pa.table({"ts": ts}), path)
        assert _events_ts_unit(path) == unit
