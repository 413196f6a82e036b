"""Physical-plan assertions — the 100 TB posture, checked in CI.

Correctness says the query returns the right rows; these tests pin the
*plan shape* that survives a 1000-executor scale-up: small dims
broadcast instead of shuffling the fact table, predicates and
projections reach the parquet scan, top-k avoids a global sort, and
aggregates stay in whole-stage codegen with map-side partial phases.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from esther_apache_spark_spark import plans


def _plan(spark, sf_dir, name: str) -> str:
    df = plans.QUERIES[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_broadcasts_customer_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_daily_segment_sales")
    assert "BroadcastHashJoin" in plan, plan


def test_filter_project_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_project")
    assert "PushedFilters" in plan
    # the three predicates reach the scan
    for col in ("l_quantity", "l_discount", "l_returnflag"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: the scan schema must not include unused columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_shipdate" not in read_schema
    assert "l_tax" not in read_schema


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_customers_by_revenue")
    assert "TakeOrderedAndProject" in plan, plan


def test_multikey_agg_partial_final_and_codegen(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multikey_agg")
    # map-side partial + final aggregate (the DF form of reduceByKey);
    # `partial_sum` before the Exchange is the map-side combine.
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Scan parquet")
    # no Python worker in the plan: the cleaning rewrites are native
    assert "BatchEvalPython" not in plan


def test_no_python_udf_in_parity_plans(spark, sf_dir):
    """Every reference-parity query is UDF-free (SURVEY.md §4: the
    reference's two BatchEvalPython barriers are rewritten native)."""
    for name in (
        "flagship_daily_segment_sales",
        "truthy_bool_json",
        "multiformat_date_parse",
        "dedup_keep_first",
        "word_count",
        "freshkart_daily_city_sales",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_preagg_join_aggregates_below_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "preagg_left_join")
    # the refunds-style aggregate must sit below the join, not above it
    agg_pos = plan.find("HashAggregate")
    join_pos = max(plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"), plan.find("ShuffledHashJoin"))
    assert agg_pos != -1 and join_pos != -1


def test_q6_pushes_all_range_predicates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema  # pruned: not referenced


def test_q18_broadcasts_having_survivors(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q18_large_volume_orders")
    assert "BroadcastHashJoin" in plan, plan


def test_q9_broadcasts_all_dims(spark, sf_dir):
    """Q9's three dims (part/supplier/nation) must broadcast — the only
    allowed row-shuffle is lineitem ⋈ orders on orderkey."""
    plan = _plan(spark, sf_dir, "q9_product_type_profit")
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q4_plans_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q4_order_priority_checking")
    assert "LeftSemi" in plan, plan


def test_unpivot_has_no_shuffle(spark, sf_dir):
    """Melt is per-row generation: any Exchange in the plan is a bug."""
    plan = _plan(spark, sf_dir, "unpivot_part_metrics")
    assert "Exchange" not in plan, plan


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The anti join against eval fingerprints must broadcast — the
    train side (99%+ of 100 TB) must not shuffle."""
    plan = _plan(spark, sf_dir, "decontaminate_train_docs")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_q7_broadcasts_both_nation_roles(spark, sf_dir):
    """Q7: supplier/customer/nation(×2 roles) all broadcast; the only
    non-broadcast join (lineitem ⋈ orders) shuffles on orderkey. No
    cartesian anywhere despite the symmetric pair filter."""
    plan = _plan(spark, sf_dir, "q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_q8_broadcasts_dims_and_prunes_part(spark, sf_dir):
    """Q8: 6 dim-side joins all broadcast, and the p_type filter is
    pushed into the part scan (build side shrinks before shipping)."""
    plan = _plan(spark, sf_dir, "q8_national_market_share")
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "CartesianProduct" not in plan
    # p_type filter reaches the part scan
    part_scans = [l for l in plan.splitlines() if "part.parquet" in l or "p_type" in l]
    assert any("p_type" in l for l in part_scans), plan


def test_bm25_plans_take_ordered_on_rounded_score(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bm25_top_docs")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan


def test_skyline_zero_shuffle_of_base_table(spark, sf_dir):
    """The whole point of the two-phase skyline: the base table never
    shuffles — the only movement is the Coalesce of the tiny local
    skyline union."""
    plan = _plan(spark, sf_dir, "skyline_price_size")
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan and "Coalesce" in plan, plan


def test_quantize_is_pure_codegen_projection(spark, sf_dir):
    """Int8 quantization is a zero-shuffle, Python-free projection —
    higher-order expressions inside whole-stage codegen."""
    plan = _plan(spark, sf_dir, "embedding_quantize_int8")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_zscore_joins_stats_without_shuffling_facts(spark, sf_dir):
    """The per-type stats frame must broadcast back onto events — the
    fact side carries no hash-partition Exchange before the join."""
    plan = _plan(spark, sf_dir, "zscore_anomaly_events")
    assert "BroadcastHashJoin" in plan, plan


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """100 TB shuffle-join posture: with runtime filtering enabled (and
    the size gates scaled down to test data), Catalyst injects a bloom
    filter built from the filtered dim side as a might_contain predicate
    above the fact scan — the fact rows are pruned BEFORE the Exchange.
    Results stay exact (no false negatives); false positives only cost
    shuffle bytes. At the real 100 TB scale the default 10 GB
    application-side gate passes on its own; `runtime_filter_conf`
    exists so tests and local benches can exercise the same plan."""
    from esther_apache_spark_spark.schemas import load_table
    from esther_apache_spark_spark.session import runtime_filter_conf

    conf = runtime_filter_conf(application_side_threshold="0")
    # None: not set in the session, so restore by unsetting
    saved = {
        k: spark.conf.getAll.get(k)
        for k in ("spark.sql.autoBroadcastJoinThreshold", *conf)
    }
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        # force a shuffle join: broadcast joins prune exactly already
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fact = load_table(spark, sf_dir, "lineitem")
        dim = load_table(spark, sf_dir, "orders").filter("o_orderstatus = 'F'")
        j = fact.join(dim, fact.l_orderkey == dim.o_orderkey).groupBy(
            "o_orderstatus"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        # sanity: the pruned plan still returns exact results
        expected = (
            fact.join(dim.hint("broadcast"), fact.l_orderkey == dim.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        assert sorted(map(tuple, j.collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """100 TB partitioned-layout posture: a fact table laid out with
    `write_partitioned_parquet` (one directory per day) joined to a
    small filtered dim on the PARTITION column must plan a
    DynamicPruningExpression in the fact scan's PartitionFilters —
    Catalyst reuses the dim's broadcast to enumerate the surviving
    partitions at runtime, so a 2-day dim prunes a 365-day fact to 2
    directories before any I/O. Static pruning can't do this (the day
    set is only known after the dim filter runs)."""
    from esther_apache_spark_spark.schemas import load_table
    from esther_apache_spark_spark.sources.sinks import write_partitioned_parquet

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day")
    write_partitioned_parquet(events, path, ["day"])

    fact = spark.read.parquet(path)
    n_days = fact.select("day").distinct().count()
    pick = [r["day"] for r in sorted(events.select("day").distinct().collect())[:2]]
    dim = spark.createDataFrame(
        [(d, "keep") for d in pick], "day string, tag string"
    ).filter(F.col("tag") == "keep")

    j = fact.join(dim, "day").groupBy("day").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert n_days > 2  # pruning is non-vacuous: most partitions skipped
    # partition-column type inference reads `day` back as DATE — stringify
    got = {(str(r["day"]), r["count"]) for r in j.collect()}
    expected = {
        (str(r["day"]), r["count"])
        for r in events.filter(F.col("day").isin(pick)).groupBy("day").count().collect()
    }
    assert got == expected


def test_quality_classifier_broadcasts_weight_table(spark, sf_dir):
    """The model weight lookup must be a broadcast hash join (the table
    is bounded by the n_buckets model constant, never by sf) and the
    whole inference is UDF-free."""
    plan = _plan(spark, sf_dir, "quality_classifier_score_docs")
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_substring_spans_no_pair_join_and_pruned_scan(spark, sf_dir):
    """Substring-span dedup is linear by construction: semi-join + hash
    aggregates + one window, never a cartesian/NLJ pair join; the scan
    reads only (doc_id, text)."""
    plan = _plan(spark, sf_dir, "dedup_substring_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_rank_filter_plans_window_group_limit(spark, sf_dir):
    """Per-group top-k (rank_in_nation): the rank<=5 predicate must
    optimize into WindowGroupLimit with a PARTIAL pass before the
    exchange — each map task forwards at most 5 rows per nation instead
    of shuffling whole groups, which is what makes windowed per-group
    top-k survive skewed groups at 100 TB."""
    from esther_apache_spark_spark import plans

    plan = (
        plans.QUERIES["rank_in_nation"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan  # map-side group limit before the shuffle


def test_q1_pushdown_partial_agg_small_group_domain(spark, sf_dir):
    """TPC-H Q1: the shipdate predicate reaches the scan, partial
    aggregation runs before the one Exchange (the 6-cell group domain
    means each scan partition ships <=6 rows), and no Python worker
    appears."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema  # pruned: 7 needed columns only


def test_peak_concurrency_single_sort_partition_by_type(spark, sf_dir):
    """The sweep line is ONE window sort partitioned by event_type; the
    join back against the per-type peak is not a cartesian."""
    plan = _plan(spark, sf_dir, "peak_concurrency_by_type")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_anova_map_combinable_no_shuffle_of_rows(spark, sf_dir):
    """ANOVA's moment sums must partial-aggregate map-side: two
    HashAggregate phases around each Exchange, never a raw-row sort."""
    plan = _plan(spark, sf_dir, "anova_f_value_by_type")
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan
    assert "Window" not in plan  # pure aggregate path, no ordered pass


def test_cuped_one_pass_no_join(spark, sf_dir):
    """CUPED's pre/post covariates come from ONE conditional aggregate
    — any Join in the plan would mean the pre/post split regressed to
    a self-join."""
    plan = _plan(spark, sf_dir, "cuped_variance_reduction")
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2
