"""Bucketed co-located join: the shuffle disappears from the plan."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from esther_apache_spark_spark.schemas import load_table
from esther_apache_spark_spark.sources.sinks import write_bucketed_table


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    import shutil

    # clean any stale managed-table location a crashed run left behind
    for t in ("li_bucketed", "o_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{loc}/{t}", ignore_errors=True)

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    write_bucketed_table(li, "li_bucketed", "l_orderkey", 8, sort_by="l_orderkey")
    write_bucketed_table(o, "o_bucketed", "o_orderkey", 8, sort_by="o_orderkey")

    lb, ob = spark.table("li_bucketed"), spark.table("o_bucketed")
    joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )

    # At test scale the planner would just broadcast the small side and
    # skip the bucketed read ("Bucketed: false (disabled by query
    # planner)") — disable auto-broadcast to exercise the path a 100 TB
    # fact⋈fact join would take.
    thresh = spark.conf.getAll.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _explain(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        assert "Bucketed: true" in plan, plan

        # and it computes the same rows as the join over raw parquet
        assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()

        # the same bucketing serves an aggregation on the bucket key:
        # no Exchange before the final HashAggregate either
        agg_plan = _explain(lb.groupBy("l_orderkey").agg(F.sum("l_quantity")))
        assert "Exchange" not in agg_plan, agg_plan
    finally:
        if thresh is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
