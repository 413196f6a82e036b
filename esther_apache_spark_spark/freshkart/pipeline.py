"""The FreshKart pipeline, Spark-first (SURVEY.md §3.1 stages 4-7).

Same nine logical stages, same semantics as the reference
(``src/pyspark/pipeline_pyspark.py:94-222``), built from the engine's
library pieces:

1. explicit-schema reads (no inference — SURVEY.md §1.3 engine decision)
2. native-expression cleaning instead of Python UDFs (F8/F9 rewrites) —
   the reference's two ``BatchEvalPython`` barriers disappear, the whole
   plan is codegen-able and predicates push through
3. deterministic dedup tiebreaker (SURVEY.md §2.6: ties on ``created_at``
   are nondeterministic in the reference; we order by the full item
   tuple so results are stable)
4. distributed sinks — ``partitionBy`` CSV layout instead of a driver-side
   pandas groupby loop; sqlite kept as the explicit small-result boundary.
   ``orders_clean`` is a subtree of ``daily_city_sales``, and the writer
   materializes these two multi-consumer frames once, in its own
   ``cache_scope``, instead of re-running the lineage for each sink. The
   rejects sink shares nothing with them and runs as a concurrent Spark
   job on a worker thread, off the daily chain's critical path; the
   SQLite writes stay in the calling thread (one writer per database
   file). The builder itself stays lazy and caches only the customers
   dimension, so single-consumer callers pay no cache fill.

Deliberately preserved reference semantics (SURVEY.md §7 hard parts):

- dedup keeps ONE ITEM ROW per order_id (the window runs on the
  exploded items, ``pipeline_pyspark.py:133-138``) — surprising but
  canonical; a multi-item order contributes a single item line
- filter ``is_active == True`` AFTER the left join → effective inner
  join against active customers (``:150-152``)
- refund amounts are negative → ``net = gross + refunds`` by ADDITION
  (``:182-184``)
- NULL-predicate rows fall out of both quarantine sides (three-valued
  logic, ``:123-131``)
"""

from __future__ import annotations

import glob as _glob
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esther_apache_spark_spark.functions.cleaning import order_date_str, truthy_bool
from esther_apache_spark_spark.schemas import (
    FRESHKART_CUSTOMERS,
    FRESHKART_ORDERS,
    FRESHKART_REFUNDS,
)
from esther_apache_spark_spark.scope import cache_scope, cached
from esther_apache_spark_spark.sources.readers import read_csv, read_json_multiline
from esther_apache_spark_spark.sources.sinks import (
    quarantine_split,
    write_csv_dialect,
    write_sqlite,
)


def run_freshkart_pipeline(
    spark: SparkSession, input_dir: str, dim_storage_level=None
) -> dict[str, DataFrame]:
    """Build the full lazy plan; returns the three output DataFrames:
    ``rejects`` (quarantined negative-price item rows), ``orders_clean``,
    ``daily_city_sales`` (sorted)."""
    order_files = sorted(_glob.glob(f"{input_dir}/orders_*.json"))
    if not order_files:
        raise FileNotFoundError(f"no orders_*.json under {input_dir}")

    orders = read_json_multiline(spark, order_files, FRESHKART_ORDERS)
    customers = read_csv(spark, f"{input_dir}/customers.csv", FRESHKART_CUSTOMERS)
    refunds = read_csv(spark, f"{input_dir}/refunds.csv", FRESHKART_REFUNDS)

    # -- clean dimensions (reference :100-109), UDFs rewritten native ------
    customers_clean = (
        customers.withColumn("is_active", truthy_bool(F.col("is_active")))
        .select("customer_id", "city", "is_active")
    )
    # reused dimension (C1, reference :103). ``dim_storage_level`` exposes
    # persist(StorageLevel) (reference tuto_rdd_pyspark(2).ipynb cells
    # 33-35); the default cache() is already MEMORY_AND_DISK, the right
    # level when a cached dim can outgrow executor memory at 100 TB.
    # Enrolled in the active cache_scope, which unpersists it on exit.
    # Inside a write the dim has one consumer and its fill is a job of
    # its own, kept because it is cheap: 13-205 ms (medians 28 and 44 ms)
    # at perfbench seed 4 on 4 cores, and two 13-round one-JVM A/Bs of
    # the write without it read medians 1.62 -> 1.54 s and 1.49 -> 1.42 s,
    # both inside the with-cache interquartile range (within noise).
    customers_clean = cached(customers_clean, dim_storage_level)
    refunds_clean = (
        refunds.withColumn("amount", F.col("amount").try_cast("double"))
        .na.fill({"amount": 0.0})
        .select("order_id", "amount")
    )

    # -- filter paid BEFORE explode (reference :111-112; generators block
    #    predicate pushdown, so the manual ordering matters) --------------
    orders_flat = (
        orders.filter(F.col("payment_status") == "paid")
        .withColumn("item", F.explode("items"))
        .select(
            "order_id",
            "customer_id",
            "channel",
            "created_at",
            F.col("item.sku").alias("item_sku"),
            F.col("item.qty").alias("item_qty"),
            F.col("item.unit_price").alias("item_unit_price"),
        )
    )

    # -- quarantine split (K4, reference :123-131) -------------------------
    clean, rejects = quarantine_split(orders_flat, F.col("item_unit_price") < 0)

    # -- window dedup: ONE row per order_id, keep-first-by-created_at with
    #    a deterministic item-tuple tiebreak (W1 + SURVEY §2.6 fix) --------
    w = Window.partitionBy("order_id").orderBy(
        F.col("created_at").asc(),
        F.col("item_sku").asc(),
        F.col("item_qty").asc(),
        F.col("item_unit_price").asc(),
    )
    orders_dedup = (
        clean.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("line_gross", F.col("item_qty") * F.col("item_unit_price"))
    )

    # -- per-order aggregate (reference :143-148) --------------------------
    per_order = orders_dedup.groupBy(
        "order_id", "customer_id", "channel", "created_at"
    ).agg(
        F.sum("item_qty").alias("items_sold"),
        F.sum("line_gross").alias("gross_revenue_eur"),
    )

    # -- join-then-filter enrichment (J1 exact semantics, reference :150-154)
    per_order_active = (
        per_order.join(F.broadcast(customers_clean), on="customer_id", how="left")
        .filter(F.col("is_active") == True)  # noqa: E712 — reference semantics
        .withColumn("order_date", order_date_str(F.col("created_at")))
    )

    # ``orders_clean`` is a subtree of the daily aggregate, so a writer
    # that caches it computes the JSON scan, dedup and per-order chain
    # once for both sinks.
    orders_clean = per_order_active.select(
        "order_id",
        "customer_id",
        "city",
        "channel",
        "order_date",
        "items_sold",
        "gross_revenue_eur",
    )

    # -- refunds pre-aggregated BELOW the join (J2/A2, reference :156-161);
    #    one row per order_id, so the left join adds no rows -------------
    refunds_sum = refunds_clean.groupBy("order_id").agg(
        F.sum("amount").alias("refunds_eur")
    )
    per_order_ref = orders_clean.join(
        F.broadcast(refunds_sum), on="order_id", how="left"
    ).na.fill({"refunds_eur": 0.0})

    # -- daily aggregate + net (reference :175-184) ------------------------
    agg_df = (
        per_order_ref.groupBy("order_date", "city", "channel")
        .agg(
            F.countDistinct("order_id").alias("orders_count"),
            F.countDistinct("customer_id").alias("unique_customers"),
            F.sum("items_sold").alias("items_sold"),
            F.sum("gross_revenue_eur").alias("gross_revenue_eur"),
            F.sum("refunds_eur").alias("refunds_eur"),
        )
        .withColumn(
            # refunds are NEGATIVE → net by ADDITION (hard-part 5)
            "net_revenue_eur",
            F.col("gross_revenue_eur") + F.col("refunds_eur"),
        )
        .withColumnRenamed("order_date", "date")
        .orderBy("date", "city", "channel")
    )

    return {
        "rejects": rejects,
        "orders_clean": orders_clean,
        "daily_city_sales": agg_df,
    }


def write_freshkart_outputs(
    dfs: dict[str, DataFrame],
    output_dir: str,
    db_path: str,
    sep: str = ";",
    float_format_decimals: int = 2,
    encoding: str = "utf-8",
) -> None:
    """Reference export shape (:186-222) on distributed sinks: per-date
    CSV layout via ``partitionBy`` (K2) with the configured dialect —
    defaults are the reference's ``;`` + ``%.2f`` (``settings.yaml:6-9``)
    — sqlite as the small-result boundary (K3), rejects side channel
    (K4). ``settings.run_freshkart_from_settings`` wires a reference
    settings file straight through to these parameters.

    The rejects sink shares no frame with the other three, so it starts
    first, as a concurrent Spark job on a worker thread that inherits the
    caller's job group, local properties and session tags. Its one
    ``coalesce(1)`` task rescans the order files on a core the daily
    chain's one-task stages leave idle. The calling thread runs the rest:
    ``orders_clean`` and ``daily_city_sales`` each feed two sinks, so both
    are cached for the duration of the write (``orders_clean`` first: the
    daily aggregate is built on it and reads its cache), then the daily
    CSV and the two SQLite tables are written in that order. The SQLite
    writes never run concurrently: a database file takes one writer at a
    time, so they stay in this thread. The caches are unpersisted when
    the chain returns or raises, and the writer then waits for the
    rejects job: an error on either side propagates, and when both fail
    the rejects error is raised with the chain's as its
    ``__context__``."""
    with ThreadPoolExecutor(max_workers=1) as pool:
        rejects = pool.submit(
            inheritable_thread_target(dfs["rejects"].sparkSession)(write_csv_dialect),
            dfs["rejects"], f"{output_dir}/rejects_items_csv", sep=sep,
            single_file=True, encoding=encoding,
        )
        try:
            with cache_scope():
                orders_clean = cached(dfs["orders_clean"])
                daily = cached(dfs["daily_city_sales"])
                write_csv_dialect(
                    daily,
                    f"{output_dir}/daily_city_sales_csv",
                    sep=sep,
                    float_cols=["items_sold", "gross_revenue_eur", "refunds_eur", "net_revenue_eur"],
                    float_format_decimals=float_format_decimals,
                    partition_by="date",
                    encoding=encoding,
                )
                write_sqlite(orders_clean, db_path, "orders_clean")
                write_sqlite(daily, db_path, "daily_city_sales")
        finally:
            rejects.result()
