"""SparkSession factory, YAML-configurable.

The reference builds its session inline (``pipeline_pyspark.py:85-89``,
``SparkSession.builder.appName("PipelinePySpark").master("local[*]")``) and
drives paths from ``settings.yaml`` (``pipeline_pyspark.py:60-72``). We keep
the config-driven shape but centralize scale-relevant defaults:

- AQE on (runtime coalescing + skew-join handling at 100 TB),
- shuffle partitions sized to the local core count for tests (the 200
  default over-parallelizes tiny data and under-parallelizes huge data;
  a real cluster deployment overrides via ``extra_conf``),
- session timezone pinned to UTC so timestamp semantics are stable across
  engines (DuckDB oracle comparisons are UTC-naive),
- Arrow enabled for the few pandas boundaries (``toPandas``, pandas UDFs).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "esther-apache-spark-spark"


def _local_cores() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 4


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, Any] | None = None,
) -> SparkSession:
    """Build a SparkSession with scale-sane defaults, or return the live
    one untouched.

    ``master`` defaults to ``local[N]`` where N comes from
    ``$SPARK_GRAFT_CPUS`` (driver contract) or the machine's core count.
    On a real cluster pass ``master=None`` via spark-submit and these
    builder calls merge with the cluster conf.

    The arguments apply only when a session is created. A live session
    is returned as it is: ``getOrCreate`` would re-apply every builder
    conf to it, so a second caller (a CLI entry point, a tool run inside
    a test process) would silently change the shuffle width and app name
    under every query already planning on that session.
    """
    live = SparkSession._instantiatedSession  # getOrCreate's own reuse test
    if live is not None and live._sc._jsc is not None:
        return live
    cores = _local_cores()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cores),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # The driver testdata stores events.ts as TIMESTAMP(NANOS) which
        # Spark's parquet reader rejects; read the raw int64 nanos and
        # convert (schemas.load_table) — Spark timestamps are micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Files: default 128MB split size is right for big scans; keep
        # openCostInBytes small so many tiny test files still coalesce.
        .config("spark.sql.files.openCostInBytes", "1048576")
        # Floor the SCAN parallelism at the core count: a mid-sized table
        # (e.g. sf10's 0.6 GB documents.parquet) otherwise splits into
        # ceil(size/128MB) ≈ 5 partitions, and every Python-kernel stage
        # downstream (MinHash signatures, shingling, GEMM scans) runs 5-wide
        # on a 32-core box — measured as the dominant cost of the sf10 cold
        # checkpoint (r7). On a real cluster 100 TB yields orders of
        # magnitude more splits than cores, so this floor is inert there;
        # it only protects the medium-file regime.
        .config("spark.sql.files.minPartitionNum", str(cores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Reliable checkpoints (connected_components once the context has
        # a spark.checkpoint.dir, see below) are deleted once their RDD is
        # GC'd — without this the checkpoint dir grows by the full edge
        # frame every CC round until session exit.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # PySpark 4's per-API-call error-context capture does a conf
        # lookup + a JVM PySparkCurrentOrigin.set + a Python stack walk
        # on EVERY Column/DataFrame method — ~3 extra py4j round-trips
        # per call. Profiled r10: building the dedup_minhash_lsh plan
        # made 4,260 py4j commands (1.5-2.0 s of driver wall per fn()
        # call, paid in every timed bench run); 0.7 s of it was this
        # wrapper alone. Production posture: debug origin off; error
        # MESSAGES are unchanged, only the "was called from <file:line>"
        # context line disappears.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cores}]")
    # The one place SPARK_GRAFT_CHECKPOINT_DIR is read: it becomes the
    # context's checkpoint dir at startup, which connected_components
    # reads (never sets). On a cluster pass --conf spark.checkpoint.dir.
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        builder = builder.config("spark.checkpoint.dir", ckpt_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    return builder.getOrCreate()


def runtime_filter_conf(
    application_side_threshold: str = "10GB",
    creation_side_threshold: str = "10MB",
) -> dict[str, str]:
    """Conf fragment enabling Catalyst's runtime bloom-filter join
    pruning — the built-in semi-join reduction for shuffle joins whose
    build side carries a selective filter.

    At 100 TB this is the difference between shuffling the full fact
    table and shuffling only rows whose keys *might* appear on the
    filtered dim side: the optimizer injects
    ``bloom_filter_agg(xxhash64(key))`` over the (filtered) creation
    side and a ``might_contain`` filter above the application-side scan,
    which evaluates before the Exchange. No false negatives, so results
    are exact; false positives only cost shuffle bytes.

    Spark gates injection on estimated sizes: the application side must
    exceed ``applicationSideScanSizeThreshold`` (default 10 GB — always
    true for a 100 TB fact scan, never true at test scale, hence this
    helper for tests/benchmarks to lower it) and the creation side must
    be under ``creationSideThreshold``. Broadcast joins skip the bloom
    filter because the broadcast hash set already prunes exactly.

    Use with ``get_spark(extra_conf=runtime_filter_conf())`` or set on a
    live session via ``spark.conf.set`` (all three are runtime-settable).
    """
    return {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": application_side_threshold,
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": creation_side_threshold,
    }
