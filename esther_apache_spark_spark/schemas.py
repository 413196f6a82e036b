"""Explicit schema registry.

The reference infers every schema (``pipeline_pyspark.py:94-98`` JSON
inference, CSV ``inferSchema=True``). At 100 TB inference is a full extra
pass over the data and nondeterministic — the engine declares
``StructType`` for every source instead (SURVEY.md §1.3 engine decision).

Two families:

- ``TESTDATA``: the driver's TPC-H-ish tables (TESTDATA.md / FIXTURES.md §2).
- FreshKart trio (orders JSON / customers CSV / refunds CSV), the
  reference's own data model (FIXTURES.md §1; DDL ``freshkartmindump.sql:14-28``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


TESTDATA: dict[str, StructType] = {
    "region": _st(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _st(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _st(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _st(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _st(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _st(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _st(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    "events": _st(
        ("event_id", LongType()),
        ("ts", TimestampType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _st(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _st(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}

TESTDATA_TABLES = tuple(TESTDATA)

# Embedding width of the testdata corpus. Spark's ArrayType carries no
# length, so the fixed width lives here as schema metadata — operators
# take it as a parameter instead of burning a driver job on
# ``df.select(size(...)).first()`` to rediscover it.
EMBEDDING_DIM = 64

# FreshKart model (reference §1.2). The nested items array-of-struct is
# the one nested type in the reference (``pipeline_pyspark.py:112-121``).
ORDER_ITEM = StructType(
    [
        StructField("sku", StringType(), True),
        StructField("qty", LongType(), True),
        StructField("unit_price", DoubleType(), True),
    ]
)

FRESHKART_ORDERS = _st(
    ("order_id", StringType()),
    ("customer_id", StringType()),
    ("channel", StringType()),
    ("created_at", StringType()),
    ("payment_status", StringType()),
    ("items", ArrayType(ORDER_ITEM)),
)

# customers.csv arrives with a dirty is_active column (truthy string
# variants) — read as string, normalize with functions.cleaning.truthy_bool
# (the reference's controle_bool UDF, ``pipeline_pyspark.py:36-45``).
FRESHKART_CUSTOMERS = _st(
    ("customer_id", StringType()),
    ("first_name", StringType()),
    ("last_name", StringType()),
    ("email", StringType()),
    ("city", StringType()),
    ("is_active", StringType()),
)

# refunds.csv: amount may arrive non-numeric → read as string, try_cast
# downstream (``pipeline_pyspark.py:105-109``).
FRESHKART_REFUNDS = _st(
    ("refund_id", StringType()),
    ("order_id", StringType()),
    ("amount", StringType()),
    ("reason", StringType()),
    ("created_at", StringType()),
)

FRESHKART = {
    "orders": FRESHKART_ORDERS,
    "customers": FRESHKART_CUSTOMERS,
    "refunds": FRESHKART_REFUNDS,
}

# Multimodal extension: media as opaque binary + typed metadata
# (engine extension; no reference citation — SURVEY.md §7 M4).
try:  # BinaryType import kept local to one place
    from pyspark.sql.types import BinaryType

    MEDIA = _st(
        ("media_id", LongType()),
        ("kind", StringType()),  # image | audio | video
        ("payload", BinaryType()),
        ("mime", StringType()),
        ("width", IntegerType()),
        ("height", IntegerType()),
        ("duration_ms", LongType()),
    )
except ImportError:  # pragma: no cover
    MEDIA = None


# events.ts precision varies by testdata generation: TIMESTAMP(NANOS)
# (which Spark's reader rejects as TimestampType — read as raw int64
# nanos via session conf spark.sql.legacy.parquet.nanosAsLong, then
# `div 1000` to micros) or plain TIMESTAMP(MICROS) (read natively).
# The footer is probed on each read to pick the branch; DuckDB oracles
# see the same file, and epoch_us() agrees with both paths.
_EVENTS_RAW = _st(
    ("event_id", LongType()),
    ("ts", LongType()),
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),
)


def _events_ts_unit(path: str) -> str:
    """Parquet time unit ('ns'/'us'/'ms') of events.ts, from the footer.
    Read on every call: the footer read is cheap, and a file rewritten
    at the same path must not answer with its predecessor's unit."""
    import glob
    import os

    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):  # spark-style directory of part files
        probe = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    field = pq.ParquetFile(probe).schema_arrow.field("ts")
    return getattr(field.type, "unit", "us")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table with its declared schema.

    Explicit schema means the parquet footer is only validated, never
    inferred into the plan; column pruning + predicate pushdown still
    apply (check ``.explain``: ``ReadSchema`` / ``PushedFilters``).
    """
    if name not in TESTDATA:
        raise KeyError(f"unknown testdata table: {name!r}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and _events_ts_unit(path) == "ns":
        from pyspark.sql import functions as F

        raw = spark.read.schema(_EVENTS_RAW).parquet(path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(TESTDATA[name]).parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA}
