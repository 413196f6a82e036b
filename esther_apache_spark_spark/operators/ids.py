"""Contiguous, deterministic ID assignment — an operator Spark lacks.

Engine extension (no reference citation). Corpus building wants dense
0..N-1 ids (shard addressing, embedding-matrix rows), but the naive
``row_number() OVER (ORDER BY ...)`` plans a SINGLE-partition window —
the whole dataset through one task — and ``zipWithUniqueId`` is
non-contiguous. The classic two-pass fix:

1. range-repartition + sort by a TOTAL order (caller must make it
   total — include a unique tiebreaker), so partition p holds exactly
   the rows ranked between partitions p-1 and p+1;
2. count rows per partition (one cheap job over the sorted layout),
   prefix-sum the counts driver-side (one tiny array);
3. a zero-shuffle ``mapInPandas`` pass adds ``offset[p] + local_pos``.

Two scans, no global sort bottleneck, ids bit-stable for a fixed
(order, partition count) — the partition count only changes WHERE rows
sit, not their rank, because ranks come from the total order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from esther_apache_spark_spark.scope import cached


def assign_contiguous_ids(
    df: DataFrame,
    order_by: list[Column],
    id_col: str = "uid",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``id_col`` = dense rank 0..N-1 under ``order_by`` (must
    be a total order for deterministic ids)."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # The cache is a CORRECTNESS barrier here, not a hint: the counts
    # job and the tagging job must see the SAME range bounds, and
    # repartitionByRange derives its bounds from a sample — two
    # independent recomputations of the lineage could split rows
    # differently and corrupt the offsets. Enrolled in the caller's
    # cache_scope; MEMORY_AND_DISK, so it spills at scale.
    d = cached(
        df.repartitionByRange(parts, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in d.schema.fields
    ) + f", {id_col} long"

    def tag(itr):
        pos = 0
        for pdf in itr:
            if len(pdf) == 0:
                yield pdf.assign(**{id_col: []})
                continue
            base = offsets[int(pdf["_pid"].iloc[0])]
            pdf = pdf.copy()
            pdf[id_col] = range(base + pos, base + pos + len(pdf))
            pos += len(pdf)
            yield pdf

    return d.mapInPandas(tag, schema).drop("_pid")
