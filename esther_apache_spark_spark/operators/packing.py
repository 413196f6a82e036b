"""Sequence packing — concat-and-split documents into fixed-length
training sequences (engine extension; no reference counterpart).

LLM pretraining consumes fixed-length token sequences (e.g. 2k/4k/8k),
but documents have arbitrary lengths. The standard "pack by
concatenation" recipe (GPT-style): lay all documents end-to-end under a
deterministic total order, then cut the resulting token stream every
``seq_len`` tokens. Each document contributes one fragment per sequence
it overlaps; a training exporter groups fragments by ``seq_id`` and
materializes the token windows.

The whole operator is arithmetic over one number per document — its
token count — so the heavy lifting is an **exclusive prefix sum under a
total order**, which Spark lacks as a scalable primitive: the naive
``sum() OVER (ORDER BY ...)`` window plans a SINGLE partition (the
entire corpus through one task). ``exclusive_prefix_sum`` is the
classic two-pass fix, same machinery as ``ids.assign_contiguous_ids``:

1. range-repartition + sort by the total order;
2. one cheap job sums each partition's weights; the driver prefix-sums
   the per-partition totals (one tiny array — O(partitions), not
   O(rows));
3. a zero-shuffle ``mapInPandas`` pass adds ``partition_offset +
   running_local_sum``.

Token offsets are bit-stable for a fixed order regardless of partition
count, so packing is reproducible across cluster layouts — and, because
the per-document math is closed-form, the operator replays exactly in
SQL (a window cumsum) for oracle checking at test scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from esther_apache_spark_spark.scope import cached


def exclusive_prefix_sum(
    df: DataFrame,
    order_by: list[Column],
    weight_col: str,
    out_col: str = "offset",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = sum of ``weight_col`` over all rows strictly
    before this one under ``order_by`` (which the caller must make a
    TOTAL order — include a unique tiebreaker). Distributed: no global
    window, no driver-side data; only per-partition totals reach the
    driver."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Cache is a correctness barrier (same reason as assign_contiguous_ids):
    # the totals job and the tagging job must see identical range bounds,
    # and repartitionByRange samples to derive them.
    d = cached(
        df.repartitionByRange(parts, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("_pid", F.spark_partition_id())
    )
    totals = {
        r["_pid"]: int(r["w"] or 0)
        for r in d.groupBy("_pid").agg(F.sum(weight_col).alias("w")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in d.schema.fields
    ) + f", {out_col} long"

    def tag(itr):
        run = 0
        for pdf in itr:
            if len(pdf) == 0:
                yield pdf.assign(**{out_col: []})
                continue
            base = offsets[int(pdf["_pid"].iloc[0])]
            # NULL weights contribute 0 to every later offset (their own
            # offset is the running prefix) — the same semantics as the
            # SQL window SUM, which skips NULLs; a raw cumsum would
            # instead poison every later offset with NaN.
            w = pdf[weight_col].fillna(0).to_numpy(dtype="int64")
            cum = w.cumsum()
            pdf = pdf.copy()
            pdf[out_col] = base + run + (cum - w)  # exclusive: before this row
            run += int(cum[-1])
            yield pdf

    return d.mapInPandas(tag, schema).drop("_pid")


def pack_sequences(
    df: DataFrame,
    order_by: list[Column],
    len_col: str,
    seq_len: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-split packing: one output row per (sequence, document
    fragment). Input: one row per document with its token count in
    ``len_col``. Output adds:

    - ``seq_id``      — which fixed-length sequence the fragment lands in
    - ``slice_start`` — 0-based token offset of the fragment WITHIN the doc
    - ``slice_len``   — fragment length in tokens
    - ``seq_pos``     — 0-based position of the fragment WITHIN the sequence

    Every sequence except the last is exactly ``seq_len`` tokens;
    zero-length documents contribute no fragments. The fragment explode
    is guarded for first > last the same way BPE guards single-symbol
    words — ``sequence()`` with start > stop counts DOWN in Spark."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    off = exclusive_prefix_sum(
        df, order_by, len_col, out_col="_start", num_partitions=num_partitions
    )
    L = F.lit(seq_len)
    start, n = F.col("_start"), F.col(len_col)
    # Integer DIV, not float division: exact for any BIGINT offset (a
    # 100-TB token stream overflows nothing here, but float division
    # would round above 2^53).
    first = F.expr(f"_start DIV {seq_len}")
    last = F.expr(f"(_start + {len_col} - 1) DIV {seq_len}")
    frag = (
        off.filter(n > 0)
        .withColumn("seq_id", F.explode(F.sequence(first, last)))
    )
    s = F.col("seq_id")
    lo = F.greatest(start, s * L)  # global token index where fragment begins
    hi = F.least(start + n, (s + F.lit(1)) * L)
    return (
        frag.withColumn("slice_start", (lo - start).cast("long"))
        .withColumn("slice_len", (hi - lo).cast("long"))
        .withColumn("seq_pos", (lo - s * L).cast("long"))
        .drop("_start")
    )
