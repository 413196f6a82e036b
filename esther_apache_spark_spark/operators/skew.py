"""Skew-mitigation operators (engine extension — SURVEY.md §4 "salted
aggregation only if key skew shows up").

First line of defense is AQE (``spark.sql.adaptive.skewJoin`` is on in
``session.get_spark``), which splits oversized post-shuffle partitions at
runtime. These helpers cover the cases AQE can't fix:

- a *broadcast-ineligible* join where one left key dominates → salt the
  left, replicate the right ``n_salts`` ways, join on (key, salt).
  Measured boundary (r8 planted-skew checkpoint, sf1skew = one user at
  50% of 1M events): ``OptimizeSkewedJoin`` splits the hot partition
  ONLY when both SortMergeJoin children read a shuffle stage directly.
  A build side whose DISTINCT/pre-agg groups on the join key leaves
  the final HashAggregate between the shuffle read and the join (its
  exchange IS the join-feeding shuffle), and the hot partition stays
  whole no matter the thresholds; materialize the build side
  (checkpoint / table) to restore AQE's split, broadcast it if small,
  or use ``salted_join``, which never depends on plan shape;
- a small box. AQE splits a partition only when it is MORE than
  ``skewJoin.skewedPartitionFactor`` (5) times the median partition.
  With ``shuffle.partitions`` equal to the core count, which is
  ``session.get_spark``'s default, a 50 % hot key on 4 cores lands in
  a partition of about 62 % of the rows against a 12.5 % median: 5
  times it at most, so AQE leaves it whole. Measured on 4 cores with
  the planted-skew join of ``tests/test_scale_guards.py`` (200k rows,
  half on one key, that test's lowered thresholds): no split at 4
  shuffle partitions, a split at 8, 16 and 32. On such a box
  ``salted_join`` is the only skew defence at the default width;
  raising ``spark.sql.shuffle.partitions`` restores AQE's split;
- value-retaining aggregations (``collect_list``-style) where one group's
  values overwhelm a single reducer → two-stage salted aggregate.

Salts are DETERMINISTIC (hash of stable columns, not ``rand()``) so
plans stay reproducible and re-computable under task retry — a
correctness requirement, not a style choice: a ``rand()`` salt can send
the same logical row to different reducers across retries.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def _det_salt(cols: Sequence[str], n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts): hash of the identifying
    columns. Rows with identical full tuples share a salt — harmless,
    they'd land on the same reducer anyway."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salts)).cast("int")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    n_salts: int = 8,
    how: str = "inner",
    left_id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Equi-join with the left side's hot keys spread over ``n_salts``
    reducers. The right side is replicated ``n_salts`` times (explode of
    a salt sequence) — use only when the right side is too big to
    broadcast but much smaller than the skewed left.

    ``left_id_cols`` identifies the columns that vary within a hot key
    (default: all non-join columns) — they feed the deterministic salt.
    Semantics are identical to ``left.join(right, on, how)``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (right side is replicated)")
    id_cols = list(left_id_cols or [c for c in left.columns if c not in keys])
    if not id_cols:
        raise ValueError("need at least one non-key column to derive the salt")
    l_salted = left.withColumn(_SALT, _det_salt(id_cols, n_salts))
    r_replicated = right.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return l_salted.join(r_replicated, [*keys, _SALT], how).drop(_SALT)


def salted_collect_list(
    df: DataFrame,
    keys: str | Sequence[str],
    value_col: str,
    n_salts: int = 8,
    sort_result: bool = True,
) -> DataFrame:
    """Two-stage value-retaining aggregate: per-(key, salt) partial
    collect, then per-key flatten — a hot key's values stream through
    ``n_salts`` reducers before one small final merge of ``n_salts``
    pre-built arrays (instead of all raw rows hitting one reducer).

    Returns (keys..., values array). ``sort_result`` gives a
    deterministic array order."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    partial = (
        df.withColumn(_SALT, _det_salt([value_col], n_salts))
        .groupBy(*keys, _SALT)
        .agg(F.collect_list(value_col).alias("_vals"))
    )
    merged = partial.groupBy(*keys).agg(
        F.flatten(F.collect_list("_vals")).alias("values")
    )
    if sort_result:
        merged = merged.withColumn("values", F.sort_array("values"))
    return merged
