"""Sink operators K1-K5 (SURVEY.md §2.2).

The reference exports by collecting tiny aggregates to pandas and
looping (``pipeline_pyspark.py:186-222``). The engine keeps that shape
only as an explicit small-result boundary (``write_sqlite``) and provides
distributed writers for everything else — at 100 TB output must never
transit the driver.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_csv_dialect(
    df: DataFrame,
    path: str,
    sep: str = ";",
    float_cols: Sequence[str] = (),
    float_format_decimals: int = 2,
    header: bool = True,
    partition_by: str | None = None,
    single_file: bool = False,
    encoding: str = "utf-8",
) -> None:
    """K1/K2 — CSV export with dialect control.

    The reference formats floats ``%.2f`` and uses ``;`` (``settings.yaml:6-9``,
    ``pipeline_pyspark.py:201-222``). Formatting happens at projection time
    (``format_number``-style) so the distributed writer emits final bytes —
    no pandas loop. ``partition_by`` gives the per-date file layout (K2)
    natively via ``partitionBy``. ``single_file=True`` writes one file
    through ``coalesce(1)``, which is narrow: the whole upstream scan
    collapses into that one task (no shuffle, no parallel read) and the
    rows land in partition order.
    """
    out = df
    for c in float_cols:
        # format_number inserts thousands separators; use printf for %.2f.
        # Cast first: Java's %f rejects integral types (f != java.lang.Long).
        out = out.withColumn(
            c,
            F.printf(
                F.lit(f"%.{float_format_decimals}f"), F.col(c).cast("double")
            ),
        )
    writer = out.coalesce(1).write if single_file else out.write
    writer = (
        writer.mode("overwrite")
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("encoding", encoding)
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.csv(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_by: str | Sequence[str]
) -> None:
    """K2 — partitioned-by-value layout, the scale-native form of the
    reference's per-date CSV loop (``pipeline_pyspark.py:201-203``)."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: str | Sequence[str],
    n_buckets: int = 32,
    sort_by: str | Sequence[str] | None = None,
) -> None:
    """Bucketed managed table — the co-located-join primitive.

    Two tables bucketed (and sorted) on their join key by the same
    bucket count join WITHOUT a shuffle: each bucket pair streams through
    a sort-merge join directly. At 100 TB this turns the recurring
    fact⋈fact join from a full network shuffle into a local merge — pay
    the partitioning once at write time, reuse it every query.
    (Engine extension; the reference's analog is the btree index comment
    in freshkartmindump.sql:30-32.)"""
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *cols)
    if sort_by is not None:
        sort_cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_sqlite(df: DataFrame, db_path: str, table: str) -> None:
    """K3 — SQLite table sink with overwrite semantics.

    Reference: ``pipeline_pyspark.py:197-199`` (``to_sql(if_exists="replace")``).
    Deliberately a driver-side boundary — only for final small aggregates
    (C4 policy); large outputs use JDBC/parquet writers.
    """
    pdf = df.toPandas()
    with sqlite3.connect(db_path) as conn:
        pdf.to_sql(table, conn, if_exists="replace", index=False)


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "overwrite",
               properties: dict[str, str] | None = None) -> None:
    """K3 (distributed form) — JDBC writer for RDBMS sinks at scale."""
    df.write.mode(mode).jdbc(url, table, properties=properties or {})


def write_text(df: DataFrame, path: str) -> None:
    """K5 — text sink (reference RDD ``saveAsTextFile``,
    ``tuto_rdd_pyspark(2).ipynb:626``)."""
    df.write.mode("overwrite").text(path)


def quarantine_split(df: DataFrame, reject_predicate: Column) -> tuple[DataFrame, DataFrame]:
    """K4 — data-quality side channel: (clean, rejects).

    Reference quarantines negative unit prices to ``rejects_items.csv``
    and keeps ``>= 0`` rows (``pipeline_pyspark.py:123-131``). NULLs in the
    predicate fall into neither side there; we preserve exact semantics:
    rejects = predicate true, clean = negation true (SQL three-valued
    logic drops predicate-NULL rows from both, as the reference does).
    """
    rejects = df.filter(reject_predicate)
    clean = df.filter(~reject_predicate)
    return clean, rejects


def write_orc(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """ORC sink, optionally value-partitioned (K2 layout on ORC)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.orc(path)


def write_json_lines(df: DataFrame, path: str) -> None:
    """Newline-delimited JSON sink (splittable interchange format)."""
    df.write.mode("overwrite").json(path)


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    partition_by: str | Sequence[str],
    cluster_by: str | Sequence[str],
    max_records_per_file: int | None = None,
) -> None:
    """Layout-optimized parquet: value-partitioned directories (K2) with
    rows CLUSTERED inside each file via ``sortWithinPartitions`` — no
    global sort, no extra shuffle beyond the repartition, but parquet
    row-group min/max stats become tight on the cluster keys, so readers
    filtering on them skip whole row groups (the poor man's Z-order, and
    the layout that matters most at 100 TB: partition pruning on the
    partition key + stats pruning on the cluster key).
    ``max_records_per_file`` caps file size so a skewed partition value
    can't produce one giant file."""
    pb = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    cb = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    out = df.repartition(*[F.col(c) for c in pb]).sortWithinPartitions(
        *[F.col(c) for c in (pb + cb)]
    )
    w = out.write.mode("overwrite").partitionBy(*pb)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)

def zorder_value(cols: list, mins: list[float], maxs: list[float], bits: int = 16):
    """Z-order (Morton) code column: each input column is linearly
    quantized to ``bits`` levels over its [min, max] range, then the
    bit-planes of all columns are interleaved — so files that are
    contiguous in z-value are simultaneously tight on EVERY input
    column's min/max stats. Linear quantization keeps the whole code a
    JVM expression (no global rank window, which would single-partition
    the sort at scale); heavy skew in a column degrades its pruning
    resolution but never correctness — stats pruning is always safe.
    """
    n = len(cols)
    # The interleaved code must fit a SIGNED 64-bit long: the highest
    # shift is (bits-1)*n + n-1 = bits*n - 1, which must stay <= 62
    # (bit 63 is the sign — a set sign bit would range-partition
    # "large" codes BEFORE small ones and invert the layout; shifts
    # >= 64 silently wrap, aliasing high bit-planes onto low bits).
    # Clamp per-column resolution instead of failing: 4 cols -> 15
    # bits each, 5 cols -> 12, ... Resolution loss only coarsens
    # pruning granularity, never correctness.
    bits = min(bits, 62 // n)
    if bits < 1:
        raise ValueError(f"too many z-order columns ({n}) for a 64-bit code")
    levels = (1 << bits) - 1
    qs = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = (hi - lo) or 1.0
        q = F.least(
            F.greatest(
                F.floor((c.cast("double") - F.lit(float(lo))) / F.lit(span) * levels),
                F.lit(0),
            ),
            F.lit(levels),
        ).cast("long")
        qs.append(q)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, q in enumerate(qs):
            bit = F.shiftright(q, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + d))
    return z


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    zorder_by: Sequence[str],
    num_files: int,
    bits: int = 16,
) -> None:
    """Z-order-clustered parquet layout: range-partition and sort the
    table by the Morton interleave of ``zorder_by`` — the multi-column
    generalization of ``write_range_partitioned_parquet``. A single-key
    range layout makes per-file min/max stats disjoint on ONE column;
    z-ordering makes them tight on ALL the listed columns at once, so a
    selective predicate on ANY of them prunes most files. This is the
    layout move for 100 TB fact tables queried along several axes
    (e.g. lineitem by part AND by supplier): one sampled range shuffle
    at write time buys stats pruning on every z-order key forever
    after. Column ranges for quantization come from one tiny min/max
    aggregate (driver-side scalars, not a rank window)."""
    zcols = list(zorder_by)
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_lo_{c}") for c in zcols],
        *[F.max(F.col(c).cast("double")).alias(f"_hi_{c}") for c in zcols],
    ).first()
    mins = [stats[f"_lo_{c}"] for c in zcols]
    maxs = [stats[f"_hi_{c}"] for c in zcols]
    z = zorder_value([F.col(c) for c in zcols], mins, maxs, bits)
    out = (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    out.write.mode("overwrite").parquet(path)


def write_range_partitioned_parquet(
    df: DataFrame, path: str, order_by: str, num_files: int
) -> None:
    """Globally range-ordered parquet layout: ``repartitionByRange`` puts
    disjoint key ranges in separate files (Spark samples the key to pick
    balanced bounds), ``sortWithinPartitions`` orders rows inside each.
    The result is a layout whose per-file min/max stats are PAIRWISE
    DISJOINT on the order key — a range predicate then prunes to the one
    or two files that can match, which on 100 TB turns a full-corpus
    scan into a few-file read. Costs one sampled range shuffle at write
    time; the write is the once-per-dataset price for every later read.
    (Contrast write_clustered_parquet: that clusters within value
    partitions; this orders the WHOLE table on one key.)"""
    out = df.repartitionByRange(num_files, F.col(order_by)).sortWithinPartitions(
        F.col(order_by)
    )
    out.write.mode("overwrite").parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int,
    order_by: str | None = None,
) -> None:
    """Small-file compaction (the maintenance job every long-lived
    streaming/incremental sink needs): rewrite a parquet dataset into
    ``target_files`` right-sized files. foreachBatch appends and
    per-partition incremental writes accumulate kilobyte files whose
    open/footer overhead eventually dominates scans — at 100 TB a
    10k-file directory that should be 100 files reads ~10× slower.
    ``coalesce`` (no shuffle) when shrinking suffices — but coalesce
    cannot INCREASE the file count, so when ``target_files`` exceeds the
    source's current partition count we use ``repartition`` (one round-
    robin shuffle) instead; pass ``order_by`` to invest one range
    shuffle and come out with disjoint min/max stats as well
    (write_range_partitioned_parquet's layout).
    The rewrite stages into ``path + '.compact'``, then swaps via
    rename-aside: the old directory is renamed to ``path + '.old'``
    BEFORE the staged copy is renamed into place, so at every instant a
    complete copy of the data exists under a well-known name — a crash
    between the two renames leaves ``path + '.old'`` (and possibly the
    staged copy) intact rather than leaving the canonical path empty."""
    import shutil

    df = spark.read.parquet(path)
    staged = path.rstrip("/") + ".compact"
    old = path.rstrip("/") + ".old"
    if order_by is not None:
        out = df.repartitionByRange(target_files, F.col(order_by)).sortWithinPartitions(
            F.col(order_by)
        )
    elif df.rdd.getNumPartitions() < target_files:
        out = df.repartition(target_files)
    else:
        out = df.coalesce(target_files)
    out.write.mode("overwrite").parquet(staged)
    shutil.rmtree(old, ignore_errors=True)
    shutil.move(path, old)
    shutil.move(staged, path)
    shutil.rmtree(old)


def write_sized_shards(
    df: DataFrame,
    path: str,
    order_key: str,
    records_per_file: int,
    fmt: str = "parquet",
    salt: str = "epoch0",
) -> None:
    """Training-export sink: fixed-size shards in a deterministic
    pseudo-random order. Rows get shuffle positions
    (``sampling.shuffle_positions`` — md5-bucket order, two-pass
    contiguous ids, no single-partition window), are range-partitioned
    by position so shard boundaries align with file boundaries, and
    ``maxRecordsPerFile`` caps every output file at
    ``records_per_file`` rows. The result: ``ceil(N / records_per_file)``
    files, each internally ordered by position, reproducible across
    clusters and runs for a fixed salt — what a training job wants to
    stream shard-by-shard. ``fmt`` is ``parquet`` or ``json`` (JSONL)."""
    from esther_apache_spark_spark.operators.sampling import shuffle_positions

    positioned = shuffle_positions(df, order_key, salt=salt, id_col="position")
    n_shards = max(
        1, -(-positioned.count() // records_per_file)  # ceil div
    )
    writer = (
        positioned.repartitionByRange(n_shards, "position")
        .sortWithinPartitions("position")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", records_per_file)
    )
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported shard format: {fmt!r}")


# ---------------------------------------------------------------------------
# Atomic publish: manifest-commit protocol for batch sinks.
# ---------------------------------------------------------------------------

_MANIFEST = "_MANIFEST.json"


def _crash_hook(stage: str) -> None:
    """Crash-injection point for the publish protocol tests: when
    $SPARK_GRAFT_CRASH_AT names this stage, die like a killed executor
    (no cleanup, no atexit). Inert in production (env var unset)."""
    import os as _os

    if _os.environ.get("SPARK_GRAFT_CRASH_AT") == stage:
        _os._exit(137)


def _fsync_path(p: str) -> None:
    import os as _os

    fd = _os.open(p, _os.O_RDONLY)
    try:
        _os.fsync(fd)
    finally:
        _os.close(fd)


def _write_manifest(version_dir: str) -> None:
    """Enumerate the staged dataset and fsync a manifest beside it: the
    manifest's presence + file/size agreement is the commit record — a
    version directory without a valid manifest is garbage by definition."""
    import json as _json
    import os as _os

    files = {}
    for root, _dirs, names in _os.walk(version_dir):
        for name in sorted(names):
            if name == _MANIFEST or name.startswith("."):
                continue
            full = _os.path.join(root, name)
            files[_os.path.relpath(full, version_dir)] = _os.path.getsize(full)
    mpath = _os.path.join(version_dir, _MANIFEST)
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        _json.dump({"files": files}, f, sort_keys=True)
        f.flush()
        _os.fsync(f.fileno())
    _os.replace(tmp, mpath)
    _fsync_path(version_dir)  # persist the directory entry itself


def manifest_valid(version_dir: str) -> bool:
    """True iff the manifest exists and every listed file exists with
    the recorded size (a torn copy or partial write fails the check)."""
    import json as _json
    import os as _os

    mpath = _os.path.join(version_dir, _MANIFEST)
    if not _os.path.isfile(mpath):
        return False
    try:
        with open(mpath) as f:
            manifest = _json.load(f)
    except (OSError, ValueError):
        return False
    for rel, size in manifest.get("files", {}).items():
        full = _os.path.join(version_dir, rel)
        if not _os.path.isfile(full) or _os.path.getsize(full) != size:
            return False
    return True


def publish_parquet_atomic(df: DataFrame, path: str) -> str:
    """Atomic-publish parquet sink (manifest-commit protocol,
    generalizing ``compact_parquet``'s rename-aside): at EVERY instant,
    a reader of ``path`` sees either the previous complete dataset or
    the new complete dataset — never a half-written directory, even if
    the writer is SIGKILLed at any point (crash-injection tested).

    Protocol (local/POSIX implementation):
      1. stage:   write the dataset into ``<path>.versions/v<N>``
                  (invisible to readers);
      2. commit:  fsync a ``_MANIFEST.json`` (file list + sizes) inside
                  the version dir — a version without a valid manifest
                  is garbage by definition, never eligible for reads;
      3. publish: atomically repoint ``path`` (a symlink) at the new
                  version via symlink + rename(2) — POSIX guarantees
                  rename atomicity, so no reader can observe an absent
                  or partial canonical path;
      4. prune:   drop all versions except the new one and its
                  predecessor (kept for rollback/in-flight readers).

    On an object store the same protocol holds with the symlink replaced
    by a pointer object (small JSON naming the current version prefix)
    — step 3 becomes one PUT, which S3/GCS make atomic per-key. Returns
    the published version directory.

    For MULTI-table state with append deltas, concurrent writers, and
    arbitrary version pinning (the incremental dedup index), use
    ``sources/index_store.py`` — this sink is the single-dataset,
    full-replace publish for pipeline outputs."""
    import os as _os

    versions_root = path.rstrip("/") + ".versions"
    _os.makedirs(versions_root, exist_ok=True)
    existing = sorted(
        int(d[1:]) for d in _os.listdir(versions_root)
        if d.startswith("v") and d[1:].isdigit()
    )
    n = (existing[-1] + 1) if existing else 1
    version_dir = _os.path.join(versions_root, f"v{n:06d}")

    # 1. stage
    df.write.mode("overwrite").parquet(version_dir)
    _crash_hook("after_stage")

    # 2. commit (manifest + fsync)
    _write_manifest(version_dir)
    _crash_hook("after_manifest")

    # 3. publish (atomic pointer swap)
    if _os.path.isdir(path) and not _os.path.islink(path):
        raise ValueError(
            f"{path} exists as a real directory — migrate it into the "
            f"versioned layout first (move it to {versions_root}/v000001 "
            "with a manifest), then publish"
        )
    tmp_link = _os.path.join(versions_root, f".link-v{n:06d}")
    if _os.path.lexists(tmp_link):
        _os.unlink(tmp_link)
    _os.symlink(_os.path.abspath(version_dir), tmp_link)
    _crash_hook("before_swap")
    _os.replace(tmp_link, path)  # rename(2): atomic
    _fsync_path(_os.path.dirname(_os.path.abspath(path)) or ".")
    _crash_hook("after_swap")

    # 4. prune (keep the predecessor for rollback / in-flight readers)
    import shutil as _shutil

    for old_n in existing[:-1]:
        _shutil.rmtree(
            _os.path.join(versions_root, f"v{old_n:06d}"), ignore_errors=True
        )
    return version_dir


def read_published(spark: SparkSession, path: str) -> DataFrame:
    """Read the currently published version, refusing torn data: the
    canonical pointer must resolve to a version whose manifest
    validates. (A crashed publish can never make this fail — the
    pointer swap is atomic and only ever targets a committed version.)"""
    import os as _os

    target = _os.path.realpath(path)
    if not manifest_valid(target):
        raise FileNotFoundError(
            f"{path} does not point at a manifest-valid dataset"
        )
    return spark.read.parquet(target)


def recover_publish(path: str) -> str | None:
    """Crash recovery / GC for the publish protocol: delete version
    directories whose manifest does not validate (torn stage writes),
    UNLESS currently published; if the canonical pointer is missing or
    dangling but a committed version exists, repoint it at the newest
    one. Returns the published version dir (None when nothing is
    publishable). Idempotent."""
    import os as _os
    import shutil as _shutil

    versions_root = path.rstrip("/") + ".versions"
    if not _os.path.isdir(versions_root):
        return None
    current = _os.path.realpath(path) if _os.path.lexists(path) else None
    valid: list[str] = []
    for d in sorted(_os.listdir(versions_root)):
        if not (d.startswith("v") and d[1:].isdigit()):
            if d.startswith(".link-"):  # orphaned pre-swap symlink
                _os.unlink(_os.path.join(versions_root, d))
            continue
        vdir = _os.path.join(versions_root, d)
        if manifest_valid(vdir):
            valid.append(vdir)
        elif _os.path.realpath(vdir) != current:
            _shutil.rmtree(vdir, ignore_errors=True)
    if not valid:
        return None
    newest = valid[-1]
    pointer_ok = (
        _os.path.lexists(path)
        and _os.path.isdir(_os.path.realpath(path))
        and manifest_valid(_os.path.realpath(path))
    )
    if not pointer_ok:
        tmp_link = _os.path.join(versions_root, ".link-recover")
        if _os.path.lexists(tmp_link):
            _os.unlink(tmp_link)
        _os.symlink(_os.path.abspath(newest), tmp_link)
        _os.replace(tmp_link, path)
        return newest
    return _os.path.realpath(path)


def sqlite_upsert_batch(
    db_path: str,
    table: str,
    key_cols: Sequence[str],
    all_cols: Sequence[str],
    rows: Sequence[Sequence],
    batch_id: int,
) -> bool:
    """Idempotent per-micro-batch upsert into SQLite — the driver-side
    half of `stream_upsert_sqlite`, module-level so the exactly-once
    contract is directly testable. Returns False (no-op) when
    ``batch_id`` was already applied to ``table``: foreachBatch gives
    at-least-once delivery after a restart, and this ledger turns it
    into exactly-once because the data upsert and the ledger insert
    commit in ONE SQLite transaction — either both land or neither."""
    con = sqlite3.connect(db_path)
    try:
        con.execute("BEGIN IMMEDIATE")
        con.execute(
            "CREATE TABLE IF NOT EXISTS _applied_batches("
            "table_name TEXT NOT NULL, batch_id INTEGER NOT NULL, "
            "PRIMARY KEY (table_name, batch_id))"
        )
        seen = con.execute(
            "SELECT 1 FROM _applied_batches WHERE table_name=? AND batch_id=?",
            (table, int(batch_id)),
        ).fetchone()
        if seen:
            con.rollback()
            return False
        cols_sql = ", ".join(f'"{c}"' for c in all_cols)
        pk_sql = ", ".join(f'"{c}"' for c in key_cols)
        con.execute(
            f'CREATE TABLE IF NOT EXISTS "{table}" ('
            + ", ".join(f'"{c}"' for c in all_cols)
            + f", PRIMARY KEY ({pk_sql}))"
        )
        upd = ", ".join(
            f'"{c}"=excluded."{c}"' for c in all_cols if c not in key_cols
        )
        ph = ", ".join("?" for _ in all_cols)
        con.executemany(
            f'INSERT INTO "{table}" ({cols_sql}) VALUES ({ph}) '
            f"ON CONFLICT ({pk_sql}) DO UPDATE SET {upd}",
            [tuple(r) for r in rows],
        )
        con.execute(
            "INSERT INTO _applied_batches (table_name, batch_id) VALUES (?, ?)",
            (table, int(batch_id)),
        )
        con.commit()
        return True
    except BaseException:
        con.rollback()
        raise
    finally:
        con.close()


def stream_upsert_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    key_cols: Sequence[str],
    checkpoint_dir: str,
):
    """Streaming → RDBMS upsert with an exactly-once contract:
    ``foreachBatch`` keyed-merge into SQLite (K3's streaming twin).
    Structured Streaming replays a micro-batch after a crash between
    sink write and checkpoint commit — at-least-once at the sink — so
    each batch's data lands in the SAME transaction as a
    (table, batch_id) ledger row; the replay sees the ledger entry and
    no-ops (`sqlite_upsert_batch`). Keyed upsert makes per-key updates
    idempotent within the batch too (last write per key wins via the
    update-mode aggregation upstream).

    Small-result boundary, explicitly: each micro-batch is collected on
    the driver (same contract as `write_sqlite`) — correct for the
    keyed-aggregate states this sink is for; blob-scale streams should
    land in partitioned parquet (`stream_to_partitioned_parquet`)."""
    keys = list(key_cols)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        cols = batch.columns
        rows = [tuple(r) for r in batch.collect()]
        sqlite_upsert_batch(db_path, table, keys, cols, rows, batch_id)

    return (
        df.writeStream.foreachBatch(_apply)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
