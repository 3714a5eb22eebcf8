"""Partition-aware parquet sinks: append / overwrite-where / merge.

The reference's three load modes (append, scoped overwrite, merge —
extensions/postgres.py:652-771; Airflow dual_load plugin) map onto:

- append              -> ``mode("append")`` (+ optional insert-ignore
                         anti-join for PK semantics, A8)
- overwrite (scoped)  -> dynamic partition overwrite: with
                         ``partitionOverwriteMode=dynamic`` an
                         ``insertInto``/overwrite only replaces the
                         partitions present in the incoming frame —
                         the exact semantics of the reference's
                         partitioned_table materialization
                         (dbt_postgres/macros/partitioned_tables.sql)
- merge               -> read-modify-write via operators.merge_frames
                         (full-outer rewrite; on Delta this would be
                         ``MERGE INTO``)

Partition validation mirrors the reference's guards
(partitioned_tables.sql:274-307): reject NULL partition keys and
out-of-range dates before any data is replaced.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from linkmerce_spark.operators.dedup import dedupe_keep_first
from linkmerce_spark.operators.merge import merge_frames

__all__ = ["write_append", "write_overwrite_where", "write_merge", "write_bucketed", "compact", "write_in_date_batches", "validate_partitions"]


def validate_partitions(
    df: DataFrame,
    partition_col: str,
    allowed: Sequence[str] | None = None,
) -> None:
    """Fail fast on NULL or out-of-range partition keys.

    One small aggregate job over just the partition column (column-
    pruned scan) — cheap insurance before a destructive overwrite.
    """
    stats = df.select(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col(partition_col).isNull(), 1)).alias("nulls"),
        F.collect_set(F.col(partition_col).cast("string")).alias("parts"),
    ).first()
    if stats["nulls"]:
        raise ValueError(f"{stats['nulls']} rows have NULL partition key {partition_col!r}")
    if allowed is not None:
        extra = set(stats["parts"]) - set(map(str, allowed))
        if extra:
            raise ValueError(f"partitions outside allowed set: {sorted(extra)}")


def _is_path_not_found(e: Exception) -> bool:
    """PATH_NOT_FOUND check across pyspark 4 (getCondition) and older
    (getErrorClass) error APIs."""
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(e, attr, None)
        if fn is not None:
            try:
                if fn() == "PATH_NOT_FOUND":
                    return True
                break
            except Exception:  # noqa: BLE001 — fall back to the message
                break
    return "PATH_NOT_FOUND" in str(e)


def write_append(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    keys: Sequence[str] | None = None,
    order_by: Sequence[Column | str] | None = None,
) -> None:
    """Append; with ``keys``, apply insert-ignore (ON CONFLICT DO NOTHING):
    batch-dedupe then anti-join against existing keys before writing."""
    spark = df.sparkSession
    if keys:
        df = dedupe_keep_first(df, keys, order_by)
        try:
            existing = spark.read.parquet(path).select(*keys).distinct()
            df = df.join(existing, on=list(keys), how="left_anti")
        except AnalysisException as e:
            # First write: target doesn't exist yet. ONLY PATH_NOT_FOUND
            # means "no prior data" — any other analysis error (schema
            # drift dropping a key column, corrupt metadata) must
            # propagate, or duplicates silently land in a keyed table.
            if not _is_path_not_found(e):
                raise
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_overwrite_where(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    allowed: Sequence[str] | None = None,
) -> None:
    """Dynamic partition overwrite: replace exactly the partitions present
    in ``df``, leaving all other partitions untouched."""
    validate_partitions(df, partition_by[0], allowed)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_merge(
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    matched: Mapping[str, str] | str = "source_first",
    not_matched: str = "insert_all",
    partition_by: Sequence[str] = (),
) -> None:
    """Merge-upsert into a parquet target (read-modify-write).

    Without a transactional format the rewrite is full-table; on a real
    lake deployment the target would be Delta/Iceberg and this becomes
    ``MERGE INTO`` with file-level pruning. The operator semantics
    (column verb vocabulary) are identical either way.
    """
    spark = df.sparkSession
    try:
        target = spark.read.parquet(path)
    except AnalysisException as e:
        # First write: target doesn't exist yet. ONLY PATH_NOT_FOUND
        # means "no prior data" — any other analysis error must
        # propagate, or a corrupt/unreadable target silently downgrades
        # the merge to an append and drops the matched-update semantics.
        if not _is_path_not_found(e):
            raise
        if not_matched == "do_nothing":
            # No new key is inserted, so the first write creates the
            # target empty — unpartitioned, because an empty partitioned
            # write leaves no file to read the schema back from. The
            # next merge rewrites the whole target, partitioned.
            write_append(df.limit(0), path)
        else:
            write_append(df, path, partition_by, keys)
        return
    merged = merge_frames(target, df, keys, matched, not_matched)
    staged = merged.localCheckpoint(eager=True)  # break lineage off the files being replaced
    writer = staged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    n_buckets: int = 32,
    sort_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table (co-located join layout).

    Two fact tables bucketed the same way join WITHOUT any Exchange —
    the shuffle is paid once at write time, amortized over every
    subsequent join/aggregation on the bucket key (SURVEY §4 join
    strategy; the scale lever for repeated fact-fact joins). Bucket
    count is a layout contract: both sides must match.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def compact(
    spark: SparkSession,
    path: str,
    target_mb: int = 256,
    sort_within_by: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
) -> int:
    """Rewrite a parquet location into ~target_mb files; returns the
    new file count.

    The small-files problem is the silent killer of big scans (every
    file is a task + a footer read + an object-store request); daily
    incremental appends produce thousands of slivers. ``sort_within_by``
    clusters rows inside each output file so parquet row-group min/max
    statistics prune point/range predicates on those columns — the
    poor-man's Z-order, free at rewrite time.
    """
    df = spark.read.parquet(path)
    # Portable size probe: sum file sizes via Python (local/DBFS-style
    # paths; object stores would use the FileSystem API).
    import os

    size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, f))
    n_files = max(1, -(-size // (target_mb * 1024 * 1024)))
    out = df.repartition(n_files, *(partition_by or [])) if partition_by else df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    staged = out.localCheckpoint(eager=True)  # break lineage off the files being replaced
    writer = staged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    written = 0
    for root, _dirs, files in os.walk(path):
        written += sum(1 for f in files if f.endswith(".parquet"))
    return written


def write_in_date_batches(
    df: DataFrame,
    path: str,
    date_col: str,
    batch_days: int = 7,
    partition_by: Sequence[str] | None = None,
) -> list[tuple[str, str]]:
    """Dynamic-partition-overwrite the frame in N-day committed batches.

    The reference's incremental materialization loops date batches with
    independent commits so locks/memory stay bounded and a failure
    loses at most one batch (dbt_postgres/macros/partitioned_tables.sql
    :50-101, ``batch_size`` var). Here each batch is one atomic dynamic
    partition overwrite; returns the [(start, end)] batches written.
    At 100 TB this is the difference between a 30-day backfill as one
    giant job and 5 bounded ones with per-batch retry.
    """
    import datetime as _dt

    bounds = df.select(
        F.min(F.col(date_col).cast("date")).alias("lo"),
        F.max(F.col(date_col).cast("date")).alias("hi"),
    ).first()
    if bounds["lo"] is None:
        return []
    parts = list(partition_by) if partition_by else [date_col]
    batches: list[tuple[str, str]] = []
    lo: _dt.date = bounds["lo"]
    while lo <= bounds["hi"]:
        hi = min(lo + _dt.timedelta(days=batch_days - 1), bounds["hi"])
        batch = df.filter(F.col(date_col).cast("date").between(F.lit(lo), F.lit(hi)))
        write_overwrite_where(batch, path, partition_by=parts)
        batches.append((lo.isoformat(), hi.isoformat()))
        lo = hi + _dt.timedelta(days=1)
    return batches
