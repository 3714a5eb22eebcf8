"""File-compaction planning (table-maintenance, Delta OPTIMIZE shape).

A 100 TB table accumulates small files (streaming micro-batches,
per-task writes); scan throughput dies on file-open overhead and
footer reads. Compaction planning is the aggregate that decides, per
partition, how many output files a rewrite should produce so every
file lands near a target size — the planner behind Delta Lake's
``OPTIMIZE``, Iceberg's ``rewrite_data_files``, and Hudi clustering.

The plan is ONE aggregation over the table (or, in production, over
the file-manifest metadata — same code, fewer rows): per partition
key, row count and an estimated byte size from row-level widths, then
integer-exact file math:

- ``n_files  = max(1, ceil(est_bytes / target_bytes))``
- ``rows_per_file = ceil(n_rows / n_files)``

Everything is `DIV`-based integer arithmetic (no doubles), so the
plan is deterministic and engine-portable. The writer consumes the
plan with ``repartitionByRange(n_files)`` inside each partition —
see sources/writers.py for the bucketed/partitioned write helpers.

Scale shape: one shuffle on the partition key with map-side partial
aggregation; output is partition-count-sized (thousands of rows for a
100 TB table). Nothing reaches the driver until the plan itself — the
one legitimately driver-sized artifact in the maintenance loop.

Reference behavioral parity: the reference's warehouse layer creates
and swaps tables (src/linkmerce/common/load.py) but has no file
layout maintenance; this fills that table-lifecycle gap Spark-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from linkmerce_spark.frames import from_rows

__all__ = [
    "plan_compaction",
    "apply_compaction",
]


def plan_compaction(
    df: DataFrame,
    part_col: Column | str,
    row_bytes: Column,
    target_bytes: int,
    part_name: str = "part_key",
) -> DataFrame:
    """Build a per-partition compaction plan.

    ``part_col`` is the partition key expression (e.g. a month
    truncation); ``row_bytes`` estimates each row's serialized width
    (a column expression — at scale this comes from manifest
    ``file_size_in_bytes`` instead). Output columns:
    ``part_name, n_rows, est_bytes, n_files, rows_per_file``.
    """
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    part = F.col(part_col) if isinstance(part_col, str) else part_col
    agg = df.select(part.alias(part_name), row_bytes.alias("_b")).groupBy(part_name).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("_b").cast("bigint").alias("est_bytes"),
    )
    # ceil(a / b) as (a + b - 1) DIV b: integer-exact in every engine
    n_files = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr(f"(est_bytes + {target_bytes} - 1) div {target_bytes}").cast("bigint"),
    )
    return agg.withColumn("n_files", n_files).select(
        part_name,
        "n_rows",
        "est_bytes",
        "n_files",
        F.expr("(n_rows + n_files - 1) div n_files").cast("bigint").alias(
            "rows_per_file"
        ),
    )


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Spark's ``hash()`` of a 32-bit int (Murmur3 x86_32, seed 42).

    Matches ``org.apache.spark.sql.catalyst.expressions.Murmur3Hash``
    on an IntegerType column, which is also what HashPartitioning uses
    to place rows: ``pmod(hash(col), numPartitions)``.
    """
    m = 0xFFFFFFFF
    k = (x * 0xCC9E2D51) & m
    k = ((k << 15) | (k >> 17)) & m
    k = (k * 0x1B873593) & m
    h = (seed & m) ^ k
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4  # total byte length of the hashed input
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _slot_magics(n: int) -> list[int]:
    """For each shuffle-partition index ``s`` in [0, n), a small int
    ``v`` with ``pmod(hash(v), n) == s``. Expected O(n ln n) probes.
    """
    magic: list[int | None] = [None] * n
    found, v = 0, 0
    while found < n:
        s = _murmur3_int(v) % n  # Python % is floored == pmod
        if magic[s] is None:
            magic[s] = v
            found += 1
        v += 1
    return magic  # type: ignore[return-value]


def apply_compaction(
    df: DataFrame,
    plan: DataFrame,
    part_col: Column | str,
    path: str,
    bucket_cols: list[str],
    part_name: str = "part_key",
) -> None:
    """Execute a ``plan_compaction`` plan: write ``df`` partitioned by
    the plan's key with exactly ``n_files`` files per partition.

    Each planned output file gets a global slot id (partition offset +
    in-partition bucket from ``xxhash64(bucket_cols) mod n_files``),
    and each slot a "magic" int whose Spark hash lands exactly on that
    shuffle-partition index — so ``repartition(T, magic)`` routes every
    file's rows to its own write task deterministically. A plain
    ``repartition(part, bucket)`` cannot promise that: AQE coalesces
    it and hash collisions merge buckets. One shuffle total; the only
    driver-side artifacts are the plan (partition-count-sized) and the
    slot map (file-count-sized) — both metadata-scale at 100 TB.
    """
    from pyspark.sql import types as T

    part = F.col(part_col) if isinstance(part_col, str) else part_col
    prows = plan.select(part_name, "n_files").collect()
    total = int(sum(r["n_files"] for r in prows))
    if total == 0:
        raise ValueError("apply_compaction: empty plan")
    magic = _slot_magics(total)
    slots, off = [], 0
    for r in prows:
        for b in range(int(r["n_files"])):
            slots.append((r[part_name], b, magic[off + b]))
        off += int(r["n_files"])
    spark = df.sparkSession
    key_field = plan.schema[part_name]
    slot_df = from_rows(
        spark,
        slots,
        T.StructType(
            [
                T.StructField(part_name, key_field.dataType),
                T.StructField("_fb", T.IntegerType()),
                T.StructField("_magic", T.IntegerType()),
            ]
        ),
    )
    # Left join + assert: a partition key present in the data but
    # absent from the plan would otherwise be dropped SILENTLY by an
    # inner join — at 100 TB that is unnoticed data loss on a rewrite.
    # The guard costs one codegen expression and fails the write loudly.
    tagged = (
        df.withColumn(part_name, part)
        .join(F.broadcast(plan.select(part_name, "n_files")), part_name, "left")
        .withColumn(
            "n_files",
            F.when(
                F.col("n_files").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("apply_compaction: partition missing from plan: "),
                        F.col(part_name).cast("string"),
                    )
                ).cast("bigint"),
            ).otherwise(F.col("n_files")),
        )
    )
    bucket = F.pmod(F.xxhash64(*bucket_cols), F.col("n_files")).cast("int")
    out = (
        tagged.withColumn("_fb", bucket)
        .join(F.broadcast(slot_df), [part_name, "_fb"])
        .repartition(total, F.col("_magic"))
        .drop("n_files", "_fb", "_magic")
    )
    out.write.mode("overwrite").partitionBy(part_name).parquet(path)
