"""Scalable global ROW_NUMBER (SURVEY W1 at cluster scale).

The reference's display-sequence columns (`lot_seq` in
dbt_postgres/models/marts/stock/analytics__stock_report.sql:269-276,
global ranks in core/naver/openapi/search/models.sql:18,44,...) are
``ROW_NUMBER() OVER (ORDER BY ...)`` — a single total order. The naive
Spark translation (`Window.orderBy(...)` with no partition) funnels the
whole dataset through ONE reducer; fine at 60k rows, fatal at 100 TB.

``global_row_number`` computes the identical dense 1-based numbering
with no single-reducer stage:

1. ``repartitionByRange`` on the ordering key — the only full-data
   shuffle, and an evenly range-balanced one (sampled boundaries).
2. ``sortWithinPartitions`` — deterministic total order inside each
   range partition (mandatory: shuffle-fetch order is otherwise
   nondeterministic across retries).
3. ``monotonically_increasing_id`` — per-partition counter in the low
   bits; within a sorted partition it is dense order without any
   further exchange (pure JVM projection, stays in codegen).
4. A tiny per-partition ``(count, min_id)`` aggregate (map-side
   combined, ~num_partitions rows to the driver) yields cumulative
   offsets; a broadcast join adds them back.

Requires a TOTAL ordering (include a unique tiebreak column) — equal
keys straddling a range boundary would otherwise get engine-dependent
numbers, which is the same caveat the reference's insertion-order
ranks carry (SURVEY §7.4).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from linkmerce_spark import memo
from linkmerce_spark.frames import from_rows

__all__ = ["global_row_number"]

_PID = "__grn_pid"
_MID = "__grn_mid"
_OFF = "__grn_offset"
_MIN = "__grn_min_mid"


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    col_name: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a dense 1-based global row number by ``order_cols``.

    Equivalent to ``ROW_NUMBER() OVER (ORDER BY order_cols)`` when the
    ordering is total, but scales: no global sort into one task.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # `ranged` feeds two jobs (the offsets collect and the final join).
    # A checkpoint, not persist(): monotonically_increasing_id() is
    # assigned exactly once, since a lost block fails loudly where an
    # evicted cache block would recompute (and renumber) a partition.
    # eager=False: the stats collect below is the first (sequential)
    # action, so materialization folds into it — one job instead of
    # two, with the identical pinning guarantee (no concurrent
    # consumer exists before that collect returns).
    ranged = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .withColumn(_PID, F.spark_partition_id())
        .withColumn(_MID, F.monotonically_increasing_id())
        .transform(memo.checkpoint, eager=False)
    )
    stats = (
        ranged.groupBy(_PID)
        .agg(F.count(F.lit(1)).alias("cnt"), F.min(_MID).alias(_MIN))
        .orderBy(_PID)
        .collect()
    )
    offset = 0
    rows = []
    for r in stats:
        rows.append((r[_PID], offset, r[_MIN]))
        offset += r["cnt"]
    offsets = from_rows(df.sparkSession, rows, f"{_PID} int, {_OFF} long, {_MIN} long")
    return (
        ranged.join(broadcast(offsets), _PID)
        .withColumn(col_name, F.col(_OFF) + (F.col(_MID) - F.col(_MIN)) + 1)
        .drop(_PID, _MID, _OFF, _MIN)
    )
