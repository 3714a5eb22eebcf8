"""Slowly-changing-dimension type-2 builder from a changelog.

Reference parity: the effective-dated relation tables the dbt models
consume (searchad__insight_daily.sql:97-112 joins ``start_date <= ymd
<= end_date`` ranges; macros/mapping/core.sql ships hand-maintained
VALUES ranges). This operator BUILDS such ranges from a raw changelog —
the piece a warehouse needs upstream of every effective-dated join:
given (key, change_ts, attributes) events, emit one row per distinct
attribute regime with [effective_from, effective_to) bounds and a
current-row flag.

Spark-first shape — one shuffle total:

1. ``Window.partitionBy(keys).orderBy(ts, tiebreak)`` — the only
   exchange; everything below runs in that sorted partition.
2. Collapse no-op changes (attributes identical to the previous row)
   with a LAG-compare — the standard gaps-and-islands move, no
   self-join.
3. The first row of each regime becomes the dimension row;
   ``effective_to = LEAD(effective_from)`` (exclusive, NULL = open).

Determinism: duplicate (keys, ts) changelog rows are resolved by the
``tiebreak`` column (highest wins) before regimes are formed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["scd2_from_changelog"]


def scd2_from_changelog(
    changelog: DataFrame,
    keys: Sequence[str],
    ts: str,
    attrs: Sequence[str],
    tiebreak: str | None = None,
    collapse: bool = True,
) -> DataFrame:
    """Build a type-2 dimension: keys + attrs + effective window.

    Output columns: ``*keys, *attrs, effective_from, effective_to,
    is_current`` — ``effective_from`` inclusive, ``effective_to``
    exclusive (NULL for the open current row). With ``collapse`` (the
    default) consecutive changelog rows with identical ``attrs`` merge
    into one regime, so re-delivered unchanged snapshots don't split
    history.
    """
    keys, attrs = list(keys), list(attrs)
    df = changelog
    if tiebreak is not None:
        # one change per (keys, ts): highest tiebreak wins. The dedup
        # window's (keys, ts) clustering is satisfied by hash(keys) —
        # repartitioning on the KEYS here lets this window AND both
        # regime windows below ride ONE exchange (left implicit, Spark
        # plans hash(keys, ts) for the dedup and a second fact-sized
        # hash(keys) exchange for the regimes; guide §2.4). The sorts
        # compose too: (keys, ts, tiebreak DESC) prefixes (keys, ts).
        # On an input ALREADY hash-partitioned by the keys this adds a
        # redundant shuffle: Spark does not elide a user repartition.
        # Every caller today reads raw scans, so none pays it; skipping
        # it needs the input's outputPartitioning, i.e. a plan read in
        # a runtime module, and no runtime module imports plans/ yet.
        df = df.repartition(*[F.col(k) for k in keys])
        w_dedup = Window.partitionBy(*keys, ts).orderBy(F.col(tiebreak).desc())
        df = (
            df.withColumn("__rn", F.row_number().over(w_dedup))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    order = Window.partitionBy(*keys).orderBy(F.col(ts).asc())
    if collapse:
        same = F.lit(True)
        for a in attrs:
            prev = F.lag(F.col(a)).over(order)
            same = same & (
                (F.col(a) == prev) | (F.col(a).isNull() & prev.isNull())
            )
        is_new = F.when(
            F.row_number().over(order) == 1, F.lit(1)
        ).otherwise(F.when(same, F.lit(0)).otherwise(F.lit(1)))
    else:
        is_new = F.lit(1)
    regimes = (
        df.withColumn("__new", is_new).filter(F.col("__new") == 1).drop("__new")
    )
    lead_w = Window.partitionBy(*keys).orderBy(F.col(ts).asc())
    out = regimes.select(
        *keys,
        *attrs,
        F.col(ts).alias("effective_from"),
        F.lead(F.col(ts)).over(lead_w).alias("effective_to"),
    ).withColumn("is_current", F.col("effective_to").isNull())
    return out
