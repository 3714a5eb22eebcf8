"""Range/interval joins and rolling-window aggregation.

Reference patterns:

- Effective-dated lookup: ``ON key = key AND ymd BETWEEN start_date AND
  end_date`` (dbt_postgres/.../searchad__insight_daily.sql:97-112).
- Rolling 30-day aggregate built as a date-spine range join
  (dbt_postgres/.../core__sold_qty_30d_daily.sql:112-115) and running
  cumsum built as a self-join
  (dbt_postgres/.../analytics__stock_report.sql:190-194).

Spark-first rewrites:

- ``effective_dated_join``: the equi-key part stays an equi-join (hash
  join, shuffle on key only) and the BETWEEN lands as a post-join
  filter; when the relation side is small (it is: effective-dated dim
  maps), broadcast it — zero shuffle of the fact side. A naive port
  would make this a BroadcastNestedLoop on the full predicate.
- ``rolling_range_agg``: ``Window.orderBy(days).rangeBetween(-k, -1)``
  over a per-key date spine — one shuffle, no O(n·m) join, strictly
  better than the reference's self-join at any scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

__all__ = ["effective_dated_join", "rolling_range_agg", "interval_overlap_join"]


def effective_dated_join(
    fact: DataFrame,
    relation: DataFrame,
    keys: Sequence[str],
    point: Column | str,
    start_col: str = "start_date",
    end_col: str = "end_date",
    how: str = "left",
    suffix: str | None = None,
) -> DataFrame:
    """Join ``fact`` to an effective-dated ``relation``.

    Matches relation rows whose [start_col, end_col] interval (inclusive)
    contains the fact's ``point`` date. The equi-keys drive the join
    strategy; the interval predicate is part of the join condition so
    non-matching intervals produce NULLs (not dropped rows) under
    ``how='left'``.

    Payload columns the relation shares with the fact are renamed with
    ``suffix`` (mirroring asof_join); without a suffix a collision
    raises instead of silently emitting a duplicate column name.
    """
    point = F.col(point) if isinstance(point, str) else point
    f, r = fact.alias("f"), broadcast(relation).alias("r")
    cond = [f[k] == r[k] for k in keys]
    cond.append(point.between(r[start_col], r[end_col]))
    joined = f.join(r, cond, how)
    payload = [c for c in relation.columns if c not in set(keys) | {start_col, end_col}]
    collisions = [c for c in payload if c in fact.columns]
    if collisions and suffix is None:
        raise ValueError(
            f"relation payload columns {collisions} collide with fact "
            "columns; pass suffix= to rename them"
        )
    keep = [f[c] for c in fact.columns] + [
        r[c].alias(c + suffix) if (suffix and c in fact.columns) else r[c]
        for c in payload
    ]
    return joined.select(*keep)


def rolling_range_agg(
    df: DataFrame,
    keys: Sequence[str],
    date_col: str,
    aggs: dict[str, Column],
    days_back: int = 30,
) -> DataFrame:
    """Per-key rolling aggregate over a trailing day window.

    For each row: aggregate over rows of the same key whose date falls
    in [date - days_back, date - 1]. Implemented as a RANGE window over
    ``datediff`` days — single shuffle on ``keys``.

    ``aggs`` maps output column name -> aggregate Column (e.g.
    ``{"qty_30d": F.sum("qty")}``).
    """
    days = F.datediff(F.col(date_col), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy(*keys)
        .orderBy(days)
        .rangeBetween(-days_back, -1)
    )
    out = df
    for name, agg in aggs.items():
        out = out.withColumn(name, agg.over(w))
    return out


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    l_start: str = "l_start",
    l_end: str = "l_end",
    r_start: str = "r_start",
    r_end: str = "r_end",
    bucket_width: int = 32,
) -> DataFrame:
    """Interval x interval overlap join (inclusive bounds) — the
    two-sided generalization of ``effective_dated_join``.

    The naive plan for ``l.start <= r.end AND r.start <= l.end`` with
    no equi-key support is a BroadcastNestedLoop / cartesian — the
    classic scale-killer. This operator grid-buckets both interval
    sets: each interval explodes into the ``bucket_width``-sized cells
    it spans, the join becomes an EQUI-join on (keys, cell), and the
    true overlap predicate filters the candidates. A pair spanning
    several shared cells would duplicate, so the join keeps only the
    FIRST shared cell (``cell == max(floor(l_start/w), floor(r_start/w))``)
    — exact dedup with no extra shuffle (the standard banding trick).

    One shuffle per side, on (keys, cell). Pick ``bucket_width`` near
    the typical interval length: the explode factor is
    ``len/width + 1`` per row, candidate quality degrades as width
    grows. Bounds are integers (days, epoch units); callers convert
    dates via ``datediff``.
    """
    keys = list(keys)

    def cells(df: DataFrame, s: str, e: str, side: str) -> DataFrame:
        w = F.lit(bucket_width)
        return df.withColumn(
            f"__{side}cell",
            F.explode(
                F.sequence(
                    F.floor(F.col(s) / w).cast("long"),
                    F.floor(F.col(e) / w).cast("long"),
                )
            ),
        )

    l = cells(left, l_start, l_end, "l").alias("l")
    r = cells(right, r_start, r_end, "r").alias("r")
    cond = [l[k] == r[k] for k in keys]
    cond.append(F.col("__lcell") == F.col("__rcell"))
    cond.append(l[l_start] <= r[r_end])
    cond.append(r[r_start] <= l[l_end])
    # first-shared-cell guard: exact pair dedup without a distinct
    cond.append(
        F.col("__lcell")
        == F.greatest(
            F.floor(l[l_start] / bucket_width).cast("long"),
            F.floor(r[r_start] / bucket_width).cast("long"),
        )
    )
    out_cols = [l[c] for c in left.columns] + [
        r[c] for c in right.columns if c not in keys
    ]
    return l.join(r, cond, "inner").select(*out_cols)
