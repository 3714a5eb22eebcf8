"""core__sales_daily: the cross-platform daily sales fact — harmonized
channel fan-in, ad-cost assignment to the highest-sales shop, and the
status-coded rollup.

Parity targets (semantics, not code) in dbt_postgres/models/
intermediate/sales/core__sales_daily.sql:

- channel harmonization (:18-84): each platform frame is projected to
  the common (product_id, shop_id, order_status, sku_quantity,
  payment_amount, supply_amount, supply_cost, delivery_fee, ad_cost,
  extra_cost, order_date) shape with typed-NULL fill — here
  ``harmonize`` + ``unionByName(allowMissingColumns)``.
- ``top_shop_daily`` (:166-202, :226-270): the highest-payment shop
  per product-day and per brand-day — Postgres
  ``DISTINCT ON (order_date, key) ... ORDER BY payment DESC, shop_id``
  with an ASC shop tiebreak for smartstore and DESC for coupang; the
  brand variant inner-joins the product master through the
  ``NULLIF(product_id, '200000')`` placeholder guard.
- ``assign_ad_shop`` (:204-222, :272-286): searchad/coupang-ads cost
  rows re-homed via COALESCE(product-day shop, brand-day shop,
  default) through LEFT joins.
- status-coded fan-in (:312-360): ad frames enter as order_status 8,
  cost frames as order_status 9, everything else NULL-filled.
- final rollup (:362-391): SUM of all seven measures grouped by
  (order_date, product_id, shop_id, order_status).

Scale notes
-----------
- ``top_shop_daily`` pre-aggregates the fact to (day, key, shop)
  cardinality BEFORE the window, so the row_number partitions are
  dim-sized (bounded by shop count), never fact-sized.
- The product master is broadcast in the brand variant and in
  ``assign_ad_shop``; the per-day shop maps join on (day, product) /
  (day, brand) — high-cardinality uniform keys.
- The final rollup is one partial-agg shuffle at
  (day, product, shop, status) grain; all seven SUMs ride the same
  exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from linkmerce_spark.operators.topk import top_k_per_group

__all__ = [
    "MEASURES",
    "harmonize",
    "top_shop_daily",
    "brand_shop_daily",
    "assign_ad_shop",
    "assign_ad_shop_tagged",
    "sales_daily_rollup",
]

UNMATCHED_PRODUCT = "200000"  # core__sales_daily.sql:197

MEASURES = (
    "sku_quantity",
    "payment_amount",
    "supply_amount",
    "supply_cost",
    "delivery_fee",
    "ad_cost",
    "extra_cost",
)
_SHAPE = ("product_id", "shop_id", "order_status", *MEASURES, "order_date")


def harmonize(df: DataFrame, order_status: int | None = None) -> DataFrame:
    """Project a channel frame onto the common sales shape, filling
    absent measures with typed NULLs (core__sales_daily.sql:18-84).

    ``order_status``: constant status for ad (8) / cost (9) frames.
    """
    cols = []
    for name in _SHAPE:
        if name == "order_status" and order_status is not None:
            cols.append(F.lit(order_status).alias(name))
        elif name in df.columns:
            cols.append(F.col(name))
        elif name in MEASURES:
            cols.append(F.lit(None).cast("long").alias(name))
        else:
            raise ValueError(f"channel frame missing required column {name!r}")
    return df.select(*cols)


def top_shop_daily(
    sales: DataFrame, key: str = "product_id", shop_asc: bool = True
) -> DataFrame:
    """Highest-payment shop per (order_date, key): pre-aggregate to
    (day, key, shop), then DISTINCT ON with payment DESC and the
    shop_id tiebreak (:166-202 ASC, :226-270 DESC)."""
    agg = sales.groupBy("order_date", key, "shop_id").agg(
        F.sum("payment_amount").alias("payment_amount")
    )
    shop_order = F.col("shop_id").asc() if shop_asc else F.col("shop_id").desc()
    return top_k_per_group(
        agg,
        ["order_date", key],
        [F.col("payment_amount").desc(), shop_order],
        k=1,
    ).select("order_date", key, "shop_id")


def brand_shop_daily(
    sales: DataFrame, product_master: DataFrame, shop_asc: bool = True
) -> DataFrame:
    """Brand-level variant: inner join through NULLIF(product_id,
    '200000') onto the product master, then top shop per brand-day."""
    pm = product_master.select(
        F.col("product_id").alias("__pm_pid"), "brand_name"
    )
    joined = sales.join(
        broadcast(pm),
        F.nullif(F.col("product_id"), F.lit(UNMATCHED_PRODUCT)) == F.col("__pm_pid"),
        "inner",
    ).select("order_date", "brand_name", "shop_id", "payment_amount")
    return top_shop_daily(joined, key="brand_name", shop_asc=shop_asc)


def assign_ad_shop(
    ads: DataFrame,
    product_master: DataFrame,
    product_daily: DataFrame,
    brand_daily: DataFrame,
) -> DataFrame:
    """Re-home ad cost to COALESCE(product-day shop, brand-day shop,
    the ad frame's own default shop) (:204-222).

    ads: product_id, shop_id, ad_cost, order_date. One channel: the
    tagged join with every row under the same constant tag.
    """
    def tag(df: DataFrame) -> DataFrame:
        return df.withColumn("__src", F.lit(0))

    return assign_ad_shop_tagged(
        tag(ads), product_master, tag(product_daily), tag(brand_daily)
    )


def assign_ad_shop_tagged(
    ads: DataFrame,
    product_master: DataFrame,
    product_daily: DataFrame,
    brand_daily: DataFrame,
) -> DataFrame:
    """``assign_ad_shop`` for SEVERAL ad channels in one pass.

    ``ads`` carries a nullable ``__src`` tag per row; ``product_daily``
    / ``brand_daily`` are the channel shop maps unioned with a
    matching ``__src`` column. A row joins only its own channel's maps
    (the tag is part of the join key; a NULL tag — an un-mapped
    channel — matches nothing and keeps its own shop), so N channels
    share ONE map join each instead of planning N copies of the
    three-join chain.

    Semantically identical to calling ``assign_ad_shop`` per channel
    with that channel's maps and unioning the results.
    """
    itm = broadcast(product_master.select(
        F.col("product_id").alias("__itm_pid"), F.col("brand_name").alias("__itm_brand")
    ))
    prd = product_daily.select(
        F.col("order_date").alias("__prd_date"),
        F.col("product_id").alias("__prd_pid"),
        F.col("shop_id").alias("__prd_shop"),
        F.col("__src").alias("__prd_src"),
    )
    # brand-day cardinality is business-bounded (brands x days x
    # channels), a strict subset of the already-broadcast product
    # master's grain — without the hint this falls to a sort-merge join
    # at every scale.
    brd = broadcast(
        brand_daily.select(
            F.col("order_date").alias("__brd_date"),
            F.col("brand_name").alias("__brd_brand"),
            F.col("shop_id").alias("__brd_shop"),
            F.col("__src").alias("__brd_src"),
        )
    )
    out = (
        ads.join(itm, ads["product_id"] == F.col("__itm_pid"), "left")
        .join(
            prd,
            (ads["order_date"] == F.col("__prd_date"))
            & (ads["product_id"] == F.col("__prd_pid"))
            & (ads["__src"] == F.col("__prd_src")),
            "left",
        )
        .join(
            brd,
            (ads["order_date"] == F.col("__brd_date"))
            & (F.col("__itm_brand") == F.col("__brd_brand"))
            & (ads["__src"] == F.col("__brd_src")),
            "left",
        )
    )
    return out.select(
        ads["product_id"],
        F.coalesce("__prd_shop", "__brd_shop", ads["shop_id"]).alias("shop_id"),
        "ad_cost",
        ads["order_date"],
    )


def sales_daily_rollup(frames: Sequence[DataFrame]) -> DataFrame:
    """UNION ALL the harmonized frames and SUM every measure at
    (order_date, product_id, shop_id, order_status) grain (:362-391)."""
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    return u.groupBy("order_date", "product_id", "shop_id", "order_status").agg(
        *[F.sum(m).alias(m) for m in MEASURES]
    )
