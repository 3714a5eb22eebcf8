"""Order-count stack: per-platform order_count intermediates, the
harmonized analytics__order_count mart, and its MoM frame.

Parity targets (semantics, not code):

- ``smartstore_order_count`` ~ smartstore__order_count
  (dbt_postgres/models/intermediate/sales/smartstore/
  smartstore__order_count.sql): dual status sources rolled to MAX per
  key, the core-overrides-smartstore precedence CASE with the 7->1,
  5->2, {6,8}->3 remap (:47-53), bundle id COALESCE(relation,
  channel-brand, '200000') (:41-45), CSV bundle explode with
  ``(string_to_array(x, ':'))[1]`` product extraction, the
  9-prefixed-product promotion (status 0 -> 3, :75-79) and the
  per-(order, option, day, product, delivery, status) quantity rollup.
- ``coupang_rfm_order_count`` ~ coupang_rfm__order_count
  (.../coupang_rfm/coupang_rfm__order_count.sql): pre-rollup of the
  sales feed by (order, option, vendor) via MAX(settlement)/SUM(qty)/
  MAX(date), bundle COALESCE(relation, vendor-brand, '200000'),
  explode with status CASE — 9-prefix at status 0 -> 6, else
  LEAST(status, 3) (:56-60) — and the final rollup.
- ``sabangnet_order_count_assemble`` ~ sabangnet__order_count
  (.../sabangnet/sabangnet__order_count.sql:86-116): bundle rows
  explode on '-'-structured option ids while NULL-bundle rows bypass
  untouched; both halves re-aggregate together.
- ``order_count_union`` + ``order_count_enrich`` ~
  analytics__order_count (dbt_postgres/models/marts/sales/
  analytics__order_count.sql): per-platform harmonization (text casts,
  the delivery_type-7 shop split, constant shop ids, typed-NULL
  product_order_id), the status-0 / nonzero-quantity gate (:76) and
  the triple LEFT dim join with COALESCE fallback labels (:79-116).
- ``order_count_mom`` ~ analytics__order_count_mom (.../
  analytics__order_count_mom.sql): TVF-calls-TVF — a ds-range frame
  whose MIN/MAX order-date windows are keyed by the constant month of
  DS_END_DATE (:44-46) unioned with a monthly-lookback frame windowed
  by each row's own month (:74-76), and the Korean day-of-week
  date-range label (:108-128). Order rows stay un-aggregated so
  ``order_id`` remains distinct-countable downstream (:84).

Scale notes
-----------
- Status rollups and order rollups are partial-agg groupBys on
  high-cardinality keys (order ids) — no skew, one shuffle each.
- Relation/channel/vendor/dim tables are broadcast; the fact is never
  shuffled for enrichment.
- The MoM windows partition by order_ym (at most interval+1 groups,
  each a calendar month of orders); they run on the already-filtered
  fact, and per-month MIN/MAX is an agg-over-window Spark executes
  with partial aggregation — no global sort.
- The bundle explode fans out by bundle size (bounded, ~1-3); all
  parsing is codegen string functions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from linkmerce_spark.marts.profit import (
    _date_range_label,
    _order_status_label,
    _profit_dim_cols,
)
from linkmerce_spark.marts.smartstore import _first_token, _gift_status

__all__ = [
    "smartstore_order_count",
    "coupang_rfm_order_count",
    "sabangnet_order_count_assemble",
    "order_count_union",
    "order_count_enrich",
    "order_count_mom",
]

UNMATCHED_PRODUCT = "200000"  # smartstore__order_count.sql:44


def smartstore_order_count(
    order_detail: DataFrame,
    rel: DataFrame,
    channel: DataFrame,
    status_smt: DataFrame,
    status_cor: DataFrame,
) -> DataFrame:
    """smartstore__order_count: precedence-resolved status + bundle
    explode + rollup.

    Inputs (already date-windowed by the caller):
    - order_detail: order_id, product_order_id, option_id, channel_seq,
      delivery_type, order_quantity, payment_dt
    - rel: option_id, bundle_product_ids
    - channel: channel_seq, brand_id
    - status_smt: product_order_id, order_status (raw, MAXed here)
    - status_cor: order_id, order_status (raw, MAXed here)
    """
    smt = status_smt.groupBy("product_order_id").agg(
        F.max("order_status").alias("status_smt")
    )
    cor = status_cor.groupBy("order_id").agg(F.max("order_status").alias("status_cor"))
    resolved = (
        F.when(F.col("status_cor").isNotNull(), F.col("status_cor"))
        .when(F.col("status_smt") == 7, F.lit(1))
        .when(F.col("status_smt") == 5, F.lit(2))
        .when(F.col("status_smt").isin(6, 8), F.lit(3))
        .otherwise(F.lit(0))
    )
    bundled = (
        order_detail.join(broadcast(rel), "option_id", "left")
        .join(broadcast(channel), "channel_seq", "left")
        .join(smt, "product_order_id", "left")
        .join(cor, "order_id", "left")
        .select(
            "order_id",
            "product_order_id",
            F.coalesce(
                "bundle_product_ids", "brand_id", F.lit(UNMATCHED_PRODUCT)
            ).alias("bundle_product_ids"),
            resolved.alias("order_status"),
            F.when(F.col("delivery_type") == 7, F.lit(7))
            .otherwise(F.lit(0))
            .alias("delivery_type"),
            F.coalesce("order_quantity", F.lit(0)).alias("order_quantity"),
            F.col("payment_dt").cast("date").alias("order_date"),
        )
    )
    exploded = bundled.select(
        "*", F.explode(F.split("bundle_product_ids", ",")).alias("bundle_product")
    ).select(
        "order_id",
        "product_order_id",
        _first_token("bundle_product", ":").alias("product_id"),
        _gift_status("bundle_product", 3).alias("order_status"),
        "delivery_type",
        "order_quantity",
        "order_date",
    )
    return exploded.groupBy(
        "order_id",
        "product_order_id",
        "order_date",
        "product_id",
        "delivery_type",
        "order_status",
    ).agg(F.sum("order_quantity").alias("order_quantity"))


def coupang_rfm_order_count(
    sales: DataFrame, rel: DataFrame, vendor: DataFrame
) -> DataFrame:
    """coupang_rfm__order_count: feed pre-rollup, bundle fallback chain,
    LEAST-capped status with the 9-prefix -> 6 promotion.

    sales: order_id, option_id, vendor_id, settlement_type,
    order_quantity, sales_date (already week-windowed by the caller).
    """
    rocket = sales.groupBy("order_id", "option_id", "vendor_id").agg(
        F.max("settlement_type").alias("order_status"),
        F.sum("order_quantity").alias("order_quantity"),
        F.max("sales_date").alias("sales_date"),
    )
    bundled = (
        rocket.join(broadcast(rel), "option_id", "left")
        .join(broadcast(vendor), "vendor_id", "left")
        .filter(F.col("order_quantity") != 0)
        .select(
            "order_id",
            F.coalesce(
                "bundle_product_ids", "bundle_brand_ids", F.lit(UNMATCHED_PRODUCT)
            ).alias("bundle_product_ids"),
            "order_status",
            "order_quantity",
            F.col("sales_date").alias("order_date"),
        )
    )
    exploded = bundled.select(
        "*", F.explode(F.split("bundle_product_ids", ",")).alias("bundle_product")
    ).select(
        "order_id",
        _first_token("bundle_product", ":").alias("product_id"),
        _gift_status("bundle_product", 6, F.least("order_status", F.lit(3))).alias(
            "order_status"
        ),
        "order_quantity",
        "order_date",
    )
    return exploded.groupBy("order_id", "order_date", "product_id", "order_status").agg(
        F.sum("order_quantity").alias("order_quantity")
    )


def sabangnet_order_count_assemble(bundle_product_order: DataFrame) -> DataFrame:
    """sabangnet__order_count steps 3-4: NULL-bundle rows bypass while
    bundle rows explode ('-'-structured ids), both re-aggregated.

    Input columns: order_id, product_order_id, shop_id, product_id,
    bundle_option_ids, order_status, order_quantity, order_date.
    """
    passthrough = bundle_product_order.filter(
        F.col("bundle_option_ids").isNull()
    ).select(
        "order_id",
        "product_order_id",
        "shop_id",
        "product_id",
        "order_status",
        "order_quantity",
        "order_date",
    )
    exploded = (
        bundle_product_order.filter(F.col("bundle_option_ids").isNotNull())
        .select(
            "*",
            F.explode(F.split("bundle_option_ids", ",")).alias("bundle_option"),
        )
        .select(
            "order_id",
            "product_order_id",
            "shop_id",
            _first_token("bundle_option", "-").alias("product_id"),
            "order_status",
            "order_quantity",
            "order_date",
        )
    )
    return (
        passthrough.unionByName(exploded)
        .groupBy(
            "order_id",
            "product_order_id",
            "order_date",
            "product_id",
            "shop_id",
            "order_status",
        )
        .agg(F.sum("order_quantity").alias("order_quantity"))
    )


def order_count_union(
    sbn: DataFrame, smt: DataFrame, cpg: DataFrame
) -> DataFrame:
    """analytics__order_count harmonization + gate (:21-77).

    sbn carries its own shop_id; smt splits on delivery_type 7; cpg is
    the constant shop9001 with a typed-NULL product_order_id.
    """
    smt_h = smt.select(
        F.col("order_id").cast("string").alias("order_id"),
        F.col("product_order_id").cast("string").alias("product_order_id"),
        F.when(F.col("delivery_type") == 7, F.lit("shop9000"))
        .otherwise(F.lit("shop0055"))
        .alias("shop_id"),
        "product_id",
        "order_status",
        "order_quantity",
        "order_date",
    )
    cpg_h = cpg.select(
        F.col("order_id").cast("string").alias("order_id"),
        F.lit(None).cast("string").alias("product_order_id"),
        F.lit("shop9001").alias("shop_id"),
        "product_id",
        "order_status",
        "order_quantity",
        "order_date",
    )
    sbn_h = sbn.select(
        "order_id",
        "product_order_id",
        "shop_id",
        "product_id",
        "order_status",
        "order_quantity",
        "order_date",
    )
    u = sbn_h.unionByName(smt_h).unionByName(cpg_h)
    return u.filter((F.col("order_status") == 0) & (F.col("order_quantity") != 0))


def order_count_enrich(
    fact: DataFrame, item: DataFrame, shop: DataFrame
) -> DataFrame:
    """analytics__order_count dim join with COALESCE fallback labels
    (:79-116); status labels come from the shared mapping macro."""
    dash = F.lit("-")
    enriched = (
        fact.alias("f")
        .join(broadcast(item.alias("item")), F.col("f.product_id") == F.col("item.product_id"), "left")
        .join(broadcast(shop.alias("shop")), F.col("f.shop_id") == F.col("shop.shop_id"), "left")
    )
    return enriched.select(
        F.col("f.order_id").alias("order_id"),
        F.col("f.product_order_id").alias("product_order_id"),
        F.col("f.product_id").alias("product_id"),
        *_profit_dim_cols(),
        F.col("f.shop_id").alias("shop_id"),
        F.coalesce("shop.shop_group", dash).alias("shop_group"),
        F.coalesce("shop.shop_alias", dash).alias("shop_name"),
        _order_status_label().alias("order_status"),
        F.col("f.order_quantity").alias("order_quantity"),
        F.col("f.order_date").alias("order_date"),
    )


def _month_floor_col(c: Column) -> Column:
    return F.trunc(c, "month")


def order_count_mom(
    fact_fn: Callable[[str, str], DataFrame],
    ds_start: str,
    ds_end: str,
    interval_month: int,
) -> DataFrame:
    """analytics__order_count_mom: the ds-range frame + the monthly
    lookback frame, un-aggregated, with the Korean date-range label.

    ``fact_fn(start, end)`` produces the enriched order_count frame for
    a date window (the TVF-calls-TVF shape).
    """
    import datetime as _dt

    end = _dt.date.fromisoformat(ds_end)
    end_month_first = end.replace(day=1)
    # date_trunc('month', end - interval 'N months'); Postgres interval
    # arithmetic shifts the month then truncates.
    total = (end_month_first.year * 12 + end_month_first.month - 1) - interval_month
    lb_start = _dt.date(total // 12, total % 12 + 1, 1)
    lb_end = end_month_first - _dt.timedelta(days=1)

    ds_frame = fact_fn(ds_start, ds_end)
    # The reference windows by the CONSTANT month of DS_END_DATE — a
    # global MIN/MAX. A constant-keyed window would drag every row to
    # one reducer; an aggregate + broadcast cross-join is the same
    # result with partial aggregation.
    bounds = ds_frame.agg(
        F.min("order_date").alias("order_start_date"),
        F.max("order_date").alias("order_end_date"),
    )
    ds_frame = ds_frame.crossJoin(broadcast(bounds)).withColumn(
        "order_ym", F.lit(end_month_first)
    )
    lb_frame = fact_fn(lb_start.isoformat(), lb_end.isoformat())
    w_month = Window.partitionBy(_month_floor_col(F.col("order_date")))
    lb_frame = lb_frame.select(
        "*",
        F.min("order_date").over(w_month).alias("order_start_date"),
        F.max("order_date").over(w_month).alias("order_end_date"),
        _month_floor_col(F.col("order_date")).alias("order_ym"),
    )
    fact = ds_frame.unionByName(lb_frame).drop("order_date")
    keep = [c for c in fact.columns if c not in ("order_start_date", "order_end_date", "order_ym")]
    return fact.alias("f").select(
        *[F.col(f"f.{c}").alias(c) for c in keep],
        F.col("f.order_ym").alias("order_ym"),
        F.col("f.order_start_date").alias("order_start_date"),
        F.col("f.order_end_date").alias("order_end_date"),
        _date_range_label().alias("order_date_range"),
    )
