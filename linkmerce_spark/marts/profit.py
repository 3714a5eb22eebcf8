"""Full profit analytics stack: status-gated base fact -> monthly MoM
frame -> 19-metric unpivot -> 6-way dimension enrichment.

Parity targets (semantics, not code):
- ``profit_base`` ~ analytics__profit_base (dbt_postgres/models/marts/
  sales/analytics__profit_base.sql:17-78): per-status metric gating
  (qty/payment/supply for status 0, supply_cost for {0,2,6},
  delivery_fee for {0,1,2,5,7}, the adop9000 payment exclusion),
  margin/profit derivation, UNION ALL with the zero-padded
  extra-profit adjustment rows.
- ``profit_mom_dims`` ~ analytics__profit_mom (dbt_postgres/models/
  marts/sales/analytics__profit_mom.sql): TVF-calls-TVF with the
  ds-range aggregate (:32-51) plus the month-bucketed lookback
  aggregate (:55-77) unioned into one frame; per-shop CASE metric
  splits and roi fractions (:89-109); MIN/MAX order-date window per
  order_ym (:111-112); the 19-metric CROSS JOIN LATERAL VALUES unpivot
  (:125-158) as one ``stack()`` projection; and the six LEFT dim joins
  (:218-230 — product master twice-collapsed to once here, shop,
  order-status mapping, metric mapping, day-of-week mapping twice; the
  mappings are map-literal lookups here, not joins)
  with the reference's COALESCE fallback labels, composed metric sort
  label (:192-197) and the multi-line order_date_range string
  (:203-217).

Scale notes
-----------
- Both aggregation branches are partial-agg groupBys keyed by
  (product, shop, status[, month]) — fine-grained, no skew; the union
  happens at aggregate (dim-sized) cardinality.
- Every dimension is broadcast; the unpivot is a projection (stack is
  codegen, fan-out x19 at dim cardinality, not fact cardinality).
- The MIN/MAX window partitions by order_ym — at most interval+1
  partitions, each dim-sized; it runs AFTER aggregation, never on the
  fact.
- All metric math is integer/decimal-exact (longs end to end).
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from linkmerce_spark.functions.scalar import lookup

__all__ = [
    "profit_base",
    "profit_daily",
    "profit_monthly",
    "profit_mom_dims",
    "ORDER_STATUS_LABELS",
    "METRIC_MAPPING",
    "DOW_NAMES",
]

# analytics__profit_mom.sql:97-106 — shop buckets for the CASE splits.
_SEARCHAD_SHOPS = ("shop0055", "shop9000")
_COUPANG_SHOPS = ("shop0075", "shop9001")
_SHOP_METRIC = {
    "ad_cost__google": "adop0001",
    "ad_cost__meta": "adop0002",
    "ad_cost__tiktok": "adop0006",
    "extra_cost__marketing": "adop0003",
    "extra_cost__sales": "adop0004",
    "extra_cost__expense": "adop0005",
}

# core__order_status_mapping() macro equivalent (code -> label).
ORDER_STATUS_LABELS = [
    (0, "결제완료"),
    (1, "발송대기"),
    (2, "배송중"),
    (3, "배송완료"),
    (4, "구매확정"),
    (5, "취소"),
]

# core__unpivot_metric_mapping() equivalent: (name_en, sort_seq,
# sub_seq, name_ko) — sub_seq NULL for top-level metrics.
METRIC_MAPPING = [
    ("profit", 1, None, "이익"),
    ("unit_quantity", 2, None, "판매수량"),
    ("payment_amount", 3, None, "결제금액"),
    ("supply_amount", 4, None, "공급가액"),
    ("supply_cost", 5, None, "공급원가"),
    ("delivery_fee", 6, None, "배송비"),
    ("margin_amount", 7, None, "마진액"),
    ("ad_cost", 8, None, "광고비"),
    ("ad_cost__searchad", 8, 1, "광고비-검색광고"),
    ("ad_cost__coupang", 8, 2, "광고비-쿠팡"),
    ("ad_cost__google", 8, 3, "광고비-구글"),
    ("ad_cost__meta", 8, 4, "광고비-메타"),
    ("ad_cost__tiktok", 8, 5, "광고비-틱톡"),
    ("extra_cost", 9, None, "기타비용"),
    ("extra_cost__marketing", 9, 1, "기타비용-마케팅"),
    ("extra_cost__sales", 9, 2, "기타비용-영업"),
    ("extra_cost__expense", 9, 3, "기타비용-경비"),
    ("roi__top", 10, 1, "ROI-분자"),
    ("roi__bottom", 10, 2, "ROI-분모"),
]

# core__dayofweek_name_mapping() equivalent: Spark dayofweek() is
# 1=Sunday..7=Saturday == Postgres EXTRACT(DOW)+1 == DuckDB dayofweek()+1.
DOW_NAMES = [
    (1, "(일)"),
    (2, "(월)"),
    (3, "(화)"),
    (4, "(수)"),
    (5, "(목)"),
    (6, "(금)"),
    (7, "(토)"),
]

_BASE_METRICS = [
    "sku_quantity",
    "payment_amount",
    "supply_amount",
    "supply_cost",
    "delivery_fee",
    "margin_amount",
    "ad_cost",
    "extra_cost",
    "profit",
]


def profit_base(
    fact: DataFrame,
    extra_profit: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """Status-gated profit fact over a date window, plus adjustments.

    ``fact`` carries (product_id, shop_id, order_status, sku_quantity,
    payment_amount, supply_amount, supply_cost, delivery_fee, ad_cost,
    extra_cost, order_date); ``extra_profit`` carries (product_id,
    shop_id, profit, ymd). Gates mirror analytics__profit_base.sql:22-36
    — only status 0 counts sales amounts (and adop9000 never counts
    payment), supply cost also accrues for in-flight statuses {2,6},
    delivery fee for {0,1,2,5,7}; ad/extra cost always accrue.
    """
    in_range = F.col("order_date").between(
        F.lit(start_date).cast("date"), F.lit(end_date).cast("date")
    )
    st = F.col("order_status")
    z = F.lit(0).cast("long")

    def _gate(col: str, cond: Column) -> Column:
        return F.when(cond, F.coalesce(F.col(col).cast("long"), z)).otherwise(z)

    sku = _gate("sku_quantity", st == 0)
    pay = _gate("payment_amount", (st == 0) & (F.col("shop_id") != "adop9000"))
    sup = _gate("supply_amount", st == 0)
    cost = _gate("supply_cost", st.isin(0, 2, 6))
    dlv = _gate("delivery_fee", st.isin(0, 1, 2, 5, 7))
    ad = F.coalesce(F.col("ad_cost").cast("long"), z)
    extra = F.coalesce(F.col("extra_cost").cast("long"), z)
    margin = sup - cost - dlv

    gated = fact.filter(in_range).select(
        "product_id",
        "shop_id",
        "order_status",
        sku.alias("sku_quantity"),
        pay.alias("payment_amount"),
        sup.alias("supply_amount"),
        cost.alias("supply_cost"),
        dlv.alias("delivery_fee"),
        margin.alias("margin_amount"),
        ad.alias("ad_cost"),
        extra.alias("extra_cost"),
        (margin - ad - extra).alias("profit"),
        "order_date",
    )
    adjustments = extra_profit.filter(
        F.col("ymd").between(
            F.lit(start_date).cast("date"), F.lit(end_date).cast("date")
        )
    ).select(
        "product_id",
        "shop_id",
        F.lit(0).alias("order_status"),
        *[z.alias(c) for c in _BASE_METRICS[:-1]],
        F.col("profit").cast("long").alias("profit"),
        F.col("ymd").alias("order_date"),
    )
    return gated.unionByName(adjustments)


def _month_floor(day: str) -> str:
    return _dt.date.fromisoformat(day).replace(day=1).isoformat()


def _shift_months(day: str, months: int) -> str:
    d = _dt.date.fromisoformat(day)
    total = d.year * 12 + (d.month - 1) - months
    return _dt.date(total // 12, total % 12 + 1, 1).isoformat()


def profit_mom_dims(
    base: Callable[[str, str], DataFrame],
    product_master: DataFrame,
    shop_dim: DataFrame,
    ds_start: str,
    ds_end: str,
    interval_months: int,
) -> DataFrame:
    """Month-over-month profit report with full dimension enrichment.

    ``base`` is the profit_base TVF (start, end) -> DataFrame — called
    once for the requested ds range and once for the month-bucketed
    lookback, the reference's TVF-calls-TVF shape with shifted windows
    (analytics__profit_mom.sql:49,72-75). Date arithmetic happens here
    in Python so both engines receive pre-resolved literals (the
    reference renders params before planning for the same reason).
    """
    keys = ["product_id", "shop_id", "order_status"]
    sums = [F.sum(m).alias(m) for m in _BASE_METRICS]
    dates = [
        F.min("order_date").alias("order_start_date"),
        F.max("order_date").alias("order_end_date"),
    ]

    ds_range = (
        base(ds_start, ds_end)
        .groupBy(*keys)
        .agg(*sums, *dates)
        .withColumn("order_ym", F.lit(_month_floor(ds_end)).cast("date"))
    )
    lb_start = _shift_months(ds_end, interval_months)
    lb_end = (
        _dt.date.fromisoformat(_month_floor(ds_end)) - _dt.timedelta(days=1)
    ).isoformat()
    lookback = (
        base(lb_start, lb_end)
        .withColumn("order_ym", F.trunc("order_date", "month"))
        .groupBy("order_ym", *keys)
        .agg(*sums, *dates)
    )
    fact = ds_range.unionByName(lookback)

    item = product_master.alias("item")
    shop_split = {
        "ad_cost__searchad": F.col("shop_id").isin(*_SEARCHAD_SHOPS),
        "ad_cost__coupang": F.col("shop_id").isin(*_COUPANG_SHOPS),
        **{m: F.col("shop_id") == s for m, s in _SHOP_METRIC.items()},
    }
    src = {m: "extra_cost" if m.startswith("extra_cost__") else "ad_cost"
           for m in shop_split}
    monthly = fact.join(broadcast(item.select("product_id", "unit_scale")),
                        "product_id", "left").select(
        *keys,
        "order_ym",
        "order_start_date",
        "order_end_date",
        F.col("profit"),
        F.coalesce(
            F.col("sku_quantity") * F.coalesce("unit_scale", F.lit(1)), F.lit(0)
        ).cast("long").alias("unit_quantity"),
        *[F.col(m) for m in _BASE_METRICS[1:-1]],
        *[
            F.when(cond, F.col(src[m])).otherwise(F.lit(0)).cast("long").alias(m)
            for m, cond in shop_split.items()
        ],
        F.col("profit").alias("roi__top"),
        (F.col("ad_cost") + F.col("extra_cost")).alias("roi__bottom"),
    )

    from pyspark.sql.window import Window

    wym = Window.partitionBy("order_ym")
    monthly = monthly.withColumn(
        "order_start_date", F.min("order_start_date").over(wym)
    ).withColumn("order_end_date", F.max("order_end_date").over(wym))

    metric_names = [m for m, *_ in METRIC_MAPPING]
    stack_args = ", ".join(
        f"'{m}', CAST({m} AS BIGINT)" for m in metric_names
    )
    unpivoted = monthly.selectExpr(
        *keys,
        "order_ym",
        "order_start_date",
        "order_end_date",
        f"stack({len(metric_names)}, {stack_args}) AS (metric_name, metric_value)",
    ).filter(F.col("metric_value").isNotNull())

    enriched = (
        unpivoted.alias("f")
        .join(broadcast(item), "product_id", "left")
        .join(broadcast(shop_dim.alias("shop")), "shop_id", "left")
    )
    metric = "f.metric_name"
    sort_seq = lookup(metric, {m: seq for m, seq, _, _ in METRIC_MAPPING})
    sub_seq = lookup(metric, {m: sub for m, _, sub, _ in METRIC_MAPPING})
    metric_ko = F.concat(
        F.lpad(sort_seq.cast("string"), 2, "0"),
        F.coalesce(
            F.concat(F.lit("-"), F.lpad(sub_seq.cast("string"), 1, "0")),
            F.lit(""),
        ),
        F.lit(". "),
        lookup(metric, {m: ko for m, _, _, ko in METRIC_MAPPING}),
    )
    dash = F.lit("-")
    return enriched.select(
        F.col("f.product_id").alias("product_id"),
        *_profit_dim_cols(),
        F.col("f.shop_id").alias("shop_id"),
        F.coalesce("shop.shop_group", dash).alias("shop_group"),
        F.coalesce("shop.shop_alias", dash).alias("shop_name"),
        _order_status_label().alias("order_status"),
        F.col("f.metric_name").alias("metric_name_en"),
        metric_ko.alias("metric_name_ko"),
        F.col("f.metric_value").alias("metric_value"),
        F.col("f.order_start_date").alias("order_start_date"),
        F.col("f.order_end_date").alias("order_end_date"),
        F.col("f.order_ym").alias("order_ym"),
        _date_range_label().alias("order_date_range"),
    )


def _order_status_label() -> Column:
    """The fact's (alias ``f``) order-status label, '알 수 없음' when
    unmapped (core__order_status_mapping())."""
    return F.coalesce(lookup("f.order_status", dict(ORDER_STATUS_LABELS)), F.lit("알 수 없음"))


def _date_range_label() -> Column:
    """The multi-line Korean order_date_range label of a fact aliased
    ``f`` that carries order_start_date / order_end_date, with each
    day's day-of-week name (analytics__profit_mom.sql:203-217 ==
    analytics__order_count_mom.sql:108-128)."""
    dow = dict(DOW_NAMES)

    def _fmt(col: str, pat: str) -> Column:
        return F.date_format(F.col(col), pat)

    return F.concat(
        F.lit("[ "),
        _fmt("f.order_end_date", "yy"),
        F.lit("년 "),
        _fmt("f.order_end_date", "MM"),
        F.lit("월 ]\n"),
        F.when(
            F.col("f.order_start_date") != F.col("f.order_end_date"),
            F.concat(
                _fmt("f.order_start_date", "yy/MM/dd"),
                lookup(F.dayofweek("f.order_start_date"), dow),
                F.lit("\n~ "),
            ),
        ).otherwise(F.lit("\n")),
        _fmt("f.order_end_date", "yy/MM/dd"),
        lookup(F.dayofweek("f.order_end_date"), dow),
    )


def _profit_dim_cols(item_alias: str = "item", shop_alias: str = "shop"):
    """The shared item/shop attribute projection with COALESCE fallback
    labels (analytics__profit_daily.sql:23-46 == profit_monthly.sql:
    44-67 — identical blocks in the reference, emitted once here)."""
    dash = F.lit("-")
    i = lambda c: F.col(f"{item_alias}.{c}")  # noqa: E731
    return [
        F.coalesce(i("item_id"), F.lit("NA-AAAAAA-00")).alias("item_id"),
        F.coalesce(i("item_seq"), F.lit(99999999)).alias("item_seq"),
        F.coalesce(i("team_name"), F.lit("담당팀 없음")).alias("team_name"),
        F.coalesce(i("brand_name"), F.lit("브랜드 없음")).alias("brand_name"),
        F.coalesce(i("category_name1"), dash).alias("category_name1"),
        F.coalesce(i("category_name2"), dash).alias("category_name2"),
        F.coalesce(i("category_name3"), dash).alias("category_name3"),
        F.coalesce(i("category_name4"), dash).alias("category_name4"),
        F.coalesce(i("color"), dash).alias("color"),
        F.coalesce(i("product_name"), F.lit("매칭 불가 상품")).alias("product_name"),
        F.coalesce(
            F.when(i("unit_name").isNull(), i("category_name3")).otherwise(
                F.concat(i("category_name3"), F.lit(" ("), i("unit_name"), F.lit(")"))
            ),
            dash,
        ).alias("category_unit_name"),
    ]


def _enrich_profit_fact(
    fact: DataFrame,
    product_master: DataFrame,
    shop_dim: DataFrame,
    tail_cols: list[str],
) -> DataFrame:
    """Dimension enrichment shared by profit_daily / profit_monthly:
    LEFT joins to the product master and shop dim (broadcast), the
    order-status label lookup, the reference's COALESCE fallbacks, and
    unit_quantity = sku_quantity * unit_scale."""
    enriched = (
        fact.alias("f")
        .join(broadcast(product_master.alias("item")), "product_id", "left")
        .join(broadcast(shop_dim.alias("shop")), "shop_id", "left")
    )
    dash = F.lit("-")
    return enriched.select(
        F.col("f.product_id").alias("product_id"),
        *_profit_dim_cols(),
        F.col("f.shop_id").alias("shop_id"),
        F.coalesce("shop.shop_group", dash).alias("shop_group"),
        F.coalesce("shop.shop_alias", dash).alias("shop_name"),
        _order_status_label().alias("order_status"),
        F.coalesce(
            F.col("f.sku_quantity") * F.coalesce("item.unit_scale", F.lit(1)),
            F.lit(0),
        )
        .cast("long")
        .alias("unit_quantity"),
        *[F.col(f"f.{c}").alias(c) for c in _BASE_METRICS],
        *[F.col(f"f.{c}").alias(c) for c in tail_cols],
    )


def profit_daily(
    base: Callable[[str, str], DataFrame],
    product_master: DataFrame,
    shop_dim: DataFrame,
    ds_start: str,
    ds_end: str,
) -> DataFrame:
    """Per-order-date profit rows with dimension enrichment.

    ~ analytics__profit_daily (dbt_postgres/models/marts/sales/
    analytics__profit_daily.sql:21-67): the profit_base TVF passed
    through unaggregated, LEFT-joined to the product master, shop dim
    and order-status mapping. Narrow plan: three broadcast joins over
    the gated fact, no shuffle at all.
    """
    return _enrich_profit_fact(
        base(ds_start, ds_end), product_master, shop_dim, ["order_date"]
    )


def profit_monthly(
    base: Callable[[str, str], DataFrame],
    product_master: DataFrame,
    shop_dim: DataFrame,
    ds_start: str,
    ds_end: str,
) -> DataFrame:
    """Month-grain profit rollup with dimension enrichment.

    ~ analytics__profit_monthly (dbt_postgres/models/marts/sales/
    analytics__profit_monthly.sql:21-38,40-95): profit_base aggregated
    to (order_ym, product, shop, status) with MIN/MAX order dates, then
    the same dim enrichment as profit_daily. The groupBy is partial-agg
    over fine-grained uniform keys — the one shuffle, at output grain.
    """
    monthly = (
        base(ds_start, ds_end)
        .groupBy(
            F.trunc("order_date", "month").alias("order_ym"),
            "product_id",
            "shop_id",
            "order_status",
        )
        .agg(
            *[F.sum(m).alias(m) for m in _BASE_METRICS],
            F.min("order_date").alias("order_start_date"),
            F.max("order_date").alias("order_end_date"),
        )
    )
    return _enrich_profit_fact(
        monthly,
        product_master,
        shop_dim,
        ["order_start_date", "order_end_date", "order_ym"],
    )
