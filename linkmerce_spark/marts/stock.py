"""Stock report mart — lot-level inventory vs sales velocity.

Parity target (semantics, not code): ``analytics__stock_report``
(dbt_postgres/models/marts/stock/analytics__stock_report.sql), the
reference's most complex analytics model. Its mechanisms, re-expressed
on the synthetic star schema:

- lot rows with per-product ordering ``(priority DESC, expiration ASC
  NULLS LAST, code ASC)`` (reference :95-98,122-125) — here lots are
  monthly shipment batches per part.
- cumulative stock along that order: the reference's self-join
  ``base.cumsum_seq >= cumsum.cumsum_seq`` (:190-194, SURVEY J7) is
  O(n^2) per product; a running-sum window is the scale-correct
  equivalent.
- 30-day sales velocity attach + ``avg = NULLIF(sum,0)/30`` (:146-150).
- ``remain_days = FLOOR(cum_stock / avg)`` + expected sell-out date
  (:199-214,330).
- performance classification CASE ladder (:308-327): exclusion by
  name pattern, missing/exceeded expiration, no sales, sell-out after
  expiry, slow mover, ok — with the same evaluation order.
- distinct expiration dates per product as a newline string_agg
  (:250-259, SURVEY A4).
- global ``lot_seq`` + per-product ``option_seq = MIN(lot_seq) OVER``
  anchor (:265-276,346-350, SURVEY W7) — the global rank runs through
  ``global_row_number`` (range-partitioned, no single-reducer sort).

Scale notes
-----------
- ``part`` is a dimension: broadcast into the lot build.
- Both aggregates (lots, sold) reduce the fact table to
  dimension-x-months cardinality before any join; the joins that
  follow never see fact-sized inputs.
- The only full-data shuffles are the two fact groupBys (map-side
  combined) and the row-number range exchange.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from linkmerce_spark import memo
from linkmerce_spark.frames import load_star
from linkmerce_spark.operators.rownum import global_row_number

__all__ = [
    "stock_report",
    "ecount_sku_relation",
    "stock_qty_batch",
    "stock_time_batch",
    "stock_cost_mom",
    "with_empty_fallback",
    "stock_time_ds",
    "stock_report_ds",
    "rfm_stock_qty_batch",
    "ecount_stock_qty_batch",
    "cj_eflexs_stock_qty_batch",
]


def stock_report(
    spark: SparkSession,
    sf_dir: str,
    report_date: str,
    lookback_days: int = 30,
    lot_window_days: int = 120,
) -> DataFrame:
    t = load_star(spark, sf_dir, ["lineitem", "part"])
    rd = F.lit(report_date).cast("date")
    li = t["lineitem"].withColumn("ship_d", F.col("l_shipdate").cast("date"))

    # Monthly shipment batches act as received stock lots.
    lots = (
        li.filter(
            (F.col("ship_d") > F.date_sub(rd, lot_window_days))
            & (F.col("ship_d") <= rd)
        )
        .groupBy(
            F.col("l_partkey").alias("product_id"),
            F.date_trunc("month", F.col("ship_d")).cast("date").alias("lot_month"),
        )
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("stock_qty_d"))
    )

    # Trailing-window sales velocity, one row per product.
    sold = (
        li.filter(
            (F.col("ship_d") >= F.date_sub(rd, lookback_days))
            & (F.col("ship_d") < rd)
        )
        .groupBy(F.col("l_partkey").alias("product_id"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sold_qty_30d")
        )
    )

    dims = t["part"].select(
        F.col("p_partkey").alias("product_id"),
        F.col("p_brand").alias("brand"),
        # name-pattern exclusion -> priority 0 (reference's 1포/불량 rule)
        F.when(F.col("p_name").like("small%"), F.lit(0)).otherwise(F.lit(1)).alias(
            "priority"
        ),
        F.col("p_type").alias("p_type"),
        F.col("p_retailprice").alias("org_price"),
    )

    base = (
        lots.join(broadcast(dims), "product_id")
        .join(sold, "product_id", "left")
        .withColumn(
            "expiration_date",
            F.when(F.col("p_type") == "PROMO", F.lit(None).cast("date")).otherwise(
                F.add_months(F.col("lot_month"), 6)
            ),
        )
    )

    lot_order = [
        F.col("priority").desc(),
        F.col("expiration_date").asc_nulls_last(),
        F.col("lot_month").asc(),
    ]
    w_cum = (
        Window.partitionBy("product_id")
        .orderBy(*lot_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_prod = Window.partitionBy("product_id")

    sold0 = F.coalesce(F.col("sold_qty_30d"), F.lit(0.0))
    avg_sold = F.nullif(sold0, F.lit(0.0)) / F.lit(float(lookback_days))
    enriched = (
        base.withColumn(
            "cum_stock_qty", F.sum("stock_qty_d").over(w_cum).cast("double")
        )
        .withColumn("stock_qty", F.col("stock_qty_d").cast("double"))
        .withColumn("sold_qty_30d", sold0)
        .withColumn("avg_sold_qty_30d", F.coalesce(avg_sold, F.lit(0.0)))
        .withColumn(
            "remain_days",
            F.coalesce(
                F.floor(F.col("cum_stock_qty") / avg_sold), F.lit(0)
            ).cast("int"),
        )
    )
    expected = F.date_add(rd, F.col("remain_days"))
    exp = F.col("expiration_date")
    dates_agg = F.array_join(
        F.array_sort(
            F.collect_set(F.date_format(exp, "yyyy-MM-dd")).over(w_prod)
        ),
        "\n",
    )
    classified = (
        enriched.withColumn("expected_date", expected)
        .withColumn("expiration_dates", F.nullif(dates_agg, F.lit("")))
        .withColumn(
            "performance",
            F.when(F.col("priority") == 0, "excluded")
            .when(exp.isNull(), "no-expiry")
            .when(rd > exp, "expired")
            .when(F.col("sold_qty_30d") == 0.0, "no-sales")
            .when(F.col("expected_date") > exp, "sellout-after-expiry")
            .when(F.add_months(F.col("expected_date"), 6) > exp, "slow")
            .otherwise("ok"),
        )
        .withColumn("stock_cost", F.col("org_price") * F.col("stock_qty"))
    )

    seq = global_row_number(
        classified,
        [
            F.col("brand").asc(),
            F.col("priority").desc(),
            F.col("expiration_date").asc_nulls_last(),
            F.col("product_id").asc(),
            F.col("lot_month").asc(),
        ],
        col_name="lot_seq",
    )
    return seq.withColumn(
        "option_seq", F.min("lot_seq").over(w_prod)
    ).select(
        "lot_seq",
        "option_seq",
        "brand",
        "product_id",
        "lot_month",
        "expiration_date",
        "expiration_dates",
        "stock_qty",
        "cum_stock_qty",
        "sold_qty_30d",
        "avg_sold_qty_30d",
        "remain_days",
        "expected_date",
        "performance",
        "stock_cost",
        "priority",
    )


# --------------------------------------------------------------- batch family
#
# Parity targets (semantics, not code):
# - ``stock_qty_batch``  ~ core__stock_qty_batch (dbt_postgres/models/
#   intermediate/stock/core__stock_qty_batch.sql:18-104): the ecount
#   sku->product relation (DISTINCT ON (product_id, expiration_date)
#   ordered by updated_at DESC NULLS LAST), three channel sources
#   re-keyed to ecount product codes, UNION ALL, then per-channel
#   conditional sums (the A2 idiom) at (ymd, batch, product_code).
# - ``stock_time_batch`` ~ core__stock_time_batch (...:17-70): the
#   ::time < '17:00' batch-10/20 classification per channel and the
#   conditional MAX(updated_at) rollup at (ymd, batch).
# - ``stock_cost_mom``   ~ analytics__stock_cost_mom (dbt_postgres/
#   models/marts/stock/analytics__stock_cost_mom.sql:26-147): month-end
#   batch selection via two windows (MAX(ymd) per month, MAX(batch) per
#   ymd), org_price*qty cost rollup, zero-cost fallback rows for sales
#   months without stock, and the item-attribute enrichment with the
#   day-of-week date label.
#
# Scale notes: every relation/product dim is broadcast; the only fact
# shuffles are the (ymd, batch, product_code) and month-grain groupBys
# (fine-grained keys, partial agg). The month-end windows run on the
# already-aggregated batch table, not the raw feed.


def ecount_sku_relation(ecount_product: DataFrame) -> DataFrame:
    """The sabangnet-sku -> ecount product_code relation.

    ``ecount_product`` carries (product_code, option_id, expiration_date
    [YYYYMMDD string], updated_at). Derives product_id as the first
    '-'-segment of option_id with the reference's '200000' fallback,
    parses 8-digit expirations (else the 2999-12-31 sentinel), and keeps
    one product_code per (product_id, expiration_date) ordered by
    updated_at DESC NULLS LAST, product_code ASC, option_id ASC
    (core__stock_qty_batch.sql:18-41 DISTINCT ON).
    """
    opt = F.nullif(F.col("option_id"), F.lit(""))
    parsed = ecount_product.select(
        F.col("product_code"),
        F.coalesce(F.split(opt, "-").getItem(0), F.lit("200000")).alias("product_id"),
        opt.alias("option_id"),
        F.when(
            F.col("expiration_date").rlike("^[0-9]{8}$"),
            F.to_date(F.col("expiration_date"), "yyyyMMdd"),
        )
        .otherwise(F.lit("2999-12-31").cast("date"))
        .alias("expiration_date"),
        F.col("updated_at"),
    )
    w = Window.partitionBy("product_id", "expiration_date").orderBy(
        F.col("updated_at").desc_nulls_last(),
        F.col("product_code").asc(),
        F.col("option_id").asc(),
    )
    return (
        parsed.filter(F.col("option_id").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("product_id", "expiration_date", "product_code")
    )


def stock_qty_batch(
    ecount_product: DataFrame,
    ecount_qty: DataFrame,
    cj_qty: DataFrame,
    rfm_qty: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """Batch stock quantity per (ymd, batch, product_code) across the
    three channels, with per-channel conditional-sum splits.

    ``ecount_qty`` carries (ymd, batch, product_code, stock_quantity);
    ``cj_qty``/``rfm_qty`` carry (ymd, batch, product_id,
    expiration_date, stock_quantity) and re-key through the sku
    relation. NULL (not 0) channel slices where a channel has no rows —
    the reference sums NULL ELSE branches.
    """
    lo, hi = F.lit(start_date).cast("date"), F.lit(end_date).cast("date")
    rel = broadcast(ecount_sku_relation(ecount_product))
    # The reference joins the FULL (non-deduplicated) ecount_product
    # (core__stock_qty_batch.sql:44-55): duplicate product_codes would
    # fan out quantities there too, so no .distinct() here — parity over
    # defensiveness. tests/test_stock_batch.py asserts the synthetic
    # catalog's product_code uniqueness that the reference presumes.
    eco_codes = broadcast(ecount_product.select("product_code"))

    def _ranged(df: DataFrame) -> DataFrame:
        return df.filter(F.col("ymd").between(lo, hi))

    eco = (
        _ranged(ecount_qty)
        .join(eco_codes.withColumnRenamed("product_code", "pc"),
              F.col("product_code") == F.col("pc"), "left")
        .select(
            "ymd",
            "batch",
            F.coalesce(F.col("pc"), F.lit("")).alias("product_code"),
            F.lit(0).alias("group_id"),
            "stock_quantity",
        )
    )

    def _via_rel(df: DataFrame, gid: int) -> DataFrame:
        q = df.alias("q")
        return (
            _ranged(q)
            .join(
                rel.alias("r"),
                (F.col("q.product_id") == F.col("r.product_id"))
                & (F.col("q.expiration_date") == F.col("r.expiration_date")),
                "left",
            )
            .select(
                "q.ymd",
                "q.batch",
                F.coalesce(F.col("r.product_code"), F.lit("")).alias("product_code"),
                F.lit(gid).alias("group_id"),
                "q.stock_quantity",
            )
        )

    unioned = eco.unionByName(_via_rel(cj_qty, 1)).unionByName(_via_rel(rfm_qty, 2))
    g = F.col("group_id")
    qty = F.col("stock_quantity")

    def _slice(gid: int) -> F.Column:
        return F.sum(F.when(g == gid, qty))

    return unioned.groupBy("ymd", "batch", "product_code").agg(
        F.sum(qty).alias("stock_qty"),
        _slice(0).alias("ecount__stock_qty"),
        _slice(1).alias("cj_eflexs__stock_qty"),
        _slice(2).alias("coupang_rfm__stock_qty"),
    )


def stock_time_batch(
    ecount_inventory: DataFrame,
    cj_stock: DataFrame,
    rfm_inventory: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """Latest update time per (ymd, batch) across the three channels.

    Each input carries an ``updated_at`` timestamp; the 17:00 cutoff
    splits each day into batch 10 (before) / 20 (after), the
    half-open [start, end+1) timestamp range bounds the feed, and the
    rollup keeps the overall and per-channel MAX as 'yyyy-MM-dd
    HH:mm:ss' strings (engine-portable output, queries.py conventions).
    """
    lo = F.lit(start_date).cast("date").cast("timestamp")
    hi = F.date_add(F.lit(end_date).cast("date"), 1).cast("timestamp")

    def _channel(df: DataFrame, gid: int) -> DataFrame:
        u = F.col("updated_at")
        return df.filter((u >= lo) & (u < hi)).select(
            u.cast("date").alias("ymd"),
            F.when(
                F.date_format(u, "HH:mm:ss") < "17:00:00", F.lit(10)
            ).otherwise(F.lit(20)).alias("batch"),
            F.lit(gid).alias("group_id"),
            u.alias("updated_at"),
        )

    unioned = (
        _channel(ecount_inventory, 0)
        .unionByName(_channel(cj_stock, 1))
        .unionByName(_channel(rfm_inventory, 2))
    )
    g = F.col("group_id")
    u = F.col("updated_at")
    fmt = "yyyy-MM-dd HH:mm:ss"

    def _slice(gid: int) -> F.Column:
        return F.date_format(F.max(F.when(g == gid, u)), fmt)

    return unioned.groupBy("ymd", "batch").agg(
        F.date_format(F.max(u), fmt).alias("max_updated_at"),
        _slice(0).alias("ecount__max_updated_at"),
        _slice(1).alias("cj_eflexs__max_updated_at"),
        _slice(2).alias("coupang_rfm__max_updated_at"),
    )


def stock_cost_mom(
    qty_batch: DataFrame,
    ecount_product: DataFrame,
    sales_daily: DataFrame,
    product_master: DataFrame,
    ds_start: str,
    ds_end: str,
    interval_months: int,
) -> DataFrame:
    """Monthly stock cost from each month's last batch, with zero-cost
    fallbacks for sales months lacking stock rows, item-enriched.

    ~ analytics__stock_cost_mom (dbt_postgres/models/marts/stock/
    analytics__stock_cost_mom.sql): the month-end batch criteria are two
    windows over the (already aggregated) batch table — MAX(ymd) per
    month, MAX(batch) per ymd (:44-46); only rows matching both roll up
    to (stock_ymd, product_id) cost (:57-60). Sales periods with no
    stock row for the month contribute zero-cost rows anchored to the
    month's stock date (:66-103). Date params resolve in Python so both
    engines plan over literals.
    """
    from linkmerce_spark.frames import values_df
    from linkmerce_spark.marts.profit import (
        DOW_NAMES,
        _month_floor,
        _profit_dim_cols,
        _shift_months,
    )

    lb_start = _shift_months(ds_end, interval_months)  # month floor of lookback
    prev_month_end = (
        _dt.date.fromisoformat(_month_floor(ds_end)) - _dt.timedelta(days=1)
    ).isoformat()

    # ecount product dim (:26-35): straight first '-'-segment, no fallback.
    prd = broadcast(
        ecount_product.filter(F.nullif(F.col("option_id"), F.lit("")).isNotNull())
        .select(
            "product_code",
            F.split(F.col("option_id"), "-").getItem(0).alias("product_id"),
            "org_price",
        )
    )

    # Month-end batch selection (the reference's two windows, :44-46):
    # MAX(ymd) per month and MAX(batch) per ymd depend only on the
    # (ymd, batch) pairs — at any scale that's a tiny map-side-combined
    # aggregate, so derive both maxima as 1-column aggregates and
    # broadcast them back instead of sorting the full batch table twice
    # under windows (round-4 verdict: stock_cost_mom shuffle collapse).
    # The filtered batch table is checkpointed once because the maxima
    # derivation and the cost rollup both consume it.
    qb = qty_batch.filter(
        F.col("ymd").between(
            F.lit(lb_start).cast("date"), F.lit(ds_end).cast("date")
        )
    ).transform(memo.checkpoint)
    month_max = broadcast(
        qb.groupBy(F.trunc("ymd", "month").alias("__mm"))
        .agg(F.max("ymd").alias("max_month_ymd"))
    )
    day_max = broadcast(
        qb.groupBy(F.col("ymd").alias("__dd"))
        .agg(F.max("batch").alias("max_day_batch"))
    )
    selected = (
        qb.join(month_max, F.trunc("ymd", "month") == F.col("__mm"))
        .join(day_max, F.col("ymd") == F.col("__dd"))
        .filter(
            (F.col("ymd") == F.col("max_month_ymd"))
            & (F.col("batch") == F.col("max_day_batch"))
        )
    )
    monthly = (
        selected.join(prd, "product_code", "left")
        .select(
            F.coalesce(F.col("product_id"), F.lit("200000")).alias("product_id"),
            (
                F.coalesce(F.col("org_price"), F.lit(0).cast("long"))
                * F.coalesce(F.col("stock_qty"), F.lit(0).cast("long"))
            ).alias("stock_cost"),
            F.col("ymd").alias("stock_ymd"),
        )
        .groupBy("stock_ymd", "product_id")
        .agg(F.sum("stock_cost").alias("stock_cost"))
        .withColumn("order_ym", F.trunc("stock_ymd", "month"))
        # monthly feeds three consumers (the fact union, the fallback
        # anti-join, and the month_dates broadcast) — materialize once.
        .transform(memo.checkpoint)
    )

    # Fallback: sales months without a stock row for that product.
    od = F.col("order_date")
    ds_range = (
        sales_daily.filter(
            od.between(F.lit(ds_start).cast("date"), F.lit(ds_end).cast("date"))
        )
        .select(
            "product_id",
            F.lit(ds_end).cast("date").alias("stock_ymd"),
            F.lit(_month_floor(ds_end)).cast("date").alias("order_ym"),
        )
    )
    lookback = (
        sales_daily.filter(
            od.between(
                F.lit(lb_start).cast("date"), F.lit(prev_month_end).cast("date")
            )
        )
        .select(
            "product_id",
            F.last_day(od).alias("stock_ymd"),
            F.trunc(od, "month").alias("order_ym"),
        )
    )
    # ONE dedup after the union: per-branch .distinct() before a unioned
    # .distinct() is two extra full shuffles of the same rows for the
    # same final set (round-4 verdict perf item).  The union preserves
    # the branches' narrow (map-side) shape, so the single distinct is
    # the only exchange on this path.
    sales = ds_range.unionByName(lookback).distinct().alias("sales")
    month_dates = broadcast(
        monthly.select("order_ym", "stock_ymd").distinct().alias("md")
    )
    fallback = (
        sales.join(
            monthly.select("product_id", "order_ym").alias("st"),
            (F.col("sales.product_id") == F.col("st.product_id"))
            & (F.col("sales.order_ym") == F.col("st.order_ym")),
            "left_anti",
        )
        .join(month_dates, F.col("sales.order_ym") == F.col("md.order_ym"), "left")
        .select(
            F.col("sales.product_id").alias("product_id"),
            F.lit(0).cast("long").alias("stock_cost"),
            F.coalesce(F.col("md.stock_ymd"), F.col("sales.stock_ymd")).alias(
                "stock_ymd"
            ),
            F.col("sales.order_ym").alias("order_ym"),
        )
    )

    fact = monthly.select(
        "product_id", "stock_cost", "stock_ymd", "order_ym"
    ).unionByName(fallback)

    spark = fact.sparkSession
    dow_map = values_df(spark, DOW_NAMES, "dayofweek int, name_ko string")
    f = fact.alias("f")
    enriched = f.join(
        broadcast(product_master.alias("item")), "product_id", "left"
    ).join(
        broadcast(dow_map.alias("ed")),
        F.dayofweek("f.stock_ymd") == F.col("ed.dayofweek"),
        "left",
    )
    return enriched.select(
        F.col("f.product_id").alias("product_id"),
        *_profit_dim_cols(),
        F.col("f.stock_cost").alias("stock_cost"),
        F.col("f.stock_ymd").alias("stock_ymd"),
        F.col("f.order_ym").alias("order_ym"),
        F.concat(
            F.lit("[ "),
            F.date_format("f.stock_ymd", "yy/MM/dd"),
            F.col("ed.name_ko"),
            F.lit(" ]"),
        ).alias("stock_date_label"),
    )


# ------------------------------------------------------------- ds wrappers
#
# Parity targets: analytics__stock_time_ds / analytics__stock_report_ds
# (dbt_postgres/models/marts/stock/analytics__stock_{time,report}_ds.sql)
# — the dashboard entry points: explicit (REPORT_BATCH in (10,20)) vs
# latest-batch mode with a previous-day fallback guarded by
# NOT EXISTS(primary). 'Today' is an explicit parameter here (the
# reference reads CURRENT_TIMESTAMP AT TIME ZONE 'Asia/Seoul').
#
# Scale note: the emptiness guard is a one-row COUNT aggregate
# cross-joined broadcast into the fallback branch — fully declarative,
# no driver-side collect, and AQE prunes the fallback scan when the
# count is non-zero only at execution time (the plan stays static).


def with_empty_fallback(primary: DataFrame, fallback: DataFrame) -> DataFrame:
    """primary UNION ALL (fallback WHERE NOT EXISTS(primary)).

    The primary pipeline feeds both the emptiness guard and the union
    branch — checkpoint it so a heavy report builds once, not twice
    (stock_report_ds would otherwise evaluate the full report chain
    for the guard count AND the output). The guard itself is decided
    at build time: the primary is already materialized, so
    ``limit(1)`` over its blocks is a metadata-cheap probe, and in the
    common (non-empty) case the fallback chain is DROPPED from the
    plan instead of being fully executed and then filtered away — the
    same data-dependent plan choice AQE makes, done one level up.
    """
    primary = memo.checkpoint(primary)
    if primary.limit(1).count() > 0:
        # Shape through the same unionByName (with an empty fallback
        # slice) as the empty branch, so the output schema — type
        # widening and nullability reconciliation included — is
        # invariant to whether the primary had rows.
        return primary.unionByName(fallback.limit(0))
    # Primary is empty (and stays so — it is materialized): the
    # result is exactly the fallback, shaped through the union so
    # column order/types come from the primary side as before.
    return primary.unionByName(fallback)


def _time_ds_shape(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("ymd").alias("report_date"),
        F.col("batch").alias("report_batch"),
        F.date_sub("ymd", 30).alias("order_start_date"),
        F.date_sub("ymd", 1).alias("order_end_date"),
        "max_updated_at",
        "ecount__max_updated_at",
        "cj_eflexs__max_updated_at",
        "coupang_rfm__max_updated_at",
    )


def stock_time_ds(
    time_batch: DataFrame, report_date: str, report_batch: int, today: str
) -> DataFrame:
    """analytics__stock_time_ds.sql:16-83."""
    ymd = F.col("ymd")
    if report_batch in (10, 20):
        primary = time_batch.filter(
            (ymd == F.lit(report_date).cast("date"))
            & (F.col("batch") == report_batch)
        )
        fallback = time_batch.filter(F.lit(False))
    else:
        def _latest(day: str) -> DataFrame:
            d = F.lit(day).cast("date")
            mx = broadcast(
                time_batch.filter(ymd == d).agg(F.max("batch").alias("__mx"))
            )
            return (
                time_batch.filter(ymd == d)
                .crossJoin(mx)
                .filter(F.col("batch") == F.col("__mx"))
                .drop("__mx")
            )

        primary = _latest(today)
        fallback = _latest(
            (_dt.date.fromisoformat(today) - _dt.timedelta(days=1)).isoformat()
        )
    return with_empty_fallback(_time_ds_shape(primary), _time_ds_shape(fallback))


def stock_report_ds(report_fn, report_date: str, report_batch: int, today: str):
    """analytics__stock_report_ds.sql:15-48; ``report_fn(date) ->
    DataFrame`` is the stock_report TVF."""
    t = _dt.date.fromisoformat(today)
    if report_batch in (10, 20):
        primary = report_fn(report_date)
        # REPORT_BATCH NOT IN (10, 20) disables the fallback branch.
        fallback = report_fn((t + _dt.timedelta(days=1)).isoformat()).filter(
            F.lit(False)
        )
    else:
        primary = report_fn(today)
        fallback = report_fn((t - _dt.timedelta(days=1)).isoformat())
    return with_empty_fallback(primary, fallback)


def rfm_stock_qty_batch(
    inventory: DataFrame,
    inventory_exp: DataFrame,
    relation: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """coupang_rfm__stock_qty_batch (dbt_postgres/models/intermediate/
    stock/sources/coupang_rfm__stock_qty_batch.sql:15-41): the
    effective-dated expiration attach (J5: updated_at BETWEEN exp
    start/end), option->bundle relation explode with ':N' multipliers,
    17:00 batch split, (ymd, batch, product, expiration) rollup.

    Scale: exp/relation are dims (broadcast interval join — no range
    shuffle); the rollup keys are fine-grained.
    """
    u = F.col("updated_at")
    lo = F.lit(start_date).cast("date").cast("timestamp")
    hi = F.date_add(F.lit(end_date).cast("date"), 1).cast("timestamp")
    exp = broadcast(
        inventory_exp.select(
            F.col("option_id").alias("__e_opt"),
            F.col("expiration_date").alias("__e_exp"),
            F.col("start_time").alias("__e_lo"),
            F.col("end_time").alias("__e_hi"),
        )
    )
    rel = broadcast(
        relation.select(
            F.col("option_id").alias("__r_opt"),
            F.col("bundle_product_ids").alias("__r_bundle"),
        )
    )
    j = (
        inventory.filter((u >= lo) & (u < hi))
        .join(
            exp,
            (F.col("option_id") == F.col("__e_opt"))
            & u.between(F.col("__e_lo"), F.col("__e_hi")),
            "left",
        )
        .join(rel, F.col("__e_opt") == F.col("__r_opt"), "left")
        .select(
            "*",
            F.explode_outer(F.split("__r_bundle", ",")).alias("product"),
        )
    )
    suffix = F.try_element_at(F.split("product", ":"), F.lit(2))
    mult = F.when(suffix.rlike("^[0-9]+$"), suffix.cast("int")).otherwise(F.lit(1))
    rows = j.select(
        u.cast("date").alias("ymd"),
        F.when(F.date_format(u, "HH:mm:ss") < "17:00:00", F.lit(10))
        .otherwise(F.lit(20))
        .alias("batch"),
        F.coalesce(
            F.try_element_at(F.split("product", ":"), F.lit(1)), F.lit("200000")
        ).alias("product_id"),
        F.coalesce(F.col("__e_exp"), F.lit("2999-12-31").cast("date")).alias(
            "expiration_date"
        ),
        (mult * F.col("stock_quantity")).alias("stock_quantity"),
    )
    return rows.groupBy("ymd", "batch", "product_id", "expiration_date").agg(
        F.sum("stock_quantity").alias("stock_quantity")
    )


def ecount_stock_qty_batch(
    inventory: DataFrame, start_date: str, end_date: str
) -> DataFrame:
    """ecount__stock_qty_batch (dbt_postgres/models/intermediate/stock/
    sources/ecount__stock_qty_batch.sql:14-29): 17:00 batch split over
    the half-open timestamp window, (ymd, batch, product_code) rollup."""
    u = F.col("updated_at")
    lo = F.lit(start_date).cast("date").cast("timestamp")
    hi = F.date_add(F.lit(end_date).cast("date"), 1).cast("timestamp")
    return (
        inventory.filter((u >= lo) & (u < hi))
        .select(
            u.cast("date").alias("ymd"),
            F.when(F.date_format(u, "HH:mm:ss") < "17:00:00", F.lit(10))
            .otherwise(F.lit(20))
            .alias("batch"),
            "product_code",
            "quantity",
        )
        .groupBy("ymd", "batch", "product_code")
        .agg(F.sum("quantity").alias("stock_quantity"))
    )


def cj_eflexs_stock_qty_batch(
    stock: DataFrame, core_item: DataFrame, start_date: str, end_date: str
) -> DataFrame:
    """cj_eflexs__stock_qty_batch (dbt_postgres/models/intermediate/
    stock/sources/cj_eflexs__stock_qty_batch.sql:14-45): the item
    mapping is the DISTINCT trim-exploded eflexs_item_code CSV from the
    core item catalog; unmapped codes fall to 200000, NULL validate
    dates to the 2999-12-31 sentinel.

    Scale: the item mapping is a dim (broadcast); one rollup shuffle.
    """
    mapping = broadcast(
        core_item.filter(F.col("product_id").isNotNull())
        .select(
            "product_id",
            F.explode(
                F.split(F.coalesce("eflexs_item_code", F.lit("")), ",")
            ).alias("item_code_raw"),
        )
        .select("product_id", F.trim("item_code_raw").alias("item_code"))
        .filter(F.col("item_code") != "")
        .distinct()
        .withColumnRenamed("item_code", "__m_code")
    )
    u = F.col("updated_at")
    lo = F.lit(start_date).cast("date").cast("timestamp")
    hi = F.date_add(F.lit(end_date).cast("date"), 1).cast("timestamp")
    return (
        stock.filter((u >= lo) & (u < hi))
        .join(mapping, F.col("item_code") == F.col("__m_code"), "left")
        .select(
            u.cast("date").alias("ymd"),
            F.when(F.date_format(u, "HH:mm:ss") < "17:00:00", F.lit(10))
            .otherwise(F.lit(20))
            .alias("batch"),
            F.coalesce("product_id", F.lit("200000")).alias("product_id"),
            F.coalesce(F.col("validate_date"), F.lit("2999-12-31").cast("date")).alias(
                "expiration_date"
            ),
            "usable_quantity",
        )
        .groupBy("ymd", "batch", "product_id", "expiration_date")
        .agg(F.sum("usable_quantity").alias("stock_quantity"))
    )
