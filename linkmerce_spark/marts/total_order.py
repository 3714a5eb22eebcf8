"""Order-grain total-order stack: the sabangnet and coupang_rfm sales
pipelines (cost attach, amount/delivery allocation, CJ delivery
merge) and the cross-platform status-gated union.

Parity targets (semantics, not code) in dbt_postgres/models/marts/
sales/analytics__total_order.sql (same steps appear in
intermediate/sales/sabangnet/sabangnet__sales_daily.sql and
.../coupang_rfm/coupang_rfm__sales_daily.sql):

- ``ecount_product_dim`` (:33-41): DISTINCT ON (option_id) keeping the
  earliest expiration / highest product_code; product id is the
  '-'-prefix of the option id.
- ``sabangnet_explode`` (:160-199): bundle explode where the order's
  payment/supply collapse onto the FIRST exploded row (ROW_NUMBER by
  order_seq -> MAX-over-order idiom, :168-180). NOTE the reference
  guards this CTE with ``WHERE bundle_option_ids IS NULL`` under the
  LATERAL unnest — string_to_array(NULL) unnests to zero rows, so the
  branch is empty as written and bundle rows are dropped from the
  pipeline; the sibling sabangnet__order_count.sql uses IS NOT NULL.
  We implement the live (IS NOT NULL) semantics and keep the bypass
  union shape.
- ``with_cost_data`` (:199-238): COALESCE(ecount org_price, item
  org_price, 0) + item extra_cost, '-'-defaulted delivery group,
  bundle_product_count window and the numeric cost_amount.
- split group sum (:239-292): allocate the ORDER-TOTAL of each amount
  over rows by cost weight (ROUND half-up), remainder folded into the
  first row by product_id; groups of one bypass untouched. That is
  ``split_by_cost_weight`` over each amount's group sum.
- ``with_cj_delivery`` (:293-337): delivery fee COALESCE(cj invoice,
  cj order, own, 0), box COALESCE, delivery_quantity = sku x unit.
- max delivery fee (:338-403): reuses marts/smartstore
  ``max_delivery_fee`` (the sabangnet rule set is the smartstore one
  minus the arrival-schedule branch, which a zero delivery_type
  disables); then ``split_by_cost_weight`` allocates the order-invoice
  fee (:404-448).
- ``rocket_sales_shipping`` (:829-893): sales and shipping feeds each
  pre-aggregated per (order, option), FULL OUTER merged on COALESCE'd
  keys, re-aggregated with the NULL-status -> 7 / LEAST(status, 3)
  rule and zero-COALESCE sums.
- ``coupang_product_order`` (:894-1059): bundle COALESCE chain with
  the NOT(qty=0 AND fee=0) gate, explode with the 9-prefix -> 6
  promotion and ':N' sku multipliers, per-PRODUCT ecount/item cost
  attach, tier-ranged delivery extra (MAX over the order-option),
  status-6 -> zero cost_amount, and the 3-amount cost-weight split.
- ``total_product_order`` (:1060-1085): the per-status metric gates
  (qty/payment/supply at 0, the adop9000 payment exclusion, cost at
  {0,2,6}, delivery at {0,1,2,5,7}).

Scale notes
-----------
- Every allocation window partitions by order-grain keys (account x
  order, order x invoice, order x option) — high-cardinality, uniform.
- ecount/item/unit/tier dims are broadcast; CJ frames join on invoice/
  order ids (uniform); nothing shuffles at other than order grain.
- The FULL OUTER rocket merge shuffles both feeds once on the same
  (order, option) key; the re-aggregation reuses that partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from linkmerce_spark.marts.smartstore import (
    _first_token,
    _gift_status,
    _sku_mult,
    attach_max_delivery_fee,
    split_by_cost_weight,
)
from linkmerce_spark.operators.topk import top_k_per_group

__all__ = [
    "ecount_product_dim",
    "sabangnet_explode",
    "with_cost_data",
    "with_cj_delivery",
    "sabangnet_product_order",
    "rocket_sales_shipping",
    "coupang_product_order",
    "total_product_order",
]


def ecount_product_dim(raw: DataFrame) -> DataFrame:
    """DISTINCT ON (option_id) ORDER BY expiration ASC, product_code
    DESC; product_id from the '-'-prefix (:33-41)."""
    top = top_k_per_group(
        raw,
        ["option_id"],
        [F.col("expiration_date").asc(), F.col("product_code").desc()],
    )
    return top.select(
        _first_token("option_id", "-").alias("product_id"),
        "option_id",
        "org_price",
    )


def sabangnet_explode(bundle_product_order: DataFrame) -> DataFrame:
    """Bundle rows exploded with the first-row payment idiom; NULL
    bundles bypass untouched (:116-199, live-branch semantics)."""
    shape = [
        "order_id",
        "invoice_no",
        "account_no",
        "shop_id",
        "product_id",
        "option_id",
        "order_status",
        "sku_quantity",
        "payment_amount",
        "supply_amount",
        "order_date",
    ]
    passthrough = bundle_product_order.filter(
        F.col("bundle_option_ids").isNull()
    ).select(*shape)
    # The ordinal tiebreak matters: one bundle explodes into several
    # rows sharing order_seq, and "first row" must be the first ARRAY
    # element (the reference's unnest WITH ORDINALITY order), not
    # whichever row Spark happens to scan first.
    w_rn = Window.partitionBy("account_no", "order_id").orderBy(
        "order_seq", "bundle_pos"
    )
    w_all = Window.partitionBy("account_no", "order_id")
    ex = (
        bundle_product_order.filter(F.col("bundle_option_ids").isNotNull())
        .select(
            "*",
            F.posexplode(F.split("bundle_option_ids", ",")).alias(
                "bundle_pos", "bundle_option"
            ),
        )
        .select(
            "order_seq",
            "bundle_pos",
            "order_id",
            "invoice_no",
            "account_no",
            "shop_id",
            _first_token("bundle_option", "-").alias("product_id"),
            _first_token("bundle_option", ":").alias("option_id"),
            (_sku_mult("bundle_option") * F.col("order_quantity")).alias(
                "sku_quantity"
            ),
            "payment_amount",
            "supply_amount",
            "order_status",
            "order_date",
        )
        .withColumn(
            "payment_amount",
            F.when(
                F.row_number().over(w_rn) == 1,
                F.max("payment_amount").over(w_all),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "supply_amount",
            F.when(
                F.row_number().over(w_rn) == 1,
                F.max("supply_amount").over(w_all),
            ).otherwise(F.lit(0)),
        )
        .select(*shape)
    )
    return passthrough.unionByName(ex)


def with_cost_data(
    ord_df: DataFrame,
    ecount: DataFrame,
    item: DataFrame,
    group_keys: Sequence[str] = ("account_no", "order_id"),
) -> DataFrame:
    """Attach org price / delivery group / fee and the allocation
    metrics (:199-238)."""
    prd = broadcast(
        ecount.select(
            F.col("option_id").alias("__ec_opt"), F.col("org_price").alias("__ec_price")
        )
    )
    itm = broadcast(
        item.select(
            F.col("product_id").alias("__it_pid"),
            F.col("org_price").alias("__it_price"),
            F.col("extra_cost").alias("__it_extra"),
            F.col("delivery_group").alias("__it_group"),
            F.col("delivery_fee").alias("__it_fee"),
        )
    )
    j = ord_df.join(prd, ord_df["option_id"] == F.col("__ec_opt"), "left").join(
        itm, ord_df["product_id"] == F.col("__it_pid"), "left"
    )
    org_price = F.coalesce("__ec_price", "__it_price", F.lit(0)) + F.coalesce(
        "__it_extra", F.lit(0)
    )
    out = j.select(
        *[c for c in ord_df.columns],
        org_price.alias("org_price"),
        F.coalesce("__it_group", F.lit("-")).alias("delivery_group"),
        F.coalesce("__it_fee", F.lit(0)).alias("delivery_fee"),
    )
    w = Window.partitionBy(*group_keys)
    return out.withColumn("bundle_product_count", F.count(F.lit(1)).over(w)).withColumn(
        "cost_amount", F.col("org_price") * F.col("sku_quantity")
    )


def with_cj_delivery(
    ord_df: DataFrame,
    cj_inv: DataFrame,
    cj_ord: DataFrame,
    unit: DataFrame,
) -> DataFrame:
    """CJ delivery fee/box COALESCE chain + delivery quantity
    (:293-337); adds supply_cost = org_price x sku."""
    inv = cj_inv.select(
        F.col("invoice_no").alias("__inv_no"),
        F.col("delivery_fee").alias("__inv_fee"),
        F.col("box_cost").alias("__inv_box"),
    )
    cor = cj_ord.select(
        F.col("order_id").alias("__ord_id"),
        F.col("delivery_fee").alias("__ord_fee"),
        F.col("box_cost").alias("__ord_box"),
    )
    un = broadcast(
        unit.select(F.col("product_id").alias("__un_pid"), F.col("unit").alias("__un"))
    )
    j = (
        ord_df.join(inv, ord_df["invoice_no"] == F.col("__inv_no"), "left")
        .join(cor, ord_df["order_id"] == F.col("__ord_id"), "left")
        .join(un, ord_df["product_id"] == F.col("__un_pid"), "left")
    )
    keep = [c for c in ord_df.columns if c not in ("delivery_fee",)]
    return j.select(
        *keep,
        (F.col("org_price") * F.col("sku_quantity")).alias("supply_cost"),
        (F.col("sku_quantity") * F.coalesce("__un", F.lit(1))).alias(
            "delivery_quantity"
        ),
        F.coalesce("__inv_fee", "__ord_fee", ord_df["delivery_fee"], F.lit(0)).alias(
            "delivery_fee"
        ),
        F.coalesce("__inv_box", "__ord_box", F.lit(0)).alias("box_cost"),
    )


def sabangnet_product_order(
    bundle_product_order: DataFrame,
    ecount: DataFrame,
    item: DataFrame,
    cj_inv: DataFrame,
    cj_ord: DataFrame,
    unit: DataFrame,
    tiers: DataFrame,
) -> DataFrame:
    """Full sabangnet pipeline: explode -> cost attach -> order-total
    amount split -> CJ delivery -> max fee -> fee split (:56-474)."""
    ord_df = sabangnet_explode(bundle_product_order)
    costed = with_cost_data(ord_df, ecount, item)
    # ONE exchange for the whole allocation chain (guide §2.4): the
    # amount split clusters on (account_no, order_id), the fee stages
    # on (order_id, invoice_no[, delivery_group]) — all supersets of
    # order_id, with only broadcast joins in between — so an explicit
    # hash(order_id) repartition serves every window below (Spark
    # otherwise plans one data-sized exchange per distinct key set).
    # The amount split allocates each amount's ORDER TOTAL: its group
    # sum, split by cost weight.
    keys, amounts = ["account_no", "order_id"], ["payment_amount", "supply_amount"]
    totals = costed.repartition(F.col("order_id")).withColumns(
        {c: F.sum(c).over(Window.partitionBy(*keys)) for c in amounts}
    )
    split = split_by_cost_weight(totals, keys, amounts)
    dlv = with_cj_delivery(split, cj_inv, cj_ord, unit)
    # Fused fee attach (see attach_max_delivery_fee): the old
    # aggregate+join-back diamond re-executed the explode/cost/split
    # chain twice; the windowed form computes the identical winner fee
    # in one pass over dlv.
    attached = attach_max_delivery_fee(dlv, tiers, delivery_type=F.lit(0))
    final = split_by_cost_weight(
        attached, ["order_id", "invoice_no"], ["delivery_fee"]
    )
    return final.select(
        "order_id",
        "product_id",
        "shop_id",
        "order_status",
        "sku_quantity",
        "payment_amount",
        "supply_amount",
        "supply_cost",
        "delivery_fee",
        "order_date",
    )


def rocket_sales_shipping(sales: DataFrame, shipping: DataFrame) -> DataFrame:
    """FULL OUTER merge of the pre-aggregated sales and shipping feeds
    with the NULL->7 / LEAST(status,3) rule (:829-893).

    sales: order_id, option_id, vendor_id, order_status, order_quantity,
    sales_amount, settlement_amount, sales_date (pre-aggregated:
    UNIQUE per (order_id, option_id), amounts already summed to long).
    shipping: order_id, option_id, vendor_id, delivery_fee, sales_date
    (same contract).

    Because each input is unique on the join key, the full-outer merge
    is also unique per (order_id, option_id) and the reference's
    GROUP BY (sales_date, order_id, option_id) aggregates singleton
    groups — so it is evaluated as a row-wise projection (MIN(v) -> v,
    COALESCE(SUM(x), 0) -> COALESCE(x, 0), the status rule applied
    directly). That removes one Exchange and a two-pass SortAggregate
    (the MIN over the string vendor_id is not hash-aggregatable) from
    every caller; ``tests/test_operators.py`` pins equivalence with
    the aggregate form on a fixture with one-sided and NULL-date rows.
    """
    s = sales.alias("s")
    h = shipping.alias("h")
    z = F.lit(0)
    return s.join(
        h,
        (F.col("s.order_id") == F.col("h.order_id"))
        & (F.col("s.option_id") == F.col("h.option_id")),
        "full_outer",
    ).select(
        F.coalesce("s.sales_date", "h.sales_date").alias("sales_date"),
        F.coalesce("s.order_id", "h.order_id").alias("order_id"),
        F.coalesce("s.option_id", "h.option_id").alias("option_id"),
        F.coalesce("s.vendor_id", "h.vendor_id").alias("vendor_id"),
        F.when(F.col("s.order_status").isNull(), F.lit(7))
        .otherwise(F.least(F.col("s.order_status"), F.lit(3)))
        .alias("order_status"),
        F.coalesce(F.col("s.order_quantity").cast("long"), z.cast("long")).alias(
            "order_quantity"
        ),
        F.coalesce(F.col("s.sales_amount").cast("long"), z.cast("long")).alias(
            "sales_amount"
        ),
        F.coalesce(F.col("s.settlement_amount").cast("long"), z.cast("long")).alias(
            "settlement_amount"
        ),
        F.coalesce(F.col("h.delivery_fee").cast("long"), z.cast("long")).alias(
            "delivery_fee"
        ),
    )


def coupang_product_order(
    merged: DataFrame,
    rel: DataFrame,
    vendor: DataFrame,
    ecount: DataFrame,
    item: DataFrame,
    unit: DataFrame,
    tiers: DataFrame,
) -> DataFrame:
    """Bundle chain + explode + cost attach + tier delivery extra +
    3-amount split (:894-1059). ``merged`` is rocket_sales_shipping."""
    bundled = (
        merged.join(broadcast(rel), "option_id", "left")
        .join(broadcast(vendor), "vendor_id", "left")
        .filter(~((F.col("order_quantity") == 0) & (F.col("delivery_fee") == 0)))
        .select(
            "order_id",
            "option_id",
            F.coalesce("bundle_product_ids", "bundle_brand_ids", F.lit("200000")).alias(
                "bundle_product_ids"
            ),
            "order_status",
            "order_quantity",
            F.col("sales_amount").alias("payment_amount"),
            F.col("settlement_amount").alias("supply_amount"),
            "delivery_fee",
            F.col("sales_date").alias("order_date"),
        )
    )
    prd = broadcast(
        ecount.select(
            F.col("product_id").alias("__ec_pid"), F.col("org_price").alias("__ec_price")
        )
    )
    itm = broadcast(
        item.select(
            F.col("product_id").alias("__it_pid"),
            F.col("org_price").alias("__it_price"),
            F.col("extra_cost").alias("__it_extra"),
            F.col("delivery_group").alias("__it_group"),
        )
    )
    exploded = (
        bundled.select(
            "*", F.explode(F.split("bundle_product_ids", ",")).alias("bundle_product")
        )
        .withColumn("product_id", _first_token("bundle_product", ":"))
        .join(prd, F.col("product_id") == F.col("__ec_pid"), "left")
        .join(itm, F.col("product_id") == F.col("__it_pid"), "left")
        .select(
            "order_id",
            "option_id",
            "product_id",
            _gift_status("bundle_product", 6).alias("order_status"),
            (_sku_mult("bundle_product") * F.col("order_quantity")).alias(
                "sku_quantity"
            ),
            "payment_amount",
            "supply_amount",
            (
                F.coalesce("__ec_price", "__it_price", F.lit(0))
                + F.coalesce("__it_extra", F.lit(0))
            ).alias("org_price"),
            "delivery_fee",
            F.col("__it_group").alias("delivery_group"),
            "order_date",
        )
    )
    un = broadcast(
        unit.select(F.col("product_id").alias("__un_pid"), F.col("unit").alias("__un"))
    )
    t = broadcast(
        tiers.select(
            F.col("delivery_group").alias("__tg"),
            "min_unit",
            "max_unit",
            F.col("extra_cost").alias("__t_extra"),
        )
    )
    with_extra = (
        exploded.join(un, exploded["product_id"] == F.col("__un_pid"), "left")
        .join(
            t,
            (exploded["delivery_group"] == F.col("__tg"))
            & (
                (exploded["sku_quantity"] * F.coalesce("__un", F.lit(1))).between(
                    F.col("min_unit"), F.col("max_unit")
                )
            ),
            "left",
        )
    )
    w_opt = Window.partitionBy("order_id", "option_id")
    projected = with_extra.select(
        "order_id",
        "option_id",
        "product_id",
        "order_status",
        "sku_quantity",
        "payment_amount",
        "supply_amount",
        (F.col("org_price") * F.col("sku_quantity")).alias("supply_cost"),
        F.col("__t_extra").alias("__extra"),
        "delivery_fee",
        "order_date",
    ).withColumn(
        "delivery_fee",
        F.coalesce(F.max("__extra").over(w_opt), F.lit(0)) + F.col("delivery_fee"),
    ).withColumn(
        "cost_amount",
        F.when(F.col("order_status") == 6, F.lit(0)).otherwise(
            F.col("supply_cost")
        ),
    ).drop("__extra")
    split = split_by_cost_weight(
        projected,
        ["order_id", "option_id"],
        ["payment_amount", "supply_amount", "delivery_fee"],
    )
    return split.select(
        F.col("order_id").cast("string").alias("order_id"),
        "product_id",
        F.lit("shop9001").alias("shop_id"),
        "order_status",
        "sku_quantity",
        "payment_amount",
        "supply_amount",
        "supply_cost",
        "delivery_fee",
        "order_date",
    )


def total_product_order(frames: Sequence[DataFrame]) -> DataFrame:
    """Status-gated union (:1060-1085): qty/payment/supply only at
    status 0 (payment zeroed for adop9000), cost at {0,2,6}, delivery
    at {0,1,2,5,7}."""
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    z = F.lit(0)
    return u.select(
        "order_id",
        "product_id",
        "shop_id",
        "order_status",
        F.when(F.col("order_status") == 0, F.coalesce("sku_quantity", z))
        .otherwise(z)
        .alias("sku_quantity"),
        F.when(F.col("shop_id") == "adop9000", z)
        .when(F.col("order_status") == 0, F.coalesce("payment_amount", z))
        .otherwise(z)
        .alias("payment_amount"),
        F.when(F.col("order_status") == 0, F.coalesce("supply_amount", z))
        .otherwise(z)
        .alias("supply_amount"),
        F.when(F.col("order_status").isin(0, 2, 6), F.coalesce("supply_cost", z))
        .otherwise(z)
        .alias("supply_cost"),
        F.when(
            F.col("order_status").isin(0, 1, 2, 5, 7), F.coalesce("delivery_fee", z)
        )
        .otherwise(z)
        .alias("delivery_fee"),
        "order_date",
    )

