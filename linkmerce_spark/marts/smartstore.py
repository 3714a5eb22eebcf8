"""SmartStore daily-sales mart: tier bounds, cost-weight amount splits,
order-level max delivery fee.

Parity targets (semantics, not code) in dbt_postgres/models/
intermediate/sales/smartstore/smartstore__sales_daily.sql:

- ``delivery_tiers`` (:18-31): quantity tiers per delivery group with
  LEAD(min_unit) upper bounds (open top tier -> 9999) and the summed
  COALESCE'd extra costs — the W5 tier-bounds idiom.
- ``explode_bundle_orders`` (:140-166): LATERAL unnest of the CSV
  bundle with ':'-suffixed SKU multipliers (regex-guarded int parse,
  default 1) and org-price cost lookup.
- ``split_by_cost_weight`` (:170-216, :333-374): proportional
  allocation of order amounts over bundle rows by cost weight —
  ROUND(amount * cost/total) per row, remainder folded into the FIRST
  row (ROW_NUMBER by product) so group totals are preserved exactly;
  groups of one bypass the split untouched. Rounding is
  floor(x + 0.5) in both engines (the catalog's determinism rule).
- ``max_delivery_fee`` (:263-300): per-(order, invoice, group)
  aggregate, tier-range join (qty BETWEEN min_unit AND max_unit), the
  4-branch fee rule, then DISTINCT ON (order, invoice) keeping the
  LARGEST-ABSOLUTE fee (A7 with ABS ordering; fee/group tiebreaks make
  the winner engine-independent).

Scale notes
-----------
- The tier dim and price dim are broadcast; the only shuffles are the
  per-group allocation windows (keyed by order ids — uniform) and the
  final daily aggregation.
- Everything is built-in column expressions (codegen); the explode
  fan-out is bounded by bundle size.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

__all__ = [
    "delivery_tiers",
    "split_by_cost_weight",
    "max_delivery_fee",
    "attach_max_delivery_fee",
    "sku_quantity",
    "opt_to_sbn_relation",
    "smartstore_sales_daily",
]

OPEN_TIER_MAX = 9999  # smartstore__sales_daily.sql:23


# The bundle-id format shared by every sales mart: a CSV of elements
# 'pid[:N]' (N = SKU multiplier) or '-'-structured sabangnet option
# ids ('pid-opt'); a '9'-prefixed pid is a gift product.


def _first_token(col: Column | str, sep: str) -> Column:
    """The part of ``col`` before the first ``sep`` (the whole value
    when ``sep`` is absent)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_element_at(F.split(c, sep), F.lit(1))


def _sku_mult(bundle: Column | str) -> Column:
    """The ':N' SKU multiplier of a bundle element (:148-153): the
    suffix must be all digits, anything else (or absent) counts as 1."""
    b = F.col(bundle) if isinstance(bundle, str) else bundle
    # try_element_at: NULL (not an error) past the end even in ANSI mode
    suffix = F.try_element_at(F.split(b, ":"), F.lit(2))
    return F.when(suffix.rlike("^[0-9]+$"), suffix.cast("int")).otherwise(F.lit(1))


def _gift_status(
    bundle: str, promoted: int, otherwise: Column | None = None
) -> Column:
    """A paid (status 0) row whose bundle element is a '9'-prefixed
    gift product takes status ``promoted``; every other row keeps
    ``otherwise`` (default: its ``order_status``)."""
    st = F.col("order_status")
    return F.when(
        (st == 0) & (F.substring(bundle, 1, 1) == "9"), F.lit(promoted)
    ).otherwise(st if otherwise is None else otherwise)


def delivery_tiers(dlv: DataFrame) -> DataFrame:
    """Tier table with LEAD-derived [min_unit, max_unit] bounds.

    The top tier of each group is open-ended (max_unit 9999); extra
    cost folds the four optional cost components, NULL-as-zero.
    """
    w = Window.partitionBy("delivery_group").orderBy(F.col("min_unit").asc())
    wg = Window.partitionBy("delivery_group")
    min_unit = F.coalesce(F.col("min_unit"), F.lit(1))
    extra = (
        F.coalesce(F.col("coolant_cost"), F.lit(0))
        + F.coalesce(F.col("label_cost"), F.lit(0))
        + F.coalesce(F.col("wrap_cost"), F.lit(0))
        + F.coalesce(F.col("box_cost"), F.lit(0))
    )
    return dlv.select(
        "delivery_group",
        min_unit.alias("min_unit"),
        F.when(
            F.max("min_unit").over(wg) == F.col("min_unit"), F.lit(OPEN_TIER_MAX)
        )
        .otherwise(F.lead("min_unit").over(w))
        .alias("max_unit"),
        F.coalesce(F.col("delivery_fee"), F.lit(0)).alias("delivery_fee"),
        extra.alias("extra_cost"),
        F.coalesce(F.col("n_arrival_fee"), F.lit(0)).alias("n_arrival_fee"),
        F.coalesce(F.col("n_arrival_add"), F.lit(0)).alias("n_arrival_add"),
    )


def sku_quantity(bundle_product: Column | str, order_quantity: Column | str) -> Column:
    """':N'-suffixed SKU multiplier x order quantity."""
    q = F.col(order_quantity) if isinstance(order_quantity, str) else order_quantity
    return (_sku_mult(bundle_product) * q).alias("sku_quantity")


def split_by_cost_weight(
    df: DataFrame,
    keys: Sequence[str],
    amount_cols: Sequence[str],
    cost_col: str = "cost_amount",
    order_col: str = "product_id",
) -> DataFrame:
    """Allocate ``amount_cols`` over each key group by cost weight.

    Per group: split_i = floor(amount * cost_i / total_cost + 0.5)
    (NULL-safe -> 0), with the rounding remainder folded into the first
    row ordered by ``order_col`` so SUM(split) == amount exactly.
    Groups of one keep their amounts untouched (the reference splits
    only ``bundle_product_count > 1`` and unions the singletons back).
    """
    wg = Window.partitionBy(*keys)
    wo = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    out = (
        df.withColumn("__n", F.count(F.lit(1)).over(wg))
        .withColumn("__total_cost", F.sum(cost_col).over(wg))
        .withColumn("__rn", F.row_number().over(wo))
    )
    for c in amount_cols:
        split = F.coalesce(
            F.floor(
                F.col(c)
                * (F.col(cost_col) / F.nullif(F.col("__total_cost"), F.lit(0)))
                + F.lit(0.5)
            ).cast("long"),
            F.lit(0),
        )
        out = out.withColumn(f"__split_{c}", split)
        adjusted = (
            F.when(
                F.col("__rn") == 1,
                F.col(c) - F.sum(f"__split_{c}").over(wg),
            ).otherwise(F.lit(0))
            + F.col(f"__split_{c}")
        )
        out = out.withColumn(c, F.when(F.col("__n") > 1, adjusted).otherwise(F.col(c)))
    return out.drop("__n", "__total_cost", "__rn", *[f"__split_{c}" for c in amount_cols])


def max_delivery_fee(po: DataFrame, tiers: DataFrame) -> DataFrame:
    """Largest-absolute delivery fee per (order, invoice) (:263-300).

    5-1: aggregate delivery data per (order, invoice, group);
    5-2: fee under the matching quantity tier — missing tier keeps the
    order's own fee, positive order fee adds box-or-extra cost,
    delivery_type 7 uses the arrival fee schedule, else tier fee+extra;
    5-3: DISTINCT ON (order, invoice) by ABS(fee) DESC with fee/group
    tiebreaks (the reference's ordering is partial; the tiebreaks make
    the winner deterministic without changing the max-ABS semantics).
    """
    agg = po.groupBy("order_id", "invoice_no", "delivery_group").agg(
        F.max("delivery_type").alias("delivery_type"),
        F.max("delivery_fee").alias("delivery_fee"),
        F.sum("box_cost").alias("box_cost"),
        F.coalesce(F.sum("delivery_quantity"), F.lit(0)).alias("delivery_quantity"),
    )
    t = tiers.select(
        F.col("delivery_group").alias("__tg"),
        "min_unit",
        "max_unit",
        F.col("delivery_fee").alias("__tier_fee"),
        "extra_cost",
        "n_arrival_fee",
        "n_arrival_add",
    )
    j = agg.join(
        broadcast(t),
        (agg.delivery_group == t.__tg)
        & agg.delivery_quantity.between(t.min_unit, t.max_unit),
        "left",
    )
    fee = (
        F.when(F.col("__tg").isNull(), F.col("delivery_fee"))
        .when(
            F.col("delivery_fee") > 0,
            F.col("delivery_fee")
            + F.when(F.col("box_cost") > 0, F.col("box_cost")).otherwise(
                F.col("extra_cost")
            ),
        )
        .when(
            F.col("delivery_type") == 7,
            F.col("n_arrival_fee")
            + F.col("n_arrival_add") * (F.col("delivery_quantity") - F.col("min_unit")),
        )
        .otherwise(F.col("__tier_fee") + F.col("extra_cost"))
    )
    scored = j.select(
        "order_id", "invoice_no", "delivery_group", fee.alias("delivery_fee")
    )
    w = Window.partitionBy("order_id", "invoice_no").orderBy(
        F.abs(F.col("delivery_fee")).desc(),
        F.col("delivery_fee").desc(),
        F.col("delivery_group").asc(),
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def attach_max_delivery_fee(
    po: DataFrame, tiers: DataFrame, delivery_type: Column | None = None
) -> DataFrame:
    """Replace ``delivery_fee`` on every row of ``po`` with the
    per-(order, invoice) max-ABS tier fee — the FUSED form of
    ``max_delivery_fee`` + join-back.

    ``fee = max_delivery_fee(po, tiers)`` followed by
    ``po.join(fee, on=(order, invoice))`` evaluates the whole upstream
    plan TWICE (the aggregate side and the join side are separate
    subtrees — Spark does not share them), which on the deep sales
    marts doubles every scan, explode and allocation window. This
    helper computes the same winner fee with window functions over
    ``po`` itself, all satisfiable by ONE hash exchange on
    (order_id, invoice_no):

    - the per-(order, invoice, delivery_group) aggregates of 5-1
      become window aggregates (clustering by (order, invoice) also
      clusters the finer group key);
    - the tier-range join of 5-2 becomes a broadcast join against
      tiers COLLAPSED TO ONE ROW PER GROUP (``collect_list`` of tier
      structs) + a higher-order ``filter``/``transform`` over that
      array. This is deliberate: tier bounds from ``delivery_tiers``
      are [min, LEAD(min)] with an INCLUSIVE between, so a boundary
      quantity matches TWO tiers — a plain fact-side range join would
      duplicate rows, the array form cannot fan out;
    - the max-ABS winner of 5-3 (ties: fee desc) is
      ``max(struct(abs(fee), fee))`` per (order, invoice) — the
      group-asc tiebreak of ``max_delivery_fee`` only disambiguates
      the reported GROUP, never the fee value, so the attached fee is
      identical.

    ``delivery_type`` overrides the column of the same name (the
    sabangnet mart feeds a constant 0 without materializing it).
    """
    dt = F.col("delivery_type") if delivery_type is None else delivery_type
    tier_struct = F.struct(
        F.col("min_unit").alias("min_unit"),
        F.col("max_unit").alias("max_unit"),
        F.col("delivery_fee").alias("tier_fee"),
        F.col("extra_cost").alias("extra_cost"),
        F.col("n_arrival_fee").alias("n_arrival_fee"),
        F.col("n_arrival_add").alias("n_arrival_add"),
    )
    tg = tiers.groupBy(F.col("delivery_group").alias("__tg")).agg(
        F.collect_list(tier_struct).alias("__tiers")
    )
    wg = Window.partitionBy("order_id", "invoice_no", "delivery_group")
    woi = Window.partitionBy("order_id", "invoice_no")
    g_dt = F.max(dt).over(wg)
    g_fee = F.max("delivery_fee").over(wg)
    g_box = F.sum("box_cost").over(wg)
    g_qty = F.coalesce(F.sum("delivery_quantity").over(wg), F.lit(0))
    j = (
        po.withColumn("__g_dt", g_dt)
        .withColumn("__g_fee", g_fee)
        .withColumn("__g_box", g_box)
        .withColumn("__g_qty", g_qty)
        .join(broadcast(tg), F.col("delivery_group") == F.col("__tg"), "left")
    )

    def tier_fee(t: Column) -> Column:
        # 5-2 fee rule per candidate tier (matches max_delivery_fee).
        return (
            F.when(
                F.col("__g_fee") > 0,
                F.col("__g_fee")
                + F.when(F.col("__g_box") > 0, F.col("__g_box")).otherwise(
                    t["extra_cost"]
                ),
            )
            .when(
                F.col("__g_dt") == 7,
                t["n_arrival_fee"]
                + t["n_arrival_add"] * (F.col("__g_qty") - t["min_unit"]),
            )
            .otherwise(t["tier_fee"] + t["extra_cost"])
        )

    matches = F.filter(
        F.col("__tiers"),
        lambda t: (F.col("__g_qty") >= t["min_unit"])
        & (F.col("__g_qty") <= t["max_unit"]),
    )
    cands = F.transform(matches, tier_fee)
    # Best candidate per row's group: lexicographic struct max =
    # (abs desc, fee desc); missing tier group / no matching tier
    # keeps the group's own fee (the NULL-__tg branch of 5-2).
    best = F.array_max(
        F.transform(cands, lambda c: F.struct(F.abs(c).alias("a"), c.alias("f")))
    )["f"]
    row_cand = F.when(
        F.col("__tiers").isNull() | (F.size(cands) == 0), F.col("__g_fee")
    ).otherwise(best)
    win = F.max(
        F.struct(F.abs(row_cand).alias("a"), row_cand.alias("f"))
    ).over(woi)["f"]
    keep = [c for c in po.columns if c != "delivery_fee"]
    return j.select(*keep, win.alias("delivery_fee")).select(*po.columns)


def opt_to_sbn_relation(
    existing_rel: DataFrame,
    order_options: DataFrame,
    mapping_id: DataFrame,
    mapping_name: DataFrame,
    add_product: DataFrame,
    sbn_options: DataFrame,
    shop_id: str = "shop0055",
) -> DataFrame:
    """SmartStore option -> sabangnet bundle relation with auto-matching.

    ~ relation__smt_opt_to_sbn_ids (dbt_postgres/models/intermediate/
    sales/smartstore/relation__smt_opt_to_sbn_ids.sql): options absent
    from the curated relation are matched by product type —
    type 0 by product id against the id mapping (:31-40, option id =
    product_id || '-0001'); type 1 by sku name against the name mapping,
    where a '$수량$' placeholder compiles into a regex (escape the
    literal parts, placeholder -> '[^/]* / [^/]*', edge placeholders ->
    '[^/]*', :42-67); type 2 by the '[group]'-prefixed product name or
    the space-stripped 'group:option' concat against the add-product
    catalog (:69-87). Matches resolve to bundles via the sabangnet
    option table ('option:1' self-bundle default, '-NNNN' sku suffixes
    stripped, :89-108), and ONE bundle per option wins — fewest bundle
    items, then lowest option id (:117-130 ROW_NUMBER).

    Scale notes: every mapping/catalog input is a dimension (broadcast);
    the OR-condition type-2 match is a broadcast nested-loop on dim
    cardinality, never fact-sized. The final ROW_NUMBER partitions on
    option_id_smt — per-option groups of a handful of candidates.
    """
    opts = order_options.alias("opt").join(
        existing_rel.select("option_id").alias("rel"),
        F.col("opt.option_id") == F.col("rel.option_id"),
        "left_anti",
    )

    # type 0: id-mapped products, synthesized '-0001' default option.
    m_id = mapping_id.filter(F.col("shop_id") == shop_id).alias("map")
    type0 = (
        opts.filter(F.col("opt.product_type") == 0)
        .join(
            broadcast(m_id),
            F.col("opt.product_id").cast("string") == F.col("map.product_id_shop"),
        )
        .select(
            F.col("opt.option_id").alias("option_id_smt"),
            F.concat(F.col("map.product_id"), F.lit("-0001")).alias("option_id_sbn"),
        )
    )

    # type 1: sku-name match; '$수량$' placeholder compiles to a regex.
    qty_marker = "$수량$"
    escaped = F.regexp_replace(
        F.replace(F.col("sku_name"), F.lit(qty_marker), F.lit("__수량__")),
        r"([\*\+\?\$\^\.\[\]\{\}\(\)\|])",
        r"\\$1",
    )
    pattern = F.replace(
        F.regexp_replace(
            F.regexp_replace(escaped, "^__수량__", r"[^/]*"),
            "__수량__$",
            r"[^/]*",
        ),
        F.lit("__수량__"),
        F.lit("[^/]* / [^/]*"),
    )
    m_name = (
        mapping_name.filter(F.col("shop_id") == shop_id)
        .withColumn("sku_pattern", pattern)
        .alias("map")
    )
    name_cond = F.when(
        F.col("map.sku_name").contains(qty_marker),
        F.regexp_like(F.col("opt.option_name"), F.col("map.sku_pattern")),
    ).otherwise(F.col("opt.option_name") == F.col("map.sku_name"))
    type1 = (
        opts.filter(F.col("opt.product_type") == 1)
        .join(
            broadcast(m_name),
            (F.col("opt.product_id").cast("string") == F.col("map.product_id_shop"))
            & name_cond,
        )
        .select(
            F.col("opt.option_id").alias("option_id_smt"),
            F.col("map.option_id").alias("option_id_sbn"),
        )
    )

    # type 2: '[group]'-prefixed add products, two alternative matches.
    t2 = (
        opts.filter(F.col("opt.product_type") == 2)
        .select(
            F.col("opt.option_id").alias("option_id_smt"),
            # Postgres regexp_match yields NULL on no-match; Spark's
            # regexp_extract yields '' — NULLIF restores NULL-never-
            # matches so an unprefixed product_name can't equi-join an
            # add_product row whose group_id is ''.
            F.nullif(
                F.regexp_extract(F.col("opt.product_name"), r"^\[([^\]]+)\]", 1),
                F.lit(""),
            ).alias("opt_group_id"),
            F.trim(
                F.regexp_replace(F.col("opt.product_name"), r"^\[[^\]]+\]", "")
            ).alias("opt_product_name"),
            F.col("opt.option_name").alias("opt_option_name"),
        )
        .alias("t2")
    )
    prd = add_product.alias("prd")
    strip = lambda c: F.replace(F.col(c), F.lit(" "), F.lit(""))  # noqa: E731
    type2 = t2.join(
        broadcast(prd),
        (
            (F.col("t2.opt_group_id") == F.col("prd.group_id"))
            & (F.col("t2.opt_product_name") == F.col("prd.option_name"))
        )
        | (
            strip("t2.opt_option_name")
            == F.concat(strip("prd.group_name"), F.lit(":"), strip("prd.option_name"))
        ),
    ).select(
        F.col("t2.option_id_smt").alias("option_id_smt"),
        F.col("prd.option_id").alias("option_id_sbn"),
    )

    matched = type0.unionByName(type1).unionByName(type2).alias("smt")
    auto = matched.join(
        broadcast(sbn_options.select("option_id", "bundle_option_ids").alias("sbn")),
        F.col("smt.option_id_sbn") == F.col("sbn.option_id"),
        "left",
    ).select(
        "smt.option_id_smt",
        "smt.option_id_sbn",
        F.regexp_replace(
            F.coalesce(
                F.col("sbn.bundle_option_ids"),
                F.concat(F.col("smt.option_id_sbn"), F.lit(":1")),
            ),
            "-[0-9]{4}",
            "",
        ).alias("bundle_product_ids"),
    )

    w = Window.partitionBy("option_id_smt").orderBy(
        F.size(F.split(F.col("bundle_product_ids"), ",")).asc(),
        F.col("option_id_sbn").asc(),
    )
    best = (
        auto.withColumn("option_rank", F.row_number().over(w))
        .filter(F.col("option_rank") == 1)
        .select(
            F.col("option_id_smt").alias("option_id"),
            "bundle_product_ids",
        )
    )
    return existing_rel.select("option_id", "bundle_product_ids").unionByName(best)


def smartstore_sales_daily(
    order_detail: DataFrame,
    order_delivery: DataFrame,
    order_status_smt: DataFrame,
    order_status_cor: DataFrame,
    opt_rel: DataFrame,
    channel: DataFrame,
    ecount: DataFrame,
    item: DataFrame,
    cj_inv: DataFrame,
    cj_ord: DataFrame,
    unit: DataFrame,
    tiers: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """smartstore__sales_daily end-to-end (dbt_postgres/models/
    intermediate/sales/smartstore/smartstore__sales_daily.sql:49-396):

    1. order prep: ANY_VALUE invoice per product order, MAX smartstore
       status, MAX core status (numeric ids, '스마트스토어' only) over
       the half-open timestamp window;
    2. bundle rows: relation > channel-brand > 200000 COALESCE, the
       delivery_type 7 passthrough, the status precedence CASE
       (core > smartstore remap 7->1 / 5->2 / {6,8}->3 > 0), payment =
       (unit+option)*qty - seller discount;
    3. explode + cost attach with the 9-prefix status-6 promotion and
       the status-6 zero cost_amount;
    4. payment/supply cost-weight split per product order
       (``split_by_cost_weight``);
    5. CJ delivery COALESCE chain (invoice > order > own > 0) +
       delivery quantity (``with_cj_delivery`` from marts/total_order —
       the sabangnet step is the same SQL);
    6. per-(order, invoice) max-ABS tier fee (``max_delivery_fee`` —
       delivery_type 7 exercises the N-arrival schedule here);
    7. fee cost-weight split per (order, invoice);
    8. (order_date, product, delivery_type, status) daily rollup.

    ``cj_inv``/``cj_ord`` are the cj__invoice / cj__invoice_order TVF
    outputs — callers widen their window by ±7 days (reference
    :249-258).

    Scale notes: dims broadcast; the explode fans by bundle size; the
    allocation windows partition on order-grain keys; the only other
    shuffles are the three order-prep groupBys and the final rollup.
    """
    from linkmerce_spark.marts.total_order import with_cj_delivery

    lo = F.lit(start_date).cast("date").cast("timestamp")
    hi = F.date_add(F.lit(end_date).cast("date"), 1).cast("timestamp")
    in_ts = lambda c: (F.col(c) >= lo) & (F.col(c) < hi)  # noqa: E731

    dlv = (
        order_delivery.filter(in_ts("payment_dt"))
        .groupBy("product_order_id")
        .agg(F.min("invoice_no").alias("__d_inv"))
        .withColumnRenamed("product_order_id", "__d_poid")
    )
    st_smt = (
        order_status_smt.filter(in_ts("payment_dt"))
        .groupBy("product_order_id")
        .agg(F.max("order_status").alias("__s_smt"))
        .withColumnRenamed("product_order_id", "__s_poid")
    )
    st_cor = (
        order_status_cor.filter(
            F.col("order_date").between(
                F.lit(start_date).cast("date"), F.lit(end_date).cast("date")
            )
            & (F.col("shop_name") == "스마트스토어")
            & F.col("order_id").rlike("^[0-9]+$")
        )
        .groupBy(F.col("order_id").cast("bigint").alias("__c_oid"))
        .agg(F.max("order_status").alias("__s_cor"))
    )
    rel = broadcast(
        opt_rel.select(
            F.col("option_id").alias("__r_opt"),
            F.col("bundle_product_ids").alias("__r_bundle"),
        )
    )
    chl = broadcast(
        channel.select(
            F.col("channel_seq").alias("__ch_seq"),
            F.col("brand_id").alias("__ch_brand"),
        )
    )
    status = (
        F.when(F.col("__s_cor").isNotNull(), F.col("__s_cor"))
        .when(F.col("__s_smt") == 7, F.lit(1))
        .when(F.col("__s_smt") == 5, F.lit(2))
        .when(F.col("__s_smt").isin(6, 8), F.lit(3))
        .otherwise(F.lit(0))
    )
    bundle = (
        order_detail.filter(in_ts("payment_dt"))
        .join(broadcast(dlv), F.col("product_order_id") == F.col("__d_poid"), "left")
        .join(rel, F.col("option_id") == F.col("__r_opt"), "left")
        .join(chl, F.col("channel_seq") == F.col("__ch_seq"), "left")
        .join(
            broadcast(st_smt),
            F.col("product_order_id") == F.col("__s_poid"),
            "left",
        )
        .join(broadcast(st_cor), F.col("order_id") == F.col("__c_oid"), "left")
        .select(
            "order_id",
            "product_order_id",
            F.coalesce("__d_inv", F.lit("-")).alias("invoice_no"),
            F.coalesce("__r_bundle", "__ch_brand", F.lit("200000")).alias(
                "bundle_product_ids"
            ),
            F.when(F.col("delivery_type") == 7, F.lit(7))
            .otherwise(F.lit(0))
            .alias("delivery_type"),
            status.alias("order_status"),
            F.coalesce("order_quantity", F.lit(0)).alias("order_quantity"),
            (
                (
                    F.coalesce("unit_price", F.lit(0))
                    + F.coalesce("option_price", F.lit(0))
                )
                * F.coalesce("order_quantity", F.lit(0))
                - F.coalesce("seller_discount_amount", F.lit(0))
            ).alias("payment_amount"),
            F.coalesce("supply_amount", F.lit(0)).alias("supply_amount"),
            F.col("payment_dt").cast("date").alias("order_date"),
        )
    )
    prd = broadcast(
        ecount.select(
            F.col("product_id").alias("__ec_pid"),
            F.col("org_price").alias("__ec_price"),
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
    pid = _first_token(F.col("bundle_product"), ":")
    exploded = (
        bundle.select(
            "*",
            F.explode(F.split("bundle_product_ids", ",")).alias("bundle_product"),
        )
        .join(prd, pid == F.col("__ec_pid"), "left")
        .join(itm, pid == F.col("__it_pid"), "left")
        .select(
            "order_id",
            "product_order_id",
            "invoice_no",
            pid.alias("product_id"),
            "delivery_type",
            _gift_status("bundle_product", 6).alias("order_status"),
            (sku_quantity("bundle_product", "order_quantity")),
            "payment_amount",
            "supply_amount",
            (
                F.coalesce("__ec_price", "__it_price", F.lit(0))
                + F.coalesce("__it_extra", F.lit(0))
            ).alias("org_price"),
            F.coalesce("__it_group", F.lit("-")).alias("delivery_group"),
            F.coalesce("__it_fee", F.lit(0)).alias("delivery_fee"),
            "order_date",
        )
        .withColumn(
            "cost_amount",
            F.when(F.col("order_status") == 6, F.lit(0)).otherwise(
                F.col("org_price") * F.col("sku_quantity")
            ),
        )
    )
    # ONE exchange for the whole allocation chain (guide §2.4): every
    # window stage below — the per-product-order amount split, the
    # per-(order, invoice, group) fee aggregates, the per-(order,
    # invoice) winner and fee split — clusters on a superset of
    # order_id, and the in-between joins are all broadcast, so an
    # explicit hash(order_id) repartition satisfies all of them.
    # Without it Spark plans one exchange PER DISTINCT window key
    # (hash(product_order_id), hash(order, invoice, group),
    # hash(order, invoice): three data-sized shuffles of the exploded
    # fact). The split key gains order_id, which is an identity
    # change: product_order_id is the PK of order_detail, so every
    # exploded row of a product order carries the same order_id.
    split = split_by_cost_weight(
        exploded.repartition(F.col("order_id")),
        ["order_id", "product_order_id"],
        ["payment_amount", "supply_amount"],
    )
    dlv2 = with_cj_delivery(split, cj_inv, cj_ord, unit)
    # Fused fee attach: the aggregate+join-back form re-executed the
    # whole upstream chain (scan/explode/allocation) a second time for
    # the fee subtree — attach_max_delivery_fee computes the identical
    # winner fee with windows over dlv2 itself (riding the order_id
    # exchange established above).
    attached = attach_max_delivery_fee(dlv2, tiers)
    final = split_by_cost_weight(
        attached, ["order_id", "invoice_no"], ["delivery_fee"]
    )
    return final.groupBy(
        "order_date", "product_id", "delivery_type", "order_status"
    ).agg(
        F.sum("sku_quantity").alias("sku_quantity"),
        F.sum("payment_amount").alias("payment_amount"),
        F.sum("supply_amount").alias("supply_amount"),
        F.sum("supply_cost").alias("supply_cost"),
        F.sum("delivery_fee").alias("delivery_fee"),
    )
