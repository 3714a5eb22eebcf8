"""smartstore — product catalog + hcenter sales datasets, Spark-first.

Complements ``models/orderpipe`` (the SmartStore order dataset) with
the product and statistics surfaces. Parity sites (semantics, not
code):

- ``core/smartstore/api/product/models.sql``:
  Product bulk_insert (:33-75) — the 12-value deliveryAttributeType
  enum, TRY_CASTs, and the ISO SUBSTR(x, 1, 19) timestamp parse;
  the delivery_type seq/code/name dim (:77-92); the THREE option
  variants (:116-204) — simple (type 0, COALESCE(price, 0)),
  combination (type 1, three group/name pairs), supplement (type 2) —
  aligned into ONE table with typed NULLs (U1) and per-variant
  ``ROW_NUMBER() OVER ()`` register order (W1: insertion order ->
  explicit seq + range-partitioned global_row_number).
- ``core/smartstore/hcenter/sales/models.sql``:
  StoreSales / ProductSales (:12-80) — nested JSON struct paths
  (product.category.identifier, sales.paymentCount) as column
  expressions; AggregatedSales (:106-127) — DISTINCT then SUM/MAX
  rollup to (payment_date, product); the product-master side
  (:129-146) — QUALIFY first-row-per-product + the COALESCE /
  LEAST(first_payment_date) / GREATEST(last_payment_date) upsert.

Scale notes
-----------
- Parses are narrow projections over nested columns — Spark reads
  struct fields columnar (parquet pushdown prunes unused subfields).
- Option assembly is a union of projections; the only shuffle is
  global_row_number's range exchange per variant.
- The sales rollup is one partial agg keyed by (product, date); the
  product upsert is the shared merge_frames operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkmerce_spark.frames import from_rows
from linkmerce_spark.functions.scalar import enum_code, iso_ts
from linkmerce_spark.operators.dedup import dedupe_keep_first
from linkmerce_spark.operators.merge import merge_frames
from linkmerce_spark.operators.rownum import global_row_number

__all__ = [
    "parse_products",
    "delivery_type_dim",
    "assemble_options",
    "store_sales",
    "product_sales",
    "aggregated_sales",
    "upsert_sales_products",
    "DELIVERY_TYPES",
]

# api/product/models.sql:55-92 — deliveryAttributeType -> (seq, name_ko).
DELIVERY_TYPES = [
    (0, "NORMAL", "일반배송"),
    (1, "TODAY", "오늘출발"),
    (2, "OPTION_TODAY", "옵션별 오늘출발"),
    (3, "HOPE", "희망일배송"),
    (4, "TODAY_ARRIVAL", "당일배송"),
    (5, "DAWN_ARRIVAL", "새벽배송"),
    (6, "PRE_ORDER", "예약구매"),
    (7, "ARRIVAL_GUARANTEE", "N배송"),
    (8, "SELLER_GUARANTEE", "N판매자배송"),
    (9, "HOPE_SELLER_GUARANTEE", "N희망일배송"),
    (10, "PICKUP", "픽업"),
    (11, "QUICK", "즉시배달"),
]


def parse_products(rows: DataFrame, channel_seq: int) -> DataFrame:
    """Product bulk_insert (api/product/models.sql:33-75)."""
    return rows.select(
        F.col("channelProductNo").cast("bigint").alias("product_id"),
        F.col("originProductNo").cast("bigint").alias("product_no"),
        F.col("modelId").try_cast("bigint").alias("catalog_id"),
        F.lit(channel_seq).cast("bigint").alias("channel_seq"),
        F.col("name").alias("product_name"),
        F.col("sellerManagementCode").alias("management_code"),
        F.col("modelName").alias("model_name"),
        F.col("brandName").alias("brand_name"),
        F.col("categoryId").try_cast("int").alias("category_id"),
        F.col("statusType").alias("status_type"),
        F.col("channelProductDisplayStatusType").alias("display_type"),
        F.col("sellerTags").alias("tags"),
        F.col("salePrice").cast("int").alias("price"),
        F.col("discountedPrice").cast("int").alias("sales_price"),
        enum_code(
            "deliveryAttributeType", {code: seq for seq, code, _ in DELIVERY_TYPES}
        ).alias("delivery_type"),
        F.col("deliveryFee").cast("int").alias("delivery_fee"),
        iso_ts("regDate").alias("register_dt"),
        iso_ts("modifiedDate").alias("modify_dt"),
    )


def delivery_type_dim(spark) -> DataFrame:
    """ProductOrder: delivery_type TVF (api/product/models.sql:77-92)."""
    return from_rows(spark, DELIVERY_TYPES, "seq int, code string, name string")


_OPTION_COLS = [
    "product_id", "option_id", "channel_seq", "product_type",
    "option_group1", "option_name1", "option_group2", "option_name2",
    "option_group3", "option_name3", "management_code", "usable",
    "option_price", "stock_quantity", "register_order",
]


def _null_str() -> Column:
    return F.lit(None).cast("string")


def _variant(
    rows: DataFrame,
    product_id: int,
    channel_seq: int,
    product_type: int,
    cols: dict[str, Column],
    seq_col: str,
) -> DataFrame:
    defaults: dict[str, Column] = {
        "product_id": F.lit(product_id).cast("bigint"),
        "option_id": F.col("id").cast("bigint"),
        "channel_seq": F.lit(channel_seq).cast("bigint"),
        "product_type": F.lit(product_type).cast("int"),
        "option_group2": _null_str(),
        "option_name2": _null_str(),
        "option_group3": _null_str(),
        "option_name3": _null_str(),
        "management_code": _null_str(),
        "usable": F.col("usable").cast("boolean"),
        "stock_quantity": F.col("stockQuantity").try_cast("int"),
    }
    defaults.update(cols)
    data_cols = [c for c in _OPTION_COLS if c != "register_order"]
    return rows.select(
        *[defaults[c].alias(c) for c in data_cols],
        F.col(seq_col).cast("long").alias("__seq"),
    )


def assemble_options(
    simple: DataFrame | None,
    comb: DataFrame | None,
    supplement: DataFrame | None,
    product_id: int,
    channel_seq: int,
    seq_col: str = "seq",
) -> DataFrame:
    """Align the three option variants into one table
    (api/product/models.sql:116-204).

    The reference's per-variant ``ROW_NUMBER() OVER ()`` numbers rows
    in insertion order; callers provide an explicit ``seq_col`` and the
    register order is the range-partitioned global row number over it
    — same contract as models/naversearch.display_ranked.
    """
    parts: list[DataFrame] = []
    if simple is not None:
        parts.append(
            _variant(
                simple, product_id, channel_seq, 0,
                {
                    "option_group1": F.col("groupName"),
                    "option_name1": F.col("name"),
                    # models.sql:136 — simple options default price to 0
                    "option_price": F.coalesce(
                        F.col("price").try_cast("int"), F.lit(0)
                    ),
                },
                seq_col,
            )
        )
    if comb is not None:
        parts.append(
            _variant(
                comb, product_id, channel_seq, 1,
                {
                    "option_group1": F.col("optionGroupName1"),
                    "option_name1": F.col("optionName1"),
                    "option_group2": F.col("optionGroupName2"),
                    "option_name2": F.col("optionName2"),
                    "option_group3": F.col("optionGroupName3"),
                    "option_name3": F.col("optionName3"),
                    "management_code": F.col("sellerManagerCode"),
                    "option_price": F.col("price").cast("int"),
                },
                seq_col,
            )
        )
    if supplement is not None:
        parts.append(
            _variant(
                supplement, product_id, channel_seq, 2,
                {
                    "option_group1": F.col("groupName"),
                    "option_name1": F.col("name"),
                    "management_code": F.col("sellerManagerCode"),
                    "option_price": F.col("price").cast("int"),
                },
                seq_col,
            )
        )
    if not parts:
        raise ValueError("assemble_options: no option variant frames given")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # One numbering pass for ALL variants: global_row_number over
    # (product_type, seq) — numbering is contiguous per variant, so
    # subtracting each variant's min rn (a 3-row broadcast) reproduces
    # the per-variant ROW_NUMBER() OVER (). One range shuffle + one
    # checkpoint instead of one per variant.
    ranked = global_row_number(
        out, [F.col("product_type").asc(), F.col("__seq").asc()], "__rn"
    )
    base = ranked.groupBy("product_type").agg(F.min("__rn").alias("__base"))
    from pyspark.sql.functions import broadcast

    return (
        ranked.join(broadcast(base), "product_type")
        .withColumn(
            "register_order", (F.col("__rn") - F.col("__base") + 1).cast("int")
        )
        .select(*_OPTION_COLS)
    )


def store_sales(rows: DataFrame, mall_seq: int, end_date: str) -> DataFrame:
    """StoreSales bulk_insert (hcenter/sales/models.sql:12-21)."""
    return rows.select(
        F.lit(mall_seq).cast("bigint").alias("mall_seq"),
        F.col("sales.paymentCount").cast("bigint").alias("payment_count"),
        F.col("sales.paymentAmount").cast("bigint").alias("payment_amount"),
        F.col("sales.refundAmount").cast("bigint").alias("refund_amount"),
        F.lit(end_date).cast("date").alias("payment_date"),
    )


def product_sales(rows: DataFrame, mall_seq: int, end_date: str) -> DataFrame:
    """ProductSales bulk_insert (hcenter/sales/models.sql:65-80):
    nested product/category struct paths as column expressions."""
    return rows.select(
        F.col("product.identifier").cast("bigint").alias("product_id"),
        F.col("product.name").alias("product_name"),
        F.lit(mall_seq).cast("bigint").alias("mall_seq"),
        F.col("product.category.identifier").try_cast("int").alias("category_id3"),
        F.col("product.category.name").alias("category_name3"),
        F.col("product.category.fullName").alias("full_category_name"),
        F.col("visit.click").cast("bigint").alias("click_count"),
        F.col("sales.paymentCount").cast("bigint").alias("payment_count"),
        F.col("sales.paymentAmount").cast("bigint").alias("payment_amount"),
        F.lit(end_date).cast("date").alias("payment_date"),
    )


def aggregated_sales(
    rows: DataFrame, mall_seq: int, start_date: str, end_date: str
) -> tuple[DataFrame, DataFrame]:
    """AggregatedSales bulk_insert (hcenter/sales/models.sql:106-146).

    Returns (sales, product): sales is the DISTINCT -> SUM/MAX rollup
    to (payment_date, product_id); product is the first-row-per-product
    master slice (QUALIFY rn=1 — the reference leaves the order
    unspecified; product_name/category tiebreaks pin it) ready for
    ``upsert_sales_products``.
    """
    items = rows.select(
        F.col("product.identifier").cast("bigint").alias("product_id"),
        F.lit(mall_seq).cast("bigint").alias("mall_seq"),
        F.col("product.category.identifier").try_cast("int").alias("category_id3"),
        F.col("visit.click").cast("bigint").alias("click_count"),
        F.col("sales.paymentCount").cast("bigint").alias("payment_count"),
        F.col("sales.paymentAmount").cast("bigint").alias("payment_amount"),
        F.lit(end_date).cast("date").alias("payment_date"),
    ).distinct()
    sales = items.groupBy("product_id", "payment_date").agg(
        F.max("mall_seq").alias("mall_seq"),
        F.max("category_id3").alias("category_id3"),
        F.sum("click_count").alias("click_count"),
        F.sum("payment_count").alias("payment_count"),
        F.sum("payment_amount").alias("payment_amount"),
    )
    product = dedupe_keep_first(
        rows.select(
            F.col("product.identifier").cast("bigint").alias("product_id"),
            F.lit(mall_seq).cast("bigint").alias("mall_seq"),
            F.lit(None).cast("int").alias("category_id"),
            F.col("product.category.identifier").try_cast("int").alias(
                "category_id3"
            ),
            F.col("product.name").alias("product_name"),
            F.lit(None).cast("int").alias("sales_price"),
            F.lit(start_date).cast("date").alias("first_payment_date"),
            F.lit(end_date).cast("date").alias("last_payment_date"),
        ),
        ["product_id"],
        [
            F.col("product_name").asc_nulls_last(),
            F.col("category_id3").asc_nulls_last(),
        ],
    )
    return sales, product


SALES_PRODUCT_VERBS = {
    "category_id": "source_first",
    "category_id3": "source_first",
    "product_name": "source_first",
    "sales_price": "source_first",
    "first_payment_date": "least",
    "last_payment_date": "greatest",
    "mall_seq": "target_first",
}


def upsert_sales_products(target: DataFrame, staged: DataFrame) -> DataFrame:
    """ON CONFLICT DO UPDATE (hcenter/sales/models.sql:140-146)."""
    return merge_frames(target, staged, ["product_id"], matched=SALES_PRODUCT_VERBS)
