"""smartstore extras — hcenter brand catalog, pageview stats, bizdata
marketing channels, and API settlement, Spark-first.

Parity sites (semantics, not code):

- ``core/smartstore/hcenter/catalog/models.sql``: BrandCatalog /
  BrandProduct parses (:32-60, :99-130) — the 4-level
  SPLIT_PART(full_id/full_name, '>') category expansion with
  NULLIF('') scrubbing, NULLIF(makerSeq, 0), nested imageInfo/price
  struct paths, ISO SUBSTR timestamps; BrandPrice 2-way fan
  (:151-185) with the COALESCE/LEAST upsert product side;
  ProductCatalog links (:198-208).
- ``core/smartstore/hcenter/pageview/models.sql``: device enum with
  IN-filter (:13-27), URL pageviews (:41-52), and the URL
  classification (:66-84) — ``/{mall}/products/<id>`` rows keep the
  trailing id, bare ``/{mall}`` rows map to the sentinel 10, others
  drop.
- ``core/smartstore/api/bizdata/models.sql``: IFNULL('-') composite
  PK keys (:19-33).
- ``core/smartstore/api/settlement/models.sql``: HUGEINT order ids ->
  DECIMAL(38,0), the 7-value settleType enum, '%Y-%m-%d' strptime
  guards (:21-46), and the 27-value product_order_type vocabulary.

Scale notes: all narrow projections; fans reuse the dedup/merge
operators at dim cardinality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkmerce_spark.functions.scalar import enum_code, iso_ts

__all__ = [
    "split_category",
    "parse_brand_catalog",
    "parse_brand_products",
    "brand_price",
    "product_catalog_links",
    "pageview_by_device",
    "pageview_by_url",
    "pageview_by_product",
    "marketing_channel",
    "parse_settlements",
    "SETTLE_TYPES",
    "PRODUCT_ORDER_TYPES",
]

MAIN_URL_SENTINEL = 10  # pageview/models.sql:57 — '{10: Main URL}'

SETTLE_TYPES = {
    "NORMAL_SETTLE_ORIGINAL": 0, "NORMAL_SETTLE_AFTER_CANCEL": 1,
    "NORMAL_SETTLE_BEFORE_CANCEL": 2, "QUICK_SETTLE_ORIGINAL": 3,
    "QUICK_SETTLE_CANCEL": 4, "QUANTITY_CANCEL_DEDUCTION": 5,
    "QUANTITY_CANCEL_RESTORE": 6,
}
PRODUCT_ORDER_TYPES = [
    ("PROD_ORDER", "상품 주문"), ("DELIVERY", "배송비"), ("EXTRAFEE", "기타 비용"),
    ("WITHDRAW", "결제 수단 출금"), ("REFUND", "구매자 환불"),
    ("PL_REFUND", "후불 결제 환불"), ("DEDUCTION_RESTORE", "기타 공제 환급"),
    ("PROD_PAY", "상품 결제"), ("PURCHASE_REVIEW", "텍스트 리뷰"),
    ("PREMIUM_PURCHASE_REVIEW", "포토/동영상 리뷰"),
    ("REGULAR_PURCHASE_REVIEW", "알림받기 동의 회원 리뷰 추가 적립"),
    ("ONE_MONTH_PURCHASE_REVIEW", "한 달 사용 텍스트 리뷰"),
    ("ONE_MONTH_PREMIUM_PURCHASE_REVIEW", "한 달 사용 포토/동영상 리뷰"),
    ("REVIEW", "리뷰 적립"), ("ETC_COUPON", "기타 할인"),
    ("QUICK_SETTLE", "빠른정산"), ("QUANTITY_CANCEL", "수량 취소"),
    ("DIFFERENCE_SETTLE", "차액 정산"), ("DEPOSIT_SETTLE", "보증금"),
    ("RENTAL_ORDER", "렌탈 주문"), ("MANUAL_ORDER", "수기 주문"),
    ("RENTAL_SCHEDULED_ORDER", "월 렌탈료 주문"),
    ("PREFERENTIAL_COMMISSION", "우대 수수료 환급"),
    ("POINT_ACCUMULATION", "포인트 적립"),
    ("POST_ORDER_ADJUSTMENT_AMOUNT", "주문 후 변동 금액"),
    ("CSF", "통관 대행료"), ("CONCESSION", "구매자 보상"),
]


def split_category(full_id: Column | str, full_name: Column | str) -> list[Column]:
    """The 4-level '>' category expansion (catalog/models.sql:40-47):
    ids TRY_CAST to int, names NULLIF('') — SPLIT_PART returns '' past
    the last element in both engines."""
    fid = F.col(full_id) if isinstance(full_id, str) else full_id
    fname = F.col(full_name) if isinstance(full_name, str) else full_name
    out: list[Column] = []
    for i in range(1, 5):
        out.append(
            F.split_part(fid, F.lit(">"), F.lit(i))
            .try_cast("int")
            .alias(f"category_id{i}")
        )
        out.append(
            F.nullif(F.split_part(fname, F.lit(">"), F.lit(i)), F.lit("")).alias(
                f"category_name{i}"
            )
        )
    return out


def parse_brand_catalog(rows: DataFrame) -> DataFrame:
    """BrandCatalog bulk_insert (catalog/models.sql:32-60)."""
    return rows.select(
        F.col("identifier").cast("bigint").alias("product_id"),
        F.col("prodName").alias("catalog_name"),
        F.nullif(F.col("makerSeq").cast("bigint"), F.lit(0)).alias("maker_id"),
        F.col("makerName").alias("maker_name"),
        F.col("brandSeq").cast("bigint").alias("brand_id"),
        F.col("brandName").alias("brand_name"),
        F.col("category.identifier").try_cast("int").alias("category_id"),
        F.col("category.name").alias("category_name"),
        *split_category(F.col("category.fullId"), F.col("category.fullName")),
        F.col("imageInfo.src").alias("image_url"),
        F.col("officialAuthLowestPriceRatio.lowestPrice")
        .cast("int")
        .alias("official_price"),
        F.col("officialAuthLowestPriceRatioWithFee.lowestPrice")
        .cast("int")
        .alias("official_price_with_fee"),
        F.col("lowestPrice").cast("int").alias("lowest_price"),
        F.col("allLowestPriceWithFee.lowestPrice")
        .cast("int")
        .alias("lowest_price_with_fee"),
        F.col("productCount").cast("int").alias("product_count"),
        F.col("totalReviewCount").cast("int").alias("review_count"),
        F.col("reviewRating").try_cast("tinyint").alias("review_rating"),
        iso_ts("registerDate").alias("register_dt"),
    )


def parse_brand_products(rows: DataFrame, mall_seq: int) -> DataFrame:
    """BrandProduct bulk_insert (catalog/models.sql:99-130)."""
    return rows.filter(F.col("mallProductId").isNotNull()).select(
        F.col("identifier").cast("bigint").alias("nv_mid"),
        F.col("mallProductId").alias("product_id"),
        F.col("catalogId").cast("bigint").alias("catalog_id"),
        F.col("name").alias("product_name"),
        F.nullif(F.col("makerSeq").cast("bigint"), F.lit(0)).alias("maker_id"),
        F.col("makerName").alias("maker_name"),
        F.col("brandSeq").cast("bigint").alias("brand_id"),
        F.col("brandName").alias("brand_name"),
        F.lit(mall_seq).cast("bigint").alias("mall_seq"),
        F.col("mallName").alias("mall_name"),
        F.col("categoryId").try_cast("int").alias("category_id"),
        F.col("categoryName").alias("category_name"),
        *split_category("fullCategoryId", "fullCategoryName"),
        F.col("outLinkUrl").alias("product_url"),
        F.col("imageInfo.src").alias("image_url"),
        F.col("lowestPrice").cast("int").alias("sales_price"),
        F.col("deliveryFee").try_cast("int").alias("delivery_fee"),
        F.col("clickCount").cast("int").alias("click_count"),
        F.col("totalReviewCount").cast("int").alias("review_count"),
        iso_ts("registerDate").alias("register_dt"),
    )


def brand_price(
    rows: DataFrame, mall_seq: int, as_of: str, as_of_date: str
) -> tuple[DataFrame, DataFrame]:
    """BrandPrice 2-way fan (catalog/models.sql:151-185): (price,
    product-master slice ready for the COALESCE/LEAST upsert)."""
    pid = F.col("mallProductId").try_cast("bigint")
    src = rows.filter(pid.isNotNull())
    price = src.select(
        pid.alias("product_id"),
        F.lit(mall_seq).cast("bigint").alias("mall_seq"),
        F.col("categoryId").try_cast("int").alias("category_id"),
        F.coalesce(F.col("lowestPrice"), F.lit(0)).cast("int").alias("sales_price"),
        F.lit(as_of).cast("timestamp").alias("created_at"),
    )
    product = src.select(
        pid.alias("product_id"),
        F.lit(mall_seq).cast("bigint").alias("mall_seq"),
        F.col("categoryId").try_cast("int").alias("category_id"),
        F.split_part(F.col("fullCategoryId"), F.lit(">"), F.lit(3))
        .try_cast("int")
        .alias("category_id3"),
        F.col("name").alias("product_name"),
        F.coalesce(F.col("lowestPrice"), F.lit(0)).cast("int").alias("sales_price"),
        F.col("registerDate").try_cast("date").alias("first_payment_date"),
        F.lit(as_of_date).cast("date").alias("last_payment_date"),
    )
    return price, product


def product_catalog_links(rows: DataFrame, as_of: str) -> DataFrame:
    """ProductCatalog bulk_insert (catalog/models.sql:198-208)."""
    pid = F.col("mallProductId").try_cast("bigint")
    return rows.filter(pid.isNotNull() & F.col("catalogId").isNotNull()).select(
        pid.alias("product_id"),
        F.col("catalogId").cast("bigint").alias("catalog_id"),
        F.lit(as_of).cast("timestamp").alias("created_at"),
    )


def pageview_by_device(rows: DataFrame, mall_seq: int) -> DataFrame:
    """PageViewByDevice bulk_insert (pageview/models.sql:13-27)."""
    dev = F.col("measuredThrough.device")
    return rows.filter(dev.isin("Pc", "Mobile", "All")).select(
        F.lit(mall_seq).cast("bigint").alias("mall_seq"),
        F.when(dev == "Pc", 0)
        .when(dev == "Mobile", 1)
        .when(dev == "All", 2)
        .otherwise(-1)
        .cast("tinyint")
        .alias("device_type"),
        F.col("visit.pageClick").cast("int").alias("page_click"),
        F.col("visit.userClick").cast("int").alias("user_click"),
        F.col("visit.timeOnSite").cast("bigint").alias("time_on_site"),
        F.col("ymd").cast("date").alias("ymd"),
    )


def pageview_by_url(rows: DataFrame, mall_seq: int) -> DataFrame:
    """PageViewByUrl bulk_insert (pageview/models.sql:41-52)."""
    return rows.filter(F.col("measuredThrough.url").isNotNull()).select(
        F.lit(mall_seq).cast("bigint").alias("mall_seq"),
        F.col("measuredThrough.url").alias("page_url"),
        F.col("visit.pageClick").cast("bigint").alias("page_click"),
        F.col("visit.userClick").cast("bigint").alias("user_click"),
        F.col("visit.timeOnSite").cast("bigint").alias("time_on_site"),
        F.col("ymd").cast("date").alias("ymd"),
    )


def pageview_by_product(rows: DataFrame, mall_seq: int) -> DataFrame:
    """PageViewByProduct bulk_insert (pageview/models.sql:66-84): the
    URL classification — product URLs keep the trailing id, bare mall
    URLs map to the Main-URL sentinel, everything else drops."""
    url = F.col("measuredThrough.url")
    product_id = (
        F.when(
            url.rlike(r"^/[^/]+/products/\d+$"),
            F.regexp_extract(url, r"(\d+)$", 1).cast("bigint"),
        )
        .when(url.rlike(r"^/[^/]+$"), F.lit(MAIN_URL_SENTINEL).cast("bigint"))
        .otherwise(F.lit(None).cast("bigint"))
    )
    return (
        rows.filter(url.isNotNull())
        .select(
            F.lit(mall_seq).cast("bigint").alias("mall_seq"),
            product_id.alias("product_id"),
            F.col("visit.pageClick").cast("bigint").alias("page_click"),
            F.col("visit.userClick").cast("bigint").alias("user_click"),
            F.col("visit.timeOnSite").cast("bigint").alias("time_on_site"),
            F.col("ymd").cast("date").alias("ymd"),
        )
        .filter(F.col("product_id").isNotNull())
    )


def marketing_channel(rows: DataFrame, channel_seq: int, ymd: str) -> DataFrame:
    """MarketingChannel bulk_insert (bizdata/models.sql:19-33):
    IFNULL('-') on every composite-PK attribute."""
    dash = F.lit("-")
    return rows.select(
        F.lit(channel_seq).cast("bigint").alias("channel_seq"),
        F.coalesce(F.col("deviceCategory"), dash).alias("device_category"),
        F.coalesce(F.col("ntSource"), dash).alias("nt_source"),
        F.coalesce(F.col("ntMedium"), dash).alias("nt_medium"),
        F.coalesce(F.col("ntDetail"), dash).alias("nt_detail"),
        F.coalesce(F.col("ntKeyword"), dash).alias("nt_keyword"),
        F.col("numUsers").try_cast("int").alias("num_users"),
        F.col("numInteractions").try_cast("int").alias("num_interactions"),
        F.col("pv").try_cast("int").alias("page_view"),
        F.col("numPurchases").try_cast("int").alias("num_purchases"),
        F.col("payAmount").try_cast("int").alias("payment_amount"),
        F.lit(ymd).cast("date").alias("ymd"),
    )


def parse_settlements(rows: DataFrame, channel_seq: int) -> DataFrame:
    """Settlement bulk_insert (settlement/models.sql:21-46): HUGEINT
    order ids as DECIMAL(38,0), the settleType enum, and the pay-date
    guard."""
    pay_date = F.try_to_timestamp(F.col("payDate"), F.lit("yyyy-MM-dd")).cast("date")
    return rows.filter(pay_date.isNotNull()).select(
        F.col("productOrderId").cast("decimal(38,0)").alias("product_order_id"),
        F.col("orderId").cast("bigint").alias("order_id"),
        F.lit(channel_seq).cast("bigint").alias("channel_seq"),
        F.col("productId").try_cast("bigint").alias("product_id"),
        F.col("productOrderType").alias("product_order_type"),
        enum_code("settleType", SETTLE_TYPES).alias("settle_type"),
        F.col("paySettleAmount").cast("int").alias("payment_amount"),
        F.col("totalPayCommissionAmount").cast("int").alias("pay_commision_amount"),
        F.col("freeInstallmentCommissionAmount")
        .cast("int")
        .alias("free_installment_commision_amount"),
        F.col("sellingInterlockCommissionAmount")
        .cast("int")
        .alias("selling_interlock_commision_amount"),
        F.col("benefitSettleAmount").cast("int").alias("benefit_settle_amount"),
        F.col("settleExpectAmount").cast("int").alias("settle_expect_amount"),
        pay_date.alias("payment_date"),
        F.try_to_timestamp(F.col("settleCompleteDate"), F.lit("yyyy-MM-dd"))
        .cast("date")
        .alias("settlement_date"),
    )
