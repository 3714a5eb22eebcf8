"""coupang — the reference's Coupang ads + Wing settlement dataset,
Spark-first.

Parity sites (semantics, not code):

- ``core/coupang/advertising/report/models.sql``:
  Campaign/Adgroup bulk_insert (:35-78) — vendor/goal enum encodings
  and the ISO-timestamp SUBSTR(createdAt, 1, 19) parse; Creative
  (:102-114); ProductAdReport (:145-189) — comma-stripped numeric
  TRY_CASTs, the placement-group enum with ELSE 2 catch-all, the
  BIGINT yyyymmdd -> DATE parse, and the SUM rollup to the PK grain
  (ymd, campaign, option, option_conv, placement); NewCustomerAdReport
  (:218-259) — NULLIF(0) option scrub plus the MIN/MIN/SUM/AVG rollup.
- ``core/coupang/wing/settlement/models.sql``: RocketSettlementDownload
  sales (:127-156) and shipping (:157-190) — transaction/period-type
  enum blocks with the ELSE 99 unknown bucket and TRY_CAST amount
  parses; the seq/name dimension TVFs (:191-217) as plain DataFrames.

Spark-first notes
-----------------
- Every parse is a narrow projection; enums are ``functions.scalar``
  ``enum_code`` map lookups, ISO timestamps its ``iso_ts``, and
  comma-stripping is regexp_replace + try_cast — the comma-number
  idiom.
- Report rollups are single partial-aggregation groupBys keyed by the
  target PK — the PK grain is fine (date x campaign x option), no
  skew; AVG(stay_time) aggregates map-side like any other agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkmerce_spark.frames import from_rows
from linkmerce_spark.functions.scalar import enum_code, iso_ts

__all__ = [
    "parse_campaigns",
    "parse_adgroups",
    "parse_creatives",
    "product_ad_report",
    "new_customer_ad_report",
    "settlement_sales",
    "settlement_shipping",
    "goal_type_dim",
    "settlement_type_dim",
    "period_type_dim",
    "product_size_dim",
]

# advertising/report/models.sql:41-49
_VENDOR_TYPES = {"3P": 0, "Retail": 1}
_GOAL_TYPES = {"SALES": 0, "NCA": 1, "REACH": 2}
GOAL_TYPE_NAMES = [(0, "SALES", "매출 성장"), (1, "NCA", "신규 구매 고객 확보"), (2, "REACH", "인지도 상승")]

# wing/settlement/models.sql:191-217
SETTLEMENT_TYPE_NAMES = [
    (0, "주문 정산"), (1, "주문 정산취소"), (2, "입출고비 정산"),
    (3, "입출고비 정산취소"), (4, "배송비 정산"), (5, "배송비 정산취소"),
]
PERIOD_TYPE_NAMES = [(0, "주정산"), (1, "월정산")]
PRODUCT_SIZE_NAMES = [
    (0, "극소형"), (1, "소형"), (2, "중형"),
    (3, "대형1"), (4, "대형2"), (5, "특대형"),
]


def _comma_int(col: str) -> Column:
    """TRY_CAST(REPLACE(x, ',', '') AS INTEGER) (:176-182)."""
    return F.regexp_replace(F.col(col).cast("string"), ",", "").try_cast("int")


def _yyyymmdd(col: str) -> Column:
    """CAST(STRPTIME(CAST(CAST(x AS BIGINT) AS VARCHAR), '%Y%m%d') AS
    DATE) (:185) — the download encodes dates as integers."""
    return F.to_date(F.col(col).cast("bigint").cast("string"), "yyyyMMdd")


def parse_campaigns(rows: DataFrame, vendor_id: str) -> DataFrame:
    """Campaign bulk_insert (:35-59)."""
    return rows.select(
        F.col("id").cast("long").alias("campaign_id"),
        F.col("name").alias("campaign_name"),
        F.col("campaignType").alias("campaign_type"),
        F.lit(vendor_id).alias("vendor_id"),
        enum_code("vendorType", _VENDOR_TYPES).alias("vendor_type"),
        enum_code("goalType", _GOAL_TYPES).alias("goal_type"),
        F.col("isActive").cast("boolean").alias("is_active"),
        F.col("isDeleted").cast("boolean").alias("is_deleted"),
        F.col("roasTarget").cast("int").alias("roas_target"),
        iso_ts("createdAt").alias("created_at"),
        iso_ts("updatedAt").alias("updated_at"),
    )


def parse_adgroups(rows: DataFrame, vendor_id: str) -> DataFrame:
    """Adgroup bulk_insert (:61-78)."""
    return rows.select(
        F.col("id").cast("long").alias("adgroup_id"),
        F.col("name").alias("adgroup_name"),
        F.lit(vendor_id).alias("vendor_id"),
        F.col("campaignId").cast("long").alias("campaign_id"),
        enum_code("goalType", _GOAL_TYPES).alias("goal_type"),
        F.col("isActive").cast("boolean").alias("is_active"),
        F.col("isDeleted").cast("boolean").alias("is_deleted"),
        F.col("roasTarget").cast("int").alias("roas_target"),
        iso_ts("createdAt").alias("created_at"),
        iso_ts("updatedAt").alias("updated_at"),
    )


def parse_creatives(rows: DataFrame, vendor_id: str) -> DataFrame:
    """Creative bulk_insert (:102-114)."""
    return rows.select(
        F.col("id").cast("long").alias("creative_id"),
        F.col("vendorItemId").cast("long").alias("option_id"),
        F.lit(vendor_id).alias("vendor_id"),
        F.col("creativeType").alias("creative_type"),
        F.col("headlineText").alias("headline"),
        F.col("ordering").cast("int").alias("ordering"),
    )


_PLACEMENT = {"검색 영역": 0, "비검색 영역": 1}
_AD_MEASURES = [
    ("노출수", "impression_count"),
    ("클릭수", "click_count"),
    ("광고비", "ad_cost"),
    ("총 주문수(1일)", "conv_count"),
    ("직접 판매수량(1일)", "direct_conv_count"),
    ("총 전환매출액(1일)", "conv_amount"),
    ("직접 전환매출액(1일)", "direct_conv_amount"),
]


def product_ad_report(raw: DataFrame, vendor_id: str) -> DataFrame:
    """ProductAdReport bulk_insert (:145-189): comma-number parses, the
    placement enum (ELSE 2 = external channels), COALESCE(conv option,
    0), yyyymmdd date, then ONE SUM rollup to the PK grain."""
    parsed = raw.select(
        F.col("캠페인 ID").cast("bigint").alias("campaign_id"),
        F.col("광고집행 옵션ID").cast("bigint").alias("option_id"),
        F.coalesce(F.col("광고전환매출발생 옵션ID").cast("bigint"), F.lit(0)).alias(
            "option_conv_id"
        ),
        enum_code("광고 노출 지면", _PLACEMENT, default=2).alias(
            "placement_group"
        ),
        *[_comma_int(src).alias(dst) for src, dst in _AD_MEASURES],
        _yyyymmdd("날짜").alias("ymd"),
    )
    return (
        parsed.groupBy("ymd", "campaign_id", "option_id", "option_conv_id", "placement_group")
        .agg(*[F.sum(dst).cast("long").alias(dst) for _, dst in _AD_MEASURES])
        .withColumn("vendor_id", F.lit(vendor_id))
    )


def new_customer_ad_report(raw: DataFrame, vendor_id: str) -> DataFrame:
    """NewCustomerAdReport bulk_insert (:218-259): creative enum,
    NULLIF(0) option scrub, MIN/MIN/SUM/AVG rollup to the PK grain."""
    parsed = raw.select(
        F.col("캠페인 ID").cast("bigint").alias("campaign_id"),
        F.col("소재 ID").cast("bigint").alias("creative_id"),
        enum_code("소재", {"상품": 0, "동영상": 1}).alias("creative_type"),
        F.nullif(F.col("광고집행 옵션 ID").try_cast("bigint"), F.lit(0)).alias(
            "option_id"
        ),
        enum_code("광고 노출 지면", _PLACEMENT, default=2).alias(
            "placement_group"
        ),
        F.col("노출수").try_cast("int").alias("impression_count"),
        F.col("클릭수").try_cast("int").alias("click_count"),
        F.col("집행 광고비").try_cast("int").alias("ad_cost"),
        F.col("참여수").try_cast("int").alias("view_count"),
        F.col("평균 재생 시간").try_cast("double").alias("stay_time"),
        _yyyymmdd("날짜").alias("ymd"),
    )
    return (
        parsed.groupBy("ymd", "campaign_id", "creative_id", "placement_group")
        .agg(
            F.min("creative_type").alias("creative_type"),
            F.min("option_id").alias("option_id"),
            F.sum("impression_count").cast("long").alias("impression_count"),
            F.sum("click_count").cast("long").alias("click_count"),
            F.sum("ad_cost").cast("long").alias("ad_cost"),
            F.sum("view_count").cast("long").alias("view_count"),
            F.avg("stay_time").alias("stay_time"),
        )
        .withColumn("vendor_id", F.lit(vendor_id))
    )


_SALES_TXN = {"주문 정산": 0, "주문 정산취소": 1}
_SHIPPING_TXN = {
    "입출고비 정산": 2,
    "입출고비 정산취소": 3,
    "배송비 정산": 4,
    "배송비 정산취소": 5,
}
_PERIOD = {"주정산": 0, "월정산": 1}


def settlement_sales(raw: DataFrame, vendor_id: str) -> DataFrame:
    """RocketSettlementDownload sales rows (:127-156)."""
    return raw.select(
        F.col("주문ID").cast("bigint").alias("order_id"),
        F.lit(vendor_id).alias("vendor_id"),
        F.col("등록상품 ID").cast("bigint").alias("product_id"),
        F.col("옵션ID").cast("bigint").alias("option_id"),
        F.col("SKU ID").try_cast("bigint").alias("sku_id"),
        F.col("카테고리ID").try_cast("int").alias("category_id"),
        enum_code("거래유형", _SALES_TXN, default=99).alias("settlement_type"),
        enum_code("정산유형", _PERIOD, default=99).alias("period_type"),
        F.col("판매가(A)").try_cast("int").alias("unit_price"),
        F.col("판매수량(B)").try_cast("int").alias("order_quantity"),
        F.col("쿠팡지원할인(C)").try_cast("int").alias("coupang_discount"),
        F.col("판매자할인쿠폰(D+E)").try_cast("int").alias("seller_discount"),
        F.col("정산대상액").try_cast("int").alias("settlement_amount"),
        F.col("매출인식일").cast("date").alias("sales_date"),
        F.col("정산주기(종료일)").try_cast("date").alias("settlement_date"),
    )


def settlement_shipping(raw: DataFrame, vendor_id: str) -> DataFrame:
    """RocketSettlementDownload shipping rows (:157-190)."""
    return raw.select(
        F.col("주문ID").cast("bigint").alias("order_id"),
        F.col("배송ID").cast("bigint").alias("invoice_no"),
        F.lit(vendor_id).alias("vendor_id"),
        F.col("등록상품 ID").cast("bigint").alias("product_id"),
        F.col("옵션ID").cast("bigint").alias("option_id"),
        F.col("SKU ID").cast("bigint").alias("sku_id"),
        enum_code("거래유형", _SHIPPING_TXN, default=99).alias(
            "settlement_type"
        ),
        enum_code("정산유형", _PERIOD, default=99).alias("period_type"),
        F.col("발생비용(A)").try_cast("int").alias("warehousing_fee"),
        F.col("할인가(B)").try_cast("int").alias("discount_amount"),
        F.col("추가비용").try_cast("int").alias("extra_fee"),
        F.col("주문일").cast("date").alias("sales_date"),
        F.col("매출인식일").try_cast("date").alias("shipping_date"),
        F.col("정산주기(종료일)").try_cast("date").alias("settlement_date"),
    )


def _dim(spark, rows, schema):
    return from_rows(spark, rows, schema)


def goal_type_dim(spark) -> DataFrame:
    """Campaign: goal_type TVF (:80-86)."""
    return _dim(spark, GOAL_TYPE_NAMES, "seq int, code string, name string")


def settlement_type_dim(spark) -> DataFrame:
    return _dim(spark, SETTLEMENT_TYPE_NAMES, "seq int, name string")


def period_type_dim(spark) -> DataFrame:
    return _dim(spark, PERIOD_TYPE_NAMES, "seq int, name string")


def product_size_dim(spark) -> DataFrame:
    return _dim(spark, PRODUCT_SIZE_NAMES, "seq int, name string")
