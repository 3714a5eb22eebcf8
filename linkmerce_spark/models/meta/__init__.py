"""meta — the reference's Meta (Facebook) Ads dataset, Spark-first.

Parity sites (semantics, not code) in ``core/meta/api/ads/models.sql``:

- Campaigns / Adsets / Ads bulk_insert (:31-40, :84-93, :110-120) —
  rename projections with the ISO SUBSTR(created_time, 1, 19) parse.
- Insights bulk_insert (:176-218) — ONE denormalized report row fans
  into FOUR tables: three dimension slices (campaigns, adsets, ads —
  PK-deduped, placeholder columns NULL) plus the insights fact with
  the date_start parse. The reference's ON CONFLICT DO NOTHING on the
  dim PKs == keep-first dedup here.
- The effective_status (:1-17) and objective (:43-67) vocabularies as
  seq/code/name dims (same contract as models/google.vocab_dim).

Scale notes: all narrow projections; the dim slices dedup with one
window each at dim cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkmerce_spark.functions.scalar import iso_ts
from linkmerce_spark.operators.dedup import dedupe_keep_first

__all__ = [
    "parse_campaigns",
    "parse_adsets",
    "parse_ads",
    "split_insights",
    "EFFECTIVE_STATUS_VOCAB",
    "OBJECTIVE_VOCAB",
]

# models.sql:1-17
EFFECTIVE_STATUS_VOCAB = [
    ("ACTIVE", "활성"), ("PAUSED", "일시 중지"), ("DELETED", "삭제됨"),
    ("ARCHIVED", "보관됨"), ("PENDING_REVIEW", "검토 대기"),
    ("DISAPPROVED", "거부됨"), ("PREAPPROVED", "사전 승인"),
    ("PENDING_BILLING_INFO", "결제 정보 대기"),
    ("CAMPAIGN_PAUSED", "캠페인 일시 중지"),
    ("ADSET_PAUSED", "광고 세트 일시 중지"), ("IN_PROCESS", "처리 중"),
    ("WITH_ISSUES", "문제 발생"),
]
# models.sql:43-67
OBJECTIVE_VOCAB = [
    ("OUTCOME_AWARENESS", "인지도"), ("OUTCOME_ENGAGEMENT", "참여"),
    ("OUTCOME_LEADS", "리드"), ("OUTCOME_SALES", "판매"),
    ("OUTCOME_TRAFFIC", "트래픽"), ("OUTCOME_APP_PROMOTION", "앱 홍보"),
    ("OFFER_CLAIMS", "오퍼 수령"), ("PAGE_LIKES", "페이지 좋아요"),
    ("EVENT_RESPONSES", "이벤트 응답"), ("POST_ENGAGEMENT", "게시물 참여"),
    ("WEBSITE_CONVERSIONS", "웹사이트 전환"), ("LINK_CLICKS", "링크 클릭"),
    ("VIDEO_VIEWS", "동영상 조회"), ("LOCAL_AWARENESS", "지역 인지도"),
    ("PRODUCT_CATALOG_SALES", "카탈로그 판매"),
    ("LEAD_GENERATION", "리드 생성"), ("BRAND_AWARENESS", "브랜드 인지도"),
    ("STORE_VISITS", "매장 방문"), ("REACH", "도달"),
    ("APP_INSTALLS", "앱 설치"), ("MESSAGES", "메시지"),
]


def parse_campaigns(rows: DataFrame, account_id: str) -> DataFrame:
    """Campaigns bulk_insert (models.sql:31-40)."""
    return rows.select(
        F.col("id").alias("campaign_id"),
        F.col("name").alias("campaign_name"),
        F.lit(account_id).alias("account_id"),
        F.col("objective"),
        F.col("effective_status"),
        iso_ts("created_time").alias("created_at"),
    )


def parse_adsets(rows: DataFrame, account_id: str) -> DataFrame:
    """Adsets bulk_insert (models.sql:84-93)."""
    return rows.select(
        F.col("id").alias("adset_id"),
        F.col("name").alias("adset_name"),
        F.lit(account_id).alias("account_id"),
        F.col("campaign_id"),
        F.col("effective_status"),
        F.col("daily_budget").cast("int").alias("daily_budget"),
        iso_ts("created_time").alias("created_at"),
    )


def parse_ads(rows: DataFrame, account_id: str) -> DataFrame:
    """Ads bulk_insert (models.sql:110-120)."""
    return rows.select(
        F.col("id").alias("ad_id"),
        F.col("name").alias("ad_name"),
        F.lit(account_id).alias("account_id"),
        F.col("campaign_id"),
        F.col("adset_id"),
        F.col("effective_status"),
        iso_ts("created_time").alias("created_at"),
    )


def split_insights(
    rows: DataFrame, account_id: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Insights 4-way fan (models.sql:176-218).

    Returns (campaigns, adsets, ads, insights). The dim slices are
    PK-deduped keep-first (the ON CONFLICT DO NOTHING contract) with
    name tiebreaks so the kept row is engine-independent; placeholder
    columns ride along as typed NULLs.
    """
    acc = F.lit(account_id).alias("account_id")
    null_s = F.lit(None).cast("string")
    null_ts = F.lit(None).cast("timestamp")
    campaigns = dedupe_keep_first(
        rows.select(
            "campaign_id",
            "campaign_name",
            acc,
            null_s.alias("objective"),
            null_s.alias("effective_status"),
            null_ts.alias("created_at"),
        ),
        ["account_id", "campaign_id"],
        [F.col("campaign_name").asc_nulls_last()],
    )
    adsets = dedupe_keep_first(
        rows.select(
            "adset_id",
            "adset_name",
            acc,
            "campaign_id",
            null_s.alias("effective_status"),
            F.lit(None).cast("int").alias("daily_budget"),
            null_ts.alias("created_at"),
        ),
        ["account_id", "campaign_id", "adset_id"],
        [F.col("adset_name").asc_nulls_last()],
    )
    ads = dedupe_keep_first(
        rows.select(
            "ad_id",
            "ad_name",
            acc,
            "campaign_id",
            "adset_id",
            null_s.alias("effective_status"),
            null_ts.alias("created_at"),
        ),
        ["account_id", "campaign_id", "adset_id", "ad_id"],
        [F.col("ad_name").asc_nulls_last()],
    )
    insights = rows.select(
        acc,
        "campaign_id",
        "adset_id",
        "ad_id",
        F.col("impressions").cast("int").alias("impression_count"),
        F.col("reach").cast("int").alias("reach_count"),
        F.col("clicks").cast("int").alias("click_count"),
        F.col("inline_link_clicks").cast("int").alias("link_click_count"),
        F.col("spend").cast("int").alias("ad_cost"),
        F.to_date(F.col("date_start"), "yyyy-MM-dd").alias("ymd"),
    )
    return campaigns, adsets, ads, insights
