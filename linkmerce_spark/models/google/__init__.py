"""google — the reference's Google Ads dataset, Spark-first.

Parity sites (semantics, not code) in
``core/google/api/ads/models.sql``:

- Campaign / AdGroup / Ad bulk_insert (:28-43, :108-122, :164-178) —
  GAQL nested-struct paths (campaign.id, adGroup.id, adGroupAd.ad.id,
  campaignBudget.amountMicros, metrics.*), the micros -> currency
  ROUND(x / 1e6) conversion, and the '%Y-%m-%d %H:%M:%S' start-time
  parse.
- Insight bulk_insert (:234-256) — segments.device 7-value enum and
  the segments.date parse to the (ymd, ad, device) PK grain.
- Asset / AssetView bulk_insert (:268-277, :332-391) — the 36-value
  fieldType and 7-value device enums.
- The seq/code/name vocabularies (:1-10, :45-91, :124-148, :180-218,
  :279-316, :393-441) as plain dimension DataFrames; enum encodings
  are POSITIONS in these lists, so dim and enum can never drift.

Spark-first notes
-----------------
- GAQL responses land as nested structs; every parse is a columnar
  struct-path projection (parquet/Arrow prune unused subfields).
- Micros conversion uses exact integer math ((x + 500000) DIV 1e6 ==
  ROUND-half-up for the non-negative micro amounts the API emits) —
  no double rounding nondeterminism.
- Enums are ``functions.scalar.enum_code`` map lookups built from the
  vocabulary lists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkmerce_spark.frames import from_rows
from linkmerce_spark.functions.scalar import enum_code

__all__ = [
    "parse_campaigns",
    "parse_adgroups",
    "parse_ads",
    "parse_insights",
    "parse_assets",
    "parse_asset_views",
    "vocab_dim",
    "STATUS_VOCAB",
    "CAMPAIGN_TYPE_VOCAB",
    "BIDDING_STRATEGY_VOCAB",
    "ADGROUP_TYPE_VOCAB",
    "AD_TYPE_VOCAB",
    "ASSET_TYPE_VOCAB",
    "FIELD_TYPE_VOCAB",
    "DEVICE_VOCAB",
]

# models.sql:1-10
STATUS_VOCAB = [
    ("ENABLED", "운영 가능"), ("PAUSED", "일시중지됨"), ("REMOVED", "삭제됨"),
    ("UNKNOWN", "알 수 없음"), ("UNSPECIFIED", "지정되지 않음"),
]
# models.sql:45-62
CAMPAIGN_TYPE_VOCAB = [
    ("DEMAND_GEN", "디맨드젠"), ("DISPLAY", "디스플레이"), ("HOTEL", "호텔"),
    ("LOCAL", "지역"), ("LOCAL_SERVICES", "지역 서비스"),
    ("MULTI_CHANNEL", "다채널"), ("PERFORMANCE_MAX", "실적 최대화"),
    ("SEARCH", "검색"), ("SHOPPING", "쇼핑"), ("SMART", "스마트"),
    ("TRAVEL", "여행"), ("UNKNOWN", "알 수 없음"),
    ("UNSPECIFIED", "지정되지 않음"), ("VIDEO", "동영상"),
]
# models.sql:64-91
BIDDING_STRATEGY_VOCAB = [
    ("COMMISSION", "수수료"), ("ENHANCED_CPC", "향상된 CPC"),
    ("FIXED_CPM", "고정 CPM"), ("FIXED_SHARE_OF_VOICE", "고정 음성 공유 비율"),
    ("INVALID", "잘못됨"), ("MANUAL_CPA", "수동 CPA"), ("MANUAL_CPC", "수동 CPC"),
    ("MANUAL_CPM", "수동 CPM"), ("MANUAL_CPV", "수동 CPV"),
    ("MAXIMIZE_CONVERSIONS", "전환 수 최대화"),
    ("MAXIMIZE_CONVERSION_VALUE", "전환 가치 최대화"),
    ("PAGE_ONE_PROMOTED", "1페이지 상단 홍보"), ("PERCENT_CPC", "비율 CPC"),
    ("TARGET_CPA", "목표 CPA"), ("TARGET_CPC", "목표 CPC"),
    ("TARGET_CPM", "목표 CPM"), ("TARGET_CPV", "목표 CPV"),
    ("TARGET_IMPRESSION_SHARE", "노출 수 공유 목표"),
    ("TARGET_OUTRANK_SHARE", "경쟁 우위 공유 목표"), ("TARGET_ROAS", "목표 ROAS"),
    ("TARGET_SPEND", "목표 지출"), ("UNKNOWN", "알 수 없음"),
    ("UNSPECIFIED", "지정되지 않음"),
]
# models.sql:124-148
ADGROUP_TYPE_VOCAB = [
    ("DISPLAY_STANDARD", "표준 디스플레이"), ("HOTEL_ADS", "호텔 광고"),
    ("PROMOTED_HOTEL_ADS", "홍보 호텔 광고"),
    ("SEARCH_DYNAMIC_ADS", "동적 검색 광고"), ("SEARCH_STANDARD", "표준 검색"),
    ("SHOPPING_COMPARISON_LISTING_ADS", "쇼핑 비교 목록 광고"),
    ("SHOPPING_PRODUCT_ADS", "쇼핑 제품 광고"),
    ("SHOPPING_SMART_ADS", "쇼핑 스마트 광고"),
    ("SMART_CAMPAIGN_ADS", "스마트 캠페인 광고"), ("TRAVEL_ADS", "여행 광고"),
    ("UNKNOWN", "알 수 없음"), ("UNSPECIFIED", "지정되지 않음"),
    ("VIDEO_BUMPER", "범퍼 동영상"),
    ("VIDEO_EFFICIENT_REACH", "효율적 도달 동영상"),
    ("VIDEO_NON_SKIPPABLE_IN_STREAM", "비건너뛰기 인스트림"),
    ("VIDEO_RESPONSIVE", "반응형 동영상"),
    ("VIDEO_TRUE_VIEW_IN_DISPLAY", "디스플레이 진정한 조회"),
    ("VIDEO_TRUE_VIEW_IN_STREAM", "인스트림 진정한 조회"),
    ("YOUTUBE_AUDIO", "유튜브 오디오"),
]
# models.sql:180-218
AD_TYPE_VOCAB = [
    ("APP_AD", "앱 광고"), ("APP_ENGAGEMENT_AD", "앱 참여 광고"),
    ("APP_PRE_REGISTRATION_AD", "앱 사전 등록 광고"), ("CALL_AD", "전화 광고"),
    ("DEMAND_GEN_CAROUSEL_AD", "디맨드젠 캐러셀 광고"),
    ("DEMAND_GEN_MULTI_ASSET_AD", "디맨드젠 다중 자산 광고"),
    ("DEMAND_GEN_PRODUCT_AD", "디맨드젠 제품 광고"),
    ("DEMAND_GEN_VIDEO_RESPONSIVE_AD", "디맨드젠 반응형 동영상 광고"),
    ("DYNAMIC_HTML5_AD", "동적 HTML5 광고"),
    ("EXPANDED_DYNAMIC_SEARCH_AD", "확장 동적 검색 광고"),
    ("EXPANDED_TEXT_AD", "확장 텍스트 광고"), ("HOTEL_AD", "호텔 광고"),
    ("HTML5_UPLOAD_AD", "HTML5 업로드 광고"), ("IMAGE_AD", "이미지 광고"),
    ("IN_FEED_VIDEO_AD", "피드 내 동영상 광고"),
    ("LEGACY_APP_INSTALL_AD", "레거시 앱 설치 광고"),
    ("LEGACY_RESPONSIVE_DISPLAY_AD", "레거시 반응형 디스플레이"),
    ("LOCAL_AD", "지역 광고"), ("RESPONSIVE_DISPLAY_AD", "반응형 디스플레이 광고"),
    ("RESPONSIVE_SEARCH_AD", "반응형 검색 광고"),
    ("SHOPPING_COMPARISON_LISTING_AD", "쇼핑 비교 목록 광고"),
    ("SHOPPING_PRODUCT_AD", "쇼핑 제품 광고"),
    ("SHOPPING_SMART_AD", "쇼핑 스마트 광고"),
    ("SMART_CAMPAIGN_AD", "스마트 캠페인 광고"), ("TEXT_AD", "텍스트 광고"),
    ("TRAVEL_AD", "여행 광고"), ("UNKNOWN", "알 수 없음"),
    ("UNSPECIFIED", "지정되지 않음"), ("VIDEO_AD", "동영상 광고"),
    ("VIDEO_BUMPER_AD", "범퍼 동영상 광고"),
    ("VIDEO_NON_SKIPPABLE_IN_STREAM_AD", "비건너뛰기 인스트림 동영상"),
    ("VIDEO_RESPONSIVE_AD", "반응형 동영상 광고"),
    ("VIDEO_TRUEVIEW_IN_STREAM_AD", "인스트림 TrueView 광고"),
    ("YOUTUBE_AUDIO_AD", "유튜브 오디오 광고"),
]
# models.sql:279-316
ASSET_TYPE_VOCAB = [
    ("APP_DEEP_LINK", "앱 딥링크"), ("BOOK_ON_GOOGLE", "구글에서 예약"),
    ("BUSINESS_MESSAGE", "비즈니스 메시지"), ("CALL", "통화"),
    ("CALLOUT", "콜아웃"), ("CALL_TO_ACTION", "클릭 유도 문구"),
    ("DEMAND_GEN_CAROUSEL_CARD", "디맨드젠 캐러셀 카드"),
    ("DYNAMIC_CUSTOM", "동적 사용자 지정"), ("DYNAMIC_EDUCATION", "동적 교육"),
    ("DYNAMIC_FLIGHTS", "동적 항공편"),
    ("DYNAMIC_HOTELS_AND_RENTALS", "동적 호텔 및 렌탈"),
    ("DYNAMIC_JOBS", "동적 구인"), ("DYNAMIC_LOCAL", "동적 지역"),
    ("DYNAMIC_REAL_ESTATE", "동적 부동산"), ("DYNAMIC_TRAVEL", "동적 여행"),
    ("HOTEL_CALLOUT", "호텔 콜아웃"), ("HOTEL_PROPERTY", "호텔 속성"),
    ("IMAGE", "이미지"), ("LEAD_FORM", "리드 양식"), ("LOCATION", "위치"),
    ("MEDIA_BUNDLE", "미디어 번들"), ("MOBILE_APP", "모바일 앱"),
    ("PAGE_FEED", "페이지 피드"), ("PRICE", "가격"), ("PROMOTION", "프로모션"),
    ("SITELINK", "사이트링크"), ("STRUCTURED_SNIPPET", "구조화된 스니펫"),
    ("TEXT", "텍스트"), ("UNKNOWN", "알 수 없음"),
    ("UNSPECIFIED", "지정되지 않음"), ("YOUTUBE_VIDEO", "유튜브 동영상"),
    ("YOUTUBE_VIDEO_LIST", "유튜브 동영상 목록"),
]
# models.sql:393-432
FIELD_TYPE_VOCAB = [
    ("HEADLINE", "제목"), ("DESCRIPTION", "설명"), ("LONG_HEADLINE", "긴 제목"),
    ("LONG_DESCRIPTION", "긴 설명"), ("AD_IMAGE", "광고 이미지"),
    ("BOOK_ON_GOOGLE", "구글에서 예약"), ("BUSINESS_LOGO", "비즈니스 로고"),
    ("BUSINESS_MESSAGE", "비즈니스 메시지"), ("BUSINESS_NAME", "비즈니스 이름"),
    ("CALL", "통화"), ("CALLOUT", "콜아웃"),
    ("CALL_TO_ACTION", "클릭 유도 문구"),
    ("CALL_TO_ACTION_SELECTION", "클릭 유도 선택"),
    ("DEMAND_GEN_CAROUSEL_CARD", "디맨드젠 캐러셀 카드"),
    ("HOTEL_CALLOUT", "호텔 콜아웃"), ("HOTEL_PROPERTY", "호텔 속성"),
    ("LANDING_PAGE_PREVIEW", "랜딩 페이지 미리보기"),
    ("LANDSCAPE_LOGO", "가로 로고"), ("LEAD_FORM", "리드 양식"),
    ("LOGO", "로고"), ("MANDATORY_AD_TEXT", "필수 광고 텍스트"),
    ("MARKETING_IMAGE", "마케팅 이미지"), ("MEDIA_BUNDLE", "미디어 번들"),
    ("MOBILE_APP", "모바일 앱"),
    ("PORTRAIT_MARKETING_IMAGE", "세로 마케팅 이미지"), ("PRICE", "가격"),
    ("PROMOTION", "프로모션"),
    ("RELATED_YOUTUBE_VIDEOS", "관련 유튜브 동영상"),
    ("SITELINK", "사이트링크"),
    ("SQUARE_MARKETING_IMAGE", "정사각형 마케팅 이미지"),
    ("STRUCTURED_SNIPPET", "구조화된 스니펫"),
    ("TALL_PORTRAIT_MARKETING_IMAGE", "세로형 마케팅 이미지"),
    ("UNKNOWN", "알 수 없음"), ("UNSPECIFIED", "지정되지 않음"),
    ("VIDEO", "동영상"), ("YOUTUBE_VIDEO", "유튜브 동영상"),
]
# models.sql:434-441
DEVICE_VOCAB = [
    ("DESKTOP", "데스크톱"), ("MOBILE", "모바일"), ("TABLET", "태블릿"),
    ("CONNECTED_TV", "연결된 TV"), ("OTHER", "기타"), ("UNKNOWN", "알 수 없음"),
    ("UNSPECIFIED", "지정되지 않음"),
]


def vocab_dim(spark, vocab: list[tuple[str, str]]) -> DataFrame:
    """A seq/code/name dimension from a vocabulary list — the UNNEST
    STRUCT TVFs; seq is the list position, shared with the enums."""
    return from_rows(
        spark,
        [(i, code, name) for i, (code, name) in enumerate(vocab)],
        "seq int, code string, name string",
    )


def _seqs(vocab: list[tuple[str, str]]) -> dict[str, int]:
    """code -> seq (list position) for ``enum_code``."""
    return {code: seq for seq, (code, _) in enumerate(vocab)}


def _micros_int(path: str) -> Column:
    """ROUND(COALESCE(TRY_CAST(micros AS BIGINT), 0) / 1e6) in exact
    integer math — (x + 500000) DIV 1000000 is half-up for the
    non-negative amounts the API emits (no double rounding)."""
    x = F.coalesce(F.col(path).try_cast("bigint"), F.lit(0))
    return F.floor((x + F.lit(500000)) / F.lit(1000000)).cast("int")


def _count(path: str) -> Column:
    return F.coalesce(F.col(path).try_cast("int"), F.lit(0))


def parse_campaigns(rows: DataFrame, customer_id: int) -> DataFrame:
    """Campaign bulk_insert (models.sql:28-43)."""
    return rows.select(
        F.col("campaign.id").cast("string").alias("campaign_id"),
        F.col("campaign.name").alias("campaign_name"),
        F.lit(customer_id).cast("bigint").alias("customer_id"),
        F.col("campaign.advertisingChannelType").alias("campaign_type"),
        F.col("campaign.status").alias("campaign_status"),
        F.col("campaign.biddingStrategyType").alias("bidding_strategy"),
        _micros_int("campaignBudget.amountMicros").alias("campaign_budget"),
        _count("metrics.impressions").alias("impression_count_30d"),
        _count("metrics.clicks").alias("click_count_30d"),
        _micros_int("metrics.costMicros").alias("ad_cost_30d"),
        F.try_to_timestamp(
            F.col("campaign.startDateTime"), F.lit("yyyy-MM-dd HH:mm:ss")
        ).alias("created_at"),
    )


def parse_adgroups(rows: DataFrame, customer_id: int) -> DataFrame:
    """AdGroup bulk_insert (models.sql:108-122)."""
    return rows.select(
        F.col("adGroup.id").cast("string").alias("adgroup_id"),
        F.col("adGroup.name").alias("adgroup_name"),
        F.lit(customer_id).cast("bigint").alias("customer_id"),
        F.col("campaign.id").cast("string").alias("campaign_id"),
        F.col("adGroup.type").alias("adgroup_type"),
        F.col("adGroup.status").alias("adgroup_status"),
        _micros_int("adGroup.targetCpaMicros").alias("target_cpa"),
        _count("metrics.impressions").alias("impression_count_30d"),
        _count("metrics.clicks").alias("click_count_30d"),
        _micros_int("metrics.costMicros").alias("ad_cost_30d"),
    )


def parse_ads(rows: DataFrame, customer_id: int) -> DataFrame:
    """Ad bulk_insert (models.sql:164-178)."""
    return rows.select(
        F.col("adGroupAd.ad.id").cast("string").alias("ad_id"),
        F.col("adGroupAd.ad.name").alias("ad_name"),
        F.lit(customer_id).cast("bigint").alias("customer_id"),
        F.col("campaign.id").cast("string").alias("campaign_id"),
        F.col("adGroup.id").cast("string").alias("adgroup_id"),
        F.col("adGroupAd.ad.type").alias("ad_type"),
        F.col("adGroupAd.status").alias("ad_status"),
        _count("metrics.impressions").alias("impression_count_30d"),
        _count("metrics.clicks").alias("click_count_30d"),
        _micros_int("metrics.costMicros").alias("ad_cost_30d"),
    )


def parse_insights(rows: DataFrame, customer_id: int) -> DataFrame:
    """Insight bulk_insert (models.sql:234-256): device enum + date."""
    return rows.select(
        F.lit(customer_id).cast("bigint").alias("customer_id"),
        F.col("campaign.id").cast("string").alias("campaign_id"),
        F.col("adGroup.id").cast("string").alias("adgroup_id"),
        F.col("adGroupAd.ad.id").cast("string").alias("ad_id"),
        enum_code("segments.device", _seqs(DEVICE_VOCAB)).alias("device_type"),
        _count("metrics.impressions").alias("impression_count"),
        _count("metrics.clicks").alias("click_count"),
        _micros_int("metrics.costMicros").alias("ad_cost"),
        F.to_date(F.col("segments.date"), "yyyy-MM-dd").alias("ymd"),
    )


def parse_assets(rows: DataFrame, customer_id: int) -> DataFrame:
    """Asset bulk_insert (models.sql:268-277)."""
    return rows.select(
        F.col("asset.id").cast("string").alias("asset_id"),
        F.col("asset.name").alias("asset_name"),
        F.lit(customer_id).cast("bigint").alias("customer_id"),
        F.col("asset.type").alias("asset_type"),
        F.col("asset.url").alias("asset_url"),
    )


def parse_asset_views(rows: DataFrame, customer_id: int) -> DataFrame:
    """AssetView bulk_insert (models.sql:332-391): the 36-value field
    enum + 7-value device enum to the (ymd, ad, asset, field, device)
    PK grain."""
    return rows.select(
        F.lit(customer_id).cast("bigint").alias("customer_id"),
        F.col("adGroup.id").cast("string").alias("adgroup_id"),
        F.col("adGroupAd.ad.id").cast("string").alias("ad_id"),
        F.col("asset.id").cast("string").alias("asset_id"),
        enum_code("adGroupAdAssetView.fieldType", _seqs(FIELD_TYPE_VOCAB)).alias(
            "field_type"
        ),
        enum_code("segments.device", _seqs(DEVICE_VOCAB)).alias("device_type"),
        _count("metrics.impressions").alias("impression_count"),
        _count("metrics.clicks").alias("click_count"),
        _micros_int("metrics.costMicros").alias("ad_cost"),
        F.to_date(F.col("segments.date"), "yyyy-MM-dd").alias("ymd"),
    )
