"""Ad-platform master projections: entity + account dim + code->label
mappings + composed numeric sort key.

Parity targets (semantics, not code) — the dbt master family under
dbt_postgres/models/intermediate/ads/:
- ``searchad_campaign_master``  ~ searchad/searchad__campaign_master.sql
  (:19-47): campaign LEFT JOIN account, two VALUES mappings off the
  same campaign_type code, sort key (deleted*10000 + account_seq*100 +
  type_seq with 99 fallbacks).
- ``meta_campaign_master``      ~ meta_ads/meta_ads__campaign_master.sql
  (:19-45): objective / effective-status label maps, DELETED-status
  sort penalty.
- ``coupang_campaign_master``   ~ coupang_ads/coupang_ads__campaign_
  master.sql (:19-55): vendor dim join, label COALESCE back to the raw
  code when unmapped, (deleted*1000 + vendor_seq*10 + goal_seq) key.
- ``google_ad_master``          ~ google_ads/google_ads__ad_master.sql
  (:19-108): the deep one — ad -> adgroup -> campaign -> account dim
  chain, four label maps, the final status resolved by
  GREATEST(campaign, adgroup, ad status seq) looked back up through
  the status vocabulary, and bundle_product_ids resolved ad > adgroup >
  campaign from the level-filtered relation table.

The label vocabularies live in the reference's dbt macros
(dbt_postgres/macros/mapping/{searchad,meta_ads,coupang_ads,
google_ads}.sql) — reproduced here as (seq, code, label) tuples and
looked up as map literals (``functions.scalar.lookup``).

Scale notes
-----------
- Every mapping is a map-literal lookup (no join) and every account/
  vendor/campaign/adgroup frame is dimension-sized: ALL joins
  broadcast, zero shuffles in any master build. At 100 TB the entity tables are still
  dims (ads, not facts); if one ever grows, the equi-joins shuffle
  cleanly on unskewed ids.
- Sort keys are pure integer arithmetic (codegen).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from linkmerce_spark.functions.scalar import lookup

__all__ = [
    "searchad_campaign_master",
    "searchad_adgroup_master",
    "searchad_ad_master",
    "meta_campaign_master",
    "meta_adset_master",
    "meta_ad_master",
    "coupang_campaign_master",
    "coupang_adgroup_master",
    "google_campaign_master",
    "google_adgroup_master",
    "google_ad_master",
    "SEARCHAD_CAMPAIGN_TYPES",
    "SEARCHAD_CAMPAIGN_AD_TYPES",
    "META_OBJECTIVES",
    "META_EFFECTIVE_STATUSES",
    "COUPANG_VENDOR_TYPES",
    "COUPANG_CAMPAIGN_TYPES",
    "COUPANG_GOAL_TYPES",
    "GOOGLE_CAMPAIGN_TYPES",
    "GOOGLE_STATUSES",
]

# macros/mapping/searchad.sql: searchad__campaign_type_mapping()
SEARCHAD_CAMPAIGN_TYPES = [
    (0, 1, "파워링크"),
    (1, 2, "쇼핑검색"),
    (2, 3, "파워컨텐츠"),
    (3, 4, "브랜드검색/신제품검색"),
    (4, 5, "플레이스"),
    (5, 101, "웹사이트 전환"),
    (6, 102, "인지도 및 트래픽"),
    (7, 103, "앱 전환"),
    (8, 104, "동영상 조회"),
    (9, 105, "카탈로그 판매"),
    (10, 106, "쇼핑 프로모션"),
    (11, 107, "참여 유도"),
    (12, 108, "ADVoost 쇼핑"),
]

# macros/mapping/searchad.sql: searchad__campaign_ad_type_mapping()
SEARCHAD_CAMPAIGN_AD_TYPES = [
    (0, 1, "파워링크-단일형 소재"),
    (1, 2, "쇼핑검색-상품형 소재"),
    (2, 3, "파워컨텐츠-정보형 소재"),
    (3, 4, "브랜드검색-일반형 소재"),
    (4, 5, "플레이스-플레이스 검색 소재"),
    (5, 101, "웹사이트 전환"),
    (6, 102, "성과형-기타"),
    (7, 103, "성과형-기타"),
    (8, 104, "성과형-동영상"),
    (9, 105, "성과형-카탈로그"),
    (10, 106, "성과형-기타"),
    (11, 107, "성과형-기타"),
    (12, 108, "성과형-ADVoost 소재"),
]

# macros/mapping/searchad.sql: searchad__adgroup_type_mapping()
SEARCHAD_ADGROUP_TYPES = [
    (0, 1, "파워링크"),
    (1, 2, "쇼핑검색-쇼핑몰 상품형"),
    (2, 3, "파워컨텐츠-정보형"),
    (3, 4, "파워컨텐츠-상품형"),
    (4, 5, "브랜드검색-일반형"),
    (5, 6, "플레이스-지역소상공인"),
    (6, 7, "쇼핑검색-제품 카탈로그형"),
    (7, 8, "브랜드검색-브랜드형"),
    (8, 9, "쇼핑검색-쇼핑 브랜드형"),
    (9, 10, "플레이스-플레이스검색"),
    (10, 11, "브랜드검색-신제품검색형"),
    (11, 101, "성과형-클릭 수 최대화"),
    (12, 102, "성과형-전환 수 최대화"),
    (13, 103, "성과형-전환 가치 최대화"),
    (14, 104, "성과형-수동 입찰"),
]

# macros/mapping/searchad.sql: searchad__ad_type_mapping() — seq 7 /
# code 8 is genuinely absent in the reference vocabulary.
SEARCHAD_AD_TYPES = [
    (0, 1, "파워링크-단일형 소재"),
    (1, 2, "쇼핑검색-상품형 소재"),
    (2, 3, "파워컨텐츠-정보형 소재"),
    (3, 4, "파워컨텐츠-상품형 소재"),
    (4, 5, "브랜드검색-일반형 소재"),
    (5, 6, "플레이스-지역소상공인 소재"),
    (6, 7, "쇼핑검색-카탈로그형 소재"),
    (8, 9, "쇼핑검색-쇼핑 브랜드형 소재"),
    (9, 10, "플레이스-플레이스 검색 소재"),
    (10, 11, "브랜드검색-신제품검색형 소재"),
    (11, 12, "쇼핑검색-쇼핑 브랜드형 이미지 섬네일형 소재"),
    (12, 13, "쇼핑검색-쇼핑 브랜드형 이미지 배너형 소재"),
    (13, 101, "성과형-네이티브 이미지"),
    (14, 102, "성과형-컬렉션"),
    (15, 103, "성과형-동영상"),
    (16, 104, "성과형-이미지 배너"),
    (17, 105, "성과형-카탈로그"),
    (18, 106, "성과형-ADVoost 소재"),
]

# macros/mapping/meta_ads.sql: meta_ads__objective_mapping()
META_OBJECTIVES = [
    (0, "OUTCOME_AWARENESS", "인지도"),
    (1, "OUTCOME_ENGAGEMENT", "참여"),
    (2, "OUTCOME_LEADS", "리드"),
    (3, "OUTCOME_SALES", "판매"),
    (4, "OUTCOME_TRAFFIC", "트래픽"),
    (5, "OUTCOME_APP_PROMOTION", "앱 홍보"),
    (6, "OFFER_CLAIMS", "오퍼 수령"),
    (7, "PAGE_LIKES", "페이지 좋아요"),
    (8, "EVENT_RESPONSES", "이벤트 응답"),
    (9, "POST_ENGAGEMENT", "게시물 참여"),
    (10, "WEBSITE_CONVERSIONS", "웹사이트 전환"),
    (11, "LINK_CLICKS", "링크 클릭"),
    (12, "VIDEO_VIEWS", "동영상 조회"),
    (13, "LOCAL_AWARENESS", "지역 인지도"),
    (14, "PRODUCT_CATALOG_SALES", "카탈로그 판매"),
    (15, "LEAD_GENERATION", "리드 생성"),
    (16, "BRAND_AWARENESS", "브랜드 인지도"),
    (17, "STORE_VISITS", "매장 방문"),
    (18, "REACH", "도달"),
    (19, "APP_INSTALLS", "앱 설치"),
    (20, "MESSAGES", "메시지"),
]

# macros/mapping/meta_ads.sql: meta_ads__effective_status_mapping()
META_EFFECTIVE_STATUSES = [
    (0, "ACTIVE", "활성"),
    (1, "PAUSED", "일시 중지"),
    (2, "DELETED", "삭제됨"),
    (3, "ARCHIVED", "보관됨"),
    (4, "PENDING_REVIEW", "검토 대기"),
    (5, "DISAPPROVED", "거부됨"),
    (6, "PREAPPROVED", "사전 승인"),
    (7, "PENDING_BILLING_INFO", "결제 정보 대기"),
    (8, "CAMPAIGN_PAUSED", "캠페인 일시 중지"),
    (9, "ADSET_PAUSED", "광고 세트 일시 중지"),
    (10, "IN_PROCESS", "처리 중"),
    (11, "WITH_ISSUES", "문제 발생"),
]

# macros/mapping/coupang_ads.sql
COUPANG_VENDOR_TYPES = [(0, 0, "Wing"), (1, 1, "서플라이어 허브")]
COUPANG_CAMPAIGN_TYPES = [(0, "PA", "상품광고")]
COUPANG_GOAL_TYPES = [
    (0, 0, "매출 성장"),
    (1, 1, "신규 구매 고객 확보"),
    (2, 2, "인지도 상승"),
]

# macros/mapping/google_ads.sql (campaign-type + shared status subset)
GOOGLE_CAMPAIGN_TYPES = [
    (0, "DEMAND_GEN", "디맨드젠"),
    (1, "DISPLAY", "디스플레이"),
    (2, "HOTEL", "호텔"),
    (3, "LOCAL", "지역"),
    (4, "LOCAL_SERVICES", "지역 서비스"),
    (5, "MULTI_CHANNEL", "다채널"),
    (6, "PERFORMANCE_MAX", "실적 최대화"),
    (7, "SEARCH", "검색"),
    (8, "SHOPPING", "쇼핑"),
    (9, "SMART", "스마트"),
    (10, "TRAVEL", "여행"),
    (11, "UNKNOWN", "알 수 없음"),
    (12, "UNSPECIFIED", "지정되지 않음"),
    (13, "VIDEO", "동영상"),
]

# google_ads__status_mapping(): ENABLED < PAUSED < REMOVED ordering is
# what makes GREATEST(status seq) the most-degraded-status resolution.
GOOGLE_STATUSES = [
    (0, "ENABLED", "운영 가능"),
    (1, "PAUSED", "일시중지됨"),
    (2, "REMOVED", "삭제됨"),
    (3, "UNKNOWN", "알 수 없음"),
    (4, "UNSPECIFIED", "지정되지 않음"),
]

# google_ads__bidding_strategy_mapping() (subset exercised by tests is
# irrelevant — full vocabulary reproduced).
GOOGLE_BIDDING_STRATEGIES = [
    (0, "COMMISSION", "수수료"),
    (1, "ENHANCED_CPC", "향상된 CPC"),
    (2, "FIXED_CPM", "고정 CPM"),
    (3, "FIXED_SHARE_OF_VOICE", "고정 음성 공유 비율"),
    (4, "INVALID", "잘못됨"),
    (5, "MANUAL_CPA", "수동 CPA"),
    (6, "MANUAL_CPC", "수동 CPC"),
    (7, "MANUAL_CPM", "수동 CPM"),
    (8, "MANUAL_CPV", "수동 CPV"),
    (9, "MAXIMIZE_CONVERSIONS", "전환 수 최대화"),
    (10, "MAXIMIZE_CONVERSION_VALUE", "전환 가치 최대화"),
    (11, "PAGE_ONE_PROMOTED", "1페이지 상단 홍보"),
    (12, "PERCENT_CPC", "비율 CPC"),
    (13, "TARGET_CPA", "목표 CPA"),
    (14, "TARGET_CPC", "목표 CPC"),
    (15, "TARGET_CPM", "목표 CPM"),
    (16, "TARGET_CPV", "목표 CPV"),
    (17, "TARGET_IMPRESSION_SHARE", "노출 수 공유 목표"),
    (18, "TARGET_OUTRANK_SHARE", "경쟁 우위 공유 목표"),
    (19, "TARGET_ROAS", "목표 ROAS"),
    (20, "TARGET_SPEND", "목표 지출"),
    (21, "UNKNOWN", "알 수 없음"),
    (22, "UNSPECIFIED", "지정되지 않음"),
]

# google_ads__adgroup_type_mapping()
GOOGLE_ADGROUP_TYPES = [
    (0, "DISPLAY_STANDARD", "표준 디스플레이"),
    (1, "HOTEL_ADS", "호텔 광고"),
    (2, "PROMOTED_HOTEL_ADS", "홍보 호텔 광고"),
    (3, "SEARCH_DYNAMIC_ADS", "동적 검색 광고"),
    (4, "SEARCH_STANDARD", "표준 검색"),
    (5, "SHOPPING_COMPARISON_LISTING_ADS", "쇼핑 비교 목록 광고"),
    (6, "SHOPPING_PRODUCT_ADS", "쇼핑 제품 광고"),
    (7, "SHOPPING_SMART_ADS", "쇼핑 스마트 광고"),
    (8, "SMART_CAMPAIGN_ADS", "스마트 캠페인 광고"),
    (9, "TRAVEL_ADS", "여행 광고"),
    (10, "UNKNOWN", "알 수 없음"),
    (11, "UNSPECIFIED", "지정되지 않음"),
    (12, "VIDEO_BUMPER", "범퍼 동영상"),
    (13, "VIDEO_EFFICIENT_REACH", "효율적 도달 동영상"),
    (14, "VIDEO_NON_SKIPPABLE_IN_STREAM", "비건너뛰기 인스트림"),
    (15, "VIDEO_RESPONSIVE", "반응형 동영상"),
    (16, "VIDEO_TRUE_VIEW_IN_DISPLAY", "디스플레이 진정한 조회"),
    (17, "VIDEO_TRUE_VIEW_IN_STREAM", "인스트림 진정한 조회"),
    (18, "YOUTUBE_AUDIO", "유튜브 오디오"),
]

# google_ads__ad_type_mapping()
GOOGLE_AD_TYPES = [
    (0, "APP_AD", "앱 광고"),
    (1, "APP_ENGAGEMENT_AD", "앱 참여 광고"),
    (2, "APP_PRE_REGISTRATION_AD", "앱 사전 등록 광고"),
    (3, "CALL_AD", "전화 광고"),
    (4, "DEMAND_GEN_CAROUSEL_AD", "디맨드젠 캐러셀 광고"),
    (5, "DEMAND_GEN_MULTI_ASSET_AD", "디맨드젠 다중 자산 광고"),
    (6, "DEMAND_GEN_PRODUCT_AD", "디맨드젠 제품 광고"),
    (7, "DEMAND_GEN_VIDEO_RESPONSIVE_AD", "디맨드젠 반응형 동영상 광고"),
    (8, "DYNAMIC_HTML5_AD", "동적 HTML5 광고"),
    (9, "EXPANDED_DYNAMIC_SEARCH_AD", "확장 동적 검색 광고"),
    (10, "EXPANDED_TEXT_AD", "확장 텍스트 광고"),
    (11, "HOTEL_AD", "호텔 광고"),
    (12, "HTML5_UPLOAD_AD", "HTML5 업로드 광고"),
    (13, "IMAGE_AD", "이미지 광고"),
    (14, "IN_FEED_VIDEO_AD", "피드 내 동영상 광고"),
    (15, "LEGACY_APP_INSTALL_AD", "레거시 앱 설치 광고"),
    (16, "LEGACY_RESPONSIVE_DISPLAY_AD", "레거시 반응형 디스플레이"),
    (17, "LOCAL_AD", "지역 광고"),
    (18, "RESPONSIVE_DISPLAY_AD", "반응형 디스플레이 광고"),
    (19, "RESPONSIVE_SEARCH_AD", "반응형 검색 광고"),
    (20, "SHOPPING_COMPARISON_LISTING_AD", "쇼핑 비교 목록 광고"),
    (21, "SHOPPING_PRODUCT_AD", "쇼핑 제품 광고"),
    (22, "SHOPPING_SMART_AD", "쇼핑 스마트 광고"),
    (23, "SMART_CAMPAIGN_AD", "스마트 캠페인 광고"),
    (24, "TEXT_AD", "텍스트 광고"),
    (25, "TRAVEL_AD", "여행 광고"),
    (26, "UNKNOWN", "알 수 없음"),
    (27, "UNSPECIFIED", "지정되지 않음"),
    (28, "VIDEO_AD", "동영상 광고"),
    (29, "VIDEO_BUMPER_AD", "범퍼 동영상 광고"),
    (30, "VIDEO_NON_SKIPPABLE_IN_STREAM_AD", "비건너뛰기 인스트림 동영상"),
    (31, "VIDEO_RESPONSIVE_AD", "반응형 동영상 광고"),
    (32, "VIDEO_TRUEVIEW_IN_STREAM_AD", "인스트림 TrueView 광고"),
    (33, "YOUTUBE_AUDIO_AD", "유튜브 오디오 광고"),
]


def _level_rel(relation: DataFrame, level: int, alias: str) -> DataFrame:
    """The bundle relation rows of one ad level (0/1/2 = campaign /
    group / ad) as ``{alias}_key`` / ``{alias}_bundle``."""
    return (
        relation.filter(F.col("ad_level") == level)
        .select(
            F.col("ad_id").alias(f"{alias}_key"),
            F.col("bundle_product_ids").alias(f"{alias}_bundle"),
        )
        .alias(alias)
    )


def _seq99(col: Column | str) -> Column:
    return F.coalesce(col, F.lit(99))


def searchad_campaign_master(campaign: DataFrame, account: DataFrame) -> DataFrame:
    """searchad__campaign_master.sql:19-47 on Spark frames."""
    ctype = "cmp.campaign_type"
    out = campaign.alias("cmp").join(broadcast(account.alias("acc")), "customer_id", "left")
    sort_key = (
        F.when(F.col("cmp.is_deleted"), F.lit(2)).otherwise(F.lit(1)) * 100 * 100
        + _seq99("acc.account_seq") * 100
        + _seq99(lookup(ctype, {c: s for s, c, _ in SEARCHAD_CAMPAIGN_TYPES}))
    )
    return out.select(
        "customer_id",
        "acc.account_name",
        "acc.account_type",
        "cmp.campaign_id",
        "cmp.campaign_name",
        lookup(ctype, {c: l for _, c, l in SEARCHAD_CAMPAIGN_TYPES}).alias("campaign_type"),
        lookup(ctype, {c: l for _, c, l in SEARCHAD_CAMPAIGN_AD_TYPES}).alias("ad_type"),
        "cmp.is_enabled",
        "cmp.is_deleted",
        "cmp.created_at",
        "cmp.deleted_at",
        sort_key.alias("sort_key"),
    )


def meta_campaign_master(campaign: DataFrame, account: DataFrame) -> DataFrame:
    """meta_ads__campaign_master.sql:19-45 on Spark frames."""
    objective = "cmp.objective"
    out = campaign.alias("cmp").join(broadcast(account.alias("acc")), "account_id", "left")
    sort_key = (
        F.when(F.col("cmp.effective_status") == "DELETED", F.lit(2)).otherwise(
            F.lit(1)
        )
        * 100
        * 100
        + _seq99("acc.account_seq") * 100
        + _seq99(lookup(objective, {c: s for s, c, _ in META_OBJECTIVES}))
    )
    return out.select(
        "account_id",
        "acc.account_name",
        "cmp.campaign_id",
        "cmp.campaign_name",
        lookup(objective, {c: l for _, c, l in META_OBJECTIVES}).alias("objective"),
        lookup(
            "cmp.effective_status", {c: l for _, c, l in META_EFFECTIVE_STATUSES}
        ).alias("effective_status"),
        "cmp.created_at",
        sort_key.alias("sort_key"),
    )


def coupang_campaign_master(campaign: DataFrame, vendor: DataFrame) -> DataFrame:
    """coupang_ads__campaign_master.sql:19-55 on Spark frames."""
    goal = "cmp.goal_type"
    out = campaign.alias("cmp").join(broadcast(vendor.alias("vdr")), "vendor_id", "left")
    sort_key = (
        F.when(F.col("cmp.is_deleted"), F.lit(2)).otherwise(F.lit(1)) * 10 * 100
        + F.coalesce(F.col("vdr.vendor_seq"), F.lit(99)) * 10
        + F.coalesce(lookup(goal, {c: s for s, c, _ in COUPANG_GOAL_TYPES}), F.lit(9))
    )
    return out.select(
        "vendor_id",
        "vdr.vendor_name",
        "vdr.vendor_alias",
        lookup("cmp.vendor_type", {c: l for _, c, l in COUPANG_VENDOR_TYPES}).alias(
            "vendor_type"
        ),
        "cmp.campaign_id",
        "cmp.campaign_name",
        F.coalesce(
            lookup("cmp.campaign_type", {c: l for _, c, l in COUPANG_CAMPAIGN_TYPES}),
            F.col("cmp.campaign_type"),
        ).alias("campaign_type"),
        lookup(goal, {c: l for _, c, l in COUPANG_GOAL_TYPES}).alias("goal_type"),
        "cmp.is_active",
        "cmp.is_deleted",
        "cmp.roas_target",
        "cmp.created_at",
        "cmp.updated_at",
        sort_key.alias("sort_key"),
    )


def _worst_status(statuses: list[str], vocab) -> tuple[Column, Column]:
    """GREATEST over the status seqs of ``statuses``, resolved back to
    its (label, code): the most-degraded status of a master chain."""
    seqs = {code: s for s, code, _ in vocab}
    worst = F.greatest(*(lookup(c, seqs) for c in statuses))
    return (
        lookup(worst, {s: label for s, _, label in vocab}),
        lookup(worst, {s: code for s, code, _ in vocab}),
    )


def google_ad_master(
    ad: DataFrame,
    adgroup: DataFrame,
    campaign: DataFrame,
    account: DataFrame,
    relation: DataFrame,
) -> DataFrame:
    """google_ads__ad_master.sql:19-108: three-level dim chain, GREATEST
    status resolution, level-prioritized bundle COALESCE.

    ``relation`` carries (ad_id, ad_level, bundle_product_ids) already
    filtered to the platform; levels 0/1/2 = campaign/adgroup/ad.
    """
    ctype, gtype, atype = "cmp.campaign_type", "grp.adgroup_type", "ad.ad_type"
    out = (
        ad.alias("ad")
        .join(broadcast(account.alias("acc")), "customer_id", "left")
        .join(broadcast(campaign.alias("cmp")), "campaign_id", "left")
        .join(broadcast(adgroup.alias("grp")), "adgroup_id", "left")
        .join(
            broadcast(_level_rel(relation, 0, "rc")),
            F.col("campaign_id") == F.col("rc.rc_key"),
            "left",
        )
        .join(
            broadcast(_level_rel(relation, 1, "rg")),
            F.col("adgroup_id") == F.col("rg.rg_key"),
            "left",
        )
        .join(
            broadcast(_level_rel(relation, 2, "ra")), F.col("ad.ad_id") == F.col("ra.ra_key"), "left"
        )
    )
    status, status_code = _worst_status(
        ["cmp.campaign_status", "grp.adgroup_status", "ad.ad_status"], GOOGLE_STATUSES
    )
    sort_key = (
        F.when(status_code == "REMOVED", F.lit(2)).otherwise(F.lit(1))
        * 100 * 100 * 100 * 100
        + _seq99("acc.account_seq") * 100 * 100 * 100
        + _seq99(lookup(ctype, {c: s for s, c, _ in GOOGLE_CAMPAIGN_TYPES})) * 100 * 100
        + _seq99(lookup(gtype, {c: s for s, c, _ in GOOGLE_ADGROUP_TYPES})) * 100
        + _seq99(lookup(atype, {c: s for s, c, _ in GOOGLE_AD_TYPES}))
    )
    return out.select(
        "customer_id",
        "acc.account_name",
        "campaign_id",
        "cmp.campaign_name",
        lookup(ctype, {c: l for _, c, l in GOOGLE_CAMPAIGN_TYPES}).alias("campaign_type"),
        lookup(
            "cmp.bidding_strategy", {c: l for _, c, l in GOOGLE_BIDDING_STRATEGIES}
        ).alias("bidding_strategy"),
        "adgroup_id",
        "grp.adgroup_name",
        lookup(gtype, {c: l for _, c, l in GOOGLE_ADGROUP_TYPES}).alias("adgroup_type"),
        "ad.ad_id",
        "ad.ad_name",
        lookup(atype, {c: l for _, c, l in GOOGLE_AD_TYPES}).alias("ad_type"),
        status.alias("ad_status"),
        F.coalesce("ra.ra_bundle", "rg.rg_bundle", "rc.rc_bundle").alias(
            "bundle_product_ids"
        ),
        "ad.impression_count_30d",
        "ad.click_count_30d",
        "ad.ad_cost_30d",
        "cmp.created_at",
        sort_key.alias("sort_key"),
    )


def searchad_adgroup_master(
    adgroup: DataFrame, campaign: DataFrame, account: DataFrame
) -> DataFrame:
    """searchad__adgroup_master.sql:19-55: adgroup -> campaign ->
    account chain, campaign/adgroup type labels, the AND-folded
    is_enabled COALESCE, 4-component sort key."""
    ctype, gtype = "cmp.campaign_type", "grp.adgroup_type"
    out = (
        adgroup.alias("grp")
        .join(broadcast(account.alias("acc")), "customer_id", "left")
        .join(broadcast(campaign.alias("cmp")), "campaign_id", "left")
    )
    sort_key = (
        F.when(F.col("grp.is_deleted"), F.lit(2)).otherwise(F.lit(1)) * 1000000
        + _seq99("acc.account_seq") * 10000
        + _seq99(lookup(ctype, {c: s for s, c, _ in SEARCHAD_CAMPAIGN_TYPES})) * 100
        + _seq99(lookup(gtype, {c: s for s, c, _ in SEARCHAD_ADGROUP_TYPES}))
    )
    return out.select(
        "customer_id",
        "acc.account_name",
        "acc.account_type",
        "campaign_id",
        "cmp.campaign_name",
        lookup(ctype, {c: l for _, c, l in SEARCHAD_CAMPAIGN_TYPES}).alias("campaign_type"),
        "grp.adgroup_id",
        "grp.adgroup_name",
        lookup(gtype, {c: l for _, c, l in SEARCHAD_ADGROUP_TYPES}).alias("adgroup_type"),
        "grp.bid_amount",
        F.coalesce(
            F.col("cmp.is_enabled") & F.col("grp.is_enabled"), F.col("grp.is_enabled")
        ).alias("is_enabled"),
        "grp.is_deleted",
        "grp.created_at",
        "grp.deleted_at",
        sort_key.alias("sort_key"),
    )


def searchad_ad_master(
    ad: DataFrame,
    adgroup: DataFrame,
    campaign: DataFrame,
    account: DataFrame,
    relation: DataFrame,
    product_rel: DataFrame,
) -> DataFrame:
    """searchad__ad_master.sql:19-108: ad -> adgroup -> campaign ->
    account chain, three type labels, and the FOUR-source bundle
    COALESCE (product relation > ad > adgroup > campaign levels).

    ``relation``: (ad_id, ad_level, bundle_product_ids), already
    platform-filtered; ``product_rel``: (product_id,
    bundle_product_ids) — relation__smt_prd_to_sbn_ids."""
    ctype, gtype, atype = "cmp.campaign_type", "grp.adgroup_type", "ad.ad_type"
    out = (
        ad.alias("ad")
        .join(broadcast(account.alias("acc")), "customer_id", "left")
        .join(broadcast(adgroup.alias("grp")), "adgroup_id", "left")
        .join(
            broadcast(campaign.alias("cmp")),
            F.col("grp.campaign_id") == F.col("cmp.campaign_id"),
            "left",
        )
        .join(
            broadcast(_level_rel(relation, 0, "rc")),
            F.col("grp.campaign_id") == F.col("rc.rc_key"),
            "left",
        )
        .join(
            broadcast(_level_rel(relation, 1, "rg")), F.col("adgroup_id") == F.col("rg.rg_key"), "left"
        )
        .join(
            broadcast(_level_rel(relation, 2, "ra")), F.col("ad.ad_id") == F.col("ra.ra_key"), "left"
        )
        .join(
            broadcast(
                product_rel.select(
                    F.col("product_id").alias("rp_key"),
                    F.col("bundle_product_ids").alias("rp_bundle"),
                ).alias("rp")
            ),
            F.col("ad.product_id") == F.col("rp.rp_key"),
            "left",
        )
    )
    sort_key = (
        F.when(F.col("ad.is_deleted"), F.lit(2)).otherwise(F.lit(1)) * 100000000
        + _seq99("acc.account_seq") * 1000000
        + _seq99(lookup(ctype, {c: s for s, c, _ in SEARCHAD_CAMPAIGN_TYPES})) * 10000
        + _seq99(lookup(gtype, {c: s for s, c, _ in SEARCHAD_ADGROUP_TYPES})) * 100
        + _seq99(lookup(atype, {c: s for s, c, _ in SEARCHAD_AD_TYPES}))
    )
    return out.select(
        "customer_id",
        "acc.account_name",
        "acc.account_type",
        F.col("grp.campaign_id").alias("campaign_id"),
        "cmp.campaign_name",
        lookup(ctype, {c: l for _, c, l in SEARCHAD_CAMPAIGN_TYPES}).alias("campaign_type"),
        "adgroup_id",
        "grp.adgroup_name",
        lookup(gtype, {c: l for _, c, l in SEARCHAD_ADGROUP_TYPES}).alias("adgroup_type"),
        "ad.ad_id",
        "ad.title",
        "ad.description",
        lookup(atype, {c: l for _, c, l in SEARCHAD_AD_TYPES}).alias("ad_type"),
        F.col("ad.product_id").alias("mall_product_id"),
        F.coalesce("rp.rp_bundle", "ra.ra_bundle", "rg.rg_bundle", "rc.rc_bundle").alias(
            "bundle_product_ids"
        ),
        "ad.bid_amount",
        F.coalesce(
            F.col("cmp.is_enabled") & F.col("grp.is_enabled") & F.col("ad.is_enabled"),
            F.col("ad.is_enabled"),
        ).alias("is_enabled"),
        "ad.is_deleted",
        "ad.landing_url_pc",
        "ad.landing_url_mobile",
        "ad.created_at",
        "ad.deleted_at",
        sort_key.alias("sort_key"),
    )


def meta_adset_master(
    adset: DataFrame, campaign: DataFrame, account: DataFrame
) -> DataFrame:
    """meta_ads__adset_master.sql:19-55: campaign joined on (account_id,
    campaign_id), GREATEST(campaign, adset) status resolution, created
    COALESCE, DELETED sort penalty."""
    objective = "cmp.objective"
    out = (
        adset.alias("adset")
        .join(broadcast(account.alias("acc")), "account_id", "left")
        .join(
            broadcast(campaign.alias("cmp")),
            (F.col("adset.account_id") == F.col("cmp.account_id"))
            & (F.col("adset.campaign_id") == F.col("cmp.campaign_id")),
            "left",
        )
    )
    status, status_code = _worst_status(
        ["cmp.effective_status", "adset.effective_status"], META_EFFECTIVE_STATUSES
    )
    sort_key = (
        F.when(status_code == "DELETED", F.lit(2)).otherwise(F.lit(1)) * 10000
        + _seq99("acc.account_seq") * 100
        + _seq99(lookup(objective, {c: s for s, c, _ in META_OBJECTIVES}))
    )
    return out.select(
        F.col("adset.account_id").alias("account_id"),
        "acc.account_name",
        F.col("adset.campaign_id").alias("campaign_id"),
        "cmp.campaign_name",
        lookup(objective, {c: l for _, c, l in META_OBJECTIVES}).alias("objective"),
        "adset.adset_id",
        "adset.adset_name",
        status.alias("effective_status"),
        "adset.daily_budget",
        F.coalesce("adset.created_at", "cmp.created_at").alias("created_at"),
        sort_key.alias("sort_key"),
    )


def meta_ad_master(
    ad: DataFrame,
    adset: DataFrame,
    campaign: DataFrame,
    account: DataFrame,
    relation: DataFrame,
) -> DataFrame:
    """meta_ads__ad_master.sql:19-108: three-status GREATEST resolution,
    ad > adset > campaign bundle COALESCE, 3-way created COALESCE."""
    objective = "cmp.objective"
    out = (
        ad.alias("ad")
        .join(broadcast(account.alias("acc")), "account_id", "left")
        .join(broadcast(campaign.alias("cmp")), "campaign_id", "left")
        .join(broadcast(adset.alias("adset")), "adset_id", "left")
        .join(
            broadcast(_level_rel(relation, 0, "rc")),
            F.col("campaign_id") == F.col("rc.rc_key"),
            "left",
        )
        .join(
            broadcast(_level_rel(relation, 1, "rs")), F.col("adset_id") == F.col("rs.rs_key"), "left"
        )
        .join(
            broadcast(_level_rel(relation, 2, "ra")), F.col("ad.ad_id") == F.col("ra.ra_key"), "left"
        )
    )
    status, status_code = _worst_status(
        ["cmp.effective_status", "adset.effective_status", "ad.effective_status"],
        META_EFFECTIVE_STATUSES,
    )
    sort_key = (
        F.when(status_code == "DELETED", F.lit(2)).otherwise(F.lit(1)) * 10000
        + _seq99("acc.account_seq") * 100
        + _seq99(lookup(objective, {c: s for s, c, _ in META_OBJECTIVES}))
    )
    return out.select(
        "account_id",
        "acc.account_name",
        "campaign_id",
        "cmp.campaign_name",
        lookup(objective, {c: l for _, c, l in META_OBJECTIVES}).alias("objective"),
        "adset_id",
        "adset.adset_name",
        "ad.ad_id",
        "ad.ad_name",
        status.alias("effective_status"),
        F.coalesce("ra.ra_bundle", "rs.rs_bundle", "rc.rc_bundle").alias(
            "bundle_product_ids"
        ),
        F.coalesce("ad.created_at", "adset.created_at", "cmp.created_at").alias(
            "created_at"
        ),
        sort_key.alias("sort_key"),
    )


def coupang_adgroup_master(
    adgroup: DataFrame, campaign: DataFrame, vendor: DataFrame
) -> DataFrame:
    """coupang_ads__adgroup_master.sql:19-55: campaign attrs pulled
    through the adgroup, vendor_type mapped off the CAMPAIGN row,
    goal off the adgroup, (deleted, vendor, goal) sort key."""
    goal = "grp.goal_type"
    out = (
        adgroup.alias("grp")
        .join(broadcast(campaign.alias("cmp")), "campaign_id", "left")
        .join(broadcast(vendor.alias("vdr")), "vendor_id", "left")
    )
    sort_key = (
        F.when(F.col("grp.is_deleted"), F.lit(2)).otherwise(F.lit(1)) * 1000
        + F.coalesce(F.col("vdr.vendor_seq"), F.lit(99)) * 10
        + F.coalesce(lookup(goal, {c: s for s, c, _ in COUPANG_GOAL_TYPES}), F.lit(9))
    )
    return out.select(
        "vendor_id",
        "vdr.vendor_name",
        "vdr.vendor_alias",
        lookup("cmp.vendor_type", {c: l for _, c, l in COUPANG_VENDOR_TYPES}).alias(
            "vendor_type"
        ),
        "campaign_id",
        "cmp.campaign_name",
        F.coalesce(
            lookup("cmp.campaign_type", {c: l for _, c, l in COUPANG_CAMPAIGN_TYPES}),
            F.col("cmp.campaign_type"),
        ).alias("campaign_type"),
        "grp.adgroup_id",
        "grp.adgroup_name",
        lookup(goal, {c: l for _, c, l in COUPANG_GOAL_TYPES}).alias("goal_type"),
        "grp.is_active",
        "grp.is_deleted",
        "grp.roas_target",
        "grp.created_at",
        "grp.updated_at",
        sort_key.alias("sort_key"),
    )


def google_adgroup_master(
    adgroup: DataFrame, campaign: DataFrame, account: DataFrame
) -> DataFrame:
    """google_ads__adgroup_master.sql:19-75: campaign dim chain,
    GREATEST(campaign, adgroup) status, target_cpa + 30d metrics."""
    ctype, gtype = "cmp.campaign_type", "grp.adgroup_type"
    out = (
        adgroup.alias("grp")
        .join(broadcast(account.alias("acc")), "customer_id", "left")
        .join(broadcast(campaign.alias("cmp")), "campaign_id", "left")
    )
    status, status_code = _worst_status(
        ["cmp.campaign_status", "grp.adgroup_status"], GOOGLE_STATUSES
    )
    sort_key = (
        F.when(status_code == "REMOVED", F.lit(2)).otherwise(F.lit(1)) * 1000000
        + _seq99("acc.account_seq") * 10000
        + _seq99(lookup(ctype, {c: s for s, c, _ in GOOGLE_CAMPAIGN_TYPES})) * 100
        + _seq99(lookup(gtype, {c: s for s, c, _ in GOOGLE_ADGROUP_TYPES}))
    )
    return out.select(
        "customer_id",
        "acc.account_name",
        "campaign_id",
        "cmp.campaign_name",
        lookup(ctype, {c: l for _, c, l in GOOGLE_CAMPAIGN_TYPES}).alias("campaign_type"),
        lookup(
            "cmp.bidding_strategy", {c: l for _, c, l in GOOGLE_BIDDING_STRATEGIES}
        ).alias("bidding_strategy"),
        "grp.adgroup_id",
        "grp.adgroup_name",
        lookup(gtype, {c: l for _, c, l in GOOGLE_ADGROUP_TYPES}).alias("adgroup_type"),
        status.alias("adgroup_status"),
        "grp.target_cpa",
        "grp.impression_count_30d",
        "grp.click_count_30d",
        "grp.ad_cost_30d",
        "cmp.created_at",
        sort_key.alias("sort_key"),
    )


def google_campaign_master(campaign: DataFrame, account: DataFrame) -> DataFrame:
    """google_ads__campaign_master.sql:19-55: account join, three label
    maps; the sort penalty keys off the RAW status code."""
    ctype = "cmp.campaign_type"
    out = campaign.alias("cmp").join(broadcast(account.alias("acc")), "customer_id", "left")
    sort_key = (
        F.when(F.col("cmp.campaign_status") == "REMOVED", F.lit(2)).otherwise(
            F.lit(1)
        )
        * 10000
        + _seq99("acc.account_seq") * 100
        + _seq99(lookup(ctype, {c: s for s, c, _ in GOOGLE_CAMPAIGN_TYPES}))
    )
    return out.select(
        "customer_id",
        "acc.account_name",
        "campaign_id",
        "cmp.campaign_name",
        lookup(ctype, {c: l for _, c, l in GOOGLE_CAMPAIGN_TYPES}).alias("campaign_type"),
        lookup("cmp.campaign_status", {c: l for _, c, l in GOOGLE_STATUSES}).alias(
            "campaign_status"
        ),
        lookup(
            "cmp.bidding_strategy", {c: l for _, c, l in GOOGLE_BIDDING_STRATEGIES}
        ).alias("bidding_strategy"),
        "cmp.campaign_budget",
        "cmp.impression_count_30d",
        "cmp.click_count_30d",
        "cmp.ad_cost_30d",
        "cmp.created_at",
        sort_key.alias("sort_key"),
    )


# macros/mapping/searchad.sql: searchad__contract_type_mapping()
SEARCHAD_CONTRACT_TYPES = [(0, 0, "브랜드검색-신제품검색형 소재"), (1, 1, "브랜드검색-일반형 소재")]


def searchad_contract_master(
    contract: DataFrame, adgroup: DataFrame, campaign: DataFrame, account: DataFrame
) -> DataFrame:
    """searchad__contract_master.sql:19-70: contract -> adgroup ->
    campaign -> account chain, three label maps, the cancel-date sort
    penalty (active=1 beats cancelled=2)."""
    ctype, gtype, ttype = "cmp.campaign_type", "grp.adgroup_type", "sad.contract_type"
    out = (
        contract.alias("sad")
        .join(broadcast(account.alias("acc")), "customer_id", "left")
        .join(broadcast(adgroup.alias("grp")), "adgroup_id", "left")
        .join(
            broadcast(campaign.alias("cmp")),
            F.col("grp.campaign_id") == F.col("cmp.campaign_id"),
            "left",
        )
    )
    sort_key = (
        F.when(F.col("sad.cancel_date").isNull(), F.lit(1)).otherwise(F.lit(2))
        * 10000000
        + _seq99("acc.account_seq") * 100000
        + _seq99(lookup(ctype, {c: s for s, c, _ in SEARCHAD_CAMPAIGN_TYPES})) * 1000
        + _seq99(lookup(gtype, {c: s for s, c, _ in SEARCHAD_ADGROUP_TYPES})) * 10
        + F.coalesce(lookup(ttype, {c: s for s, c, _ in SEARCHAD_CONTRACT_TYPES}), F.lit(9))
    )
    return out.select(
        "customer_id",
        "acc.account_name",
        "acc.account_type",
        F.col("grp.campaign_id").alias("campaign_id"),
        "cmp.campaign_name",
        lookup(ctype, {c: l for _, c, l in SEARCHAD_CAMPAIGN_TYPES}).alias("campaign_type"),
        "adgroup_id",
        "grp.adgroup_name",
        lookup(gtype, {c: l for _, c, l in SEARCHAD_ADGROUP_TYPES}).alias("adgroup_type"),
        "sad.contract_id",
        "sad.contract_name",
        lookup(ttype, {c: l for _, c, l in SEARCHAD_CONTRACT_TYPES}).alias("contract_type"),
        "sad.contract_amount",
        "sad.contract_start_date",
        "sad.contract_end_date",
        "sad.exposure_start_date",
        "sad.exposure_end_date",
        "sad.cancel_date",
        sort_key.alias("sort_key"),
    )
