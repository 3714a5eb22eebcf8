"""searchad extras — GFA ads, exposure diagnosis, center report,
keyword tool, and time/brand-new contracts, Spark-first.

Parity sites (semantics, not code):

- ``core/searchad/gfa/report/models.sql``: campaign/adset/creative
  parses with the 101-based enum blocks (:17-30, :67-80, :110-127),
  the ``medias."1".content.linkUrl`` nested path with a NUMERIC struct
  field name and the trailing-digits product-id extract (:122-123),
  and the '%Y.%m.%d.' report date parse (:166, :199).
- ``core/searchad/center/exposure/models.sql``: the nv_mid extraction
  (:19-27) — shopping CDN URLs carry the id in the path, searchad CDN
  URLs carry it base64-encoded — the ``$is_own`` ternary filter
  (:35, :76), and the product-side upsert (:105-109).
- ``core/searchad/center/report/models.sql``: '(삭제)' marker strip
  (:27), PC/모바일 and 검색/콘텐츠 enums with ELSE 2 (:30-31).
- ``core/searchad/api/keyword/models.sql``: the '< 10' floor-bucket
  parse (:18-24), comp-index enum, and the trailing-31-day window —
  parameterized ``as_of`` (wall-clock is an input, not a side effect).
- ``core/searchad/api/contract/models.sql``: KST (+9h) timestamp
  normalization (:45-52), the VAT uplift TRY_CAST(payment * 1.1)
  (:41) in exact decimal half-up, and the two contract-status enum
  vocabularies (:33-40, :105-119) sharing one table via contract_type.

Scale notes: all narrow projections (codegen); the exposure product
upsert reuses merge_frames (one shuffle per side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkmerce_spark.functions.scalar import enum_code
from linkmerce_spark.operators.merge import merge_frames

__all__ = [
    "parse_gfa_campaigns",
    "parse_gfa_adsets",
    "parse_gfa_creatives",
    "parse_gfa_campaign_report",
    "nv_mid_from_image_url",
    "exposure_diagnosis",
    "exposure_rank",
    "upsert_exposure_products",
    "center_daily_report",
    "parse_keywords",
    "parse_time_contracts",
    "parse_brandnew_contracts",
]

_GFA_OBJECTIVES = {
    "CONVERSION": 101, "WEB_SITE_TRAFFIC": 102, "INSTALL_APP": 103,
    "WATCH_VIDEO": 104, "CATALOG": 105, "SHOPPING": 106, "LEAD": 107,
    "PMAX": 108,
}
_GFA_BID_GOALS = {"MAX_CLICK": 101, "MAX_CONV": 102, "MAX_CONV_VALUE": 103, "NONE": 104}
_GFA_CREATIVE_TYPES = {
    "SINGLE_IMAGE": 101, "MULTIPLE_IMAGE": 102, "SINGLE_VIDEO": 103,
    "IMAGE_BANNER": 104, "CATALOG": 105, "COMPOSITION": 106,
}
TIME_CONTRACT_STATUS = {
    "UPCOMING_EXPOSE": 20, "ON_EXPOSING": 21, "CANCELED_BEFORE_EXPOSING": 22,
    "CANCELED_ON_EXPOSING": 23, "UPCOMING_CANCEL": 24, "EXPOSE_COMPLETED": 30,
}
BRANDNEW_CONTRACT_STATUS = {
    "BIDDING": 10, "BILLING": 11, "CANCELED_ON_BIDDING": 12, "REBIDDING": 13,
    "UPCOMING_EXPOSE": 20, "ON_EXPOSING": 21, "CANCELED_BEFORE_EXPOSING": 22,
    "CANCELED_ON_EXPOSING": 23, "EXPOSE_COMPLETED": 30, "DEFEATED": 31,
    "BILLING_DEFEATED": 32, "FAILED_CONTRACT": 33,
}


def parse_gfa_campaigns(rows: DataFrame) -> DataFrame:
    """GFA Campaign bulk_insert (gfa/report/models.sql:13-31)."""
    return rows.select(
        F.col("no").cast("string").alias("campaign_id"),
        F.col("name").alias("campaign_name"),
        enum_code("objective", _GFA_OBJECTIVES).alias("campaign_type"),
        F.col("adAccountNo").cast("bigint").alias("customer_id"),
        F.col("activated").cast("boolean").alias("is_enabled"),
        F.col("deleted").cast("boolean").alias("is_deleted"),
    )


def parse_gfa_adsets(rows: DataFrame, account_no: int) -> DataFrame:
    """GFA AdSet bulk_insert (gfa/report/models.sql:62-80)."""
    return rows.select(
        F.col("no").cast("string").alias("adgroup_id"),
        F.col("campaignNo").cast("string").alias("campaign_id"),
        F.col("name").alias("adgroup_name"),
        enum_code("bidGoal", _GFA_BID_GOALS).alias("adgroup_type"),
        F.lit(account_no).cast("bigint").alias("customer_id"),
        F.col("activated").cast("boolean").alias("is_enabled"),
        (F.col("status") == "DELETED").alias("is_deleted"),
        F.col("bidPrice").cast("int").alias("bid_amount"),
    )


def parse_gfa_creatives(rows: DataFrame, account_no: int) -> DataFrame:
    """GFA Creative bulk_insert (gfa/report/models.sql:106-127):
    COALESCE(realCreativeNo, no), the numeric "1" struct field path,
    and the trailing-digits product-id extract."""
    link = F.col("medias.`1`.content.linkUrl")
    return rows.select(
        F.coalesce(F.col("realCreativeNo"), F.col("no"))
        .cast("string")
        .alias("ad_id"),
        F.col("adSetNo").cast("string").alias("adgroup_id"),
        enum_code("creativeType", _GFA_CREATIVE_TYPES).alias("ad_type"),
        F.lit(account_no).cast("bigint").alias("customer_id"),
        F.col("name").alias("title"),
        F.col("message").alias("description"),
        link.alias("landing_url_pc"),
        F.regexp_extract(link, r"(\d+)$", 1).try_cast("bigint").alias("product_id"),
        F.col("activated").cast("boolean").alias("is_enabled"),
        (F.col("status") == "DELETED").alias("is_deleted"),
    )


def parse_gfa_campaign_report(rows: DataFrame, account_no: int) -> DataFrame:
    """GFA CampaignReport bulk_insert (gfa/report/models.sql:157-170):
    the '%Y.%m.%d.' trailing-dot date format."""
    return rows.select(
        F.col("캠페인 ID").cast("bigint").alias("campaign_no"),
        F.lit(account_no).cast("bigint").alias("account_no"),
        F.col("노출수").try_cast("bigint").alias("impression_count"),
        F.col("클릭수").try_cast("bigint").alias("click_count"),
        F.lit(None).cast("bigint").alias("reach_count"),
        F.col("총비용").try_cast("bigint").alias("ad_cost"),
        F.col("총 전환수").try_cast("bigint").alias("conv_count"),
        F.col("총 전환매출액").try_cast("bigint").alias("conv_amount"),
        F.to_date(F.col("기간"), "yyyy.MM.dd.").alias("ymd"),
    )


def nv_mid_from_image_url(col: Column | str) -> Column:
    """Product id from a CDN image URL (center/exposure/models.sql:19-27).

    shopping-CDN URLs embed the id in the path
    (``.../main_123/456.jpg`` -> 456); searchad-CDN URLs carry it
    base64-encoded in the filename. FROM_BASE64 -> ``unbase64`` (both
    decode standard base64; invalid input -> NULL via try_cast)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(
            c.startswith("https://shopping-"),
            F.regexp_extract(c, r"^https://[^/]+/main_\d+/(\d+)", 1).try_cast(
                "bigint"
            ),
        )
        .when(
            c.startswith("https://searchad-"),
            F.unbase64(F.regexp_extract(c, r"^https://[^/]+/[^/]+/([^.]+)", 1))
            .cast("string")
            .try_cast("bigint"),
        )
        .otherwise(F.lit(None).cast("bigint"))
    )


def _own_filter(df: DataFrame, is_own: bool | None) -> DataFrame:
    # WHERE ($is_own IS NULL) OR (isOwn = $is_own)
    return df if is_own is None else df.filter(F.col("isOwn") == F.lit(is_own))


def exposure_diagnosis(
    rows: DataFrame, keyword: str, is_own: bool | None = None
) -> DataFrame:
    """ExposureDiagnosis bulk_insert (center/exposure/models.sql:16-36)."""
    return _own_filter(rows, is_own).select(
        F.lit(keyword).alias("keyword"),
        F.col("rank").cast("smallint").alias("display_rank"),
        nv_mid_from_image_url("imageUrl").alias("nv_mid"),
        F.col("productTitle").alias("product_name"),
        F.col("isOwn").cast("boolean").alias("is_own"),
        F.col("categoryNames").alias("full_category_name"),
        F.nullif(F.col("fmpBrand"), F.lit("")).alias("brand_name"),
        F.nullif(F.col("fmpMaker"), F.lit("")).alias("maker_name"),
        F.col("imageUrl").alias("image_url"),
        F.coalesce("lowPrice", "mobileLowPrice").try_cast("int").alias("sales_price"),
    )


def exposure_rank(
    rows: DataFrame, keyword: str, as_of: str, is_own: bool | None = None
) -> tuple[DataFrame, DataFrame]:
    """ExposureRank 2-way fan (center/exposure/models.sql:57-109):
    (rank rows, product slice) — both restricted to extractable
    nv_mids; created/updated stamps are the parameterized ``as_of``."""
    src = _own_filter(rows, is_own)
    mid = nv_mid_from_image_url("imageUrl")
    stamp = F.lit(as_of).cast("timestamp")
    rank = (
        src.select(
            F.lit(keyword).alias("keyword"),
            mid.alias("nv_mid"),
            F.col("rank").cast("smallint").alias("display_rank"),
            stamp.alias("created_at"),
        )
        .filter(F.col("nv_mid").isNotNull())
    )
    product = (
        src.select(
            mid.alias("nv_mid"),
            F.lit(None).cast("bigint").alias("product_id"),
            F.when(F.col("imageUrl").startswith("https://shopping-"), 0)
            .otherwise(3)
            .cast("tinyint")
            .alias("product_type"),
            F.col("productTitle").alias("product_name"),
            F.lit(None).cast("int").alias("category_id"),
            F.col("categoryNames").alias("full_category_name"),
            F.lit(None).cast("string").alias("mall_name"),
            F.nullif(F.col("fmpBrand"), F.lit("")).alias("brand_name"),
            F.coalesce("lowPrice", "mobileLowPrice")
            .try_cast("int")
            .alias("sales_price"),
            stamp.alias("updated_at"),
        )
        .filter(F.col("nv_mid").isNotNull())
    )
    return rank, product


def upsert_exposure_products(target: DataFrame, staged: DataFrame) -> DataFrame:
    """ON CONFLICT DO UPDATE (center/exposure/models.sql:105-109)."""
    return merge_frames(
        target,
        staged,
        ["nv_mid"],
        matched={
            "product_name": "source_first",
            "full_category_name": "source_first",
            "mall_name": "source_first",
            "updated_at": "replace",
        },
        source_order=[F.col("display_rank").asc_nulls_last()]
        if "display_rank" in staged.columns
        else None,
    )


def center_daily_report(rows: DataFrame, customer_id: int) -> DataFrame:
    """Center DailyReport bulk_insert (center/report/models.sql:24-42):
    the '(삭제)' tombstone strip and the device/network enums."""
    return rows.select(
        F.regexp_replace(F.col("nccAdId"), r"\(삭제\)", "").alias("ad_id"),
        F.lit(customer_id).cast("int").alias("customer_id"),
        F.col("mediaNm").alias("media_name"),
        enum_code("pcMblTp", {"PC": 0, "모바일": 1}, default=2).alias(
            "pc_mobile_type"
        ),
        enum_code("ntwkTp", {"검색": 0, "콘텐츠": 1}, default=2).alias(
            "network_type"
        ),
        F.col("impCnt").cast("int").alias("impression_count"),
        F.col("clkCnt").cast("int").alias("click_count"),
        F.col("salesAmt").cast("int").alias("ad_cost"),
        F.col("ccnt").cast("int").alias("conv_count"),
        F.col("drtCcnt").cast("int").alias("direct_conv_count"),
        F.col("convAmt").cast("int").alias("conv_amount"),
        F.col("drtConvAmt").cast("int").alias("direct_conv_amount"),
        F.col("avgRnk").cast("decimal(18,1)").alias("avg_rank"),
        F.col("pv").cast("decimal(18,2)").alias("page_view_per_visit"),
        F.col("stayTm").cast("decimal(18,2)").alias("stay_time_per_visit"),
        F.col("ymd").cast("date").alias("ymd"),
    )


def parse_keywords(rows: DataFrame, as_of: str) -> DataFrame:
    """Keyword tool bulk_insert (api/keyword/models.sql:16-36): the
    '< 10' floor bucket, comp-index enum, and the trailing-31-day
    window anchored at ``as_of`` (the reference's CURRENT_DATE)."""
    import datetime as _dt

    anchor = _dt.date.fromisoformat(as_of)

    def bucket(col: str) -> Column:
        c = F.col(col)
        return (
            F.when(c == "< 10", F.lit(10))
            .otherwise(F.coalesce(c.try_cast("int"), F.lit(0)))
            .alias(col)
        )

    return rows.select(
        F.col("relKeyword").alias("keyword"),
        bucket("monthlyPcQcCnt").alias("monthly_qc_cnt_pc"),
        bucket("monthlyMobileQcCnt").alias("monthly_qc_cnt_mo"),
        F.col("monthlyAvePcClkCnt").cast("decimal(18,1)").alias(
            "monthly_avg_click_cnt_pc"
        ),
        F.col("monthlyAveMobileClkCnt").cast("decimal(18,1)").alias(
            "monthly_avg_click_cnt_mo"
        ),
        enum_code("compIdx", {"낮음": 0, "중간": 1, "높음": 2}).alias("comp_idx"),
        F.col("plAvgDepth").cast("int").alias("avg_depth_pc"),
        F.lit((anchor - _dt.timedelta(days=31)).isoformat())
        .cast("date")
        .alias("start_date"),
        F.lit((anchor - _dt.timedelta(days=1)).isoformat())
        .cast("date")
        .alias("end_date"),
    )


_KST = "INTERVAL 9 HOURS"


def _kst_ts(col: str) -> Column:
    return F.col(col).try_cast("timestamp") + F.expr(_KST)


def _kst_date(col: str) -> Column:
    return _kst_ts(col).cast("date")


def _vat_amount(col: str) -> Column:
    # TRY_CAST(paymentAmt * 1.1 AS INTEGER): DuckDB's decimal->int cast
    # rounds half-up; Spark's truncates. floor(x*1.1 + 0.5) in exact
    # decimal is the explicit, engine-portable half-up.
    dec = F.col(col).try_cast("bigint").cast("decimal(18,0)")
    return F.floor(
        dec * F.lit("1.1").cast("decimal(2,1)") + F.lit("0.5").cast("decimal(2,1)")
    ).cast("int")


def _contract_common(rows: DataFrame) -> list[Column]:
    return [
        F.col("customerId").cast("int").alias("customer_id"),
        F.col("contractName").alias("contract_name"),
        _kst_ts("regTm").alias("register_dt"),
        _kst_ts("editTm").alias("edit_dt"),
        _kst_date("contractStartDt").alias("contract_start_date"),
        _kst_date("contractEndDt").alias("contract_end_date"),
        _kst_date("exposureStartDt").alias("exposure_start_date"),
        _kst_date("exposureEndDt").alias("exposure_end_date"),
        _kst_date("cancelTm").alias("cancel_date"),
    ]


def parse_time_contracts(rows: DataFrame) -> DataFrame:
    """TimeContract bulk_insert (api/contract/models.sql:25-55): KST
    shift, VAT uplift, contract_type 0."""
    return rows.select(
        F.col("nccTimeContractId").alias("contract_id"),
        F.col("nccAdgroupId").alias("adgroup_id"),
        *_contract_common(rows)[:2],
        F.lit(0).cast("tinyint").alias("contract_type"),
        enum_code("contractStatus", TIME_CONTRACT_STATUS).alias("contract_status"),
        _vat_amount("paymentAmt").alias("contract_amount"),
        F.col("refundAmt").cast("int").alias("refund_amount"),
        F.col("contractQc").cast("int").alias("contract_qc"),
        F.col("totalKeywordQc").cast("int").alias("keyword_qc"),
        *_contract_common(rows)[2:],
    )


def parse_brandnew_contracts(rows: DataFrame) -> DataFrame:
    """BrandNewContract bulk_insert (api/contract/models.sql:97-135):
    contract_type 1, no VAT uplift, placeholder QC columns."""
    return rows.select(
        F.col("brandNewContractId").alias("contract_id"),
        F.col("nccAdgroupId").alias("adgroup_id"),
        *_contract_common(rows)[:2],
        F.lit(1).cast("tinyint").alias("contract_type"),
        enum_code("contractStatus", BRANDNEW_CONTRACT_STATUS).alias(
            "contract_status"
        ),
        F.col("paymentAmt").cast("int").alias("contract_amount"),
        F.col("refundAmt").cast("int").alias("refund_amount"),
        F.lit(None).cast("int").alias("contract_qc"),
        F.lit(None).cast("int").alias("keyword_qc"),
        *_contract_common(rows)[2:],
    )
