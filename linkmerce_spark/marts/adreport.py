"""Ad report dailies: per-platform master-enriched projections and the
cross-platform harmonized union.

Parity targets (semantics, not code) — dbt_postgres/models/marts/ads/:
- ``searchad_report_daily``  ~ searchad__report_daily.sql (:17-135):
  insight LEFT JOIN campaign/ad masters + core product master with the
  reference's COALESCE fallback ladder (ad-level attr > campaign-level
  > literal), UNION ALL the contract branch ('계약' device, typed-NULL
  metric pads, cancel_date-derived enabled/deleted flags).
- ``google_report_daily``    ~ google_ads__report_daily.sql (:17-62),
  ``meta_report_daily``      ~ meta_ads__report_daily.sql (:16-55),
  ``coupang_report_daily``   ~ coupang_ads__report_daily.sql (:17-70):
  the same single-branch projection shape per platform (coupang adds
  the option-name concat and placement-group label).
- ``adreport_daily``         ~ analytics__adreport_daily.sql (:15-160):
  six-branch column harmonization (constant platform names, '-' pads,
  typed-NULL conv_amount), the dable campaign/product enrichment, and
  the extra-ads branch with REPLACE(shop_alias, '(광고)', '').

All master inputs are the BUILT master frames (marts/masters,
marts/core_masters) — the dbt models also consume them as relations.

Scale notes
-----------
- Masters are dims: every join broadcasts, and the code->label
  mappings are map-literal lookups, not joins; the only wide plans are
  the insight scans themselves, filtered by ymd literals
  (partition-prunable).
- The union is column harmonization only — no shuffle added on top of
  the branch plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from linkmerce_spark.functions.scalar import lookup

__all__ = [
    "searchad_report_daily",
    "google_report_daily",
    "meta_report_daily",
    "coupang_report_daily",
    "adreport_daily",
    "SEARCHAD_DEVICE_TYPES",
    "GOOGLE_DEVICE_TYPES",
    "COUPANG_PLACEMENT_GROUPS",
]

# macros/mapping/searchad.sql: searchad__device_type_mapping()
SEARCHAD_DEVICE_TYPES = [(0, 0, "PC"), (1, 1, "모바일"), (2, 2, "기타"), (9, 9, "성과형")]
# macros/mapping/google_ads.sql: google_ads__device_type_mapping()
GOOGLE_DEVICE_TYPES = [
    (0, 0, "데스크톱"),
    (1, 1, "모바일"),
    (2, 2, "태블릿"),
    (3, 3, "연결된 TV"),
    (4, 4, "기타"),
    (5, 5, "알 수 없음"),
    (6, 6, "지정되지 않음"),
]
# macros/mapping/coupang_ads.sql: coupang_ads__placement_group_mapping()
COUPANG_PLACEMENT_GROUPS = [(0, 0, "검색 영역"), (1, 1, "비검색 영역"), (2, 2, "리타겟팅(외부 채널)")]


def _between(col: str, start: str, end: str) -> Column:
    return F.col(col).between(F.lit(start).cast("date"), F.lit(end).cast("date"))


def _product_attrs(alias: str = "product") -> list[Column]:
    """The shared core-product fallback ladder (searchad__report_daily
    .sql:44-54 — identical block in every report_daily)."""
    p = lambda c: F.col(f"{alias}.{c}")  # noqa: E731
    dash = F.lit("-")
    return [
        p("item_id").alias("item_id"),
        F.coalesce(p("item_seq"), F.lit(99999999)).alias("item_seq"),
        F.coalesce(p("team_name"), F.lit("담당팀 없음")).alias("team_name"),
        F.coalesce(p("brand_name"), F.lit("브랜드 없음")).alias("brand_name"),
        F.coalesce(p("category_name1"), dash).alias("category_name1"),
        F.coalesce(p("category_name2"), dash).alias("category_name2"),
        F.coalesce(p("category_name3"), dash).alias("category_name3"),
        F.coalesce(p("category_name4"), dash).alias("category_name4"),
        F.coalesce(p("color"), dash).alias("color"),
        F.coalesce(p("product_name"), dash).alias("product_name"),
    ]


def _pm(product_master: DataFrame) -> DataFrame:
    return broadcast(product_master.alias("product"))


def searchad_report_daily(
    insight: DataFrame,
    campaign_master: DataFrame,
    ad_master: DataFrame,
    product_master: DataFrame,
    contract_daily: DataFrame,
    contract_master: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """searchad__report_daily.sql:17-135: insight + contract branches."""
    ins = (
        insight.filter(_between("ymd", start_date, end_date))
        .alias("insight")
        .join(
            broadcast(campaign_master.alias("cmp")),
            F.col("insight.campaign_id") == F.col("cmp.campaign_id"),
            "left",
        )
        .join(
            broadcast(ad_master.alias("ad")),
            F.col("insight.ad_id") == F.col("ad.ad_id"),
            "left",
        )
        .join(
            _pm(product_master),
            F.col("insight.product_id") == F.col("product.product_id"),
            "left",
        )
    )
    branch1 = ins.select(
        F.coalesce("ad.customer_id", "cmp.customer_id").alias("customer_id"),
        F.coalesce("ad.account_name", "cmp.account_name").alias("account_name"),
        F.coalesce("ad.account_type", "cmp.account_type").alias("account_type"),
        F.col("insight.campaign_id").alias("campaign_id"),
        F.coalesce("ad.campaign_name", "cmp.campaign_name").alias("campaign_name"),
        F.coalesce(
            "ad.campaign_type", "cmp.campaign_type", F.lit("캠페인 없음")
        ).alias("campaign_type"),
        F.col("ad.adgroup_id").alias("adgroup_id"),
        F.col("ad.adgroup_name").alias("adgroup_name"),
        F.coalesce(
            F.col("ad.adgroup_type"),
            F.concat(F.col("cmp.account_type"), F.lit("-기타")),
            F.lit("그룹 없음"),
        ).alias("adgroup_type"),
        F.col("insight.ad_id").alias("ad_id"),
        "ad.title",
        "ad.description",
        F.coalesce("ad.ad_type", "cmp.ad_type", F.lit("유형 없음")).alias("ad_type"),
        F.coalesce("ad.is_enabled", "cmp.is_enabled").alias("is_enabled"),
        F.coalesce("ad.is_deleted", "cmp.is_deleted").alias("is_deleted"),
        F.col("ad.mall_product_id").alias("mall_product_id"),
        F.col("insight.product_id").alias("product_id"),
        *_product_attrs(),
        F.coalesce(
            lookup("insight.device_type", {c: l for _, c, l in SEARCHAD_DEVICE_TYPES}),
            F.lit("-"),
        ).alias("device_type"),
        "insight.impression_count",
        "insight.click_count",
        "insight.ad_cost",
        "insight.ad_rank_sum",
        "insight.conv_count",
        "insight.direct_conv_count",
        "insight.conv_amount",
        "insight.direct_conv_amount",
        F.col("insight.ymd").alias("ymd"),
    )
    nl = lambda t: F.lit(None).cast(t)  # noqa: E731
    con = (
        contract_daily.filter(_between("ymd", start_date, end_date))
        .alias("contract")
        .join(
            broadcast(contract_master.alias("master")),
            F.col("contract.contract_id") == F.col("master.contract_id"),
            "left",
        )
        .join(
            _pm(product_master),
            F.col("contract.product_id") == F.col("product.product_id"),
            "left",
        )
    )
    branch2 = con.select(
        F.col("master.customer_id").alias("customer_id"),
        "master.account_name",
        "master.account_type",
        "master.campaign_id",
        "master.campaign_name",
        F.coalesce("master.campaign_type", F.lit("캠페인 없음")).alias(
            "campaign_type"
        ),
        F.col("contract.adgroup_id").alias("adgroup_id"),
        "master.adgroup_name",
        F.coalesce("master.adgroup_type", F.lit("그룹 없음")).alias("adgroup_type"),
        F.col("contract.contract_id").alias("ad_id"),
        F.col("master.contract_name").alias("title"),
        nl("string").alias("description"),
        F.coalesce("master.contract_type", F.lit("유형 없음")).alias("ad_type"),
        F.col("master.cancel_date").isNull().alias("is_enabled"),
        F.col("master.cancel_date").isNotNull().alias("is_deleted"),
        nl("string").alias("mall_product_id"),
        F.col("contract.product_id").alias("product_id"),
        *_product_attrs(),
        F.lit("계약").alias("device_type"),
        nl("long").alias("impression_count"),
        nl("long").alias("click_count"),
        F.col("contract.ad_cost").alias("ad_cost"),
        nl("long").alias("ad_rank_sum"),
        nl("long").alias("conv_count"),
        nl("long").alias("direct_conv_count"),
        nl("long").alias("conv_amount"),
        nl("long").alias("direct_conv_amount"),
        F.col("contract.ymd").alias("ymd"),
    )
    return branch1.unionByName(branch2)


def google_report_daily(
    insight: DataFrame,
    ad_master: DataFrame,
    product_master: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """google_ads__report_daily.sql:17-62."""
    out = (
        insight.filter(_between("ymd", start_date, end_date))
        .alias("insight")
        .join(
            broadcast(ad_master.alias("master")),
            F.col("insight.ad_id") == F.col("master.ad_id"),
            "left",
        )
        .join(
            _pm(product_master),
            F.col("insight.product_id") == F.col("product.product_id"),
            "left",
        )
    )
    return out.select(
        "master.customer_id",
        "master.account_name",
        "master.campaign_id",
        "master.campaign_name",
        F.coalesce("master.campaign_type", F.lit("캠페인 없음")).alias(
            "campaign_type"
        ),
        "master.adgroup_id",
        "master.adgroup_name",
        F.coalesce("master.adgroup_type", F.lit("그룹 없음")).alias("adgroup_type"),
        F.col("insight.ad_id").alias("ad_id"),
        "master.ad_name",
        F.coalesce("master.ad_type", F.lit("유형 없음")).alias("ad_type"),
        F.coalesce("master.ad_status", F.lit("알 수 없음")).alias("ad_status"),
        F.col("insight.product_id").alias("product_id"),
        *_product_attrs(),
        F.coalesce(
            lookup("insight.device_type", {c: l for _, c, l in GOOGLE_DEVICE_TYPES}),
            F.lit("-"),
        ).alias("device_type"),
        "insight.impression_count",
        "insight.click_count",
        "insight.ad_cost",
        F.col("insight.ymd").alias("ymd"),
    )


def meta_report_daily(
    insight: DataFrame,
    ad_master: DataFrame,
    product_master: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """meta_ads__report_daily.sql:16-55."""
    out = (
        insight.filter(_between("ymd", start_date, end_date))
        .alias("insight")
        .join(
            broadcast(ad_master.alias("master")),
            F.col("insight.ad_id") == F.col("master.ad_id"),
            "left",
        )
        .join(
            _pm(product_master),
            F.col("insight.product_id") == F.col("product.product_id"),
            "left",
        )
    )
    return out.select(
        "master.account_id",
        "master.account_name",
        "master.campaign_id",
        "master.campaign_name",
        F.coalesce("master.objective", F.lit("-")).alias("objective"),
        "master.adset_id",
        "master.adset_name",
        F.col("insight.ad_id").alias("ad_id"),
        "master.ad_name",
        F.coalesce("master.effective_status", F.lit("-")).alias("effective_status"),
        F.col("insight.product_id").alias("product_id"),
        *_product_attrs(),
        "insight.impression_count",
        "insight.reach_count",
        "insight.click_count",
        "insight.link_click_count",
        "insight.ad_cost",
        F.col("insight.ymd").alias("ymd"),
    )


def coupang_report_daily(
    insight: DataFrame,
    campaign_master: DataFrame,
    product_master: DataFrame,
    option: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """coupang_ads__report_daily.sql:17-70."""
    out = (
        insight.filter(_between("ymd", start_date, end_date))
        .alias("insight")
        .join(
            broadcast(campaign_master.alias("master")),
            F.col("insight.campaign_id") == F.col("master.campaign_id"),
            "left",
        )
        .join(
            _pm(product_master),
            F.col("insight.product_id") == F.col("product.product_id"),
            "left",
        )
        .join(
            broadcast(option.alias("option")),
            F.col("insight.option_id") == F.col("option.option_id"),
            "left",
        )
    )
    return out.select(
        "master.vendor_id",
        "master.vendor_name",
        "master.vendor_alias",
        "master.vendor_type",
        F.col("insight.campaign_id").alias("campaign_id"),
        "master.campaign_name",
        F.coalesce("master.campaign_type", F.lit("캠페인 없음")).alias(
            "campaign_type"
        ),
        F.coalesce("master.goal_type", F.lit("-")).alias("goal_type"),
        "master.is_active",
        "master.is_deleted",
        F.col("insight.product_id").alias("product_id"),
        *_product_attrs(),
        F.col("insight.option_id").alias("option_id"),
        F.when(
            F.col("option.option_name").isNotNull(),
            F.concat(
                F.col("option.product_name"), F.lit(" / "), F.col("option.option_name")
            ),
        )
        .otherwise(F.col("option.product_name"))
        .alias("option_name"),
        F.col("option.category_name").alias("category_name_cpg"),
        F.coalesce(
            lookup("insight.placement_group", {c: l for _, c, l in COUPANG_PLACEMENT_GROUPS}),
            F.lit("-"),
        ).alias("placement_group"),
        "insight.impression_count",
        "insight.click_count",
        "insight.ad_cost",
        "insight.conv_count",
        "insight.direct_conv_count",
        "insight.conv_amount",
        "insight.direct_conv_amount",
        F.col("insight.ymd").alias("ymd"),
    )


_ADREPORT_COLS = [
    "platform_name",
    "account_name",
    "campaign_name",
    "adgroup_name",
    "ad_name",
    "ad_type",
    "ad_cost",
    "conv_amount",
    "product_id",
    "team_name",
    "brand_name",
    "category_name1",
    "category_name2",
    "category_name3",
    "category_name4",
    "color",
    "product_name",
    "ymd",
]


def adreport_daily(
    searchad_rd: DataFrame,
    coupang_rd: DataFrame,
    google_rd: DataFrame,
    meta_rd: DataFrame,
    dable_report: DataFrame,
    dable_campaign: DataFrame,
    extra_ads: DataFrame,
    shop: DataFrame,
    product_master: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """analytics__adreport_daily.sql:15-160: the six-branch union."""
    dash = F.lit("-")
    nl = F.lit(None).cast("long")
    sa = searchad_rd.select(
        F.lit("네이버").alias("platform_name"),
        "account_name",
        "campaign_name",
        "adgroup_name",
        F.col("title").alias("ad_name"),
        "ad_type",
        "ad_cost",
        "conv_amount",
        "product_id",
        "team_name",
        "brand_name",
        "category_name1",
        "category_name2",
        "category_name3",
        "category_name4",
        "color",
        "product_name",
        "ymd",
    )
    cp = coupang_rd.select(
        F.lit("쿠팡").alias("platform_name"),
        F.col("vendor_name").alias("account_name"),
        "campaign_name",
        dash.alias("adgroup_name"),
        F.col("option_name").alias("ad_name"),
        F.col("goal_type").alias("ad_type"),
        "ad_cost",
        "conv_amount",
        "product_id",
        "team_name",
        "brand_name",
        "category_name1",
        "category_name2",
        "category_name3",
        "category_name4",
        "color",
        "product_name",
        "ymd",
    )
    gg = google_rd.select(
        F.lit("구글").alias("platform_name"),
        "account_name",
        "campaign_name",
        "adgroup_name",
        "ad_name",
        "ad_type",
        "ad_cost",
        nl.alias("conv_amount"),
        "product_id",
        "team_name",
        "brand_name",
        "category_name1",
        "category_name2",
        "category_name3",
        "category_name4",
        "color",
        "product_name",
        "ymd",
    )
    mt = meta_rd.select(
        F.lit("메타").alias("platform_name"),
        "account_name",
        "campaign_name",
        F.col("adset_name").alias("adgroup_name"),
        "ad_name",
        F.col("objective").alias("ad_type"),
        "ad_cost",
        nl.alias("conv_amount"),
        "product_id",
        "team_name",
        "brand_name",
        "category_name1",
        "category_name2",
        "category_name3",
        "category_name4",
        "color",
        "product_name",
        "ymd",
    )
    db = (
        dable_report.filter(_between("ymd", start_date, end_date))
        .alias("report")
        .join(
            broadcast(dable_campaign.alias("cmp")),
            F.col("report.campaign_id") == F.col("cmp.campaign_id"),
            "left",
        )
        .join(
            _pm(product_master),
            F.col("report.product_id") == F.col("product.product_id"),
            "left",
        )
        .select(
            F.lit("데이블").alias("platform_name"),
            dash.alias("account_name"),
            F.coalesce("cmp.campaign_name", dash).alias("campaign_name"),
            dash.alias("adgroup_name"),
            dash.alias("ad_name"),
            dash.alias("ad_type"),
            F.col("report.ad_cost").alias("ad_cost"),
            nl.alias("conv_amount"),
            F.col("report.product_id").alias("product_id"),
            *_product_attrs()[2:],
            F.col("report.ymd").alias("ymd"),
        )
    )
    ex = (
        extra_ads.filter(_between("ymd", start_date, end_date))
        .alias("ads")
        .join(
            broadcast(shop.alias("shop")),
            F.col("ads.shop_id") == F.col("shop.shop_id"),
            "left",
        )
        .join(
            _pm(product_master),
            F.col("ads.brand_id") == F.col("product.product_id"),
            "left",
        )
        .select(
            F.replace(
                F.col("shop.shop_alias"), F.lit("(광고)"), F.lit("")
            ).alias("platform_name"),
            dash.alias("account_name"),
            dash.alias("campaign_name"),
            dash.alias("adgroup_name"),
            dash.alias("ad_name"),
            dash.alias("ad_type"),
            F.col("ads.ad_cost").alias("ad_cost"),
            nl.alias("conv_amount"),
            F.col("ads.brand_id").alias("product_id"),
            *_product_attrs()[2:],
            F.col("ads.ymd").alias("ymd"),
        )
    )
    out = sa
    for b in (cp, gg, mt, db, ex):
        out = out.unionByName(b)
    return out.select(*_ADREPORT_COLS)
