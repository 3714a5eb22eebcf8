"""sabangnet extras — account and product-master datasets, Spark-first.

Parity sites (semantics, not code):

- ``core/sabangnet/admin/account/models.sql``: Account / ShopNormal /
  AccountNormal rename projections (:17-96) — ShopNormal carries the
  ISO SUBSTR timestamp; AccountNormal is the typed-NULL placeholder
  slice of the Account schema.
- ``core/sabangnet/admin/product/models.sql``: Product bulk_insert
  (:21-39) with the ``string_split(path, '/')[-1]`` image-file
  basename idiom; Option (:71-83); OptionDownload (:107-125) with the
  ``^\\d{6}-\\d{4}$`` option-id PK guard; AddProduct (:172-189) with
  the ``$meta``-parameter row constants and CONCAT option-id
  synthesis; the status/type vocabularies as constants.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkmerce_spark.functions.scalar import iso_ts

__all__ = [
    "parse_accounts",
    "parse_shops",
    "account_placeholders",
    "parse_products",
    "parse_options",
    "parse_option_download",
    "parse_add_products",
    "PRODUCT_STATUS_NAMES",
    "OPTION_STATUS_NAMES",
    "DOWNLOAD_OPTION_STATUS_NAMES",
    "DOWNLOAD_OPTION_TYPE_NAMES",
]

PRODUCT_STATUS_NAMES = [
    (1, "대기중"), (2, "공급중"), (3, "일시중지"), (4, "완전품절"),
    (5, "미사용"), (6, "삭제"), (7, "자료없음"), (8, "비노출"),
]
OPTION_STATUS_NAMES = [(2, "판매"), (4, "품절"), (5, "미사용")]
DOWNLOAD_OPTION_STATUS_NAMES = [(1, "판매"), (2, "품절"), (3, "미사용")]
DOWNLOAD_OPTION_TYPE_NAMES = [(1, "세트"), (2, "모음전"), (3, "일반옵션")]

OPTION_ID_PATTERN = r"^\d{6}-\d{4}$"  # product/models.sql:124


def parse_accounts(rows: DataFrame) -> DataFrame:
    """Account bulk_insert (account/models.sql:17-33)."""
    return rows.select(
        F.col("acntRegsSrno").cast("int").alias("account_no"),
        F.col("shmaId").alias("shop_id"),
        F.col("shmaNm").alias("shop_name"),
        F.col("olMktTydvsDivNm").alias("shop_group"),
        F.col("shmaCnctnLoginId").alias("userid"),
        F.col("ecptPwd").alias("passwd"),
        F.col("sortSrno").cast("int").alias("shop_seq"),
        F.col("shmaUrlAddr").alias("shop_url"),
        F.col("scmUrlAddr").alias("scm_url"),
        F.col("corpNm").alias("corp_name"),
        F.col("useYn").alias("use_yn"),
    )


def parse_shops(rows: DataFrame) -> DataFrame:
    """ShopNormal bulk_insert (account/models.sql:49-60)."""
    return rows.select(
        F.col("shmaId").alias("shop_id"),
        F.col("shmaNm").alias("shop_name"),
        F.col("olMktTydvsDivNm").alias("shop_group"),
        F.col("exclFormSrno").cast("int").alias("shop_seq"),
        F.col("rpstNm").alias("rep_name"),
        F.col("shmaExpoYn").alias("use_yn"),
        iso_ts("fstRegsDt").alias("created_at"),
    )


def account_placeholders(rows: DataFrame) -> DataFrame:
    """AccountNormal bulk_insert (account/models.sql:81-96): the
    account->shop link with every attribute a typed NULL."""
    ns = F.lit(None).cast("string")
    return rows.select(
        F.col("acntRegsSrno").cast("int").alias("account_no"),
        F.col("shmaId").alias("shop_id"),
        ns.alias("shop_name"),
        ns.alias("shop_group"),
        ns.alias("userid"),
        ns.alias("passwd"),
        F.lit(None).cast("int").alias("shop_seq"),
        ns.alias("shop_url"),
        ns.alias("scm_url"),
        ns.alias("corp_name"),
        ns.alias("use_yn"),
    )


def parse_products(rows: DataFrame) -> DataFrame:
    """Product bulk_insert (product/models.sql:21-39): the image-path
    basename is the LAST '/' segment (negative list index ->
    element_at(-1))."""
    return rows.select(
        F.col("prdNo").alias("product_id"),
        F.col("modlNm").alias("model_code"),
        F.col("onsfPrdCd").alias("model_id"),
        F.col("prdNm").alias("product_name"),
        F.col("prdAbbrRmrk").alias("product_keyword"),
        F.col("brndNm").alias("brand_name"),
        F.col("mkcpNm").alias("maker_name"),
        F.col("lgstscSvcAcntIdK").alias("logistics_service"),
        F.col("prdSplyStsCd").try_cast("tinyint").alias("product_status"),
        F.col("prdcYy").try_cast("int").alias("manufacture_year"),
        F.col("sepr").cast("int").alias("sales_price"),
        F.col("splyCprc").cast("int").alias("org_price"),
        F.element_at(F.split(F.col("prdImgFilePathNm"), "/"), -1).alias(
            "image_file"
        ),
        F.col("fstRegsDt").try_cast("timestamp").alias("register_dt"),
        F.col("fnlChgDt").try_cast("timestamp").alias("modify_dt"),
    )


def parse_options(rows: DataFrame) -> DataFrame:
    """Option bulk_insert (product/models.sql:71-83)."""
    return rows.select(
        F.col("prdNo").alias("product_id"),
        F.col("skuNo").alias("sku_id"),
        F.col("optCnfgNm").alias("option_group"),
        F.col("optDtlNm").alias("option_name"),
        F.col("skuSplyStsCd").try_cast("tinyint").alias("option_status"),
        F.col("skuQt").cast("int").alias("quantity"),
        F.col("skuAddAmt").cast("int").alias("option_price"),
        F.col("fstRegsDt").try_cast("timestamp").alias("register_dt"),
        F.col("fnlChgDt").try_cast("timestamp").alias("modify_dt"),
    )


def parse_option_download(rows: DataFrame) -> DataFrame:
    """OptionDownload bulk_insert (product/models.sql:107-125): rows
    whose option id is not ``dddddd-dddd``-shaped are junk lines of
    the spreadsheet and are dropped before load."""
    return rows.filter(F.col("사방넷상품코드").rlike(OPTION_ID_PATTERN)).select(
        F.col("사방넷상품코드").alias("option_id"),
        F.col("바코드").try_cast("bigint").alias("barcode"),
        F.col("옵션제목").alias("option_group"),
        F.col("옵션상세명칭").alias("option_name"),
        F.col("연결상품코드").alias("bundle_option_ids"),
        F.col("공급상태").try_cast("tinyint").alias("option_status"),
        F.col("옵션구분").try_cast("tinyint").alias("option_type"),
        F.col("EA").cast("int").alias("option_quantity"),
        F.col("단품추가금액").try_cast("int").alias("option_price"),
        F.col("등록일시").try_cast("timestamp").alias("register_dt"),
    )


def parse_add_products(rows: DataFrame, meta: Mapping[str, str]) -> DataFrame:
    """AddProduct bulk_insert (product/models.sql:172-189): the $meta
    request parameters ride along as row constants; option id is
    CONCAT(prdNo, '-', skuNo)."""
    iso = lambda v: (  # noqa: E731
        iso_ts(F.lit(str(v)))
        if v is not None
        else F.lit(None).cast("timestamp")
    )
    return rows.select(
        F.col("addPrdGrpId").alias("group_id"),
        F.lit(meta.get("addPrdGrpNm")).alias("group_name"),
        F.lit(meta.get("shmaId")).alias("shop_id"),
        F.col("addPrdSkuCnfgSrno").cast("int").alias("option_seq"),
        F.concat(F.col("prdNo"), F.lit("-"), F.col("skuNo")).alias("option_id"),
        F.col("addPrdSkuCnfgNm").alias("option_name"),
        F.col("sepr").cast("int").alias("sales_price"),
        iso(meta.get("fstRegsDt")).alias("register_dt"),
        iso(meta.get("fnlChgDt")).alias("modify_dt"),
    )
