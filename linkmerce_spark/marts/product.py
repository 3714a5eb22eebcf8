"""Product-family masters: the marts/product dbt views.

Parity targets (semantics, not code) — dbt_postgres/models/marts/
product/:
- ``smartstore_product_master`` ~ smartstore__product_master.sql
  (:10-64): product + channel + category joins, three label maps,
  (brand_seq, delivery_type, status_seq) sort key.
- ``smartstore_option_master``  ~ smartstore__option_master.sql
  (:10-45): order options enriched through the product master; the
  sort fallback is all-9s at the WIDTH of the master's max sort key
  (REPEAT('9', LENGTH(MAX(sort_key)))).
- ``coupang_option_master``     ~ coupang__option_master.sql (:10-40):
  vendor + relation + core item attach (LEFT(bundle,6) key), inline
  status CASE, (deleted, vendor_seq) + status sort pair.
- ``sabangnet_product_master``  ~ sabangnet__product_master.sql
  (:10-108): the deep one — primary option per product via bundle
  explode + DISTINCT ON (item_seq ASC NULLS LAST, option_quantity
  DESC), the POWER(10, max quantity width) scale factor, '대표'
  promotion when the product is a core item, and the
  (item_seq*scale*10 + type*scale + quantity) composed key.
- ``sabangnet_option_master``   ~ sabangnet__option_master.sql
  (:10-100): per-option primary item, the ordinality-ordered bundle
  name string_agg with the '상품코드 불일치' fallback, '대표'
  passthrough, and the all-9s sort fallback.

Determinism deviation (documented): DISTINCT ON orderings that the
reference leaves partial get (item_id, element) tiebreaks appended —
a no-op when the reference is deterministic, a pin when it is not.

Scale notes
-----------
- Every input here is a dimension feed (catalogs, channels, vendors);
  all joins broadcast. Global scalars (max quantity width, max sort
  key) are computed as 1-row aggregates cross-joined broadcast — never
  an unpartitioned window over data rows.
- Bundle explodes fan out by bundle size only; the string_agg is an
  array_sort over per-option structs (codegen), not a shuffle-ordered
  aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from linkmerce_spark import memo
from linkmerce_spark.frames import values_df
from linkmerce_spark.marts.smartstore import _first_token, _sku_mult

__all__ = [
    "smartstore_product_master",
    "smartstore_option_master",
    "coupang_option_master",
    "sabangnet_product_master",
    "sabangnet_option_master",
    "SMARTSTORE_PRODUCT_STATUSES",
    "SMARTSTORE_DISPLAY_TYPES",
    "SMARTSTORE_DELIVERY_TYPES",
    "SMARTSTORE_PRODUCT_TYPES",
    "SABANGNET_PRODUCT_STATUSES",
    "SABANGNET_OPTION_STATUSES",
    "SABANGNET_OPTION_TYPES",
]

# macros/mapping/smartstore.sql
SMARTSTORE_PRODUCT_STATUSES = [
    (0, "WAIT", "판매대기"),
    (1, "SALE", "판매중"),
    (2, "OUTOFSTOCK", "품절"),
    (3, "UNADMISSION", "승인대기"),
    (4, "REJECTION", "승인거부"),
    (5, "SUSPENSION", "판매중지"),
    (6, "CLOSE", "판매종료"),
    (7, "PROHIBITION", "판매금지"),
    (8, "DELETE", "삭제"),
]
SMARTSTORE_DISPLAY_TYPES = [
    (0, "WAIT", "전시대기"),
    (1, "ON", "전시중"),
    (2, "SUSPENSION", "전시중지"),
]
SMARTSTORE_DELIVERY_TYPES = [
    (0, 0, "일반배송"),
    (1, 1, "오늘출발"),
    (2, 2, "옵션별 오늘출발"),
    (3, 3, "희망일배송"),
    (4, 4, "당일배송"),
    (5, 5, "새벽배송"),
    (6, 6, "예약구매"),
    (7, 7, "N배송"),
    (8, 8, "N판매자배송"),
    (9, 9, "N희망일배송"),
    (10, 10, "픽업"),
    (11, 11, "즉시배달"),
]
SMARTSTORE_PRODUCT_TYPES = [
    (0, 0, "단품상품"),
    (1, 1, "옵션상품"),
    (2, 2, "추가상품"),
]

# macros/mapping/sabangnet.sql
SABANGNET_PRODUCT_STATUSES = [
    (0, 1, "대기중"),
    (1, 2, "공급중"),
    (2, 3, "일시중지"),
    (3, 4, "완전품절"),
    (4, 5, "미사용"),
    (5, 6, "삭제"),
    (6, 7, "자료없음"),
    (7, 8, "비노출"),
]
SABANGNET_OPTION_STATUSES = [(0, 1, "판매"), (1, 2, "일시품절"), (2, 3, "미사용")]
SABANGNET_OPTION_TYPES = [
    (0, 0, "대표"),
    (1, 1, "세트"),
    (2, 2, "모음전"),
    (3, 3, "일반"),
]

_INT_MAP = "seq int, code int, label string"
_STR_MAP = "seq int, code string, label string"


def _map(spark, rows, schema):
    return broadcast(values_df(spark, rows, schema))


def smartstore_product_master(
    product: DataFrame, channel: DataFrame, category: DataFrame
) -> DataFrame:
    """smartstore__product_master.sql:10-64 on Spark frames."""
    spark = product.sparkSession
    st = _map(spark, SMARTSTORE_PRODUCT_STATUSES, _STR_MAP).alias("st")
    dp = _map(spark, SMARTSTORE_DISPLAY_TYPES, _STR_MAP).alias("dp")
    dl = _map(spark, SMARTSTORE_DELIVERY_TYPES, _INT_MAP).alias("dl")
    out = (
        product.alias("prd")
        .join(broadcast(channel.alias("chl")), "channel_seq", "left")
        .join(st, F.col("prd.status_type") == F.col("st.code"), "left")
        .join(dp, F.col("prd.display_type") == F.col("dp.code"), "left")
        .join(dl, F.col("prd.delivery_type") == F.col("dl.code"), "left")
        .join(broadcast(category.alias("cat")), "category_id", "left")
    )
    sort_key = (
        F.coalesce(F.col("chl.brand_seq"), F.lit(99)) * 1000
        + F.coalesce(F.col("prd.delivery_type"), F.lit(99)) * 10
        + F.coalesce(F.col("st.seq"), F.lit(9))
    ).cast("int")
    return out.select(
        "prd.product_id",
        "prd.product_no",
        "prd.catalog_id",
        "chl.team_name",
        "chl.brand_name",
        "prd.product_name",
        F.col("st.label").alias("status_type"),
        F.col("dp.label").alias("display_type"),
        F.col("dl.label").alias("delivery_type"),
        "category_id",
        "cat.category_name1",
        "cat.category_name2",
        "cat.category_name3",
        "cat.category_name4",
        "prd.tags",
        "prd.price",
        "prd.sales_price",
        "prd.delivery_fee",
        "prd.register_dt",
        "prd.modify_dt",
        sort_key.alias("sort_key"),
    )


def _nines_fallback(master: DataFrame, key: str = "sort_key") -> DataFrame:
    """1-row frame with the all-9s fallback at the width of
    MAX(master.key) — REPEAT('9', LENGTH(max)) in the reference."""
    return master.agg(
        F.expr(f"CAST(repeat('9', length(CAST(MAX({key}) AS STRING))) AS BIGINT)")
        .alias("__nines")
    )


def smartstore_option_master(
    order_option: DataFrame, channel: DataFrame, product_master: DataFrame
) -> DataFrame:
    """smartstore__option_master.sql:10-45 on Spark frames."""
    spark = order_option.sparkSession
    pt = _map(spark, SMARTSTORE_PRODUCT_TYPES, _INT_MAP).alias("pt")
    # product_master feeds TWO broadcast subtrees (the sort-key lookup
    # and the all-9s fallback agg); checkpoint once so the upstream
    # master chain runs a single time instead of per-subtree.  Eager:
    # broadcast jobs launch concurrently, so a lazy checkpoint would
    # race and both subtrees would still compute the full chain.
    product_master = memo.checkpoint(product_master)
    prd = product_master.select(
        F.col("product_id").alias("__p_pid"), F.col("sort_key").alias("__p_sort")
    )
    out = (
        order_option.alias("opt")
        .join(broadcast(channel.alias("chl")), "channel_seq", "left")
        .join(broadcast(prd), F.col("opt.product_id") == F.col("__p_pid"), "left")
        .join(pt, F.col("opt.product_type") == F.col("pt.code"), "left")
        .crossJoin(broadcast(_nines_fallback(product_master)))
    )
    return out.select(
        "opt.product_id",
        "opt.option_id",
        "chl.team_name",
        "chl.brand_name",
        "opt.product_name",
        "opt.option_name",
        F.col("pt.label").alias("product_type"),
        "opt.seller_product_code",
        "opt.seller_option_code",
        "opt.sales_price",
        "opt.option_price",
        "opt.first_payment_dt",
        "opt.last_payment_dt",
        F.coalesce(F.col("__p_sort").cast("bigint"), F.col("__nines"))
        .cast("int")
        .alias("sort_key1"),
        F.col("opt.product_type").alias("sort_key2"),
    )


def coupang_option_master(
    option: DataFrame,
    vendor: DataFrame,
    relation: DataFrame,
    core_product_master: DataFrame,
) -> DataFrame:
    """coupang__option_master.sql:10-40 on Spark frames."""
    rel = relation.select(
        F.col("option_id").alias("__r_opt"),
        F.substring("bundle_product_ids", 1, 6).alias("__r_key"),
    )
    itm = core_product_master.select(
        F.col("product_id").alias("__i_pid"),
        F.col("team_name").alias("__i_team"),
        F.col("brand_name").alias("__i_brand"),
    )
    out = (
        option.alias("opt")
        .join(broadcast(vendor.alias("vdr")), "vendor_id", "left")
        .join(broadcast(rel), F.col("opt.option_id") == F.col("__r_opt"), "left")
        .join(broadcast(itm), F.col("__r_key") == F.col("__i_pid"), "left")
    )
    status = (
        F.when(F.col("opt.product_status") == 0, "판매중")
        .when(F.col("opt.product_status") == 1, "품절")
        .when(F.col("opt.product_status") == 2, "숨김상품")
        .otherwise(F.lit(None).cast("string"))
    )
    return out.select(
        "opt.product_id",
        "opt.option_id",
        F.col("__i_team").alias("team_name"),
        F.coalesce(F.col("__i_brand"), F.col("opt.brand_name")).alias("brand_name"),
        "opt.product_name",
        "opt.option_name",
        status.alias("product_status"),
        "opt.is_deleted",
        "opt.category_name",
        "vdr.vendor_name",
        "opt.sales_price",
        "opt.register_dt",
        "opt.modify_dt",
        (
            F.when(F.col("opt.is_deleted"), F.lit(2)).otherwise(F.lit(1)) * 100
            + F.coalesce(F.col("vdr.vendor_seq"), F.lit(99))
        ).alias("sort_key1"),
        F.coalesce(F.col("opt.product_status"), F.lit(9)).alias("sort_key2"),
    )


def _item_categories(core_item: DataFrame) -> DataFrame:
    """The core item's four category names keyed by ``__t_item``
    (broadcast): the category attach of both sabangnet masters."""
    return broadcast(
        core_item.select(
            F.col("item_id").alias("__t_item"),
            F.col("category_name1").alias("__t_c1"),
            F.col("category_name2").alias("__t_c2"),
            F.col("category_name3").alias("__t_c3"),
            F.col("category_name4").alias("__t_c4"),
        )
    )


def sabangnet_product_master(
    product: DataFrame,
    option: DataFrame,
    core_item: DataFrame,
    core_product_master: DataFrame,
    core_brand_master: DataFrame,
) -> DataFrame:
    """sabangnet__product_master.sql:10-108 on Spark frames.

    ``option`` carries (option_id, bundle_option_ids, option_type);
    the primary option per product is the DISTINCT ON pick over the
    exploded bundle joined to the core product master."""
    ex = option.select(
        _first_token("option_id", "-").alias("opt_product_id"),
        "option_type",
        F.explode(
            F.split(F.coalesce("bundle_option_ids", "option_id"), ",")
        ).alias("element"),
    )
    itm = broadcast(
        core_product_master.select(
            F.col("product_id").alias("__c_pid"),
            F.col("item_id").alias("__c_item"),
            F.col("item_seq").alias("__c_seq"),
        )
    )
    joined = ex.join(
        itm, _first_token(F.col("element"), "-") == F.col("__c_pid"), "left"
    ).select(
        "opt_product_id",
        F.col("__c_item").alias("item_id"),
        F.col("__c_seq").alias("item_seq"),
        "option_type",
        F.count(F.lit(1))
        .over(Window.partitionBy("opt_product_id"))
        .alias("option_count"),
        _sku_mult("element").alias("option_quantity"),
        F.col("element"),
    )
    w = Window.partitionBy("opt_product_id").orderBy(
        F.col("item_seq").asc_nulls_last(),
        F.col("option_quantity").desc(),
        F.col("element").asc(),  # determinism tiebreak (documented)
    )
    primary = (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("opt_product_id").alias("product_id"),
            "item_id",
            "item_seq",
            "option_type",
            "option_count",
            "option_quantity",
        )
        # referenced twice below (scale agg + the broadcast join):
        # checkpoint so the explode->window chain runs once (eager —
        # concurrent broadcast jobs would race a lazy checkpoint).
        .transform(memo.checkpoint)
    )
    scale = broadcast(
        primary.agg(
            F.pow(
                F.lit(10.0),
                F.max(F.length(F.col("option_quantity").cast("string"))),
            ).alias("__scale")
        )
    )
    spark = product.sparkSession
    st = _map(spark, SABANGNET_PRODUCT_STATUSES, _INT_MAP).alias("st")
    ot = _map(spark, SABANGNET_OPTION_TYPES, _INT_MAP).alias("ot")
    cat = _item_categories(core_item)
    main = broadcast(
        core_product_master.select(F.col("product_id").alias("__m_pid"))
    )
    brd = broadcast(
        core_brand_master.select(
            F.col("brand_name").alias("__b_brand"),
            F.col("item_seq").alias("__b_seq"),
        )
    )
    out = (
        product.alias("prd")
        .join(broadcast(primary.alias("opt")), "product_id", "left")
        .join(cat, F.col("opt.item_id") == F.col("__t_item"), "left")
        .join(main, F.col("prd.product_id") == F.col("__m_pid"), "left")
        .join(st, F.col("prd.product_status") == F.col("st.code"), "left")
        .join(ot, F.col("opt.option_type") == F.col("ot.code"), "left")
        .join(brd, F.col("prd.brand_name") == F.col("__b_brand"), "left")
        .crossJoin(scale)
    )
    is_main = F.col("__m_pid").isNotNull()
    sort_key = (
        F.coalesce(
            F.col("opt.item_seq").cast("double"),
            F.coalesce(F.col("__b_seq"), F.lit(99000000)).cast("double")
            + F.lit(999999.0),
        )
        * F.col("__scale")
        * 10.0
        + F.when(is_main, F.lit(0))
        .otherwise(F.coalesce(F.col("opt.option_type"), F.lit(9)))
        .cast("double")
        * F.col("__scale")
        # no COALESCE: the reference lets a missing primary option
        # NULL the whole key (such products sort NULLS LAST).
        + F.col("opt.option_quantity").cast("double")
    ).cast("bigint")
    image = F.when(
        F.col("prd.image_file").isNotNull(),
        F.concat(
            F.lit("https://pic.sabangnet.co.kr/product_image/mw115815/100/"),
            F.col("prd.image_file"),
        ),
    ).otherwise(F.lit(None).cast("string"))
    return out.select(
        "product_id",
        "prd.model_code",
        "prd.model_id",
        "prd.product_name",
        "prd.product_keyword",
        "prd.brand_name",
        F.col("__t_c1").alias("category_name1"),
        F.col("__t_c2").alias("category_name2"),
        F.col("__t_c3").alias("category_name3"),
        F.col("__t_c4").alias("category_name4"),
        F.col("st.label").alias("product_status"),
        F.when(is_main, F.lit("대표")).otherwise(F.col("ot.label")).alias(
            "option_type"
        ),
        "opt.option_count",
        "prd.manufacture_year",
        "prd.sales_price",
        "prd.org_price",
        image.alias("image_url"),
        "prd.register_dt",
        "prd.modify_dt",
        sort_key.alias("sort_key"),
    )


def sabangnet_option_master(
    option: DataFrame,
    product_master: DataFrame,
    core_item: DataFrame,
    core_product_master: DataFrame,
) -> DataFrame:
    """sabangnet__option_master.sql:10-100 on Spark frames.

    ``product_master`` must be a materialized frame (a dbt-style built
    upstream, ``frames.shared_frame``): it feeds both the broadcast
    attribute lookup and the all-9s fallback agg."""
    # The smaller core-product-master subtree is deliberately NOT
    # checkpointed: an A/B showed the extra materialization job costs
    # as much as the duplicate-subtree compute it saves at bench scale.
    cpm = broadcast(
        core_product_master.select(
            F.col("product_id").alias("__c_pid"),
            F.col("item_id").alias("__c_item"),
            F.col("item_seq").alias("__c_seq"),
            F.col("product_name").alias("__c_name"),
        )
    )
    # primary item per option: DISTINCT ON (option_id) by item_seq.
    ex = option.select(
        "option_id",
        F.explode(
            F.split(F.coalesce("bundle_option_ids", "option_id"), ",")
        ).alias("element"),
    )
    pw = Window.partitionBy("option_id").orderBy(
        F.col("__c_seq").asc_nulls_last(), F.col("element").asc()
    )
    primary = (
        ex.join(cpm, _first_token(F.col("element"), "-") == F.col("__c_pid"), "left")
        .withColumn("__rn", F.row_number().over(pw))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("option_id").alias("__p_opt"), F.col("__c_item").alias("__p_item")
        )
    )
    # ordinality-ordered bundle names with the mismatch fallback.
    bex = option.filter(F.col("bundle_option_ids").isNotNull()).select(
        "option_id",
        F.posexplode(F.split("bundle_option_ids", ",")).alias("__pos", "element"),
    )
    name = F.coalesce(
        F.concat(
            F.col("__c_name"),
            F.lit(" x "),
            F.coalesce(
                F.try_element_at(F.split("element", ":"), F.lit(2)), F.lit("1")
            ),
        ),
        F.lit("상품코드 불일치"),
    )
    bundle_names = (
        bex.join(
            cpm,
            _first_token(_first_token(F.col("element"), ":"), "-")
            == F.col("__c_pid"),
            "left",
        )
        .select("option_id", F.struct(F.col("__pos"), name.alias("n")).alias("__s"))
        .groupBy("option_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("__s")), lambda s: s.getField("n")
                ),
                "\n",
            ).alias("bundle_option_names")
        )
        .select(
            F.col("option_id").alias("__b_opt"),
            "bundle_option_names",
        )
    )
    spark = option.sparkSession
    ost = _map(spark, SABANGNET_OPTION_STATUSES, _INT_MAP).alias("ost")
    oty = _map(spark, SABANGNET_OPTION_TYPES, _INT_MAP).alias("oty")
    prd = broadcast(
        product_master.select(
            F.col("product_id").alias("__pm_pid"),
            F.col("model_code").alias("__pm_model_code"),
            F.col("model_id").alias("__pm_model_id"),
            F.col("product_name").alias("__pm_name"),
            F.col("product_keyword").alias("__pm_keyword"),
            F.col("brand_name").alias("__pm_brand"),
            F.col("option_type").alias("__pm_otype"),
            F.col("sort_key").alias("__pm_sort"),
        )
    )
    itm = _item_categories(core_item)
    out = (
        option.alias("opt")
        .join(
            prd,
            _first_token("opt.option_id", "-") == F.col("__pm_pid"),
            "left",
        )
        .join(broadcast(primary), F.col("opt.option_id") == F.col("__p_opt"), "left")
        .join(itm, F.col("__p_item") == F.col("__t_item"), "left")
        .join(
            broadcast(bundle_names),
            F.col("opt.option_id") == F.col("__b_opt"),
            "left",
        )
        .join(ost, F.col("opt.option_status") == F.col("ost.code"), "left")
        .join(oty, F.col("opt.option_type") == F.col("oty.code"), "left")
        .crossJoin(broadcast(_nines_fallback(product_master, "sort_key")))
    )
    return out.select(
        _first_token("opt.option_id", "-").alias("product_id"),
        "opt.option_id",
        F.col("__pm_model_code").alias("model_code"),
        F.col("__pm_model_id").alias("model_id"),
        F.col("__pm_name").alias("product_name"),
        F.col("__pm_keyword").alias("product_keyword"),
        "opt.option_group",
        "opt.option_name",
        F.col("__pm_brand").alias("brand_name"),
        F.col("__t_c1").alias("category_name1"),
        F.col("__t_c2").alias("category_name2"),
        F.col("__t_c3").alias("category_name3"),
        F.col("__t_c4").alias("category_name4"),
        "opt.bundle_option_ids",
        "bundle_option_names",
        F.col("ost.label").alias("option_status"),
        F.when(F.col("__pm_otype") == "대표", F.lit("대표"))
        .otherwise(F.col("oty.label"))
        .alias("option_type"),
        "opt.option_quantity",
        "opt.option_price",
        "opt.register_dt",
        F.coalesce(F.col("__pm_sort"), F.col("__nines")).alias("sort_key"),
    )
