"""sabangnet — the reference's OMS order dataset, Spark-first.

Per-dataset module for the Sabangnet admin order/product tables.
Parity sites (semantics, not code) in
``core/sabangnet/admin/order/models.sql``:

- Order bulk_insert (:36-68): camelCase API renames, ``NULLIF(org, 0)``
  original-order scrub, TRY_CAST status/date parses, insert-ignore on
  the order_seq PK.
- OrderDownload (:140-264): ONE raw download (Korean spreadsheet
  headers) fanned into FOUR tables — order (COALESCE order_dt falls
  back to collection time :155-157), option (DISTINCT + QUALIFY
  ROW_NUMBER per (account, shop product, option) ORDER BY order_dt
  DESC NULLS LAST :180-182, then the 14-column COALESCE upsert with
  LEAST(first_order_dt)/GREATEST(last_order_dt) :183-198), invoice
  (non-null invoice/date filter + the 6-value order_status_div and
  18-value order_status enum blocks :200-242), dispatch (shipping
  projection :244-264).
- OrderStatus (:267-295): parameterized date_type -> status-code enum
  and TRY_CAST(STRPTIME(...)) update-date parse with non-null guards.
- ProductMapping / SkuMapping (:298-355): rename projections with
  COALESCE defaults and the CONCAT(prdNo, '-', COALESCE(skuNo,
  '0001')) option-id synthesis.

Spark-first notes
-----------------
- Every parse is a narrow column projection (codegen); enum blocks are
  ``functions.scalar.enum_code`` map lookups, not UDFs.
- QUALIFY dedup is the one-window ``dedupe_keep_first`` operator;
  the upsert is ``merge_frames`` (full-outer merge, one shuffle per
  side) with the verb map {source_first x12, least, greatest} — the
  exact ON CONFLICT semantics of :183-198.
- Insert-ignore loads compose with ``operators.dedup.insert_ignore``
  at the sink; parsers here stay pure projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkmerce_spark.functions.scalar import enum_code
from linkmerce_spark.operators.dedup import dedupe_keep_first
from linkmerce_spark.operators.merge import merge_frames

__all__ = [
    "parse_order",
    "download_order",
    "download_option",
    "download_invoice",
    "download_dispatch",
    "upsert_options",
    "order_status_events",
    "parse_product_mapping",
    "parse_sku_mapping",
    "ORDER_STATUS_DIV_LABELS",
    "ORDER_STATUS_LABELS",
    "DATE_TYPE_STATUS",
]

# models.sql:207-215 — 주문구분 (order class) labels.
ORDER_STATUS_DIV_LABELS = [
    ("주문(진행)", 1),
    ("주문(완료)", 2),
    ("교발(진행)", 3),
    ("교발(완료)", 4),
    ("회수(진행)", 5),
    ("회수(완료)", 6),
]

# models.sql:216-236 — 주문상태 (order status) labels.
ORDER_STATUS_LABELS = [
    ("신규주문", 1),
    ("주문확인", 2),
    ("출고대기", 3),
    ("출고완료", 4),
    ("배송보류", 6),
    ("취소접수", 7),
    ("교환접수", 8),
    ("반품접수", 9),
    ("취소완료", 10),
    ("교환완료", 11),
    ("반품완료", 12),
    ("교환발송준비", 21),
    ("교환발송완료", 22),
    ("교환회수준비", 23),
    ("교환회수완료", 24),
    ("반품회수준비", 25),
    ("반품회수완료", 26),
    ("폐기", 999),
]

# models.sql:280-289 — per-download-view status codes.
DATE_TYPE_STATUS = {
    "출고완료일": 4,
    "취소접수일": 7,
    "교환접수일": 8,
    "반품접수일": 9,
    "취소완료일": 10,
    "교환완료일": 11,
    "반품완료일": 12,
}

_SEQ = '주문번호(사방넷)'
_SEQ_ORG = '원주문번호(사방넷)'
_ORDER_ID = '주문번호(쇼핑몰)'
_ACCOUNT = '계정등록순번'
_OPTION = '상품코드(사방넷)'
_PRODUCT_SHOP = '상품코드(쇼핑몰)'
_ORDER_DT = '주문일시(YYYY-MM-DD HH:MM)'
_REGISTER_DT = '수집일시(YYYY-MM-DD HH:MM:SS)'


def parse_order(rows: DataFrame) -> DataFrame:
    """API-shaped order rows -> engine schema (models.sql:36-68)."""
    return rows.select(
        F.col("ordNo").cast("long").alias("order_seq"),
        F.nullif(F.col("orgnOrdNo").cast("long"), F.lit(0)).alias("order_seq_org"),
        F.col("shmaOrdNo").alias("order_id"),
        F.col("ordStsTpDivCd").try_cast("int").alias("order_status_div"),
        F.col("ordStsCd").try_cast("int").alias("order_status"),
        F.col("shmaId").alias("shop_id"),
        F.col("shmaNm").alias("shop_name"),
        F.col("shmaCnctnLoginId").alias("login_id"),
        F.col("acntRegsSrno").cast("int").alias("account_no"),
        F.col("prdNo").alias("option_id"),
        F.col("skuNo").alias("sku_id"),
        F.col("ordQt").cast("int").alias("order_quantity"),
        F.col("skuQt").cast("int").alias("sku_quantity"),
        F.col("ordSumAmt").cast("int").alias("order_amount"),
        F.col("shmaSplyUprc").cast("int").alias("supply_amount"),
        F.col("cprcSumAmt").cast("int").alias("cost_amount"),
        F.col("fstRegsDt").cast("timestamp").alias("register_dt"),
        F.col("shpmtHopeYmd").try_cast("date").alias("ship_hope_date"),
        F.col("wyblTrnmDt").try_cast("date").alias("invoice_date"),
    )


def download_order(raw: DataFrame) -> DataFrame:
    """Download rows -> order table (models.sql:141-159): TRY_CASTs and
    the order_dt fallback to collection time."""
    register = F.col(_REGISTER_DT).cast("timestamp")
    return raw.select(
        F.col(_SEQ).cast("long").alias("order_seq"),
        F.nullif(F.col(_SEQ_ORG).try_cast("long"), F.lit(0)).alias(
            "order_seq_org"
        ),
        F.col(_ORDER_ID).alias("order_id"),
        F.col("부주문번호").alias("order_id_dup"),
        F.col(_ACCOUNT).cast("int").alias("account_no"),
        F.col(_OPTION).alias("option_id"),
        F.col(_PRODUCT_SHOP).alias("product_id_shop"),
        F.col("수량").try_cast("int").alias("order_quantity"),
        F.col("EA(확정)").try_cast("int").alias("sku_quantity"),
        F.col("결제금액").try_cast("int").alias("payment_amount"),
        F.col("주문금액").try_cast("int").alias("order_amount"),
        register.alias("register_dt"),
        F.coalesce(F.col(_ORDER_DT).try_cast("timestamp"), register).alias(
            "order_dt"
        ),
    )


OPTION_KEYS = ["account_no", "product_id_shop", "option_id"]


def _option_dedup_order() -> list:
    return [
        F.col("last_order_dt").desc_nulls_last(),
        # extra tiebreaks: the reference's ordering is partial; ties
        # must resolve identically in every engine.
        F.col("order_id").asc_nulls_last(),
        F.col("sales_price").asc_nulls_last(),
    ]


def download_option(
    raw: DataFrame, dedup: bool = True, keep: tuple = ()
) -> DataFrame:
    """Download rows -> latest option attributes per (account, shop
    product, option) — the QUALIFY ROW_NUMBER ... DESC NULLS LAST idiom
    (models.sql:162-182) as one window dedup.

    ``dedup=False`` returns the bare projection (no DISTINCT, no
    window) for callers that fuse the dedup into a downstream merge
    (``upsert_option_batches``); the reference's DISTINCT is redundant
    under QUALIFY rn=1 — identical rows tie on every ordering column,
    so the kept row's values are unchanged."""
    order_dt = F.col(_ORDER_DT).try_cast("timestamp")
    projected = raw.select(
        F.col(_OPTION).alias("option_id"),
        F.col(_PRODUCT_SHOP).alias("product_id_shop"),
        F.col(_ACCOUNT).cast("int").alias("account_no"),
        F.col("모델명").alias("model_code"),
        F.col("자체상품코드").alias("model_id"),
        F.col("상품명(확정)").alias("product_name"),
        F.col("상품명(수집)").alias("product_name_shop"),
        F.col("상품약어").alias("product_name_abbr"),
        F.col("옵션(확정)").alias("option_name"),
        F.col("옵션(수집)").alias("option_name_shop"),
        F.col("옵션별칭").alias("option_name_abbr"),
        F.col("판매가(상품)").try_cast("int").alias("sales_price"),
        F.col(_ORDER_ID).alias("order_id"),
        order_dt.alias("first_order_dt"),
        order_dt.alias("last_order_dt"),
        *[F.col(c) for c in keep],
    )
    if not dedup:
        return projected
    return dedupe_keep_first(
        projected.distinct(), OPTION_KEYS, _option_dedup_order()
    )


OPTION_UPSERT_VERBS = {
    **{
        c: "source_first"
        for c in [
            "model_code",
            "model_id",
            "product_name",
            "product_name_shop",
            "product_name_abbr",
            "option_name",
            "option_name_shop",
            "option_name_abbr",
            "sales_price",
            "order_id",
        ]
    },
    "first_order_dt": "least",
    "last_order_dt": "greatest",
}


def upsert_options(target: DataFrame, staged: DataFrame) -> DataFrame:
    """ON CONFLICT DO UPDATE SET col = COALESCE(EXCLUDED.col, col),
    first = LEAST(...), last = GREATEST(...) (models.sql:183-198).

    Takes ALREADY-DEDUPED batches (``download_option`` output)."""
    return merge_frames(
        target,
        staged,
        OPTION_KEYS,
        matched=OPTION_UPSERT_VERBS,
    )


def upsert_option_split(raw: DataFrame, staged_when) -> DataFrame:
    """The QUALIFY-dedup + ON CONFLICT upsert (models.sql:162-198) when
    BOTH batches partition one feed: ``staged_when`` is a boolean
    Column over ``raw`` rows selecting the staged batch. One scan, one
    key shuffle, no join node."""
    from linkmerce_spark.operators.merge import merge_deduped_tagged

    tagged = download_option(
        raw.withColumn("__side", staged_when.cast("int")),
        dedup=False,
        keep=("__side",),
    )
    return merge_deduped_tagged(
        tagged, OPTION_KEYS, _option_dedup_order(), matched=OPTION_UPSERT_VERBS
    )


def upsert_option_batches(target_rows: DataFrame, staged_rows: DataFrame) -> DataFrame:
    """The full QUALIFY-dedup + ON CONFLICT upsert pair
    (models.sql:162-198) over BARE projections
    (``download_option(raw, dedup=False)``), fused into a single key
    shuffle — no join node, no per-batch dedup exchange. Identical
    output to ``upsert_options(download_option(a), download_option(b))``."""
    from linkmerce_spark.operators.merge import merge_deduped

    return merge_deduped(
        target_rows,
        staged_rows,
        OPTION_KEYS,
        _option_dedup_order(),
        matched=OPTION_UPSERT_VERBS,
    )


def download_invoice(raw: DataFrame) -> DataFrame:
    """Download rows -> invoice table (models.sql:200-242): the two enum
    blocks plus the non-null invoice/order_dt guards."""
    order_dt = F.col(_ORDER_DT).try_cast("timestamp")
    return raw.filter(
        F.col("송장번호").isNotNull() & order_dt.isNotNull()
    ).select(
        F.col(_SEQ).cast("long").alias("order_seq"),
        F.col(_ACCOUNT).cast("int").alias("account_no"),
        F.col("송장번호").alias("invoice_no"),
        F.col("택배사").alias("delivery_company"),
        enum_code("주문구분", dict(ORDER_STATUS_DIV_LABELS)).alias("order_status_div"),
        enum_code("주문상태", dict(ORDER_STATUS_LABELS)).alias("order_status"),
        order_dt.alias("order_dt"),
        F.col("송장등록일자(YYYY-MM-DD)").try_cast("date").alias("invoice_date"),
    )


def download_dispatch(raw: DataFrame) -> DataFrame:
    """Download rows -> dispatch/shipping table (models.sql:244-264)."""
    return raw.select(
        F.col(_SEQ).cast("long").alias("order_seq"),
        F.col(_ORDER_ID).alias("order_id"),
        F.col(_ACCOUNT).cast("int").alias("account_no"),
        F.col(_OPTION).alias("option_id"),
        F.col("EA(확정)").try_cast("int").alias("sku_quantity"),
        F.col("주문자명").alias("orderer_name"),
        F.col("수취인명").alias("receiver_name"),
        F.col("수취인우편번호1").alias("zipcode"),
        F.col("수취인주소1").alias("address"),
        F.col("수취인전화번호1").alias("phone1"),
        F.col("수취인전화번호2").alias("phone2"),
        F.col("배송메세지1").alias("delivery_message"),
        F.col("박스타입").alias("box_type"),
        F.col("운임구분").alias("delivery_type"),
        F.col(_REGISTER_DT).cast("timestamp").alias("register_dt"),
        F.col(_ORDER_DT).try_cast("timestamp").alias("order_dt"),
    )


def order_status_events(
    raw: DataFrame, date_type: str, date_col: str, fmt: str
) -> DataFrame:
    """Status-change events for one download view (models.sql:277-295):
    the date_type decides the status code; ``date_col`` holds the
    change date parsed with ``fmt`` (to_timestamp pattern), both
    non-null guarded."""
    code = DATE_TYPE_STATUS.get(date_type)
    order_dt = F.col(_ORDER_DT).try_cast("timestamp")
    update_date = F.try_to_timestamp(F.col(date_col), F.lit(fmt)).cast("date")
    return raw.filter(order_dt.isNotNull() & update_date.isNotNull()).select(
        F.col(_SEQ).cast("long").alias("order_seq"),
        F.lit(code).cast("int").alias("order_status"),
        order_dt.alias("order_dt"),
        update_date.alias("update_date"),
    )


def parse_product_mapping(rows: DataFrame) -> DataFrame:
    """Shop-product to product mapping (models.sql:314-327)."""
    return rows.select(
        F.col("shmaPrdNo").alias("product_id_shop"),
        F.col("prdNo").alias("product_id"),
        F.col("acntRegsSrno").cast("int").alias("account_no"),
        F.col("shmaId").alias("shop_id"),
        F.col("prdNm").alias("product_name"),
        F.col("sepr").cast("int").alias("sales_price"),
        F.coalesce(F.col("mpngCnt"), F.lit(0)).cast("int").alias("mapping_count"),
    )


def parse_sku_mapping(rows: DataFrame, shop_id: str) -> DataFrame:
    """Per-shop SKU mapping with the synthesized option id
    CONCAT(prdNo, '-', COALESCE(skuNo, '0001')) (models.sql:344-355)."""
    return rows.select(
        F.col("shmaPrdNo").alias("product_id_shop"),
        F.concat(
            F.col("prdNo"), F.lit("-"), F.coalesce(F.col("skuNo"), F.lit("0001"))
        ).alias("option_id"),
        F.lit(shop_id).alias("shop_id"),
        F.col("prdNm").alias("product_name"),
        F.col("optDtlNm").alias("option_name"),
        F.col("rn").cast("int").alias("sku_seq"),
        F.col("skuDscr").alias("sku_name"),
        F.col("fstRegsDt").try_cast("timestamp").alias("register_dt"),
    )
