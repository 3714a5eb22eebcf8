"""Unit tests for the coupang dataset module (models/coupang).

Oracle parity for the ad-report rollup and settlement parse runs in
tools/check_oracle.py; these pin the remaining semantics: enum
encodings, the ISO SUBSTR timestamp parse, NULLIF(0) scrub, and the
NewCustomerAdReport MIN/AVG rollup.
"""

from __future__ import annotations

import datetime as dt

from linkmerce_spark.models.coupang import (
    new_customer_ad_report,
    parse_campaigns,
    settlement_shipping,
)
from linkmerce_spark.plans import plan_shape


def test_campaign_parse_enums_and_iso_timestamp(spark):
    rows = spark.createDataFrame(
        [
            ("1", "c1", "PA", "3P", "SALES", True, False, "150",
             "2024-05-01T10:20:30.123Z", "bad"),
            ("2", "c2", "PA", "Retail", "REACH", False, True, None,
             None, "2024-06-02T01:02:03"),
            ("3", "c3", "PA", "??", "??", True, False, "0", None, None),
        ],
        "id string, name string, campaignType string, vendorType string, "
        "goalType string, isActive boolean, isDeleted boolean, "
        "roasTarget string, createdAt string, updatedAt string",
    )
    out = {r["campaign_id"]: r for r in parse_campaigns(rows, "v1").collect()}
    assert out[1]["vendor_type"] == 0 and out[1]["goal_type"] == 0
    # SUBSTR(x, 1, 19) drops the fractional-seconds/zone suffix
    assert out[1]["created_at"] == dt.datetime(2024, 5, 1, 10, 20, 30)
    assert out[1]["updated_at"] is None  # unparseable
    assert out[2]["vendor_type"] == 1 and out[2]["goal_type"] == 2
    assert out[2]["updated_at"] == dt.datetime(2024, 6, 2, 1, 2, 3)
    assert out[3]["vendor_type"] is None and out[3]["goal_type"] is None
    assert all(r["vendor_id"] == "v1" for r in out.values())


def test_new_customer_report_rollup(spark):
    rows = spark.createDataFrame(
        [
            # same PK cell twice -> SUM/AVG; option 0 -> NULLIF
            ("1", "9", "상품", "0", "검색 영역", "10", "1", "100", "2", "4.0", 20240501),
            ("1", "9", "상품", "77", "검색 영역", "30", "2", "200", "4", "8.0", 20240501),
            ("1", "8", "동영상", "x", "모름", "5", "1", "50", "1", "3.0", 20240501),
        ],
        "`캠페인 ID` string, `소재 ID` string, `소재` string, "
        "`광고집행 옵션 ID` string, `광고 노출 지면` string, `노출수` string, "
        "`클릭수` string, `집행 광고비` string, `참여수` string, "
        "`평균 재생 시간` string, `날짜` long",
    )
    out = new_customer_ad_report(rows, "v1").collect()
    assert len(out) == 2
    by_creative = {r["creative_id"]: r for r in out}
    r9 = by_creative[9]
    assert r9["impression_count"] == 40 and r9["ad_cost"] == 300
    assert r9["stay_time"] == 6.0  # AVG
    assert r9["option_id"] == 77  # MIN skips the NULLIF'd 0
    assert r9["ymd"] == dt.date(2024, 5, 1)
    r8 = by_creative[8]
    assert r8["creative_type"] == 1 and r8["option_id"] is None
    assert r8["placement_group"] == 2  # ELSE catch-all


def test_settlement_shipping_enums(spark):
    rows = spark.createDataFrame(
        [
            ("1", "11", "2", "3", "4", "배송비 정산취소", "월정산",
             "100", "20", "5", "2024-05-01", "2024-05-03", "2024-05-10"),
            ("2", "12", "2", "3", "4", "???", "???",
             "x", None, "0", "2024-05-01", "bad", "bad"),
        ],
        "`주문ID` string, `배송ID` string, `등록상품 ID` string, "
        "`옵션ID` string, `SKU ID` string, `거래유형` string, "
        "`정산유형` string, `발생비용(A)` string, `할인가(B)` string, "
        "`추가비용` string, `주문일` string, `매출인식일` string, "
        "`정산주기(종료일)` string",
    )
    out = {r["order_id"]: r for r in settlement_shipping(rows, "v1").collect()}
    assert out[1]["settlement_type"] == 5 and out[1]["period_type"] == 1
    assert out[1]["shipping_date"] == dt.date(2024, 5, 3)
    assert out[2]["settlement_type"] == 99 and out[2]["period_type"] == 99
    assert out[2]["warehousing_fee"] is None
    assert out[2]["shipping_date"] is None and out[2]["settlement_date"] is None


def test_rocket_sales_shipping_projection_matches_aggregate(spark):
    """The r11 projection form of rocket_sales_shipping must equal the
    reference GROUP BY form on every contract-legal input: unique
    (order_id, option_id) per feed, one-sided rows both ways, NULL
    sales_date, NULL measures."""
    from pyspark.sql import functions as F

    from linkmerce_spark.marts.total_order import rocket_sales_shipping

    sales = spark.createDataFrame(
        [
            (1, "A", "v1", 5, 2, 100, 80, dt.date(2024, 1, 1)),
            (2, "B", "v2", None, None, None, None, None),  # NULLs
            (3, "C", "v0", 2, 1, 50, 40, dt.date(2024, 1, 2)),  # sales-only
        ],
        "order_id long, option_id string, vendor_id string, "
        "order_status int, order_quantity long, sales_amount long, "
        "settlement_amount long, sales_date date",
    )
    shipping = spark.createDataFrame(
        [
            (1, "A", "v1", 30, dt.date(2024, 1, 1)),
            (2, "B", "v9", 10, dt.date(2024, 1, 5)),  # date fills the NULL
            (4, "D", "v3", None, dt.date(2024, 1, 3)),  # shipping-only
        ],
        "order_id long, option_id string, vendor_id string, "
        "delivery_fee long, sales_date date",
    )

    # Reference formulation: the aggregate over the full-outer merge.
    s, h = sales.alias("s"), shipping.alias("h")
    merged = s.join(
        h,
        (F.col("s.order_id") == F.col("h.order_id"))
        & (F.col("s.option_id") == F.col("h.option_id")),
        "full_outer",
    ).select(
        F.coalesce("s.order_id", "h.order_id").alias("order_id"),
        F.coalesce("s.option_id", "h.option_id").alias("option_id"),
        F.coalesce("s.vendor_id", "h.vendor_id").alias("vendor_id"),
        F.col("s.order_status").alias("order_status"),
        F.col("s.order_quantity").alias("order_quantity"),
        F.col("s.sales_amount").alias("sales_amount"),
        F.col("s.settlement_amount").alias("settlement_amount"),
        F.col("h.delivery_fee").alias("delivery_fee"),
        F.coalesce("s.sales_date", "h.sales_date").alias("sales_date"),
    )
    expected = merged.groupBy("sales_date", "order_id", "option_id").agg(
        F.min(F.col("vendor_id")).alias("vendor_id"),
        F.when(F.max("order_status").isNull(), F.lit(7))
        .otherwise(F.least(F.max("order_status"), F.lit(3)))
        .alias("order_status"),
        F.coalesce(F.sum("order_quantity"), F.lit(0)).alias("order_quantity"),
        F.coalesce(F.sum("sales_amount"), F.lit(0)).alias("sales_amount"),
        F.coalesce(F.sum("settlement_amount"), F.lit(0)).alias(
            "settlement_amount"
        ),
        F.coalesce(F.sum("delivery_fee"), F.lit(0)).alias("delivery_fee"),
    )

    got = rocket_sales_shipping(sales, shipping)
    assert got.columns == expected.columns
    assert [f.dataType for f in got.schema.fields] == [
        f.dataType for f in expected.schema.fields
    ]
    key = lambda r: (r["order_id"], r["option_id"])  # noqa: E731
    got_rows = sorted((r.asDict() for r in got.collect()), key=lambda d: key(d))
    exp_rows = sorted(
        (r.asDict() for r in expected.collect()), key=lambda d: key(d)
    )
    assert got_rows == exp_rows
    # and no aggregate survives in the physical plan
    ops = plan_shape(got).nodes
    assert not any("Aggregate" in op for op in ops), ops
