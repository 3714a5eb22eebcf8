"""SmartStore mart: tier LEAD bounds, cost-weight splits, ABS-max fee."""

from __future__ import annotations

from pyspark.sql import functions as F

from linkmerce_spark.marts.smartstore import (
    _first_token,
    _gift_status,
    _sku_mult,
    delivery_tiers,
    max_delivery_fee,
    sku_quantity,
    split_by_cost_weight,
)

_TIER_SCHEMA = (
    "delivery_group string, min_unit int, delivery_fee int, coolant_cost int, "
    "label_cost int, wrap_cost int, box_cost int, n_arrival_fee int, n_arrival_add int"
)


def test_delivery_tiers_lead_bounds(spark):
    raw = spark.createDataFrame(
        [
            ("g", 1, 100, None, None, None, None, 0, 0),
            ("g", 5, 80, 10, 20, None, None, 0, 0),
            ("g", 10, 60, None, None, None, 5, 0, 0),
            ("h", 3, 50, None, None, None, None, 0, 0),
        ],
        _TIER_SCHEMA,
    )
    tiers = {(r["delivery_group"], r["min_unit"]): r for r in delivery_tiers(raw).collect()}
    assert tiers[("g", 1)]["max_unit"] == 5 and tiers[("g", 5)]["max_unit"] == 10
    assert tiers[("g", 10)]["max_unit"] == 9999  # open top tier
    assert tiers[("h", 3)]["max_unit"] == 9999  # single tier is open
    assert tiers[("g", 5)]["extra_cost"] == 30 and tiers[("g", 1)]["extra_cost"] == 0


def test_sku_quantity_regex_guard(spark):
    df = spark.createDataFrame(
        [("p1:3", 2), ("p2", 2), ("p3:x9", 2), ("p4:07", 1)],
        "bundle_product string, order_quantity int",
    )
    got = [r[0] for r in df.select(sku_quantity("bundle_product", "order_quantity")).collect()]
    assert got == [6, 2, 2, 7]


def test_bundle_format_helpers(spark):
    # bundle, status -> first ':' token, first '-' token, ':N' multiplier,
    # gift status (promoted to 6), gift status over LEAST(status, 3)
    table = [
        ("p1:3", 0, "p1", "p1:3", 3, 0, 0),
        ("p1-0002:2", 0, "p1-0002", "p1", 2, 0, 0),
        ("p3:x9", 1, "p3", "p3:x9", 1, 1, 1),
        ("p2", 5, "p2", "p2", 1, 5, 3),
        ("9001:2", 0, "9001", "9001:2", 2, 6, 6),
        ("9001", 2, "9001", "9001", 1, 2, 2),
    ]
    df = spark.createDataFrame(
        [row[:2] for row in table], "bundle string, order_status int"
    )
    got = df.select(
        "bundle",
        "order_status",
        _first_token("bundle", ":"),
        _first_token(F.col("bundle"), "-"),
        _sku_mult("bundle"),
        _gift_status("bundle", 6),
        _gift_status("bundle", 6, F.least("order_status", F.lit(3))),
    ).collect()
    assert sorted(tuple(r) for r in got) == sorted(table)


def test_split_preserves_totals_with_remainder_on_first(spark):
    df = spark.createDataFrame(
        [
            ("o1", "a", 100, 1),  # weights 1/6, 2/6, 3/6 over 100
            ("o1", "b", 100, 2),
            ("o1", "c", 100, 3),
            ("o2", "z", 77, 0),  # singleton bypass, zero cost
        ],
        "product_order_id string, product_id string, payment_amount long, cost_amount long",
    )
    out = split_by_cost_weight(df, ["product_order_id"], ["payment_amount"])
    rows = {(r["product_order_id"], r["product_id"]): r["payment_amount"] for r in out.collect()}
    # splits: floor(100/6+.5)=17, floor(200/6+.5)=33, 50; remainder 0 -> first
    assert rows[("o1", "a")] + rows[("o1", "b")] + rows[("o1", "c")] == 100
    assert rows[("o1", "b")] == 33 and rows[("o1", "c")] == 50
    assert rows[("o2", "z")] == 77


def test_max_delivery_fee_abs_winner(spark):
    po = spark.createDataFrame(
        [
            # group gA matches a tier (qty 3 in [1, 9999]) -> fee 100+5
            (1, "i0", "gA", 1, 0, 0, 3),
            # group missing from tiers -> keeps own fee -400 (|.|=400 wins)
            (1, "i0", "gX", 1, -400, 0, 1),
        ],
        "order_id long, invoice_no string, delivery_group string, delivery_type int, "
        "delivery_fee long, box_cost long, delivery_quantity long",
    )
    tiers = delivery_tiers(
        spark.createDataFrame([("gA", 1, 100, 5, None, None, None, 0, 0)], _TIER_SCHEMA)
    )
    (row,) = max_delivery_fee(po, tiers).collect()
    assert row["delivery_group"] == "gX" and row["delivery_fee"] == -400
