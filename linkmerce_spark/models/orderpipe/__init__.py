"""orderpipe — an end-to-end per-dataset module in the reference's shape.

Mirrors the reference's per-dataset convention (README.md:100-116:
``core/{platform}/{host}/{category}`` with extract/transform/models)
and its §3.1 query lifecycle for the SmartStore order dataset:

    raw JSON batches -> nested-path projection -> enum encode /
    try-cast / strptime -> PK-dedup insert-ignore -> rule-based upsert
    -> UNPIVOT of status timestamps into an event log

Parity sites (semantics, not code):
- parse config shape: core/smartstore/api/order/transform.py:24-45
- projection + CASE enum + TRY_CAST + TRY_STRPTIME:
  core/smartstore/api/order/models.sql:68-136
- ON CONFLICT DO NOTHING insert: models.sql:82,136
- ON CONFLICT DO UPDATE with COALESCE/LEAST/GREATEST rules:
  models.sql:189-200
- status-timestamp UNPIVOT to event rows: models.sql:263-325
- positional ``seq`` metadata: common/transform.py:229-234

Everything is a DataFrame pipeline: the parse layer is ``select()``
over nested structs (no Python per-row code), dedup/upsert are the
engine operators, and at scale each stage is a narrow map or a single
keyed shuffle.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkmerce_spark.frames import from_rows, select_paths
from linkmerce_spark.functions.scalar import enum_code, safe_int, try_strptime
from linkmerce_spark.operators.dedup import insert_ignore
from linkmerce_spark.operators.merge import merge_frames
from linkmerce_spark.operators.unpivot import unpivot

__all__ = [
    "ORDER_STATUS_CODES",
    "PARSE_SCHEMA",
    "RAW_SCHEMA",
    "parse_orders",
    "append_orders",
    "upsert_orders",
    "status_events",
]

# models.sql:91-117 encodes status strings to TINYINT codes.
ORDER_STATUS_CODES: Mapping[str, int] = {
    "PAYMENT_WAITING": 0,
    "PAYED": 1,
    "DELIVERING": 2,
    "DELIVERED": 3,
    "PURCHASE_DECIDED": 4,
    "CANCELED": 9,
}

# The field-selection config (§1.3): output name -> dotted path.
PARSE_SCHEMA: Mapping[str, str] = {
    "order_id": "content.order.orderId",
    "channel_seq": "content.channel.channelSeq",
    "status": "content.order.orderStatus",
    "amount_raw": "content.order.totalPaymentAmount",
    "ordered_at_raw": "content.order.orderDate",
    "payed_at_raw": "content.order.payedDate",
    "delivered_at_raw": "content.delivery.deliveredDate",
}

# The raw batch as bound: each response object's two-level nest of
# JSON scalars, read as text, plus its batch position.
RAW_SCHEMA = "content map<string,map<string,string>>, seq bigint"

PK: Sequence[str] = ("order_id", "channel_seq")
_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def parse_orders(spark: SparkSession, raw: list[dict[str, Any]]) -> DataFrame:
    """Raw response objects -> typed order rows.

    ``seq`` is the batch position (assigned driver-side before
    ``from_rows``): insertion order is PK-dedup tiebreak, and Spark
    partition order can never be trusted for that (SURVEY §7.4).
    """
    tagged = [{**item, "seq": i} for i, item in enumerate(raw)]
    rows = from_rows(spark, tagged, RAW_SCHEMA)  # nested dicts -> maps
    flat = select_paths(rows, dict(PARSE_SCHEMA) | {"seq": "seq"})
    return flat.select(
        F.col("order_id").cast("long").alias("order_id"),
        F.col("channel_seq").cast("int").alias("channel_seq"),
        enum_code("status", ORDER_STATUS_CODES, default=-1).alias("status_code"),
        safe_int("amount_raw").alias("amount"),  # comma-stripped TRY_CAST
        try_strptime("ordered_at_raw", _TS_FMT).alias("ordered_at"),
        try_strptime("payed_at_raw", _TS_FMT).alias("payed_at"),
        try_strptime("delivered_at_raw", _TS_FMT).alias("delivered_at"),
        F.col("seq").cast("int").alias("seq"),
    )


def append_orders(target: DataFrame, batch: DataFrame) -> DataFrame:
    """ON CONFLICT DO NOTHING append: keep-first by seq within the
    batch, existing PKs win over the batch (models.sql:82,136)."""
    return insert_ignore(target, batch, list(PK), order_by=[F.col("seq").asc()])


def upsert_orders(target: DataFrame, batch: DataFrame) -> DataFrame:
    """ON CONFLICT DO UPDATE with the reference's per-column rules
    (models.sql:189-200): statuses/amounts take the newest non-null,
    first-seen timestamps keep LEAST, last-seen keep GREATEST."""
    return merge_frames(
        target,
        batch,
        list(PK),
        matched={
            "status_code": "source_first",
            "amount": "source_first",
            "ordered_at": "least",
            "payed_at": "least",
            "delivered_at": "greatest",
            "seq": "target_first",
        },
        not_matched="insert_all",
        source_order=[F.col("seq").asc()],
    )


def status_events(orders: DataFrame) -> DataFrame:
    """UNPIVOT status timestamps into an event log (models.sql:263-325):
    one row per non-null (order, status) timestamp, coded like the
    status enum."""
    ev = unpivot(
        orders,
        id_cols=list(PK),
        value_cols={"payed_at": "1", "delivered_at": "3"},
        var_name="status_code",
        value_name="event_time",
        drop_nulls=True,
    )
    return ev.select(
        "order_id",
        "channel_seq",
        F.col("status_code").cast("int").alias("status_code"),
        "event_time",
    )
