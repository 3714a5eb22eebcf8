"""frames.from_rows: the Arrow LocalRelation door for driver-held rows.

Each batch is bound twice: through ``from_rows`` and through the
pickled-RDD ``spark.createDataFrame(rows, schema)`` it replaces, kept
here only as the reference. Schema and collected rows must match.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import time
from decimal import Decimal
from pathlib import Path

import pytest

from linkmerce_spark import plans
from linkmerce_spark.frames import from_rows

REPO = Path(__file__).resolve().parent.parent


def _same(spark, rows, schema=None):
    new = from_rows(spark, rows, schema)
    old = spark.createDataFrame(rows) if schema is None else spark.createDataFrame(rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    return new


def test_non_string_scalars_in_string_fields_become_text(spark):
    rows = [(1001, True, 1.5, 1e20, False, Decimal("1E+3"), [1, 2], {"k": 1})]
    schema = ", ".join(f"c{i} string" for i in range(len(rows[0])))
    got = _same(spark, rows, schema).first()
    assert (got.c0, got.c1, got.c4) == ("1001", "true", "false")
    # inferred maps coerce the same way (the parse_orders batch)
    raw = [{"content": {"order": {"orderId": 1001, "st": "A", "amt": 2.5}}, "seq": 0}]
    df = _same(spark, raw)
    assert df.schema.simpleString() == "struct<content:map<string,map<string,string>>,seq:bigint>"
    assert df.first().content["order"] == {"orderId": "1001", "amt": "2.5", "st": "A"}


def test_nulls_and_missing_nests(spark):
    schema = "a bigint, s struct<x: int, y: string>, m map<string,int>, l array<string>"
    rows = [
        {"a": 1, "s": {"x": 1}, "m": {"k": None}, "l": [None, "v"]},
        {"a": None, "s": None, "m": None, "l": None},
        {"s": {"y": 7}},  # missing keys read as NULL; 7 -> '7'
    ]
    _same(spark, rows, schema)
    _same(spark, [{"a": 1, "b": None}, {"a": None, "b": "x"}])


def test_decimals(spark):
    rows = [(Decimal(v),) for v in ("1.005", "-1.005", "1.015", "1E+3", "0", "NaN")] + [(None,)]
    got = _same(spark, rows, "d decimal(10,2)")
    assert [r.d for r in got.collect()][:3] == [Decimal("1.01"), Decimal("-1.01"), Decimal("1.02")]
    _same(spark, [{"d": Decimal("1.10")}, {"d": Decimal("-3")}])  # inferred decimal(38,18)
    _same(spark, [([Decimal("1.234"), None], {"k": Decimal("5.5")})],
          "l array<decimal(5,2)>, m map<string,decimal(5,1)>")


def test_nested_maps_arrays_structs(spark):
    schema = (
        "m map<string,array<struct<a:int,b:string>>>, "
        "s struct<x:array<bigint>, y:map<string,double>, z:struct<w:boolean>>, "
        "aa array<array<int>>"
    )
    rows = [
        ({"k": [{"a": 1, "b": "p"}, None, (2, 3)]}, {"x": [1, None], "y": {"d": 0.5}, "z": {"w": True}}, [[1], [], None]),
        ({}, ([], {}, None), []),
        (None, None, None),
    ]
    _same(spark, rows, schema)
    _same(spark, [{"tags": ["a", "b"], "attrs": {"c": {"d": "e"}}}])
    # a list of names renames the inferred columns (the excel form)
    _same(spark, [(1, "x", 2.5), (2, None, None)], ["id", "name", "price"])


def test_empty_batch_plans_as_local_relation(spark):
    df = _same(spark, [], "a int, b string")
    nodes = plans.plan_shape(df, "analyzed").nodes
    assert nodes["LocalRelation"] == 1 and not nodes["LogicalRDD"]
    assert df.count() == 0


@pytest.fixture()
def seoul():
    before = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Seoul"
    time.tzset()
    try:
        yield
    finally:
        if before is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = before
        time.tzset()


def test_naive_datetimes_read_as_process_local_time(spark, seoul):
    utc = dt.timezone.utc
    rows = [
        (dt.datetime(2026, 1, 1, 12), dt.date(2026, 1, 1), [dt.datetime(2026, 6, 30, 23, 59, 59, 123456)]),
        (dt.datetime(2026, 1, 1, 12, tzinfo=utc), dt.date(1969, 12, 31), None),
        (None, None, [None]),
    ]
    schema = "ts timestamp, d date, tl array<timestamp>"
    new = _same(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    text = "cast(ts as string) AS ts, cast(d as string) AS d, cast(tl as string) AS tl"
    assert new.selectExpr(*text.split(", ")).collect() == old.selectExpr(*text.split(", ")).collect()
    # the session is UTC; noon in Seoul is 03:00 UTC
    assert new.selectExpr("cast(ts as string)").first()[0] == "2026-01-01 03:00:00"
    _same(spark, [{"at": dt.datetime(2026, 3, 1, 9, 30), "on": dt.date(2026, 3, 1)}])


def test_parse_orders_binds_a_local_relation(spark):
    from linkmerce_spark.models.orderpipe import RAW_SCHEMA, parse_orders

    raw = [{"content": {"order": {"orderId": 1, "orderStatus": "PAYED"}, "channel": {"channelSeq": 2}}}]
    nodes = plans.plan_shape(parse_orders(spark, raw), "analyzed").nodes
    assert nodes["LocalRelation"] == 1 and not nodes["LogicalRDD"]
    tagged = [{**item, "seq": i} for i, item in enumerate(raw)]
    assert spark.createDataFrame(tagged).schema.simpleString() == from_rows(
        spark, tagged, RAW_SCHEMA
    ).schema.simpleString()


def test_from_rows_is_the_only_create_dataframe_door():
    """Driver rows enter Spark through frames.from_rows alone: a direct
    createDataFrame elsewhere would bring back the pickled Python RDD
    that every evaluation re-reads in Python workers."""
    lib = REPO / "linkmerce_spark"
    allowed = {"frames.py"}
    hits = [
        f"{path.relative_to(REPO)}:{n}"
        for path in sorted(lib.rglob("*.py"))
        if path.relative_to(lib).as_posix() not in allowed
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if re.search(r"createDataFrame\(", line)
    ]
    assert not hits, hits


def test_long_meets_double_as_double(spark):
    """Inference widens long and double to double, as DuckDB unifies
    INTEGER and DOUBLE, and bool and long to long, as DuckDB types
    ``VALUES (true), (1)`` INTEGER with ``true`` as 1; PySpark alone
    raises CANNOT_MERGE_TYPE, and in a map nest its answer hung on key
    order."""
    df = from_rows(spark, [{"a": 1}, {"a": None}, {"a": 2.5}])
    assert df.schema.simpleString() == "struct<a:double>"
    assert [r.a for r in df.collect()] == [1.0, None, 2.5]
    df = from_rows(spark, [{"a": True}, {"a": 1}])
    assert df.schema.simpleString() == "struct<a:bigint>"
    assert [r.a for r in df.collect()] == [1, 1]
    df = from_rows(spark, [{"m": {"x": 1, "y": False}, "l": [True, 2]}])
    assert df.schema.simpleString() == "struct<l:array<bigint>,m:map<string,bigint>>"
    assert df.first().asDict() == {"m": {"x": 1, "y": 0}, "l": [1, 2]}
    df = from_rows(spark, [{"m": {"x": 1, "y": 2.5}, "l": [1, 2.5]}])
    assert df.schema.simpleString() == "struct<l:array<double>,m:map<string,double>>"
    assert df.first().asDict() == {"m": {"x": 1.0, "y": 2.5}, "l": [1.0, 2.5]}
    for order in ({"orderId": 1001, "amt": 2.5, "st": "A"}, {"orderId": 1001, "st": "A", "amt": 2.5}):
        df = from_rows(spark, [{"content": {"order": order}}])
        assert df.schema.simpleString() == "struct<content:map<string,map<string,string>>>"
        assert df.first().content["order"] == {"orderId": "1001", "amt": "2.5", "st": "A"}
    # batches PySpark infers keep its schema
    _same(spark, [{"a": 1, "b": 1.5, "c": "x"}, {"a": 2, "b": 2.0, "c": 3}])
