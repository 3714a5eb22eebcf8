"""values_df: JVM-side literal dims — correctness + memoization.

The catalog builds the same constant dimension frames hundreds of times
per run; values_df memoizes them per (session, schema, rows) the same
way load_star memoizes base-table reads. These tests pin the cache
identity rules and the LocalRelation planning contract (no RDD-backed
empty frames scheduling defaultParallelism tasks).
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from linkmerce_spark.frames import values_df
from linkmerce_spark.plans import plan_shape


def test_values_roundtrip_types(spark):
    df = values_df(
        spark,
        [(1, "a", True, None, datetime.date(2024, 1, 2)),
         (2, None, False, 2.5, None)],
        "id int, name string, flag boolean, score double, d date",
    )
    rows = [tuple(r) for r in df.orderBy("id").collect()]
    assert rows == [
        (1, "a", True, None, datetime.date(2024, 1, 2)),
        (2, None, False, 2.5, None),
    ]
    assert df.schema.simpleString() == (
        "struct<id:int,name:string,flag:boolean,score:double,d:date>"
    )


def test_values_memoized_identity(spark):
    a = values_df(spark, [(1, "x")], "id int, v string")
    b = values_df(spark, [(1, "x")], "id int, v string")
    assert a is b
    # different rows or schema -> different plan
    c = values_df(spark, [(2, "x")], "id int, v string")
    d = values_df(spark, [(1, "x")], "id bigint, v string")
    assert c is not a and d is not a


def test_values_empty_is_local_relation(spark):
    df = values_df(spark, [], "id int, v string")
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<id:int,v:string>"
    assert plan_shape(df, "optimizedPlan").nodes["LocalRelation"] >= 1


def test_values_quoting_and_escapes(spark):
    df = values_df(
        spark,
        [("it's", "a\\b"), ("плюс", "한글")],
        "a string, b string",
    )
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == sorted([("it's", "a\\b"), ("плюс", "한글")])


def test_values_joinable_as_broadcast_dim(spark):
    dim = values_df(spark, [(0, "zero"), (1, "one")], "k int, label string")
    fact = spark.range(4).select((F.col("id") % 2).cast("int").alias("k"))
    out = fact.join(F.broadcast(dim), "k").groupBy("label").count()
    assert {(r["label"], r["count"]) for r in out.collect()} == {
        ("zero", 2), ("one", 2)
    }


def test_values_memo_distinguishes_numeric_types(spark):
    """1 == 1.0 == True hash-equal in Python, but each renders as a
    distinct SQL literal ('1' / '1.0' / 'TRUE' -> '1'/'1.0'/'true' as
    string) — the memo key must carry the value's type so a float row
    never returns the cached int frame."""
    a = values_df(spark, [(1,)], "x string")
    b = values_df(spark, [(1.0,)], "x string")
    c = values_df(spark, [(True,)], "x string")
    assert [r["x"] for r in a.collect()] == ["1"]
    assert [r["x"] for r in b.collect()] == ["1.0"]
    assert [r["x"] for r in c.collect()] == ["true"]
    # And the same (schema, rows-with-types) still memoizes.
    assert values_df(spark, [(1,)], "x string") is a
    assert values_df(spark, [(1.0,)], "x string") is b
