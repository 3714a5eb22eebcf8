"""exact_group_quantiles: rank-selection quantiles — value semantics,
tie determinism, and the single-shuffle plan shape."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from linkmerce_spark.frames import values_df
from linkmerce_spark.operators.sketches import exact_group_quantiles
from linkmerce_spark.plans import plan_shape


def _expected(values, q):
    """Lower discrete quantile: element at 1-indexed rank ceil(q*n/100)."""
    s = sorted(values)
    return s[math.ceil(q * len(s) / 100) - 1]


def test_matches_rank_definition(spark):
    rows = [("a", v) for v in [5, 1, 9, 3, 7, 7, 2]] + [
        ("b", v) for v in [10, 20, 30, 40]
    ]
    df = values_df(spark, rows, "g string, v long")
    out = exact_group_quantiles(df, "g", "v", [25, 50, 100])
    got = {(r["g"], r["q"]): r["qv"] for r in out.collect()}
    for g, vals in (("a", [5, 1, 9, 3, 7, 7, 2]), ("b", [10, 20, 30, 40])):
        for q in (25, 50, 100):
            assert got[(g, q)] == _expected(vals, q), (g, q)


def test_tied_values_are_deterministic(spark):
    # every element equal: any tie-pick yields the same value, and the
    # result must not depend on input partitioning.
    base = spark.range(0, 1000).select(
        (F.col("id") % 3).cast("string").alias("g"), F.lit(42).alias("v")
    )
    for parts in (1, 7, 32):
        out = exact_group_quantiles(base.repartition(parts), "g", "v", [50, 99])
        assert {r["qv"] for r in out.collect()} == {42}


def test_partitioning_invariance(spark):
    base = spark.range(0, 5000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        ((F.col("id") * 7919) % 1000).alias("v"),
    )
    a = sorted(map(tuple, exact_group_quantiles(base.repartition(3), "g", "v", [25, 90]).collect()))
    b = sorted(map(tuple, exact_group_quantiles(base.repartition(17), "g", "v", [25, 90]).collect()))
    assert a == b


def test_single_shuffle_plan(spark):
    base = spark.range(0, 100).select(
        (F.col("id") % 2).cast("string").alias("g"), F.col("id").alias("v")
    )
    out = exact_group_quantiles(base, "g", "v", [50, 90])
    # the row_number and count windows share one (g) exchange; the
    # quantile list is a broadcast literal — no second data shuffle.
    shape = plan_shape(out)
    assert shape.keyed_shuffles == 1, shape.exchanges
