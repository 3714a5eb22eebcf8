"""plans.plan_shape: what the plan-tree walk counts, and the rule that
plan reading goes through it."""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F

from linkmerce_spark.plans import plan_shape

REPO = Path(__file__).resolve().parent.parent


def _agg(spark):
    df = spark.range(100).select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    return df.groupBy("k").agg(F.sum("v").alias("s"))


def test_shared_subtree_counts_its_shuffle_once(spark):
    """The plan string prints both union branches' exchange; they are one
    canonical shuffle, which Spark runs once."""
    agg = _agg(spark)
    shape = plan_shape(agg.union(agg))
    assert shape.shuffles == {"hash": 1}, shape.exchanges
    assert shape.nodes["Exchange"] == 2 and shape.reused == 0


def test_final_plan_reports_reused_exchange(spark):
    agg = _agg(spark)
    df = agg.union(agg)
    df.collect()
    shape = plan_shape(df)
    assert shape.nodes["ShuffleQueryStage"] == 2  # the AQE final plan
    assert shape.shuffles == {"hash": 1} and shape.reused == 1, shape


def test_cached_relation_plan_is_not_counted(spark):
    cached = _agg(spark).cache()
    try:
        cached.count()
        shape = plan_shape(cached.filter("k > 1"))
        assert shape.exchanges == [] and shape.nodes["HashAggregate"] == 0, shape
        assert shape.cached == 1
    finally:
        cached.unpersist()


def test_plan_reading_goes_through_the_inspector():
    """Only linkmerce_spark/plans/ may open a QueryExecution or render
    explain text; everything else asks plans.plan_shape or
    plans.physical_plan."""
    probe = re.compile(r"queryExecution\(|explainString")
    this, plans = Path(__file__).resolve(), REPO / "linkmerce_spark" / "plans"
    hits = [
        f"{path.relative_to(REPO)}:{n}"
        for root in ("tests", "tools", "linkmerce_spark")
        for path in sorted((REPO / root).rglob("*.py"))
        if path != this and plans not in path.parents
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if probe.search(line)
    ]
    assert not hits, hits
