"""The generated-class cache holds a whole mart refresh.

A refresh that re-runs the perfbench marts in a new session per pass, on
one JVM, must find the previous pass's generated classes in Spark's
codegen cache instead of compiling them again with Janino. At Spark's
default of 100 entries the second pass compiled about 330 classes,
because one pass generates more classes than the cache holds.
"""

from __future__ import annotations

from bench import full_eval
from conftest import SF_DIR
from linkmerce_spark.queries import QUERIES

# the marts of perfbench's marts_refresh workload
MARTS = ("core_sales_daily", "smartstore_sales_daily", "stock_report", "scd2_effective_revenue")


def _refresh(spark) -> None:
    for name in MARTS:
        full_eval(QUERIES[name](spark.newSession(), SF_DIR))


def test_second_refresh_compiles_almost_nothing(spark):
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    # an earlier test that warmed the cache can only lower the counts below
    _refresh(spark)
    before = compiles.getCount()
    _refresh(spark)
    second = compiles.getCount() - before
    assert second <= 80, f"the second refresh compiled {second} generated classes"
