"""Format-dispatch reader round-trips (SURVEY S2-S4 + ORC, round 5)."""

from __future__ import annotations

import pytest

from linkmerce_spark.sources.readers import read_table
from linkmerce_spark.plans import plan_shape

ROWS = [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}, {"id": 3, "name": None}]
SCHEMA = "id long, name string"


def _df(spark):
    return read_table(spark, ROWS, schema=SCHEMA)


@pytest.mark.parametrize("fmt", ["csv", "json", "parquet", "orc"])
def test_round_trip_formats(spark, tmp_path, fmt):
    path = str(tmp_path / f"t.{fmt}")
    df = _df(spark)
    writer = df.coalesce(1).write.mode("overwrite")
    if fmt == "csv":
        writer.options(header=True).csv(path)
    else:
        getattr(writer, fmt)(path)
    back = read_table(spark, path, format=fmt, schema=SCHEMA)
    got = sorted((r["id"], r["name"]) for r in back.collect())
    assert got == [(1, "a"), (2, "b"), (3, None)]


def test_rows_values_scan(spark):
    assert _df(spark).count() == 3


def test_suffix_inference_and_unknown(spark, tmp_path):
    path = str(tmp_path / "x.orc")
    _df(spark).write.mode("overwrite").orc(path)
    assert read_table(spark, path, schema=SCHEMA).count() == 3  # suffix -> orc
    with pytest.raises(ValueError, match="unsupported"):
        read_table(spark, "file.xyz")


def test_orc_filter_pushdown(spark, tmp_path):
    """Same pushdown contract as parquet: the predicate reaches the scan."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "p.orc")
    spark.range(1000).withColumn("v", F.col("id") * 2).write.mode("overwrite").orc(path)
    df = read_table(spark, path).filter(F.col("id") == 7).select("v")
    (scan,) = plan_shape(df).scans
    assert "id" in scan.pushed_filters, scan
    assert df.collect()[0]["v"] == 14
