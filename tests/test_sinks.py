"""Sink-mode tests: append / overwrite-where / merge on local parquet.

Mirrors the reference's LoaderHarness matrix (src/tests/conftest.py:
449-596: mode_append / mode_overwrite / mode_merge markers) on the
Spark-native sinks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linkmerce_spark.sources.writers import (
    validate_partitions,
    write_append,
    write_merge,
    write_overwrite_where,
)


def _read(spark, path):
    return spark.read.parquet(path)


def test_append_with_insert_ignore(spark, tmp_path):
    path = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    write_append(df1, path, keys=["k"])
    df2 = spark.createDataFrame([(2, "clobber"), (3, "c"), (3, "c2")], "k int, v string")
    write_append(df2, path, keys=["k"], order_by=[F.col("v")])
    got = {r["k"]: r["v"] for r in _read(spark, path).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # 2 ignored, 3 deduped keep-first


def test_overwrite_where_replaces_only_incoming_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2)], "ymd string, v int"
    )
    base.write.partitionBy("ymd").parquet(path)
    incoming = spark.createDataFrame([("2024-01-02", 99)], "ymd string, v int")
    write_overwrite_where(incoming, path, ["ymd"])
    # partition-column type inference reads ymd back as date
    got = {str(r["ymd"]): r["v"] for r in _read(spark, path).collect()}
    assert got == {"2024-01-01": 1, "2024-01-02": 99}


def test_overwrite_where_validates_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    bad = spark.createDataFrame([(None, 1)], "ymd string, v int")
    with pytest.raises(ValueError, match="NULL partition key"):
        write_overwrite_where(bad, path, ["ymd"])
    off_range = spark.createDataFrame([("2024-02-01", 1)], "ymd string, v int")
    with pytest.raises(ValueError, match="outside allowed"):
        validate_partitions(off_range, "ymd", allowed=["2024-01-01"])


def test_write_merge_upsert(spark, tmp_path):
    path = str(tmp_path / "t")
    t0 = spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], "k int, m int, v string")
    write_merge(t0, path, keys=["k"])  # first write = append
    src = spark.createDataFrame([(2, None, "b2"), (3, 30, "c")], "k int, m int, v string")
    write_merge(src, path, keys=["k"], matched={"m": "source_first", "v": "replace"})
    got = {r["k"]: (r["m"], r["v"]) for r in _read(spark, path).collect()}
    assert got == {1: (10, "a"), 2: (20, "b2"), 3: (30, "c")}


@pytest.mark.parametrize("partition_by", [(), ("p",)])
def test_write_merge_first_write_do_nothing_inserts_nothing(spark, tmp_path, partition_by):
    """not_matched='do_nothing' inserts no new key, also when the target
    does not exist yet: the first write creates it empty, and later
    merges read it back."""
    path = str(tmp_path / "t")
    src = spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], "k int, v string, p string")
    write_merge(src, path, keys=["k"], not_matched="do_nothing", partition_by=partition_by)
    got = _read(spark, path)
    assert got.count() == 0 and sorted(got.columns) == ["k", "p", "v"]
    write_merge(src, path, keys=["k"], partition_by=partition_by)
    assert sorted(tuple(r) for r in _read(spark, path).select("k", "v", "p").collect()) == [
        (1, "a", "x"), (2, "b", "y")
    ]


@pytest.mark.parametrize(
    "strategy", [{"not_matched": "bogus"}, {"matched": "bogus"}, {"matched": {"v": "sum"}}]
)
def test_write_merge_rejects_unknown_strategy_before_first_write(spark, tmp_path, strategy):
    """An unknown strategy raises before the first write, which would
    otherwise append the batch to a target that does not exist yet."""
    path = tmp_path / "t"
    src = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(ValueError, match="unknown"):
        write_merge(src, str(path), keys=["k"], **strategy)
    assert not path.exists()


def test_write_merge_propagates_non_missing_read_errors(spark, tmp_path):
    """A corrupt/unreadable target must raise, not silently append.

    Only AnalysisException (path not found) may downgrade a merge to a
    first-write append; any other read failure propagates so a transient
    IO error can't drop matched-update semantics.
    """
    path = tmp_path / "t"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not a parquet file at all")
    src = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(Exception) as ei:
        write_merge(src, str(path), keys=["k"])
    from pyspark.errors import AnalysisException

    assert not isinstance(ei.value, AnalysisException)


def test_compact_merges_small_files(spark, tmp_path):
    from linkmerce_spark.sources.writers import compact

    path = str(tmp_path / "slivers")
    # simulate incremental appends: 20 tiny files
    for i in range(10):
        spark.range(i * 100, (i + 1) * 100).selectExpr(
            "id", "id % 7 AS k"
        ).coalesce(2).write.mode("append").parquet(path)
    import os

    before = sum(1 for r, d, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    assert before >= 20
    after = compact(spark, path, target_mb=256, sort_within_by=["k"])
    assert after < before and after >= 1
    df = spark.read.parquet(path)
    assert df.count() == 1000
    assert df.agg({"id": "sum"}).first()[0] == sum(range(1000))


def test_write_in_date_batches(spark, tmp_path):
    import datetime as dt

    from linkmerce_spark.sources.writers import write_in_date_batches

    path = str(tmp_path / "daily")
    rows = [
        (i, dt.date(2026, 1, 1) + dt.timedelta(days=i % 10), i * 10)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, ymd date, amount long")
    batches = write_in_date_batches(df, path, "ymd", batch_days=4)
    assert batches == [
        ("2026-01-01", "2026-01-04"),
        ("2026-01-05", "2026-01-08"),
        ("2026-01-09", "2026-01-10"),
    ]
    back = spark.read.parquet(path)
    assert back.count() == 200
    # re-running a corrected subset only replaces its own partitions
    fix = df.filter("ymd = DATE'2026-01-03'").withColumn(
        "amount", df.amount * 0 - 1
    )
    write_in_date_batches(fix, path, "ymd", batch_days=4)
    back2 = spark.read.parquet(path)
    assert back2.count() == 200
    assert back2.filter("ymd = DATE'2026-01-03'").agg({"amount": "max"}).first()[0] == -1
    assert back2.filter("ymd = DATE'2026-01-04'").agg({"amount": "min"}).first()[0] >= 0
