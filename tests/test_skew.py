"""Skew mitigation + bucketed co-located joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from linkmerce_spark.operators.skew import salted_group_count, salted_join


def _skewed(spark):
    # one hot key (k=0: 5000 rows) + a long tail
    hot = spark.range(5000).select(F.lit(0).alias("k"), F.col("id").alias("rid"))
    tail = spark.range(100).select((F.col("id") + 1).alias("k"), (F.col("id") + 10_000).alias("rid"))
    return hot.unionByName(tail)


def test_salted_join_equals_plain_join(spark):
    big = _skewed(spark)
    small = spark.createDataFrame([(0, "hot"), (1, "a"), (2, "b")], "k long, label string")
    plain = big.join(small, ["k"], "inner").orderBy("rid")
    salted = salted_join(big, small, ["k"], salt_by="rid", n_salts=8).orderBy("rid")
    assert salted.columns == plain.columns
    assert [tuple(r) for r in salted.collect()] == [tuple(r) for r in plain.collect()]


def test_salted_join_is_deterministic(spark):
    big = _skewed(spark)
    small = spark.createDataFrame([(0, "hot")], "k long, label string")
    a = salted_join(big, small, ["k"], "rid", 4).count()
    b = salted_join(big, small, ["k"], "rid", 4).count()
    assert a == b == 5000


def test_salted_group_count(spark):
    big = _skewed(spark)
    got = {r["k"]: r["n"] for r in salted_group_count(big, ["k"], "rid", 8).collect()}
    assert got[0] == 5000 and got[1] == 1 and len(got) == 101


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from linkmerce_spark.plans import plan_shape
    from linkmerce_spark.sources.writers import write_bucketed

    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed(a, "bkt_a", ["k"], n_buckets=8, sort_by=["k"])
    write_bucketed(b, "bkt_b", ["k"], n_buckets=8, sort_by=["k"])
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        # co-located layout: no Exchange on either join side
        shape = plan_shape(joined)
        assert shape.keyed_shuffles == 0, shape.exchanges
        assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_salted_join_rejects_small_side_preserving_hows(spark):
    import pytest

    big = _skewed(spark)
    small = spark.createDataFrame([(0, "hot")], "k long, label string")
    for how in ("right", "full_outer", "full", "right_outer"):
        with pytest.raises(ValueError):
            salted_join(big, small, ["k"], "rid", 4, how=how)


def test_salted_join_left_keeps_unmatched_big_rows(spark):
    big = _skewed(spark)
    small = spark.createDataFrame([(0, "hot")], "k long, label string")
    plain = big.join(small, ["k"], "left").orderBy("rid")
    salted = salted_join(big, small, ["k"], "rid", 4, how="left").orderBy("rid")
    assert [tuple(r) for r in salted.collect()] == [tuple(r) for r in plain.collect()]


def test_minhash_max_bucket_caps_hot_band(spark):
    """A boilerplate cluster (identical text) lands one band bucket with
    all n docs; max_bucket below n must drop the whole bucket, bounding
    candidate pairs at 0 instead of n^2/2."""
    from linkmerce_spark.operators.minhash import minhash_near_dups

    rows = [(i, "the same boilerplate legal disclaimer text repeated verbatim")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = minhash_near_dups(docs, "text", "doc_id", k=8, shingle_words=3,
                                 bands=2, rows_per_band=4)
    assert uncapped.count() == 40 * 39 // 2
    capped = minhash_near_dups(docs, "text", "doc_id", k=8, shingle_words=3,
                               bands=2, rows_per_band=4, max_bucket=10)
    assert capped.count() == 0
