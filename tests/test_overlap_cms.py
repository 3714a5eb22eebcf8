"""Unit semantics for interval_overlap_join and the count-min sketch."""

from __future__ import annotations

from pyspark.sql import functions as F

from linkmerce_spark.operators.rangejoin import interval_overlap_join
from linkmerce_spark.operators.sketches import cms_counters, cms_point_estimates
from linkmerce_spark.plans import plan_shape

SF_DIR = "/root/testdata/sf0.001"


class TestIntervalOverlapJoin:
    def _run(self, spark, left_rows, right_rows, width):
        l = spark.createDataFrame(left_rows, "k int, lid int, ls long, le long")
        r = spark.createDataFrame(right_rows, "k int, rid int, rs long, re long")
        out = interval_overlap_join(
            l, r, keys=["k"], l_start="ls", l_end="le",
            r_start="rs", r_end="re", bucket_width=width,
        )
        return sorted((x.lid, x.rid) for x in out.collect())

    def test_matches_bruteforce_all_widths(self, spark):
        import itertools

        left = [(1, i, s, s + d) for i, (s, d) in enumerate(
            [(0, 5), (10, 0), (13, 40), (100, 3), (-20, 25)]
        )]
        right = [(1, j, s, s + d) for j, (s, d) in enumerate(
            [(4, 2), (10, 0), (50, 10), (-5, 4), (200, 1)]
        )] + [(2, 99, 0, 1000)]  # different key: never matches
        expect = sorted(
            (li, rj)
            for (k1, li, ls, le), (k2, rj, rs, re) in itertools.product(left, right)
            if k1 == k2 and ls <= re and rs <= le
        )
        # bucket width must not change the result — only the plan cost
        for width in (1, 3, 16, 1000):
            assert self._run(spark, left, right, width) == expect, width

    def test_no_duplicate_pairs_across_cells(self, spark):
        # both intervals span many cells; the first-shared-cell guard
        # must emit the pair exactly once
        got = self._run(spark, [(1, 1, 0, 100)], [(1, 2, 50, 400)], 8)
        assert got == [(1, 2)]

    def test_no_nested_loop_in_plan(self, spark):
        l = spark.createDataFrame([(1, 1, 0, 10)], "k int, lid int, ls long, le long")
        r = spark.createDataFrame([(1, 2, 5, 15)], "k int, rid int, rs long, re long")
        out = interval_overlap_join(
            l, r, keys=["k"], l_start="ls", l_end="le", r_start="rs", r_end="re"
        )
        joins = plan_shape(out).joins
        assert joins["bnlj"] == joins["cartesian"] == 0, joins


class TestCountMinSketch:
    def test_estimate_upper_bounds_exact(self, spark):
        items = spark.range(0, 2000).select(
            (F.col("id") % 97).cast("long").alias("k")
        )
        counters = cms_counters(items, "k", depth=4, width=256)
        probes = items.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
        out = cms_point_estimates(counters, probes, "k", depth=4, width=256)
        rows = out.collect()
        assert len(rows) == 97
        assert all(r.cms_estimate >= r.exact for r in rows)
        # with 256 cols vs 97 keys, most estimates should be exact
        exact_hits = sum(1 for r in rows if r.cms_estimate == r.exact)
        assert exact_hits > 80

    def test_shard_merge_is_exact(self, spark):
        """SUM over per-shard counter tables == counters of the union
        (the mergeability contract that makes the sketch shardable)."""
        a = spark.range(0, 500).select((F.col("id") % 31).alias("k"))
        b = spark.range(500, 1200).select((F.col("id") % 31).alias("k"))
        whole = cms_counters(a.unionByName(b), "k", depth=3, width=64)
        merged = (
            cms_counters(a, "k", depth=3, width=64)
            .unionByName(cms_counters(b, "k", depth=3, width=64))
            .groupBy("row", "col")
            .agg(F.sum("total").alias("total"))
        )
        assert sorted(map(tuple, whole.collect())) == sorted(
            map(tuple, merged.collect())
        )


class TestHistogramQuantiles:
    def test_estimates_bracket_exact_percentiles(self, spark):
        from linkmerce_spark.operators.sketches import (
            histogram_bins,
            histogram_quantiles,
        )

        vals = spark.range(1, 10001).select((F.col("id") * 3).alias("v"))
        bins = histogram_bins(vals, "v", bin_width=100)
        out = histogram_quantiles(bins, [50, 90], bin_width=100).collect()
        exact = {50: 15000, 90: 27000}  # v = 3..30000 uniform
        for r in out:
            assert r.bin_lo <= exact[r.q] <= r.bin_hi + 100  # width-bounded

    def test_bins_merge_by_sum(self, spark):
        from linkmerce_spark.operators.sketches import histogram_bins

        a = spark.range(0, 4000).select(F.col("id").alias("v"))
        b = spark.range(4000, 9000).select(F.col("id").alias("v"))
        whole = histogram_bins(a.unionByName(b), "v", 256)
        merged = (
            histogram_bins(a, "v", 256)
            .unionByName(histogram_bins(b, "v", 256))
            .groupBy("bin")
            .agg(F.sum("n").alias("n"))
        )
        assert sorted(map(tuple, whole.collect())) == sorted(
            map(tuple, merged.collect())
        )


class TestKmvSketch:
    def test_estimates_exact_below_k_and_banded_above(self, spark):
        from linkmerce_spark.operators.sketches import kmv_estimates, kmv_sketch

        # group "small": 40 distinct (< k, exact); "big": 5000 (estimated)
        small = spark.range(40).select(F.lit("small").alias("g"), F.col("id").alias("k"))
        big = spark.range(5000).select(
            F.lit("big").alias("g"), (F.col("id") + 1_000_000).alias("k")
        )
        sk = kmv_sketch(small.unionByName(big), "g", "k", k=128)
        est = {r.g: (r.sketch_size, r.distinct_est) for r in kmv_estimates(sk, k=128).collect()}
        assert est["small"] == (40, 40.0)
        size, e = est["big"]
        assert size == 128 and 3500 < e < 6500  # ~1/sqrt(k) relative error band

    def test_shard_merge_is_rerank_keep_k(self, spark):
        from pyspark.sql import Window

        from linkmerce_spark.operators.sketches import kmv_sketch

        a = spark.range(0, 3000).select(F.lit("g1").alias("g"), F.col("id").alias("k"))
        b = spark.range(1500, 6000).select(F.lit("g1").alias("g"), F.col("id").alias("k"))
        whole = kmv_sketch(a.unionByName(b), "g", "k", k=64)
        merged = (
            kmv_sketch(a, "g", "k", k=64)
            .unionByName(kmv_sketch(b, "g", "k", k=64))
            .distinct()
            .withColumn("__r", F.row_number().over(Window.partitionBy("g").orderBy("h")))
            .filter(F.col("__r") <= 64)
            .drop("__r")
        )
        assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))

    def test_pair_overlap_recovers_known_jaccard(self, spark):
        from linkmerce_spark.operators.sketches import kmv_pair_overlap, kmv_sketch

        # A = [0, 4000), B = [2000, 6000): |A∩B| = 2000, |A∪B| = 6000, J = 1/3
        a = spark.range(0, 4000).select(F.lit("A").alias("g"), F.col("id").alias("k"))
        b = spark.range(2000, 6000).select(F.lit("B").alias("g"), F.col("id").alias("k"))
        sk = kmv_sketch(a.unionByName(b), "g", "k", k=256)
        (row,) = kmv_pair_overlap(sk, k=256).collect()
        assert (row.ga, row.gb) == ("A", "B")
        assert 4500 < row.union_est < 7500
        assert 0.2 < row.jaccard_est < 0.47
        assert 1200 < row.intersection_est < 3000
