"""Bloom semi-join pre-filter: superset guarantee, FP-rate sanity,
fact-side plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from linkmerce_spark.operators.bloom import bloom_bitset, bloom_semi_filter
from linkmerce_spark.plans import plan_shape


class TestBloomSemiFilter:
    def test_no_false_negatives(self, spark):
        big = spark.range(0, 5000).select((F.col("id") % 1000).alias("k"), "id")
        keys = spark.range(0, 1000, 7).select(F.col("id").alias("k"))
        out = bloom_semi_filter(big, keys, "k", num_bits=1 << 14)
        kept = {r.k for r in out.select("k").distinct().collect()}
        wanted = {r.k for r in keys.collect()}
        assert wanted <= kept  # every true member survives

    def test_false_positive_rate_bounded(self, spark):
        big = spark.range(0, 20000).select(F.col("id").alias("k"))
        keys = spark.range(0, 20000, 40).select(F.col("id").alias("k"))  # 500 keys
        out = bloom_semi_filter(big, keys, "k", num_bits=1 << 16, num_hashes=3)
        kept = out.count()
        # 500 true + FPs; with m=65536, n=500, k=3 the FP rate is ~1e-5
        assert 500 <= kept <= 600, kept

    def test_transparent_through_exact_join(self, spark):
        big = spark.range(0, 3000).select((F.col("id") % 400).alias("k"), "id")
        keys = spark.range(0, 400, 3).select(F.col("id").alias("k"))
        pre = bloom_semi_filter(big, keys, "k", num_bits=1 << 12)
        via_bloom = pre.join(keys, "k").count()
        plain = big.join(keys, "k").count()
        assert via_bloom == plain

    def test_bitset_is_one_broadcastable_row(self, spark):
        keys = spark.range(0, 100).select(F.col("id").alias("k"))
        bits = bloom_bitset(keys, "k", num_bits=1 << 12)
        rows = bits.collect()
        assert len(rows) == 1
        assert len(rows[0]["__bloom"]) <= (1 << 12) // 64

    def test_bitset_is_the_probed_bitset(self, spark):
        """``bloom_bitset`` sets the bits ``bloom_semi_filter`` builds and
        probes: its word masks equal a Kirsch-Mitzenmacher build over
        each key's xxhash64, and the filter keeps exactly the candidates
        whose positions are all set in those masks."""
        num_bits, k = 1 << 12, 3
        keys = spark.range(0, 200).select((F.col("id") * 13).alias("k"))
        cands = spark.range(0, 3000).select(F.col("id").alias("k"))

        def hashes(df):
            h = F.xxhash64(F.col("k").cast("string"))
            return {r.k: r.h for r in df.select("k", h.alias("h")).collect()}

        def positions(h):
            u = h & (2**64 - 1)
            h1, h2 = u >> 32, (u & (2**32 - 1)) | 1
            return [(h1 + i * h2) % num_bits for i in range(k)]

        dense: dict[int, int] = {}
        for h in hashes(keys).values():
            for p in positions(h):
                dense[p // 64] = dense.get(p // 64, 0) | 1 << (p % 64)
        bits = bloom_bitset(keys, "k", num_bits=num_bits, num_hashes=k).first()["__bloom"]
        assert {w: m & (2**64 - 1) for w, m in bits.items()} == dense

        kept = bloom_semi_filter(cands, keys, "k", num_bits=num_bits, num_hashes=k)
        expect = {
            c
            for c, h in hashes(cands).items()
            if all(dense.get(p // 64, 0) >> (p % 64) & 1 for p in positions(h))
        }
        assert {r.k for r in kept.collect()} == expect

    def test_fact_side_not_shuffled(self, spark):
        big = spark.range(0, 1000).select(F.col("id").alias("k"))
        keys = spark.range(0, 100).select(F.col("id").alias("k"))
        out = bloom_semi_filter(big, keys, "k", num_bits=1 << 12)
        shape = plan_shape(out)
        # the only exchanges belong to the bitset build (tiny, key-side)
        # + its broadcast; the big side must go scan -> filter.
        assert shape.joins["bnlj"] + shape.joins["bhj"] >= 1
        for ex in shape.exchanges:
            if ex.kind == "hash":
                assert "__word" in ex.partitioning or "__pos" in ex.partitioning, ex
