"""Mergeable frequency sketches on portable hashes (count-min).

Companion to the deterministic HyperLogLog in ``queries.py``: the same
engine-portable md5 hashing, the same design goal — every register /
counter is an explicit column expression, so shards built on different
machines (or different SQL engines) merge EXACTLY. Spark's built-in
``count_min_sketch`` function exists but its binary layout is
implementation-internal; this one is a plain (row, col, count) table —
``SUM`` over shards is the merge operator, and any engine re-derives
identical counters from the same data.

Scale shape: building the counters is one map-side-combinable groupBy
over d x n hashed rows (d small, 3-5); the counter table is d*width
rows regardless of input size. Point queries join the probe set against
the counters and take MIN over the d rows — probe sets are small by
construction, so the join broadcasts.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkmerce_spark.frames import from_rows
from linkmerce_spark.functions.scalar import md5_hash32

__all__ = [
    "cms_hash",
    "cms_counters",
    "cms_point_estimates",
    "histogram_bins",
    "histogram_quantiles",
    "exact_group_quantiles",
    "kmv_hash",
    "kmv_sketch",
    "kmv_estimates",
    "kmv_pair_overlap",
]

_KMV_SPACE = 4_294_967_296.0  # 2^32 — the kmv_hash value space


def cms_hash(key: Column | str, row: int, width: int) -> Column:
    """Column index of ``key`` in counter row ``row``: md5 over the
    row-salted key, first 8 hex chars mod width (same construction both
    engines evaluate identically; mirrors sampling.hash_bucket)."""
    c = F.col(key) if isinstance(key, str) else key
    h = md5_hash32(F.concat(F.lit(f"cms{row}|"), c.cast("string")))
    return F.pmod(h, F.lit(width)).cast("int")


def cms_counters(
    items: DataFrame,
    key: Column | str,
    depth: int = 4,
    width: int = 1024,
    weight: Column | None = None,
) -> DataFrame:
    """Build the (row, col, total) counter table.

    ``weight`` defaults to 1 per input row (frequency sketch); pass a
    column for weighted counts. Output has at most depth*width rows.
    """
    w = weight if weight is not None else F.lit(1)
    rows = [
        items.select(
            F.lit(r).alias("row"),
            cms_hash(key, r, width).alias("col"),
            w.cast("long").alias("__w"),
        )
        for r in range(depth)
    ]
    stacked = reduce(lambda a, b: a.unionByName(b), rows)
    return stacked.groupBy("row", "col").agg(F.sum("__w").alias("total"))


def cms_point_estimates(
    counters: DataFrame,
    probes: DataFrame,
    key: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """CMS point query for every probe row: min over the d counters.

    Returns ``probes`` + ``cms_estimate`` (an upper bound on the true
    count; over-estimation shrinks with width). The probe-side join is
    d rows per probe against the d*width counter table.
    """
    exploded = probes.select(
        F.col(key),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("row"), cms_hash(key, r, width).alias("col")
                )
                for r in range(depth)
            ])
        ).alias("__rc"),
    ).select(key, F.col("__rc.row").alias("row"), F.col("__rc.col").alias("col"))
    joined = exploded.join(counters, ["row", "col"], "left").na.fill(
        {"total": 0}
    )
    est = joined.groupBy(key).agg(F.min("total").alias("cms_estimate"))
    return probes.join(est, key, "left")


def histogram_bins(
    values: DataFrame, value: Column | str, bin_width: int
) -> DataFrame:
    """Equi-width histogram over integer values: (bin, n) rows.

    The third member of the mergeable-sketch family (HLL = distinct,
    CMS = frequency, this = distribution): bins merge across shards by
    plain SUM, counts are exact integers, and the groupBy partial-
    aggregates map-side. Bin ids are ``floor(v / bin_width)`` — exact
    integer division on both engines.
    """
    c = F.col(value) if isinstance(value, str) else value
    return (
        values.select(F.floor(c / F.lit(bin_width)).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_quantiles(
    bins: DataFrame, quantiles: list[int], bin_width: int
) -> DataFrame:
    """Quantile estimates from a histogram: for each q (percent), the
    first bin whose cumulative count reaches q% of the total.

    One window pass over the (small) bin table; the estimate error is
    bounded by bin_width by construction. Output: (q, bin_lo, bin_hi,
    cum_n) — all exact integers, so two engines agree bit-for-bit.
    Rank uses ceil(q * total / 100) in pure integer math.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col("bin").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "bin",
        "n",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    qdf = from_rows(cum.sparkSession, [(q,) for q in quantiles], "q int")
    # target rank = ceil(q * total / 100), integer-exact
    joined = qdf.crossJoin(cum).filter(
        F.col("cum_n") * 100 >= F.col("q") * F.col("total")
    )
    first = Window.partitionBy("q").orderBy(F.col("bin").asc())
    return (
        joined.withColumn("__rn", F.row_number().over(first))
        .filter(F.col("__rn") == 1)
        .select(
            "q",
            (F.col("bin") * bin_width).cast("long").alias("bin_lo"),
            ((F.col("bin") + 1) * bin_width - 1).cast("long").alias("bin_hi"),
            F.col("cum_n").cast("long").alias("cum_n"),
        )
    )


def exact_group_quantiles(
    df: DataFrame,
    keys: str | list[str],
    value: Column | str,
    quantiles: list[int],
) -> DataFrame:
    """EXACT per-group discrete quantiles by rank selection.

    For each group and q (percent, 1..100) the output value is the
    element at 1-indexed rank ``ceil(q * n / 100)`` of the group's
    ascending value order — the classic lower discrete quantile. The
    exact counterpart to ``histogram_quantiles`` (bounded-error) when
    a full per-group sort is affordable.

    Engine-portable by construction: the rank target is pure integer
    math (``(q*n + 99) div 100``) and row_number ties among equal
    values all carry the same value, so the selected VALUE is
    deterministic on any engine, thread count, or partitioning even
    though the tie-row identity is not.

    Scale shape: ONE shuffle — the row_number and count windows share
    the same (keys) partitioning, the group-size derivation reuses the
    window's count (no second aggregate scan), and the quantile list
    joins as a broadcast literal. No driver collect; output is
    |groups| x |quantiles| rows.
    """
    from pyspark.sql import Window

    from linkmerce_spark.frames import values_df

    key_list = [keys] if isinstance(keys, str) else list(keys)
    c = F.col(value) if isinstance(value, str) else value
    wg = Window.partitionBy(*key_list)
    base = df.select(*key_list, c.alias("__v")).select(
        *key_list,
        "__v",
        F.row_number().over(wg.orderBy(F.col("__v").asc())).alias("__rn"),
        F.count(F.lit(1)).over(wg).alias("__n"),
    )
    qdf = values_df(
        df.sparkSession, [(int(q),) for q in quantiles], "q int"
    )
    # broadcast cross + filter, NOT a non-equi join: a |q|-row literal
    # multiplies each row by len(quantiles) inside the same stage (no
    # exchange, no BroadcastNestedLoop planning surprise) and the
    # filter keeps one row per (group, q).
    return (
        base.crossJoin(F.broadcast(qdf))
        .filter(F.expr("__rn = (q * __n + 99) div 100"))
        .select(*key_list, "q", F.col("__v").alias("qv"))
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — the set-operation sketch
# ---------------------------------------------------------------------------
#
# HLL-style register sketches union cleanly but cannot estimate
# INTERSECTIONS. KMV (Bar-Yossef et al. 2002) can: keep the k smallest
# hash values of the distinct keys per group; the k-th smallest value
# estimates the distinct count ((k-1) * space / h_k), the union of two
# sketches re-ranked to k is the union's sketch, and the fraction of
# the union sketch present in both sides estimates Jaccard — giving
# |A ∩ B| ≈ J(A,B) · |A ∪ B| without ever touching the raw sets again.
#
# Exactness across engines: hashes are 32-bit md5 prefixes, so every
# estimator operand ((k-1)·2^32 ≤ ~5.5e11, h_k < 2^32, small counts)
# is exactly representable in float64 and each estimate is ONE
# correctly-rounded IEEE division — bit-identical in any engine.
# Hash collisions conflate the same two keys on every engine, so
# sketches stay engine-equal even when a collision occurs.
#
# Scale shape: one distinct shuffle + one per-group window over ≤
# (groups × distinct) rows; the sketch is ≤ k rows per group forever
# after. Merge across shards = union + re-rank + keep k (associative,
# pytest-pinned), which is what makes the sketch usable as a
# pre-aggregated 100 TB table statistic.


def kmv_hash(key: Column | str, salt: str = "kmv") -> Column:
    """32-bit md5 hash of the (salted) key — same portable idiom as
    ``cms_hash``/``sampling.hash_bucket``."""
    c = F.col(key) if isinstance(key, str) else key
    return md5_hash32(F.concat(F.lit(salt), c.cast("string")))


def kmv_sketch(
    df: DataFrame,
    group: Column | str,
    key: Column | str,
    k: int = 128,
    salt: str = "kmv",
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest hash values of the
    group's distinct keys, as rows ``(g, h)``. Groups with fewer than
    ``k`` distinct keys keep them all (the exact regime).

    The sketch is a set of HASHES, not keys: two distinct keys that
    collide to the same 32-bit hash contribute ONE sketch entry
    (``distinct`` on ``(g, h)`` below). This matches the streaming
    twin's set() state (``streaming/sketches.kmv_update``) and the
    estimator's model, so batch, stream, and oracle agree even when a
    collision lands inside the k minima."""
    from pyspark.sql import Window

    g = F.col(group) if isinstance(group, str) else group
    c = F.col(key) if isinstance(key, str) else key
    d = df.select(g.alias("g"), c.alias("__k")).distinct()
    h = d.withColumn("h", kmv_hash("__k", salt)).select("g", "h").distinct()
    w = Window.partitionBy("g").orderBy(F.col("h").asc())
    return (
        h.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("g", "h")
    )


def kmv_estimates(sketch: DataFrame, k: int = 128) -> DataFrame:
    """Distinct-count estimate per group: exact below ``k``, else
    ``(k-1) * 2^32 / h_k`` (h_k = the largest retained hash)."""
    agg = sketch.groupBy("g").agg(
        F.count(F.lit(1)).alias("__cnt"), F.max("h").alias("__hk")
    )
    est = F.when(F.col("__cnt") < k, F.col("__cnt").cast("double")).otherwise(
        F.lit((k - 1) * _KMV_SPACE) / F.col("__hk").cast("double")
    )
    return agg.select("g", F.col("__cnt").alias("sketch_size"), est.alias("distinct_est"))


def kmv_pair_overlap(sketch: DataFrame, k: int = 128) -> DataFrame:
    """Pairwise set-overlap estimates between every two groups of one
    sketch table: union distinct count, Jaccard, and intersection.

    For each pair the k smallest hashes of the UNION of both sketches
    form the union's own KMV sketch; the fraction of those present in
    BOTH sides estimates Jaccard. Costs are independent of the original
    data size: every data-bearing join is a hash join on k-sized
    sketch rows; the one nested-loop node is the |G|^2 pair enumeration
    over bare group labels, which is the operator's output domain by
    definition (cap the group set upstream if |G|^2 pairs is not what
    you want).
    """
    from pyspark.sql import Window

    groups = sketch.select("g").distinct()
    pairs = (
        groups.alias("a")
        .join(groups.alias("b"), F.col("a.g") < F.col("b.g"))
        .select(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
    )
    # every pair's union-hash pool (distinct h across both sides).
    # Two equi-joins + union, NOT one OR-condition join: the OR form
    # plans a BroadcastNestedLoopJoin, which is fine at 5 groups but
    # quadratic work at 10k groups; the equi-joins stay hash joins at
    # any group count.
    side_a = pairs.join(sketch, pairs["ga"] == sketch["g"]).select("ga", "gb", "h")
    side_b = pairs.join(sketch, pairs["gb"] == sketch["g"]).select("ga", "gb", "h")
    pool = side_a.unionByName(side_b).distinct()
    w = Window.partitionBy("ga", "gb").orderBy(F.col("h").asc())
    union_k = pool.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") <= k)
    in_a = sketch.select(F.col("g").alias("ga"), F.col("h").alias("h"))
    in_b = sketch.select(F.col("g").alias("gb"), F.col("h").alias("h"))
    flagged = (
        union_k.join(in_a.withColumn("__ina", F.lit(1)), ["ga", "h"], "left")
        .join(in_b.withColumn("__inb", F.lit(1)), ["gb", "h"], "left")
    )
    stats = flagged.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("__ucnt"),
        F.max("h").alias("__uhk"),
        F.sum(
            F.when(F.col("__ina").isNotNull() & F.col("__inb").isNotNull(), 1).otherwise(0)
        ).alias("__both"),
    )
    union_est = F.when(F.col("__ucnt") < k, F.col("__ucnt").cast("double")).otherwise(
        F.lit((k - 1) * _KMV_SPACE) / F.col("__uhk").cast("double")
    )
    jacc = F.col("__both").cast("double") / F.col("__ucnt").cast("double")
    return stats.select(
        "ga",
        "gb",
        union_est.alias("union_est"),
        jacc.alias("jaccard_est"),
        (jacc * union_est).alias("intersection_est"),
    )
