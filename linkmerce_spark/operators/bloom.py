"""Bloom-filter semi-join pre-filter (runtime-filter pattern).

The 100 TB join problem: the fact side shuffles in full even when the
dim side's key set would discard most of it. Spark's own runtime
filters apply only when the optimizer chooses to inject them; this
operator makes the pattern explicit and portable:

1. Count the key side (one small job) and size the filter to it:
   ``num_bits = next_pow2(bits_per_key * n)``, capped at ``max_bits``
   (the broadcast budget — 2^20 bits = 128 KB by default).
2. Build the bitset via ``bit_or`` aggregation of word masks
   (map-side combinable), then materialize the DENSE word array
   through the driver — bounded by ``max_bits/8`` bytes, the exact
   pattern Spark's InjectRuntimeFilter uses (execute the build
   subquery, embed the result). This is a k-sized aggregate, not a
   data-plane collect.
3. Filter the big side against the broadcast array with ONE xxhash64
   per row: probe positions derive from the single 64-bit hash by
   Kirsch-Mitzenmacher double hashing (``h1 + i*h2``), each an O(1)
   ``element_at`` peek. No shuffle of the big side, no join of it.

False positives pass the filter (~0.1% at 32 bits/key, k=3); the
downstream exact join removes them, so the operator is semantically
TRANSPARENT — the catalog query's oracle is the plain join, which is
exactly the property that makes it safe to drop into any pipeline.

``bloom_bitset`` (the sparse word->mask map form) stays exported as
the mergeable representation: ``bit_or`` merges shard bitsets, and its
bits are the ones ``bloom_semi_filter`` builds and probes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

__all__ = ["bloom_bitset", "bloom_semi_filter"]


def _next_pow2(n: int) -> int:
    return 1 << max(1, (n - 1)).bit_length()


def _km_halves(key: Column | str) -> tuple[Column, Column]:
    """The two 32-bit halves of ONE xxhash64 of ``key``: h1 = upper 32
    bits, h2 = lower 32 bits forced odd."""
    c = F.col(key) if isinstance(key, str) else key
    h = _c(F.xxhash64(c.cast("string")))
    return (
        F.expr(f"shiftrightunsigned({h}, 32)"),
        F.expr(f"CAST({h} & 4294967295 AS BIGINT) | 1"),
    )


def _km_positions(h1: Column, h2: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """Kirsch-Mitzenmacher probe positions ``pmod(h1 + i*h2, m)``: k
    positions from one hash. Build and probe both derive their bits
    here."""
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits)) for i in range(num_hashes)]


def _word_bit(pos: Column) -> tuple[Column, Column]:
    """Bit ``pos`` as its 64-bit word index and the mask within it."""
    return (
        (pos / 64).cast("int"),
        F.call_function("shiftleft", F.lit(1).cast("bigint"), (pos % 64).cast("int")),
    )


def _word_masks(keys: DataFrame, key: str, num_bits: int, num_hashes: int) -> DataFrame:
    pos_cols = _km_positions(*_km_halves(key), num_bits, num_hashes)
    positions = keys.select(F.explode(F.array(*pos_cols)).alias("__pos"))
    word, mask = _word_bit(F.col("__pos"))
    return (
        positions.select(word.alias("__word"), mask.alias("__mask"))
        .groupBy("__word")
        .agg(F.bit_or("__mask").alias("__bits"))
    )


def bloom_bitset(
    keys: DataFrame,
    key: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """One-row DataFrame with ``__bloom``: a word-index -> 64-bit-mask
    map over the key set, set at the positions ``bloom_semi_filter``
    probes. ``bit_or`` partial-aggregates map-side, so the build is one
    small shuffle regardless of key volume, and two shard bitsets merge
    with another ``bit_or`` — the associative form the sketch family
    shares."""
    words = _word_masks(keys, key, num_bits, num_hashes)
    return words.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__word"), F.col("__bits")))
        ).alias("__bloom")
    )


def bloom_semi_filter(
    big: DataFrame,
    keys: DataFrame,
    big_key: str,
    keys_key: str | None = None,
    num_bits: int | None = None,
    num_hashes: int = 3,
    bits_per_key: int = 32,
    max_bits: int = 1 << 20,
) -> DataFrame:
    """Rows of ``big`` whose ``big_key`` probably appears in ``keys``.

    Guaranteed superset of the true semi-join (no false negatives);
    follow with the exact join. The big side is filtered in its scan
    stage — zero shuffles and zero join nodes on it; the per-row cost
    is ONE xxhash64 plus ``num_hashes`` O(1) array peeks.

    ``num_bits=None`` (default) sizes the filter to the counted key
    cardinality at ``bits_per_key``, capped at ``max_bits``; beyond the
    cap the false-positive rate degrades gracefully while the
    broadcast stays bounded (transparency is unaffected either way).
    """
    spark = big.sparkSession
    kk = keys_key or big_key
    if num_bits is None:
        n = keys.count()
        num_bits = min(max_bits, _next_pow2(max(2048, bits_per_key * n)))
    nwords = (num_bits + 63) // 64

    # Build + materialize the dense bitset (bounded <= num_bits/8 B).
    dense = [0] * nwords
    for r in _word_masks(keys, kk, num_bits, num_hashes).collect():
        dense[int(r["__word"])] = int(r["__bits"])
    # Evaluate the array literal ONCE in a 1-row frame and broadcast it.
    # Composed as ONE SQL parse: an inline F.lit(dense) would both pay
    # a py4j round-trip per element (~1 ms x nwords) and re-evaluate a
    # CreateArray of nwords literal nodes per fact row (measured 10x
    # slower than the broadcast-once form).
    arr = spark.sql(
        "SELECT array(" + ",".join(f"{v}L" for v in dense) + ") AS __bloom_arr"
    )

    # The build's positions over one xxhash64 per row, its halves
    # projected once so codegen shares them across the k probes.
    h1, h2 = _km_halves(big_key)
    out = big.crossJoin(broadcast(arr)).withColumn("__bfh1", h1).withColumn("__bfh2", h2)
    cond = F.lit(True)
    for pos in _km_positions(F.col("__bfh1"), F.col("__bfh2"), num_bits, num_hashes):
        word, mask = _word_bit(pos)
        cond = cond & (
            F.element_at(F.col("__bloom_arr"), word + 1).bitwiseAND(mask) != 0
        )
    return out.filter(cond).drop("__bloom_arr", "__bfh1", "__bfh2")


def _c(col: Column) -> str:
    """SQL text of a Column (for expr() composition)."""
    return col._jc.toString()
