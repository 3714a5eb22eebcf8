"""Deterministic sampling / dataset splitting for training pipelines.

Random sampling is the wrong tool for corpus work at scale: it is not
reproducible across runs/engines, and re-running a pipeline must not
reshuffle which documents landed in the eval set. The standard answer
is HASH-BASED assignment — a pure function of a stable key:

- identical across runs, engines, partitionings, and cluster sizes;
- stable under appends (new rows get assigned, old rows never move);
- per-key, so correlated rows (same doc id) stay in one split.

``hash_bucket`` maps a key to [0, buckets); ``stable_sample`` keeps a
deterministic p-fraction; ``hash_split`` assigns named splits by
cumulative ranges (train/val/test). All md5-based and reproducible in
any SQL engine (same expressions as the DuckDB oracle).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from linkmerce_spark.functions.scalar import md5_hash32

__all__ = [
    "hash_bucket",
    "stable_sample",
    "hash_split",
    "stratified_topn",
    "priority_sample",
]

_BUCKETS = 10_000  # split-resolution: 0.01% granularity


def hash_bucket(key: Column | str, buckets: int = _BUCKETS, salt: str = "") -> Column:
    """Uniform bucket in [0, buckets) from md5 of the (salted) key.

    ``salt`` decorrelates independent sampling decisions over the same
    key (e.g. a 10% debug sample independent of the train/test split).
    """
    c = F.col(key) if isinstance(key, str) else key
    h = md5_hash32(F.concat(F.lit(salt), c.cast("string")))
    return F.pmod(h, F.lit(buckets)).cast("int")


def stable_sample(
    df: DataFrame, key: Column | str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by key hash."""
    return df.filter(hash_bucket(key, _BUCKETS, salt) < int(round(fraction * _BUCKETS)))


def hash_split(
    df: DataFrame,
    key: Column | str,
    splits: Mapping[str, float],
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Add ``out``: the split name assigned by cumulative hash ranges.

    ``splits`` maps name -> fraction (must sum to <= 1; remainder rows
    get NULL — useful for sub-sampled corpora). Insertion order defines
    the ranges, so configs are stable under extension.
    """
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    b = hash_bucket(key, _BUCKETS, salt)
    expr: Column = F.lit(None).cast("string")
    hi = 0
    cases: list[tuple[int, str]] = []
    for name, frac in splits.items():
        hi += int(round(frac * _BUCKETS))
        cases.append((hi, name))
    for bound, name in reversed(cases):
        expr = F.when(b < bound, F.lit(name)).otherwise(expr)
    # reversed + otherwise-chaining makes the FIRST matching (smallest)
    # bound win, i.e. ranges [0,b1), [b1,b2), ...
    return df.withColumn(out, expr)


def priority_sample(
    df: DataFrame,
    weight: Column | str,
    key: Column | str,
    n: int,
    salt: str = "",
    out_priority: str = "priority",
    out_estimate: str = "w_hat",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (priority
    sampling, Duffield-Lund-Thorup): keep the ``n`` rows with the
    largest priority ``q = w / u``, where ``u`` is a uniform hash of
    the (salted) key. Higher-weight rows are proportionally more
    likely in; the same corpus always yields the same sample.

    Also emits the unbiased weight estimate ``w_hat = max(w, tau)``
    (``tau`` = the (n+1)-th priority), so downstream aggregates over
    the sample estimate corpus totals: SUM(w_hat) over the sample is
    an unbiased estimator of SUM(w) over the population — the property
    that makes a 0.1% sample of a 100 TB corpus usable for quality
    dashboards.

    Exactness across engines: ``u`` is an md5-derived integer in
    [1, 2^32], and ``q = w * 2^32 / u`` multiplies exact ints below
    2^53 before one IEEE division — bit-identical float64 in any
    engine, so the selected SET is engine-independent (a DuckDB twin
    re-derives it from the same expression).

    Scale shape: ``orderBy().limit(n+1)`` plans TakeOrderedAndProject —
    a per-partition top-k merged once, NO global sort or single-reducer
    window; ``tau`` is a 1-row broadcast crossJoin. Rows at the tau
    boundary (md5 collisions) are dropped on both engines identically.

    PRECONDITION: ``key`` must be unique per row. Duplicate key values
    get identical priority AND an identical string tiebreak, so which
    boundary duplicate survives ``orderBy().limit(n+1)`` becomes
    plan/engine-dependent and the engine-identical-set guarantee no
    longer holds. Dedup or concat a discriminator into ``key`` first.
    """
    w = (F.col(weight) if isinstance(weight, str) else weight).cast("double")
    k = F.col(key) if isinstance(key, str) else key
    h = md5_hash32(F.concat(F.lit(salt), k.cast("string")))
    q = (w * F.lit(4294967296.0)) / (h + F.lit(1)).cast("double")
    top = df.withColumn(out_priority, q).orderBy(
        F.col(out_priority).desc(), k.cast("string").asc()
    )
    boundary = (
        top.limit(n + 1)
        .agg(
            F.min(out_priority).alias("__tau"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        .withColumn("__full", F.col("__cnt") > n)
    )
    kept = top.limit(n + 1).crossJoin(F.broadcast(boundary))
    kept = kept.filter(~F.col("__full") | (F.col(out_priority) > F.col("__tau")))
    w_hat = F.when(F.col("__full"), F.greatest(w, F.col("__tau"))).otherwise(w)
    return kept.withColumn(out_estimate, w_hat).drop("__tau", "__cnt", "__full")


def stratified_topn(
    df: DataFrame,
    strata: Column | str,
    key: Column | str,
    n_per_stratum: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum quota sample (corpus curation staple:
    "at most N documents per language/domain/source").

    Rank within each stratum by the md5 of the (salted) key — a
    reproducible pseudo-random order that any SQL engine re-derives —
    and keep the first ``n_per_stratum``. One shuffle (the stratum
    window); strata with fewer than N rows pass through whole. The key
    itself is the deterministic tiebreak after the hash, so equal-hash
    collisions cannot make the sample engine-dependent.
    """
    s = F.col(strata) if isinstance(strata, str) else strata
    k = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), k.cast("string")))
    w = Window.partitionBy(s).orderBy(h.asc(), k.cast("string").asc())
    return (
        df.withColumn("__sr", F.row_number().over(w))
        .filter(F.col("__sr") <= n_per_stratum)
        .drop("__sr")
    )
