"""Document chunking + corpus-boilerplate scoring for training pipelines.

Two curation operators the reference's query surface implies but never
ships (its corpus ops stop at whole-document grain); both are standard
large-scale training-data steps and both stay entirely inside
whole-stage codegen — no Python kernels:

- :func:`chunk_by_words` — overlapping fixed-size word windows per
  document (the context-window packing precursor: long documents are
  chunked before tokenization/packing). Pure ``split`` + ``sequence``
  + ``explode`` + ``slice``: embarrassingly parallel, no shuffle at
  all — the chunk explosion happens in the scan stage of whichever
  shuffle follows.
- :func:`boilerplate_score` — RefinedWeb/CCNet-style template
  detection: the fraction of a document's word n-grams whose corpus
  document-frequency reaches ``min_df``. Shape: explode n-grams ->
  per-(gram, doc) dedup -> gram DF agg -> hash-join back -> per-doc
  rollup. Every shuffle keys on the gram hash (uniform by
  construction), partial aggregation is map-side, and the DF table
  never reaches the driver — the 100 TB shape for corpus-frequency
  statistics.

Score arithmetic is integer-exact (``floor(10000 * dup / total)``)
so the DuckDB twin matches hash-for-hash (see queries.py docstring's
engine-portable determinism rules).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from linkmerce_spark.functions.text import gram_hash, gram_starts

__all__ = [
    "chunk_by_words",
    "boilerplate_score",
]


def _words(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def chunk_by_words(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Overlapping word-window chunks: starts 0, stride, 2*stride, …
    while start < n_words; the tail chunk may be short (standard
    chunking semantics). Output: id, chunk_id, chunk_start, n_tokens,
    chunk_text."""
    if window <= 0 or stride <= 0:
        raise ValueError("window and stride must be positive")

    from linkmerce_spark.frames import widen_scan

    df = widen_scan(df)  # token/gram explode far exceeds the scan bytes
    words = _words(text_col)
    n = F.size(words)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    exploded = df.select(
        F.col(id_col), words.alias("_w"), F.explode(starts).alias("_start")
    )
    chunk = F.slice(F.col("_w"), F.col("_start") + 1, window)
    return exploded.select(
        F.col(id_col),
        (F.col("_start") / stride).cast("bigint").alias("chunk_id"),
        F.col("_start").cast("bigint").alias("chunk_start"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def boilerplate_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_df: int = 3,
) -> DataFrame:
    """Per-document boilerplate fraction from corpus n-gram DF.

    An n-gram is "boilerplate" when it appears in >= ``min_df``
    distinct documents; the score is the per-document share of gram
    *occurrences* that are boilerplate, as exact basis points.
    Documents shorter than ``n`` words score 0 over 0 grams.
    """
    if n <= 0 or min_df <= 0:
        raise ValueError("n and min_df must be positive")

    from linkmerce_spark.frames import widen_scan

    df = widen_scan(df)  # token/gram explode far exceeds the scan bytes
    words = _words(text_col)
    grams = df.select(
        F.col(id_col),
        F.size(words).alias("_nw"),
        F.explode_outer(gram_starts(words, n)).alias("_pos"),
        words.alias("_w"),
    ).select(
        F.col(id_col),
        F.when(
            F.col("_pos").isNotNull(),
            gram_hash(F.col("_w"), F.col("_pos"), n),
        ).alias("_gram"),
    )
    # corpus DF: distinct docs per gram (null grams = short docs, excluded)
    gram_df = (
        grams.where(F.col("_gram").isNotNull())
        .groupBy("_gram")
        .agg(F.count_distinct(id_col).alias("_df"))
    )
    scored = grams.join(gram_df, "_gram", "left")
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.col("_gram")).cast("bigint").alias("n_grams"),
            F.count(F.when(F.col("_df") >= min_df, True)).cast("bigint").alias("dup_grams"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "dup_grams",
            F.when(F.col("n_grams") > 0, F.floor(10000 * F.col("dup_grams") / F.col("n_grams")))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("boilerplate_bp"),
        )
    )
