"""Rare-n-gram exposure scoring (training-data privacy screen).

The memorization line of work (Carlini et al., "Quantifying
Memorization Across Neural Language Models", 2022) shows models
reproduce verbatim exactly the long sequences that are RARE in the
corpus — serial numbers, keys, dumps, one-off personal text. The
standard pipeline screen is the mirror image of duplicate-span
coverage: instead of flagging documents dominated by corpus-DUPLICATED
grams (operators/dupspans.py), flag documents dominated by
corpus-UNIQUE long grams, the ones a model could only emit by
memorizing this document.

Same distributed shape as dup_span_coverage, one stage cheaper (no
position expansion):

1. explode each document into word n-grams — scan-stage work;
2. corpus occurrence counts per gram hash — ONE shuffle on the
   uniform gram key, map-side partial agg;
3. join the counts back and roll up per document — a second shuffle
   on ``doc_id``.

Score arithmetic is integer-exact basis points (queries.py
determinism rules); nothing reaches the driver.

Reference behavioral parity: the reference has no corpus-curation
layer (whole-document drop_duplicates only,
src/linkmerce/common/transform.py); this is part of the standard
LLM-pipeline extension this engine ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkmerce_spark.functions.text import gram_hash, gram_starts

__all__ = [
    "rare_gram_stats",
]


def rare_gram_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    max_count: int = 1,
) -> DataFrame:
    """Per-document rare-n-gram exposure.

    A gram is *rare* when its corpus occurrence count is at most
    ``max_count`` (1 = appears nowhere else, the memorization-risk
    default). Output: ``id_col, n_grams, rare_grams, rare_share_bp``
    with ``rare_share_bp = floor(10000 * rare / n_grams)`` (0 for
    docs shorter than ``n`` words — they have no grams).
    """
    if n <= 0 or max_count < 1:
        raise ValueError("n must be positive and max_count >= 1")

    from linkmerce_spark.frames import widen_scan

    df = widen_scan(df)  # token/gram explode far exceeds the scan bytes
    words = F.split(F.col(text_col), " ")
    grams = df.select(
        F.col(id_col),
        F.explode_outer(gram_starts(words, n)).alias("_pos"),
        words.alias("_w"),
    ).select(
        F.col(id_col),
        F.when(
            F.col("_pos").isNotNull(),
            gram_hash(F.col("_w"), F.col("_pos"), n),
        ).alias("_gram"),
    )
    occ = (
        grams.where(F.col("_gram").isNotNull())
        .groupBy("_gram")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    per_doc = (
        grams.where(F.col("_gram").isNotNull())
        .join(occ, "_gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("_cnt") <= max_count, 1).otherwise(0))
            .cast("bigint")
            .alias("rare_grams"),
        )
    )
    base = df.select(F.col(id_col))
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("rare_grams", F.lit(0)).cast("bigint").alias("rare_grams"),
        F.when(
            F.coalesce("n_grams", F.lit(0)) > 0,
            F.floor(10000 * F.col("rare_grams") / F.col("n_grams")),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("rare_share_bp"),
    )
