"""Incremental near-dup detection: new batch vs an indexed corpus.

Production corpora are not deduplicated all-pairs once — they grow,
and every ingestion batch must be checked against the *existing*
index without re-pairing the index with itself. This operator is that
shape: the index side contributes only its LSH band keys (a tiny
projection, precomputable and storable), the new batch computes the
same MinHash/band pipeline, and a single hash-join on
``(band_id, band_key)`` flags batch documents that collide with any
indexed document.

Scale shape: signatures are map-side work on both sides; the only
shuffle is the band-key join (hash-uniform md5 keys), and the index
side can be orders of magnitude larger than the batch because only
``(id, band_id, band_key)`` rows flow — ~100 bytes/doc regardless of
document size. ``max_bucket`` drops degenerate boilerplate buckets on
the INDEX side before the join (the classic skew guard). The match
count aggregates on the batch id — a second small shuffle bounded by
the batch size.

Both sides sign and band with ``operators/minhash.py``'s one rule
(``band_keys`` is re-exported here), so an index banded today matches
a batch banded tomorrow.

Reference behavioral parity: the reference's dedup is whole-row
drop_duplicates at load time (src/linkmerce/common/transform.py);
incremental index-vs-batch matching is the corpus-scale extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkmerce_spark.operators.minhash import _cap_buckets, band_keys, minhash_sigs

__all__ = [
    "band_keys",
    "incremental_near_dups",
]


def incremental_near_dups(
    index_df: DataFrame,
    batch_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = 500,
    batch_signed: DataFrame | None = None,
) -> DataFrame:
    """Flag new-batch documents that near-duplicate an indexed corpus.

    Output: one row per batch document — ``id_col, n_index_matches``
    (distinct indexed documents sharing at least one band) and
    ``is_dup`` (1 when any match, else 0; BIGINT for engine-portable
    hashing). Batch documents too short to shingle have no signature
    and report 0 matches.

    ``batch_signed``: a pre-signed frame (``minhash_sigs`` /
    ``minhash_signature`` output with ``id_col`` + ``sig``) for the
    batch side, so a pipeline that already signed the corpus for
    near-dup detection does not sign it a second time here. The band
    family is identical either way.
    """
    idx = _cap_buckets(
        band_keys(
            minhash_sigs(index_df, text_col, id_col, k, shingle_words),
            id_col,
            bands,
            rows_per_band,
        ),
        max_bucket,
    )
    new = band_keys(
        batch_signed.select(F.col(id_col), "sig")
        if batch_signed is not None
        else minhash_sigs(batch_df, text_col, id_col, k, shingle_words),
        id_col,
        bands,
        rows_per_band,
    )
    hits = (
        new.join(
            idx.select(
                F.col(id_col).alias("_idx_id"), "band_id", "band_key"
            ),
            ["band_id", "band_key"],
        )
        .groupBy(id_col)
        .agg(F.count_distinct("_idx_id").alias("n_index_matches"))
    )
    base = batch_df.select(F.col(id_col))
    return base.join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_index_matches", F.lit(0)).cast("bigint").alias("n_index_matches"),
        F.when(F.coalesce("n_index_matches", F.lit(0)) > 0, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_dup"),
    )
