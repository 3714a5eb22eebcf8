"""Streaming incremental near-dup: a growing MinHash band index.

The streaming twin of ``operators/incdedup.py``: documents arrive in
micro-batches, every batch is checked against the *standing* index of
LSH band keys, and novel documents extend the index — the exact
ingestion loop a production corpus runs continuously, with the index
held as checkpointed GroupState instead of a warehouse table.

Two design constraints shape the implementation:

1. **No shuffle aggregation before the stateful op.** The batch
   signature uses a per-doc ``groupBy().min()`` (codegen-friendly);
   append-mode streams cannot plan that, so the streaming path
   computes the identical signature as a PER-ROW expression —
   ``array_min(transform(shingles, ...))`` over the same md5-prefix
   base hash and affine permutation — and bands it with the batch
   ``band_keys``. Same rules, same values (pinned by the
   batch-equivalence test), different plan.
2. **State is keyed on the band, not the document.** Each
   ``(band_id, band_key)`` group holds ONE long — the doc_id that
   first claimed the band — so state size is bounded by the number of
   distinct bands ever seen (the same thing a warehouse band index
   stores), hash-partitioned across executors. An optional TTL expires
   bands, bounding the window reference-style.

Emission is per ``(band, doc)``: a document that matches on any of
its bands is a near-dup; the per-document rollup (``is_dup = any
hit``) is one ordinary aggregation the consumer runs on the sink
table, where it belongs — keeping the stateful operator append-only.

Reference behavioral parity: the reference has no streaming surface
(SURVEY §2.11); this extends its load-time drop_duplicates semantics
(src/linkmerce/common/transform.py) to continuous ingestion.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from linkmerce_spark.functions.scalar import md5_hash32
from linkmerce_spark.functions.text import shingles_from_tokens, word_tokens
from linkmerce_spark.operators.minhash import _permute, band_keys, minhash_perm_consts

__all__ = ["band_keys_rowwise", "streaming_incremental_dedup"]


def band_keys_rowwise(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH band keys as pure per-row expressions (streaming-safe).

    Value-identical to ``band_keys`` over ``minhash_sigs`` — same base
    hash, same permutations, and ``band_keys`` itself digests the bands
    — but with the per-doc min computed by ``array_min`` inside the row
    instead of a hash aggregation, so the plan contains no shuffle and
    is legal in an append-mode stream. Docs too short to shingle are
    dropped (as in the batch path).
    """

    def _perm_min(a: int, b: int):
        # PySpark derives the lambda's arity from its Python signature,
        # so the permutation constants must be captured by closure, not
        # default args (a 3-param lambda would be rejected by transform).
        return F.array_min(
            F.transform(F.col("__sh"), lambda s: _permute(md5_hash32(s), a, b))
        )

    sig = F.array(*[_perm_min(a, b) for a, b in minhash_perm_consts(k)])
    signed = (
        df.withColumn("__toks", word_tokens(text_col))
        .filter(F.size("__toks") >= shingle_words)
        .withColumn("__sh", F.array_distinct(shingles_from_tokens(F.col("__toks"), shingle_words)))
        .select(F.col(id_col), sig.alias("sig", metadata={"k": k}))
    )
    return band_keys(signed, id_col, bands, rows_per_band)


def streaming_incremental_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Check each micro-batch against the standing band index; novel
    documents claim their bands.

    Output rows (append mode): ``band_ref, doc_id, owner_id, is_hit``
    — one per (band, incoming doc). ``owner_id`` is the document that
    holds the band (the claimer itself for novel bands); ``is_hit = 1``
    when the band was already held by a DIFFERENT document. The
    per-document verdict is ``max(is_hit)`` grouped on ``doc_id`` over
    the sink — one ordinary batch aggregation.

    Batch-internal determinism: within one micro-batch the smallest
    ``doc_id`` claims an unheld band and its batch-mates hit it — the
    same first-writer-wins convention as the batch operator's
    canonical ordering.
    """
    banded = band_keys_rowwise(
        docs, text_col, id_col, k, shingle_words, bands, rows_per_band
    ).withColumn(
        "band_ref", F.concat(F.col("band_id").cast("string"), F.lit(":"), "band_key")
    )

    out_schema = StructType(
        [
            StructField("band_ref", StringType(), True),
            StructField("doc_id", LongType(), True),
            StructField("owner_id", LongType(), True),
            StructField("is_hit", LongType(), True),
        ]
    )
    state_schema = StructType([StructField("owner", LongType(), True)])

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(v) for v in pdf[id_col])
        if not ids:
            return
        ids.sort()
        if state.exists:
            (owner,) = state.get
        else:
            owner = ids[0]
            state.update((owner,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "band_ref": [str(key[0])] * len(ids),
                "doc_id": ids,
                "owner_id": [owner] * len(ids),
                "is_hit": [1 if d != owner else 0 for d in ids],
            }
        )

    from linkmerce_spark.shipping import ensure_shipped

    ensure_shipped(docs.sparkSession)
    timeout = "ProcessingTimeTimeout" if ttl_ms is not None else "NoTimeout"
    return banded.groupBy("band_ref").applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )
