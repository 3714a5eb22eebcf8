"""Exact-substring duplicate-span coverage (training-data curation).

The ExactSubstr diagnostic from "Deduplicating Training Data Makes
Language Models Better" (Lee et al., 2022), re-expressed at word
n-gram grain so it distributes: a word position is *covered* when at
least one corpus-duplicated n-gram overlaps it, and a document's
dup-span fraction is the share of its word positions that are
covered. Corpora with high coverage are dominated by verbatim reuse
(mirrors, licenses, templated spam) and should be pruned before
training.

The suffix-array formulation of the paper is inherently sequential;
this n-gram formulation keeps the exact "duplicated span" semantics
(a span is flagged iff its n-gram occurs elsewhere in the corpus)
while shuffling only on the gram hash:

1. explode each document into (position, gram-hash) pairs — scan-stage
   work, no shuffle of its own;
2. corpus occurrence counts per gram — ONE shuffle keyed on the hash
   (uniform by construction), map-side partial agg;
3. hash-join the counts back and expand each duplicated gram into the
   n word positions it covers — the expansion factor is bounded by
   ``n`` and only applies to duplicated grams;
4. per-document distinct covered positions — a second shuffle keyed on
   ``doc_id``.

Nothing reaches the driver; both shuffles are on high-cardinality
uniform keys, so the shape holds at 100 TB. Score arithmetic is
integer-exact basis points (queries.py determinism rules).

Reference behavioral parity: the reference stops at whole-document
dedup (src/linkmerce/common/transform.py drop_duplicates overloads);
span-grain coverage is the standard corpus-curation extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkmerce_spark.functions.text import gram_hash, gram_starts

__all__ = [
    "dup_span_coverage",
    "dup_span_rewrite",
]


def dup_span_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-span coverage.

    An n-gram is *duplicated* when its corpus occurrence count reaches
    ``min_count`` (2 = "appears anywhere else, including again in the
    same document" — the ExactSubstr convention). Output columns:
    ``id_col, n_words, covered_words, dup_span_bp`` where
    ``dup_span_bp = floor(10000 * covered / n_words)`` (0 for empty
    docs). Documents shorter than ``n`` words have no grams and score
    0 over their full word count.
    """
    if n <= 0 or min_count <= 1:
        raise ValueError("n must be positive and min_count >= 2")

    from linkmerce_spark.frames import widen_scan

    df = widen_scan(df)  # gram explode far exceeds the scan bytes
    # NULL text coalesces to an empty word array so a NULL document
    # scores as an empty one (n_words=0) instead of size(NULL) = -1.
    words = F.coalesce(
        F.split(F.col(text_col), " "), F.array().cast("array<string>")
    )
    grams = df.select(
        F.col(id_col),
        F.size(words).alias("_nw"),
        F.explode_outer(gram_starts(words, n)).alias("_pos"),
        words.alias("_w"),
    ).select(
        F.col(id_col),
        F.col("_nw"),
        F.col("_pos"),
        F.when(
            F.col("_pos").isNotNull(),
            gram_hash(F.col("_w"), F.col("_pos"), n),
        ).alias("_gram"),
    )
    occurrences = (
        grams.where(F.col("_gram").isNotNull())
        .groupBy("_gram")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .where(F.col("_occ") >= min_count)
    )
    # duplicated gram at word position p covers positions p .. p+n-1
    covered = (
        grams.join(occurrences, "_gram")  # inner: only duplicated grams expand
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("_pos"), F.col("_pos") + n - 1)).alias("_cov"),
        )
        .groupBy(id_col)
        .agg(F.count_distinct("_cov").alias("covered_words"))
    )
    base = df.select(F.col(id_col), F.size(words).cast("bigint").alias("n_words"))
    return base.join(covered, id_col, "left").select(
        F.col(id_col),
        "n_words",
        F.coalesce(F.col("covered_words"), F.lit(0)).cast("bigint").alias(
            "covered_words"
        ),
        F.when(
            F.col("n_words") > 0,
            F.floor(10000 * F.coalesce(F.col("covered_words"), F.lit(0)) / F.col("n_words")),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("dup_span_bp"),
    )


def dup_span_rewrite(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_count: int = 2,
    carry: tuple = (),
) -> DataFrame:
    """The ExactSubstr REWRITE (Lee et al. 2022): remove every
    duplicated span except its canonical (first) corpus occurrence.

    Where ``dup_span_coverage`` only *scores* verbatim reuse, this is
    the curation ACTION: for each corpus-duplicated n-gram, the
    occurrence with the lexicographically smallest ``(doc_id,
    position)`` is canonical and survives; every other occurrence
    marks its n word positions for removal, and documents are
    reassembled from the surviving positions in order. A document that
    is entirely verbatim reuse collapses to the empty string; its
    canonical source survives verbatim.

    Shape (all uniform high-cardinality keys, nothing on the driver):

    1. gram explode — scan-stage;
    2. duplicated grams with their canonical occurrence: ONE gram-hash
       shuffle, the lexicographic-min occurrence key is an ordinary
       map-side-combinable integer MIN (no window);
    3. non-canonical occurrences expand to covered positions (factor
       bounded by ``n``, only for duplicated grams) — the removal set;
    4. removal positions aggregate to ONE array per affected document
       (a shuffle sized by the removal set, not the corpus), and the
       rebuild happens at the DOCUMENT grain in whole-stage codegen:
       ``filter(transform(words, (w,i) -> ...), ...)`` drops removed
       positions and ``array_join`` reassembles. The corpus token
       stream never enters a shuffle — the previous form anti-joined
       and re-aggregated every token row (two corpus-token-scale
       shuffles); this one moves only duplicated-span positions.

    Output: ``id_col, n_words, kept_words, clean_text``. Docs shorter
    than ``n`` words have no grams and pass through verbatim.

    Precondition: ``id_col`` must be an integral column with values in
    ``[0, 2^31)`` — the canonical-occurrence key packs ``(doc_id, pos)``
    into one BIGINT as ``doc_id * 2^32 + pos`` so both engines MIN a
    plain integer; a wider or non-numeric id would overflow or fail to
    multiply. Validated below; remap ids (e.g. ``xxhash64 & 0x7FFFFFFF``
    plus a collision check, or a ``row_number`` surrogate) before
    calling if the corpus uses string or 64-bit ids.
    """
    if n <= 0 or min_count <= 1:
        raise ValueError("n must be positive and min_count >= 2")

    from linkmerce_spark.frames import widen_scan

    df = widen_scan(df)  # gram explode far exceeds the scan bytes
    id_dtype = dict(df.dtypes).get(id_col)
    if id_dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"dup_span_rewrite requires an integral id column in [0, 2^31); "
            f"{id_col!r} is {id_dtype!r} — remap to a surrogate id first"
        )
    # NULL text coalesces to an empty word array so a NULL document
    # scores as an empty one (n_words=0) instead of size(NULL) = -1.
    words = F.coalesce(
        F.split(F.col(text_col), " "), F.array().cast("array<string>")
    )
    grams = df.select(
        F.col(id_col),
        F.explode(gram_starts(words, n)).alias("_pos"),
        words.alias("_w"),
    ).select(
        F.col(id_col),
        F.col("_pos"),
        gram_hash(F.col("_w"), F.col("_pos"), n).alias("_gram"),
    )
    # canonical occurrence = lexicographic min (doc_id, pos), encoded
    # as one BIGINT (doc_id * 2^32 + pos — positions are word indexes,
    # far below 2^32) so the twin's MIN is a plain integer aggregate
    # on both engines.
    okey = (F.col(id_col) * F.lit(4294967296)) + F.col("_pos")
    dups = (
        grams.groupBy("_gram")
        .agg(
            F.count(F.lit(1)).alias("_occ"),
            F.min(okey).alias("_canon"),
        )
        .where(F.col("_occ") >= min_count)
        .select("_gram", "_canon")
    )
    removed = (
        grams.join(dups, "_gram")
        .where(okey != F.col("_canon"))
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("_pos"), F.col("_pos") + n - 1)).alias("_rm"),
        )
    )
    # one positions-array per affected doc: the ONLY post-gram shuffle
    # is sized by the removal set (duplicated-span positions), never by
    # the corpus token stream; collect_set dedups overlapping spans
    rm_sets = removed.groupBy(id_col).agg(
        F.collect_set("_rm").alias("_rms")
    ).select(F.col(id_col).alias("_rm_id"), "_rms")
    # ``carry``: extra input columns to forward (dims a composed
    # pipeline needs) — they ride the base join this operator already
    # pays for, so callers never re-join the input and re-execute the
    # gram subtree.
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.size(words).cast("bigint").alias("n_words"),
        words.alias("_w"),
    )
    joined = base.join(
        rm_sets, base[id_col] == rm_sets["_rm_id"], "left"
    )
    # document-grain rebuild in whole-stage codegen: positions are
    # 1-based (transform's index i is 0-based); a doc with no removals
    # has a NULL set, coalesced to empty so nothing drops
    rms = F.coalesce(F.col("_rms"), F.array().cast("array<int>"))
    kept = F.filter(
        F.transform(
            F.col("_w"),
            lambda w, i: F.when(~F.array_contains(rms, (i + 1).cast("int")), w),
        ),
        lambda x: x.isNotNull(),
    )
    return joined.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        "n_words",
        F.size(kept).cast("bigint").alias("kept_words"),
        F.array_join(kept, " ").alias("clean_text"),
    )
