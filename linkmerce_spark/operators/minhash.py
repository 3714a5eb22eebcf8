"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

Training-data pipeline operators (BASELINE.json north star), built as
pure column expressions so the hash pipeline runs inside whole-stage
codegen — no Python in the hot path — and every hash is md5-based,
which makes the operators engine-portable (the DuckDB oracle computes
bit-identical signatures).

Scale design
------------
- Signatures/fingerprints are embarrassingly parallel map work.
- LSH candidate generation shuffles once on ``(band_id, band_key)`` —
  a hash-uniform key. Pathological buckets (boilerplate text shared by
  millions of docs) are the classic skew case: ``max_bucket`` caps the
  join fan-out per bucket; at cluster scale pair it with AQE skew-join.
- The verify step (exact Jaccard) runs only on LSH candidates —
  O(candidates), not O(n^2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkmerce_spark import memo
from linkmerce_spark.frames import widen_scan
from linkmerce_spark.functions.text import shingles_from_tokens, word_tokens

__all__ = [
    "minhash_signature",
    "lsh_candidate_pairs",
    "minhash_near_dups",
    "simhash32",
    "jaccard_pairs",
]


def _with_shingles(
    df: DataFrame, text_col: str, shingle_words: int, out: str, require: bool = False
) -> DataFrame:
    """Tokenize ONCE into a column, then shingle from it.

    Materializing the token array keeps the regex tokenizer out of the
    shingle lambda (which references the array three times); inlining
    it would re-split the text per reference.

    ``require=True`` drops docs too short to shingle. The guard is on
    the *token count*, never on ``size(shingles)``: a predicate on the
    shingle column gets pushed below the projection with the whole
    shingle expression inlined, doubling the work per row.
    """
    df = df.withColumn("__toks", word_tokens(text_col))
    if require:
        # size(toks) >= n  <=>  shingles non-empty
        df = df.filter(F.size("__toks") >= shingle_words)
    return df.withColumn(
        out, F.array_distinct(shingles_from_tokens(F.col("__toks"), shingle_words))
    ).drop("__toks")


# MinHash permutation family: one 32-bit base hash per shingle (md5 hex
# prefix -> int, bit-identical in Spark and DuckDB), then k affine
# permutations sig_i = min((a_i*h + b_i) mod P). One digest per shingle
# instead of k; the k passes are int arithmetic inside codegen.
# a_i < 2^30 and h < 2^32 keep a*h+b < 2^63 (no BIGINT overflow in
# either engine). P is prime > 2^32.
_MINHASH_P = 4294967311


def minhash_perm_consts(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs shared with the DuckDB oracle."""
    return [
        ((i * 2654435761) % 1073741789 + 1, (i * 40503 + 2531011) % 1073741789)
        for i in range(k)
    ]


from linkmerce_spark.functions.scalar import md5_hash32 as _hash32  # noqa: E402


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """Add ``shingles`` (distinct word n-grams) and ``sig`` (k MinHash
    values: min over shingles of the i-th affine permutation of the
    shingle's 32-bit md5-prefix hash).

    Docs with no shingles (too short) are dropped — they cannot
    participate in Jaccard similarity.
    """
    # No size(shingles) filter: shingle-less docs vanish in the inner
    # join with the exploded aggregate below, and an explicit predicate
    # would be pushed down with the full shingle expression inlined.
    # A lazy checkpoint keeps explode's inferred size(shingles)>0 out of
    # the scan too, and the first of its three consumers materializes it.
    sh = _with_shingles(widen_scan(df), text_col, shingle_words, "shingles")
    sh = memo.checkpoint(sh, eager=False)
    # Explode + hash-aggregate instead of array_min(transform(...)):
    # higher-order array functions evaluate interpreted, while the
    # exploded shape runs md5 + the k affine mins inside whole-stage
    # codegen with map-side partial aggregation — the same property
    # that keeps the shuffle tiny (one row per doc) at cluster scale.
    ex = sh.select(id_col, F.explode("shingles").alias("__s")).withColumn(
        "__h", _hash32(F.col("__s"))
    )
    mins = [
        F.min((F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"__m{i}")
        for i, (a, b) in enumerate(minhash_perm_consts(k))
    ]
    sig = ex.groupBy(id_col).agg(*mins).select(
        F.col(id_col),
        F.array(*[F.col(f"__m{i}") for i in range(k)]).alias("sig", metadata={"k": k}),
    )
    return sh.join(sig, id_col)


def minhash_sigs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """Signatures only: ``(id_col, sig)``, identical values to
    ``minhash_signature`` but WITHOUT joining the shingle sets back.

    This is the right input for band-only consumers (LSH banding,
    incremental index matching) that never verify Jaccard — it saves
    the shingle join and the shingle-frame checkpoint that exist solely
    for the verify step. One shuffle total (the per-doc hash-min
    aggregation); shingle-less docs are absent, as in
    ``minhash_signature``.
    """
    toks = _with_shingles(widen_scan(df), text_col, shingle_words, "shingles")
    ex = toks.select(id_col, F.explode("shingles").alias("__s")).withColumn(
        "__h", _hash32(F.col("__s"))
    )
    mins = [
        F.min((F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"__m{i}")
        for i, (a, b) in enumerate(minhash_perm_consts(k))
    ]
    return ex.groupBy(id_col).agg(*mins).select(
        F.col(id_col),
        F.array(*[F.col(f"__m{i}") for i in range(k)]).alias("sig", metadata={"k": k}),
    )


def lsh_candidate_pairs(
    signed: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs (id_a < id_b).

    One shuffle on the band key. ``max_bucket`` drops buckets larger
    than the cap before the self-join — the skew guard for boilerplate
    clusters (a 1M-doc bucket would otherwise emit 5*10^11 pairs).

    ``bands * rows_per_band`` must not exceed the signature length:
    an out-of-range band would slice to an empty array, hash every
    document to the same constant band key, and detonate the exact
    all-pairs explosion this function exists to prevent — so it is
    validated against the signature column's array length up front.
    """
    sig_len = signed.schema["sig"].metadata.get("k") if "sig" in signed.columns else None
    if sig_len is not None and bands * rows_per_band > int(sig_len):
        raise ValueError(
            f"bands*rows_per_band = {bands * rows_per_band} exceeds "
            f"signature length {sig_len}"
        )
    band_entries = []
    for j in range(bands):
        band_entries.append(
            F.struct(
                F.lit(j).alias("band_id"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.slice("sig", j * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        "|",
                    )
                ).alias("band_key"),
            )
        )
    banded = signed.select(
        F.col(id_col), F.explode(F.array(*band_entries)).alias("b")
    ).select(id_col, "b.band_id", "b.band_key")
    # The bucket self-join consumes `banded` twice; the lazy checkpoint
    # runs the signature lineage (k hash mins per shingle) once, not once
    # per branch. The banded projection is tiny (id + 2 keys) regardless
    # of corpus size, so this is safe at scale.
    banded = memo.checkpoint(banded, eager=False)
    if max_bucket is not None:
        counts = banded.groupBy("band_id", "band_key").count()
        banded = banded.join(
            counts.filter(F.col("count") <= max_bucket).drop("count"),
            ["band_id", "band_key"],
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    min_jaccard: float = 0.0,
    max_bucket: int | None = None,
    presigned: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: sign -> band -> candidate
    pairs -> exact-Jaccard verify. Returns (id_a, id_b, jaccard).

    Jaccard is computed only on LSH candidates, against the true
    distinct-shingle sets (intersect / (|a|+|b|-intersect)).

    ``presigned``: a ``minhash_signature`` output to reuse instead of
    re-signing ``df`` — composed pipelines that also band the same
    corpus for other purposes (e.g. fuzzy decontamination) sign once
    and share. Must carry ``id_col``, ``sig`` and ``shingles``.
    """
    # minhash_signature checkpoints the expensive shingle frame internally;
    # downstream consumers recompute only the cheap join/agg on top.
    signed = (
        presigned
        if presigned is not None
        else minhash_signature(df, text_col, id_col, k, shingle_words)
    )
    pairs = lsh_candidate_pairs(signed, id_col, bands, rows_per_band, max_bucket)
    sh = signed.select(F.col(id_col), "shingles")
    verified = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    if min_jaccard > 0:
        verified = verified.filter(F.col("jaccard") >= min_jaccard)
    return verified


def simhash32(df: DataFrame, text_col: str = "text", out: str = "simhash") -> DataFrame:
    """32-bit SimHash as a bit-string column.

    Bit i is the sign of sum over tokens of (+1/-1) for bit i of the
    token's md5 — bit i read portably as "is hex nibble i >= 8". Token
    md5s are computed once per token, then folded per bit position.
    """
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    df = widen_scan(df).withColumn("__tok_md5", F.transform(word_tokens(text_col), lambda t: F.md5(t)))
    bits = F.transform(
        F.sequence(F.lit(1), F.lit(32)),
        lambda i: F.when(
            F.aggregate(
                "__tok_md5",
                F.lit(0),
                lambda acc, h: acc
                + F.when(h.substr(i, F.lit(1)).isin(*high), 1).otherwise(-1),
            )
            > 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return df.withColumn(out, F.array_join(bits, "")).drop("__tok_md5")


def jaccard_pairs(
    probes: DataFrame,
    candidates: DataFrame,
    join_on: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 2,
    min_jaccard: float = 0.0,
    dedup_symmetric: bool = False,
) -> DataFrame:
    """Blocked n-gram Jaccard: probes x candidates within a blocking key.

    ``join_on`` is the blocking key (e.g. source bucket) — the scale
    lever that keeps this from being O(n^2).

    Pair semantics: every (probe, candidate) pair with distinct ids is
    emitted. ``dedup_symmetric=True`` keeps only ``id_a < id_b`` — ONLY
    correct when probes and candidates are the SAME set (full symmetric
    self-join); with a probe subset or disjoint sets it would silently
    drop every pair whose probe id exceeds the candidate id. Callers
    whose probes are a subset of candidates dedup the probe-probe
    duplicates themselves (e.g. ``id_b not probe OR id_a < id_b``).
    """
    p = _with_shingles(widen_scan(probes), text_col, shingle_words, "sh_a", require=True).select(
        *join_on, F.col(id_col).alias("id_a"), "sh_a"
    )
    c = _with_shingles(widen_scan(candidates), text_col, shingle_words, "sh_b", require=True).select(
        *join_on, F.col(id_col).alias("id_b"), "sh_b"
    )
    pair_cond = (
        (F.col("id_a") < F.col("id_b"))
        if dedup_symmetric
        else (F.col("id_a") != F.col("id_b"))
    )
    out = (
        p.join(c, join_on)
        .filter(pair_cond)
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .select(*join_on, "id_a", "id_b", "jaccard")
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out
