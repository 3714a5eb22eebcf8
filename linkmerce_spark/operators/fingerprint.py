"""Document fingerprinting (winnowing) + embedding LSH bucketing.

Training-data pipeline operators beyond the reference's own surface
(BASELINE.json north star):

- ``winnow_fingerprints``: the MOSS winnowing scheme — char k-gram
  rolling hashes, minimum per sliding window of w hashes, distinct
  selected hashes per document. The standard local fingerprint for
  plagiarism/near-dup detection; guarantees any shared substring of
  length >= k+w-1 produces at least one shared fingerprint.
- ``embedding_lsh_buckets``: random-hyperplane LSH over embedding
  columns. Components are quantized to integers before the dot
  product, so the bucket assignment is EXACT integer arithmetic —
  bit-identical across engines (no float-summation-order hazard) and
  reproducible in a SQL oracle.

Scale design
------------
- Winnowing is explode + one window + distinct: codegen map work, one
  shuffle on doc_id (window), one on (doc_id, fp) (distinct). No
  higher-order array functions in the hot path (they evaluate
  interpreted — see operators/minhash.py).
- LSH bucketing is a pure per-row map; the bucket key is the shuffle
  key for the downstream candidate join, uniform by construction
  unless the corpus is degenerate (cap with max_bucket in the join,
  same guard as minhash LSH).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from linkmerce_spark.functions.text import normalize_text

__all__ = [
    "winnow_fingerprints",
    "lsh_hyperplanes",
    "embedding_lsh_buckets",
]


from linkmerce_spark.functions.scalar import md5_hash32 as _hash32  # noqa: E402


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Distinct winnowing fingerprints per doc: (id_col, fp).

    Pipeline: normalize -> char k-grams (positions kept) -> 32-bit
    hash -> min over each w-window (forward-looking rows frame) ->
    distinct. Docs shorter than k+w-1 normalized chars produce no
    fingerprints (no complete window), mirroring the guarantee bound.
    """
    from linkmerce_spark.frames import widen_scan

    # Materialize the normalized text before slicing: the gram lambda
    # would otherwise inline (and re-run) the regex normalizer per
    # reference (same pitfall as operators/minhash._with_shingles).
    # widen_scan spreads the gram/hash map work beyond the scan's split
    # count (a small file reads as one partition).
    norm = widen_scan(df).withColumn("__norm", normalize_text(text_col))
    grams = norm.withColumn(
        "__grams",
        F.when(
            F.length("__norm") < k, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length("__norm") - (k - 1)),
                lambda i: F.col("__norm").substr(i, F.lit(k)),
            )
        ),
    )
    # posexplode_OUTER on purpose: plain posexplode makes the optimizer
    # infer size(__grams)>0 and push it into the scan with the whole
    # gram pipeline inlined (see operators/minhash.py). The outer null
    # rows die on the complete-window filter below.
    ex = grams.select(
        id_col,
        F.size("__grams").alias("__m"),
        F.posexplode_outer("__grams").alias("__pos", "__g"),
    ).withColumn("__h", _hash32(F.col("__g")))
    win = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, w - 1)
    return (
        ex.withColumn("__wmin", F.min("__h").over(win))
        .filter(F.col("__pos") <= F.col("__m") - w)  # complete windows only
        .select(F.col(id_col), F.col("__wmin").alias("fp"))
        .distinct()
    )


def lsh_hyperplanes(dim: int, nbits: int) -> list[list[int]]:
    """Deterministic integer hyperplanes in [-500, 500], shared with
    the SQL oracle (same closed-form constants)."""
    return [
        [((j * 131071 + i * 2654435761 + 7) % 1001) - 500 for i in range(dim)]
        for j in range(nbits)
    ]


def embedding_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    nbits: int = 8,
    quant: int = 1000,
) -> DataFrame:
    """Add ``bucket``: the nbits-bit random-hyperplane signature.

    Components are quantized with floor(x*quant + 0.5) to BIGINT, so
    sign(sum(q_i * h_i)) is exact integer math — deterministic across
    engines and across partition orders. Cosine-similar vectors agree
    on most hyperplane signs, so they collide; the bucket is the
    coarse cell for candidate generation (IVF-style alternative:
    q_embedding_near_dups buckets by label).
    """
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * quant + F.lit(0.5)).cast("bigint"),
    )
    df = df.withColumn("__q", q)
    planes = lsh_hyperplanes(dim, nbits)
    bits = []
    for plane in planes:
        consts = F.array(*[F.lit(c).cast("bigint") for c in plane])
        dot = F.aggregate(
            F.zip_with(F.col("__q"), consts, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
    return df.withColumn("bucket", F.concat(*bits)).drop("__q")
