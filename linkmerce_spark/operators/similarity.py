"""Vectorized similarity kernels: exact-parity quantized cosine.

Scoring 10^5..10^9 candidate pairs with per-element SQL expressions is
the slow path twice over: higher-order array functions evaluate
interpreted, and an unrolled 64-term codegen expression gets duplicated
at every plan site a filter pushdown copies it to. The scale answer is
an Arrow-batched Pandas UDF: whole batches of pairs hit numpy as one
(n, dim) matrix op.

Float matrix math is NOT engine-portable (summation order differs), so
the kernel quantizes components to int64 first — floor(x*quant + 0.5)
— making the dot product and squared norms exact integer arithmetic:
bit-identical in numpy, Spark, and a DuckDB oracle, independent of
summation order. The division and sqrt that follow are single IEEE
double ops on exact inputs, deterministic everywhere.

At cluster scale, pair generation stays a join (bucketed by LSH cell,
IVF label, or broadcast query set — see queries.py); this kernel is
the per-pair scorer. For dense all-pairs blocks, the same math lifts
to cogrouped applyInPandas with one BLAS-style matmul per block pair.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from linkmerce_spark import memo

__all__ = [
    "quantized_cosine",
    "cell_pair_cosines",
    "QUANT_DEFAULT",
    "IVF_CELL_TARGET",
    "ivf_k_for",
    "ivf_centroids",
    "ivf_assign",
    "ivf_train",
]

QUANT_DEFAULT = 1000

# Target IVF cell size for k proportional to N. A POWER OF TWO so the
# SQL twin's CEIL(n / 512.0) divides exactly in binary floating point
# (any n < 2^53 / 512) and matches Python's integer ceil-division
# bit-for-bit.
IVF_CELL_TARGET = 512


def ivf_k_for(n_rows: int, target_cell_size: int = IVF_CELL_TARGET, k_min: int = 8) -> int:
    """Cell count for an IVF index over ``n_rows`` vectors: enough
    cells that the EXPECTED cell holds ~``target_cell_size`` vectors,
    floored at ``k_min``.

    This is the lever that keeps blocked in-cell pair scoring LINEAR
    in corpus size: pair volume is O(sum(cell²)) ≈ N²/k, so a fixed k
    turns every 10x data step into 100x pairs, while k = N/c makes it
    N·c/2 — data-proportional. The SQL twin derives the same k from
    the same formula (GREATEST(k_min, CEIL(COUNT(*) / c)) with c a
    power of two, exact in both engines), so parity holds at every
    scale factor without a per-sf fixture parameter.
    """
    if n_rows < 0 or target_cell_size <= 0 or k_min <= 0:
        raise ValueError("n_rows >= 0, target_cell_size > 0, k_min > 0 required")
    return max(k_min, -(-n_rows // target_cell_size))


def _make_kernel(quant: int):
    @pandas_udf("double")
    def _qcos(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        A = np.array([np.asarray(x, dtype="float64") for x in a])
        B = np.array([np.asarray(x, dtype="float64") for x in b])
        Aq = np.floor(A * quant + 0.5).astype("int64")
        Bq = np.floor(B * quant + 0.5).astype("int64")
        dot = (Aq * Bq).sum(axis=1).astype("float64")
        na = np.sqrt((Aq * Aq).sum(axis=1).astype("float64"))
        nb = np.sqrt((Bq * Bq).sum(axis=1).astype("float64"))
        denom = na * nb
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / denom
        cos[denom == 0.0] = np.nan
        return pd.Series(cos)

    return _qcos


def quantized_cosine(
    a: Column | str, b: Column | str, quant: int = QUANT_DEFAULT
) -> Column:
    """Cosine of two array<float> columns on quant-ized components.

    NULL (not NaN) when either vector quantizes to zero. The value is
    deterministic across engines; round with floor(x*10^s + 0.5) for
    threshold comparisons against a SQL oracle.
    """
    from linkmerce_spark.shipping import ensure_shipped

    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_shipped(active)
    c = _make_kernel(quant)(
        F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    )
    return F.when(F.isnan(c), F.lit(None).cast("double")).otherwise(c)


def cell_pair_cosines(
    cells,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    quant: int = QUANT_DEFAULT,
    min_cosine: float = 0.0,
    round_scale: float = 1000000.0,
    n_cells: int | None = None,
):
    """All-pairs quantized cosine WITHIN each cell: one matmul per
    cell instead of a pair join that ships both vectors per candidate.

    The self-join form materializes O(sum(cell²)) rows each carrying
    TWO dim-length arrays through the shuffle and the scoring kernel —
    at dim=64 that is ~1 KB per pair, and serialization dominates. This
    shape ships each cell's vectors ONCE (applyInPandas on the cell
    key), builds the (n, dim) quantized matrix, and scores every pair
    with a single BLAS matmul; only the above-threshold (id_a, id_b,
    cosine) triples come back. Float64 matmul is EXACT here: quantized
    components are ≤ quant in magnitude, so every partial dot sum is
    ≤ dim·quant² ≪ 2^53 — integer-exact regardless of BLAS summation
    order, bit-identical to the SQL oracle's int64 arithmetic.

    Pair volume and per-call memory are both controlled by the cell
    size (the IVF k): the per-cell matrix is n_cell × dim floats, the
    cosine matrix n_cell² doubles — size k so cells fit an executor,
    exactly the contract the join form already carried. Returns
    ``(cell, id_a, id_b, cosine)`` with ``id_a < id_b``, cosine
    rounded via floor(x·round_scale + 0.5)/round_scale, rows with
    cosine < ``min_cosine`` (or NaN — zero-norm vectors) dropped.
    """
    from linkmerce_spark.shipping import ensure_shipped

    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_shipped(active)
    id_type = dict(cells.dtypes)[id_col]
    schema = f"{cell_col} int, id_a {id_type}, id_b {id_type}, cosine double"

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        cell = int(pdf[cell_col].iloc[0])
        if n < 2:
            empty_ids = pdf[id_col].to_numpy()[:0]
            return pd.DataFrame(
                {
                    cell_col: np.array([], dtype="int32"),
                    "id_a": empty_ids,
                    "id_b": empty_ids,
                    "cosine": np.array([], dtype="float64"),
                }
            )
        A = np.array([np.asarray(x, dtype="float64") for x in pdf[vec_col]])
        Aq = np.floor(A * quant + 0.5)  # float64-exact integers
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        Aq, ids = Aq[order], ids[order]
        nrm = np.sqrt((Aq * Aq).sum(axis=1))
        # ROW-BLOCKED scoring: a full n x n cosine matrix is n^2
        # doubles (5 GB at n=25k — an oversized cell must degrade to
        # more matmul calls, never to an OOM). Each block computes
        # block_rows x n scores, keeps only the upper-triangle
        # above-threshold triples, and frees the rest. Values are
        # bit-identical to the unblocked form (same per-pair dot and
        # division).
        block = max(1, min(n, 33_554_432 // max(n, 1)))  # <=256 MB/scores
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, n - 1, block):
            i1 = min(i0 + block, n)
            dot = Aq[i0:i1] @ Aq.T
            denom = np.outer(nrm[i0:i1], nrm)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / denom
            c = np.floor(cos * round_scale + 0.5) / round_scale
            # j > absolute row index, and threshold (NaN compares False)
            col = np.arange(n)[None, :]
            row = np.arange(i0, i1)[:, None]
            with np.errstate(invalid="ignore"):
                keep = (col > row) & (c >= min_cosine)
            ia, ib = np.nonzero(keep)
            out_a.append(ids[ia + i0])
            out_b.append(ids[ib])
            out_c.append(c[ia, ib])
        a = np.concatenate(out_a) if out_a else ids[:0]
        b = np.concatenate(out_b) if out_b else ids[:0]
        cv = (
            np.concatenate(out_c)
            if out_c
            else np.array([], dtype="float64")
        )
        return pd.DataFrame(
            {
                cell_col: np.full(len(a), cell, dtype="int32"),
                "id_a": a,
                "id_b": b,
                "cosine": cv,
            }
        )

    src = cells.select(cell_col, id_col, vec_col)
    if n_cells is not None:
        # Pin the cell exchange to one partition per cell: the scoring
        # stage is CPU-bound PYTHON work, but AQE's size-based
        # coalescing sees only shuffle BYTES — at 200k vectors the
        # whole corpus is ~50 MB, one advisory unit, so every cell's
        # matmul serialized through ONE worker (measured 8x on the
        # sf10 fixture). An explicit user repartition satisfies the
        # groupBy's clustered distribution (no second exchange) and
        # AQE leaves explicit partition counts alone. Range
        # partitioning (not hash) because k small integer cell ids
        # hash-collide: at k=8, hash occupancy is ~5-6 of 8 partitions
        # while ranges give one cell per partition.
        src = src.repartitionByRange(n_cells, cell_col)
    return src.groupBy(cell_col).applyInPandas(_pairs, schema)


def _nearest_centroid_kernel(cents: list[list[int]], quant: int | None):
    """Arrow-batched nearest-centroid assignment over int64 math.

    The SQL-expression form (k unrolled 64-term zip_with/aggregate
    expressions) is exact but pays a large whole-stage-codegen COMPILE
    cost per job — at toy scale that dominates wall time, and at any
    scale it recompiles per plan site. This kernel is the same exact
    arithmetic in numpy int64 (quantize -> squared L2 per centroid ->
    first-min argmin, matching SQL array_position-of-min), one matrix
    op per Arrow batch, zero codegen.

    ``quant=None`` means the input column is already quantized int64
    arrays (the training loop's ``__q``); otherwise the raw float
    vectors are quantized inside the kernel.
    """
    import numpy as np

    C = np.asarray(cents, dtype="int64")
    # The k-loop of (Q - C[j])^2 row sums is O(k) numpy passes per
    # batch — fine at k=8, quadratic pain once k scales with N. When
    # components are small enough that every intermediate — partial
    # dot sums, squared norms, and the distance itself, bounded by
    # dim · (max|q| + max|c|)^2 ≤ 4 · dim · max² < 2^53 — stays an
    # exactly-representable integer in float64, expand
    # |q - c|^2 = |q|^2 - 2 q·C^T + |C|^2 and let ONE BLAS matmul
    # score all k centroids: every partial sum is an integer < 2^53,
    # so the result is bit-identical to the int64 loop regardless of
    # BLAS summation order. At the engine's quant=1000 / dim=64 the
    # bound holds with ~2^20 headroom.
    _EXACT_LIMIT = float(1 << 53)
    _c_max = float(np.abs(C).max(initial=0))
    _Cf = C.astype("float64")
    _c2 = (_Cf * _Cf).sum(axis=1)

    @pandas_udf("struct<cell:int,dist2:bigint>")
    def _nn(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "dist2": pd.Series([], dtype="int64")})
        if quant is None:
            Q = np.array([np.asarray(x, dtype="int64") for x in v])
        else:
            V = np.array([np.asarray(x, dtype="float64") for x in v])
            Q = np.floor(V * quant + 0.5).astype("int64")
        _q_max = float(np.abs(Q).max(initial=0))
        _dim = float(Q.shape[1])
        if 4.0 * _dim * max(_q_max, _c_max) ** 2 < _EXACT_LIMIT:
            Qf = Q.astype("float64")
            d = (
                (Qf * Qf).sum(axis=1)[:, None]
                - 2.0 * (Qf @ _Cf.T)
                + _c2[None, :]
            )
        else:
            d = np.empty((Q.shape[0], C.shape[0]), dtype="int64")
            for j in range(C.shape[0]):
                diff = Q - C[j]
                d[:, j] = (diff * diff).sum(axis=1)
        return pd.DataFrame(
            {
                # np.argmin takes the FIRST minimum — the same tie rule
                # as array_position(darr, array_min(darr)) and DuckDB's
                # list_position(list_min).
                "cell": (d.argmin(axis=1) + 1).astype("int32"),
                "dist2": d.min(axis=1).astype("int64"),
            }
        )

    return _nn


def ivf_centroids(dim: int, k: int, quant: int = QUANT_DEFAULT) -> list[list[int]]:
    """Deterministic integer centroids in [-quant, quant], shared with
    the SQL oracle (same closed-form constants)."""
    return [
        [((j * 131 + i * 2654435761 + 13) % (2 * quant + 1)) - quant for i in range(dim)]
        for j in range(k)
    ]


def ivf_assign(
    df,
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 8,
    quant: int = QUANT_DEFAULT,
    centroids: list[list[int]] | None = None,
):
    """Add ``cell`` (nearest centroid, 1-based) and ``dist2`` (its
    squared L2 distance) — the IVF coarse quantizer.

    ``centroids`` defaults to the closed-form constants (stable unit
    tests); pass ``ivf_train(...)`` output for data-adaptive cells.
    All arithmetic is int64 on quantized components: the assignment is
    exact and engine-portable (ties break to the lowest cell index via
    first-position-of-min, same rule as SQL list_position). The cell is
    the shuffle key for probe-time candidate generation; at index-build
    scale this is a pure per-row map — no shuffle at all.
    """
    from linkmerce_spark.shipping import ensure_shipped

    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_shipped(active)
    cents = centroids if centroids is not None else ivf_centroids(dim, k, quant)
    nn = _nearest_centroid_kernel(cents, quant)
    return (
        df.withColumn("__nn", nn(F.col(vec_col)))
        .withColumn("cell", F.col("__nn.cell"))
        .withColumn("dist2", F.col("__nn.dist2"))
        .drop("__nn")
    )


def ivf_train(
    df,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 8,
    quant: int = QUANT_DEFAULT,
    oversample: int = 2,
) -> list[list[int]]:
    """Deterministic k-means||-style centroid training, exact-integer.

    The classic k-means|| recipe — oversample candidate seeds, weight
    each candidate by how many points it attracts, reduce to k, then
    Lloyd-refine — with every random draw replaced by a deterministic
    rule so a SQL oracle reproduces it bit-for-bit:

    1. candidates = the ``k*oversample`` sample vectors with the
       smallest ids, quantized to int64 (candidate index = id order);
    2. weights   = per-candidate member counts over the FULL data
       (nearest candidate, exact int L2, first-min tie rule);
    3. reduce    = top-k candidates by (weight DESC, candidate ASC);
    4. refine    = one Lloyd step: members' element-wise floor-mean
       ((s - ((s%c)+c)%c)/c — floor semantics under both engines' %),
       empty cells keep their seed vector.

    Only k-sized aggregates ever reach the driver (three collects of
    ≤ k*oversample rows) — the scans stay distributed, so the same
    procedure runs against a 100 TB table; at that scale you would
    train on a sampled sub-frame (``df.sample``) and the procedure is
    unchanged. Returns k integer centroid vectors for ``ivf_assign``
    (and for rendering the twin SQL's VALUES — though the oracle can
    also re-derive them from scratch, which is what oracles.py does).
    """
    # Training is deterministic in (data, params), and base-table
    # DataFrames are session memos — so one training per input frame
    # serves every index consumer in the session (three catalog queries
    # share one quantizer): a derived-tier memo keyed on the frame.
    return memo.derived(
        df.sparkSession,
        ("ivf_train", df, id_col, vec_col, dim, k, quant, oversample),
        lambda: _ivf_train(df, id_col, vec_col, dim, k, quant, oversample),
    )


def _ivf_train(df, id_col, vec_col, dim, k, quant, oversample) -> list[list[int]]:
    m = k * oversample
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * quant + F.lit(0.5)).cast("bigint"),
    )
    # Three passes read the quantized vectors (seed pick, weighting,
    # Lloyd stats) — persist once so the parquet scan + quantize run a
    # single time per training. Training is one job on a cluster; the
    # cache is released before returning, also when a step raises.
    from linkmerce_spark.shipping import ensure_shipped

    ensure_shipped(df.sparkSession)

    def _nearest(frame, cents):
        # Arrow kernel over the pre-quantized __q arrays (quant=None):
        # identical int64 math and first-min tie rule, no codegen cost.
        nn = _nearest_centroid_kernel(cents, None)
        return frame.withColumn("cell", nn(F.col("__q")).getField("cell"))

    qdf = df.select(F.col(id_col).alias("__id"), q.alias("__q")).persist()
    try:
        cands = [
            [int(v) for v in r["__q"]]
            for r in qdf.orderBy("__id").limit(m).collect()
        ]

        wts = {
            r["cell"]: r["cnt"]
            for r in _nearest(qdf, cands)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        order = sorted(range(1, m + 1), key=lambda c: (-wts.get(c, 0), c))[:k]
        seeds = [cands[c - 1] for c in order]

        stats = (
            _nearest(qdf, seeds)
            .select("cell", F.posexplode("__q").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
    finally:
        qdf.unpersist()
    by_cell: dict[int, dict[int, int]] = {}
    for r in stats:
        # Python // is floor division — identical to the SQL
        # (s - ((s % c) + c) % c) / c form for negative sums.
        by_cell.setdefault(r["cell"], {})[r["pos"]] = r["s"] // r["c"]
    return [
        [by_cell[j + 1][i] for i in range(dim)] if (j + 1) in by_cell else seeds[j]
        for j in range(k)
    ]
