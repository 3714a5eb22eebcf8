"""Primary-key dedup semantics, Spark-first.

The reference leans on PRIMARY KEY + ``ON CONFLICT DO NOTHING`` for
physical dedup (113 uses; e.g. core/smartstore/api/order/models.sql:82)
and ``QUALIFY ROW_NUMBER() = 1`` for in-query dedup (models.sql:188).
Spark has no PK enforcement, so dedup must be explicit AND deterministic:
"keep first" needs a defined order, never partition luck.

Scale notes
-----------
- ``dedupe_keep_first`` is one hash-shuffle on the key columns; AQE
  skew-join/partition-split handles hot keys.
- ``insert_ignore`` is a left_anti join against the existing target —
  broadcast when the new batch is small (the common ingest case is a
  small batch vs a huge target: then broadcast the BATCH and flip the
  anti-join direction... we keep target-side anti-join because the
  target arrives pruned by partition filters in real pipelines).
- ``exact_dedup`` groups by a 128-bit content fingerprint; the shuffle
  key is uniform by construction (hash output), so no salting needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from linkmerce_spark import memo
from linkmerce_spark.functions.text import fingerprint

__all__ = [
    "dedupe_keep_first",
    "insert_ignore",
    "exact_dedup",
    "connected_components",
    "dedup_by_clusters",
]


def dedupe_keep_first(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
) -> DataFrame:
    """Keep exactly one row per key, deterministically.

    ``order_by`` defines which row wins (ascending; pass ``F.col(c)
    .desc()`` columns for latest-wins). Without it, falls back to
    ``dropDuplicates`` (arbitrary winner — only for genuinely identical
    full rows).

    One shuffle; window + filter compiles to the same exchange as a
    groupBy but keeps all columns without a struct pack/unpack.
    """
    if not order_by:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def insert_ignore(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
) -> DataFrame:
    """ON CONFLICT DO NOTHING: rows of ``source`` whose key is absent
    from ``target``, appended to ``target``.

    Deterministic: the source batch is first key-deduped (keep-first by
    ``order_by``), then anti-joined against the target's keys. Returns
    the unioned frame; callers append-write the anti-join half in real
    sinks (sources/writers.py does exactly that).
    """
    fresh = dedupe_keep_first(source, keys, order_by)
    fresh = fresh.join(target.select(*keys).distinct(), on=list(keys), how="left_anti")
    return target.unionByName(fresh.select(*target.columns))


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-content dedup: keep the lowest-id row per content fingerprint.

    Adds ``fp`` (md5 of normalized text) and ``dup_count`` (group size).
    Single shuffle on the fingerprint — uniform distribution, no skew.
    """
    from linkmerce_spark.operators.minhash import _fanout

    # fanout: the regex-normalize + md5 map work otherwise runs at the
    # scan's parallelism (1 partition for a small file).
    with_fp = _fanout(df).withColumn("fp", fingerprint(text_col))
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    return (
        with_fp.withColumn("__rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Duplicate-CLUSTER resolution over a near-dup pair graph.

    Pair emitters (MinHash/LSH, embedding near-dups) produce edges; the
    dedup decision needs components — "keep one doc per duplicate
    cluster", where similarity is transitive through chains the pair
    list never states directly. This is iterative min-label propagation
    (the distributed connected-components standard): every node starts
    as its own label, each round takes the min label over neighbors,
    convergence in <= graph-diameter rounds. Returns (id, component)
    with component = min node id in the component.

    Scale notes: each round is ONE shuffle (edge join + groupBy min) —
    no driver-side graph; labels are checkpointed per round so lineage
    stays flat across iterations (the Pregel discipline); the
    convergence probe is a LIMIT-1 count. Near-dup graphs are
    short-diameter in practice (dup clusters are near-cliques), so
    rounds ~ 2-4; ``max_iterations`` bounds adversarial chains.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = memo.checkpoint(  # re-read every round; build once
        fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    # Right-size the iteration parallelism to the graph, not the
    # upstream scan: the pair graph is orders of magnitude smaller than
    # the corpus that emitted it, and every round re-maps the
    # checkpointed partitions — inheriting the corpus partition count
    # makes each of the ~diameter rounds pay full-width task overhead
    # for kilobytes of labels. The count is a cheap action over the
    # materialized checkpoint; at real scale (millions of edges per
    # 100k target) the repartition is skipped entirely.
    n_edges = edges.count()
    spark = edges.sparkSession
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    parts = max(1, min(int(prev_shuffle), n_edges // 100_000 + 1))
    if parts < edges.rdd.getNumPartitions():
        wide, edges = edges, memo.checkpoint(edges.repartition(parts, "src"))
        memo.release(wide)
    # The per-round checkpoint materialization path does not get AQE's
    # post-shuffle coalescing, so every exchange inside the loop would
    # keep the session-wide reducer count regardless of graph size.
    # Scope the shuffle-partition conf to the loop instead (restored in
    # finally); at real edge volumes parts == the session setting and
    # this is a no-op.
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        labels = memo.checkpoint(
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
        )
        for _ in range(max_iterations):
            prop = (
                edges.join(labels, edges.src == labels.id)
                .groupBy(F.col("dst").alias("__pid"))
                .agg(F.min("label").alias("__nbr_min"))
            )
            new_label = F.least(F.col("label"), F.coalesce("__nbr_min", "label"))
            # the change flag rides ALONG the update so the convergence
            # probe is a filter over the materialized checkpoint — no
            # extra join/shuffle per round.
            prev, labels = labels, memo.checkpoint(
                labels.join(prop, labels.id == F.col("__pid"), "left")
                .select(
                    "id",
                    new_label.alias("label"),
                    (new_label != F.col("label")).alias("__changed"),
                )
            )
            memo.release(prev)
            if labels.filter(F.col("__changed")).limit(1).count() == 0:
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
    memo.release(edges)
    return labels.select(F.col("id"), F.col("label").alias("component"))


def dedup_by_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep one representative per duplicate cluster (the min-id one).

    Rows never mentioned in ``pairs`` are singletons and pass through.
    The non-canonical member set is component-labeled ids with
    label != id — an anti-join drops them in one shuffle.
    """
    comps = connected_components(pairs, id_a, id_b)
    losers = comps.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
