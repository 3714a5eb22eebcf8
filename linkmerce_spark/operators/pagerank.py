"""Fixed-iteration weighted PageRank (domain-authority scoring).

Link-graph authority is a standard corpus-curation signal: Common
Crawl pipelines weight domains by a centrality score before sampling
(harmonic/PageRank centrality — Brin & Page 1998). This module
implements the power-iteration form with a FIXED iteration count.

- The loop is unrolled into the plan, not driven from Python — each
  iteration is [join ranks onto the edge list -> sum contributions per
  destination -> blend with the teleport term], so the whole
  ``n_iter``-round computation is ONE lazy job with a linear chain of
  ``n_iter`` joins. Build time runs only the bounded setup (edge-list
  checkpoint + the |V| count that folds 1/n into literals); the
  iteration itself executes at first action. Per-iteration cost at
  scale is one shuffle over the EDGE list (nodes-sized agg
  piggybacks) — the Pregel cost model without the Pregel machinery,
  appropriate because the iteration count is a constant, not
  convergence-driven. Safe for page-scale graphs: nothing nodes-sized
  ever reaches the driver.
- determinism across engines: double SUM order is shuffle-dependent,
  so each edge's contribution ``(w/out) * r`` is quantized to int64 at
  scale 1e15 (``floor(x*1e15 + 0.5)``) and summed EXACTLY; the
  per-round blend is then a fixed sequence of scalar IEEE ops on
  identical operands — ranks are bit-identical on any engine or
  partitioning, which is what lets a SQL twin unroll the same rounds.

Reference behavioral parity: the reference has no graph layer; this
extends the curation suite (domain mixture weights, group splits)
with the authority signal those ops consume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkmerce_spark import memo
from linkmerce_spark.functions.text import gram_hash, gram_starts

__all__ = [
    "pagerank",
    "shared_gram_edges",
]

_QUANT = 1_000_000_000_000_000.0  # 1e15: exact in double; sums fit int64


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    node: str = "node",
    n_iter: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank after exactly ``n_iter`` power iterations.

    ``edges``: directed (src, dst, weight>0); ``nodes``: the full node
    universe (isolated nodes keep the teleport-only rank), and a
    PRECONDITION: every edge endpoint must appear in ``nodes`` — an
    endpoint outside the universe is undefined behavior (not
    validated, because the check would cost an edges-sized join per
    call). Dangling nodes (in ``nodes`` but with no out-edges) simply
    contribute nothing — the standard "teleport absorbs dangling mass"
    simplification; on a symmetric edge list there are none.

    Returns a LAZY frame of (node, out_w, pagerank): total out-weight
    (0 for isolated nodes) and the final rank. The ``n_iter`` rounds
    are unrolled into one plan of chained joins over the checkpointed
    edge list; nothing nodes-sized reaches the driver.
    """
    if n_iter <= 0:
        raise ValueError("n_iter must be positive")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    omd = 1.0 - damping  # the Python float, mirrored verbatim in twins
    # Per-src out-weight via a window, NOT a self-join: a join of
    # ``edges`` against ``edges.groupBy(src)`` evaluates the caller's
    # edge-producing pipeline TWICE before the checkpoint can help
    # (measured ~2x the whole query when edges come from the gram
    # pipeline). The window evaluates it once, and its partitionBy is
    # the src-hash layout the iteration joins want: LogicalRDD
    # preserves the physical output partitioning through the
    # checkpoint, so every round's rank join needs NO edge-side
    # exchange — each iteration shuffles only the nodes-sized rank
    # frame onto the edges' layout.
    from pyspark.sql import Window

    e = edges.select(
        F.col(src).alias("__esrc"),
        F.col(dst).alias("__edst"),
        F.col(weight).cast("bigint").alias("__w"),
        F.sum(weight)
        .over(Window.partitionBy(src))
        .cast("bigint")
        .alias("__out_w"),
    ).transform(memo.checkpoint)  # re-read by every iteration
    # Nodes-sized (src, out_w) for the final output join — read off
    # the checkpoint (already src-partitioned: zero-exchange agg).
    out_w = e.groupBy(F.col("__esrc").alias("__src")).agg(
        F.max("__out_w").alias("__out_w")
    )
    verts = memo.checkpoint(nodes.select(F.col(node).alias("__node")).distinct())
    # |V| reaches the driver as ONE scalar (the sanctioned k-sized
    # collect) — folding 1/n into literals keeps every iteration free
    # of the 1-row crossJoin a column-borne n would need, and the
    # Python IEEE divisions below are bit-identical to the SQL twin's
    # (same operands, correctly rounded).
    n = verts.count()
    if n == 0:
        raise ValueError("nodes must be non-empty")
    # One exchange per round: [join ranks onto edges (edge side
    # pre-partitioned — no edge exchange) -> union the zero-contribution
    # row for EVERY node (keeps isolated/dangling nodes without a blend
    # left-join) -> one aggregate that sums the exact int64 quanta and
    # applies the teleport blend map-side of nothing — the agg IS the
    # blend]. Arithmetic is identical to the two-join form: sum
    # includes an exact 0, then the same scalar IEEE ops.
    zero = verts.select(
        F.col("__node").alias("__edst"), F.lit(0).cast("bigint").alias("__c")
    )
    ranks = verts.select("__node", F.lit(1.0 / float(n)).alias("__r"))
    for _ in range(n_iter):
        contrib = e.join(ranks, e.__esrc == ranks.__node).select(
            "__edst",
            F.floor(
                (
                    F.col("__w").cast("double")
                    / F.col("__out_w").cast("double")
                )
                * F.col("__r")
                * F.lit(_QUANT)
                + F.lit(0.5)
            ).cast("bigint").alias("__c"),
        )
        ranks = (
            contrib.unionByName(zero)
            .groupBy("__edst")
            .agg(
                (
                    F.lit(omd / float(n))
                    + F.lit(damping)
                    * (F.sum("__c").cast("double") / F.lit(_QUANT))
                ).alias("__r")
            )
            .withColumnRenamed("__edst", "__node")
        )
    return ranks.join(out_w, ranks.__node == out_w.__src, "left").select(
        F.col("__node").alias(node),
        F.coalesce("__out_w", F.lit(0)).cast("bigint").alias("out_w"),
        F.col("__r").alias("pagerank"),
    )


def shared_gram_edges(
    df: DataFrame,
    text_col: str,
    group_col: str,
    n: int = 8,
    min_groups: int = 2,
    max_groups: int = 4,
) -> DataFrame:
    """Copy-graph edges between document groups (sources/domains).

    Two groups are linked when they share a word ``n``-gram that
    appears in ``min_groups..max_groups`` DISTINCT groups — shared
    enough to witness copying, bounded enough to exclude boilerplate
    (the same frequency-cap discipline as the rare-gram screen and
    dup-span coverage: the cap bounds the per-gram pair fan-out, so
    the self-join cannot quadratically blow up on a stop-gram).
    Edge weight = number of distinct shared kept grams; the list is
    symmetric by construction (both directions emitted). NULL-group
    rows are DROPPED up front (a NULL source can neither be a graph
    node nor count toward a gram's distinct-group cap) — the pinned
    policy for both this formulation and the pre-r10 distinct+count
    one, and the same NULL treatment the SQL twin's COUNT(DISTINCT)
    applies.

    Shuffles: exactly TWO — one gram-keyed set aggregation (map-side
    partial dedup, then ``collect_set`` of the gram's group list) and
    the pair rollup. The per-gram pair fan-out comes from a double
    ``explode`` of the group set, NOT a gram-keyed self-join — no join
    in the plan at all. The aggregation buffer per gram is bounded by
    the GROUP universe (sources/domains), never the corpus, and
    stop-grams shared by every domain collect one domain-count-sized
    set before the ``min_groups..max_groups`` filter drops them (at 1M domains that is an 8 MB aggregation row — fine;
    a PAGE-level group column would need the join-based formulation
    this replaced, see git history).
    """
    if min_groups < 2 or max_groups < min_groups:
        raise ValueError("need 2 <= min_groups <= max_groups")
    from linkmerce_spark.frames import widen_scan

    df = widen_scan(df.where(F.col(group_col).isNotNull()))
    # the gram explode behind this scan is ~50x the input bytes
    words = F.split(F.col(text_col), " ")
    grams = df.select(
        F.col(group_col).alias("__g"),
        F.explode(gram_starts(words, n)).alias("__pos"),
        words.alias("__w"),
    ).select(
        "__g",
        gram_hash(F.col("__w"), F.col("__pos"), n).alias("__gram"),
    )
    # Pre-shuffle on the gram key so the set aggregation runs ONCE on
    # co-located rows: a groupBy straight off the explode plans a
    # map-side partial collect_set, but grams rarely repeat within a
    # map partition, so the partial phase just serializes millions of
    # single-element sets into the shuffle (measured ~2x the whole
    # aggregation at sf1). Shuffling the raw 16-byte (gram, group)
    # rows instead scales linearly and the object-hash aggregate is
    # built once per reduce partition. The explicit HashPartitioning
    # satisfies the aggregate's required distribution, so the plan
    # keeps exactly ONE exchange here. The partition count is PINNED
    # (2x parallelism): an un-numbered repartition is eligible for
    # AQE coalescing, which sizes by shuffle BYTES — tiny here while
    # the set-build is CPU-heavy — and serialized the whole aggregate
    # onto one core (measured 3x the stage at sf1).
    per_gram = (
        grams.repartition(
            2 * df.sparkSession.sparkContext.defaultParallelism, "__gram"
        )
        .groupBy("__gram")
        .agg(F.collect_set("__g").alias("__gs"))
        .where(
            (F.size("__gs") >= min_groups) & (F.size("__gs") <= max_groups)
        )
    )
    return (
        per_gram.select(F.explode("__gs").alias("src"), "__gs")
        .select("src", F.explode("__gs").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
    )
