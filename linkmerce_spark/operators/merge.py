"""MERGE/upsert as a full-outer-join rewrite with the reference's
column-strategy vocabulary.

The reference composes MERGE statements from a 6-verb per-column rule
set — ``replace / ignore / greatest / least / source_first /
target_first`` plus row-level ``:replace_all:`` / ``:do_nothing:`` /
``:insert_all:`` (extensions/postgres.py:554-597,
extensions/bigquery.py:441-487; upsert example
core/smartstore/api/order/models.sql:189-200:
``SET c = COALESCE(EXCLUDED.c, c), first = LEAST(...), last =
GREATEST(...)``).

Without a transactional table format, MERGE over files = full-outer
join target vs source on the key and per-column resolution. That is
exactly one shuffle of each side on the merge key — the same physical
cost a Delta MERGE pays — and it is deterministic because the source is
key-deduped first.

Scale notes: both sides shuffle on the key; AQE handles skew. When the
source is a small incremental batch and the target is partition-pruned,
Spark broadcasts the source side automatically (or hint via
``broadcast(source)`` at the call site).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Window

from linkmerce_spark.operators.dedup import dedupe_keep_first

__all__ = ["merge_frames", "merge_deduped", "merge_deduped_tagged", "MATCHED_VERBS"]

MATCHED_VERBS = ("replace", "ignore", "greatest", "least", "source_first", "target_first")
NOT_MATCHED_VERBS = ("insert_all", "do_nothing")


def _resolve(verb: str, tgt: Column, src: Column) -> Column:
    if verb == "replace":
        return src
    if verb == "ignore":
        return tgt
    if verb == "greatest":
        # SQL GREATEST ignores NULLs (null-tolerant max of the pair).
        return F.greatest(tgt, src)
    if verb == "least":
        return F.least(tgt, src)
    if verb == "source_first":
        return F.coalesce(src, tgt)
    if verb == "target_first":
        return F.coalesce(tgt, src)
    raise ValueError(f"unknown merge verb {verb!r}; expected one of {MATCHED_VERBS}")


def _merged_cols(
    data_cols: Sequence[str],
    sides: Callable[[str], tuple[Column, Column | None]],
    has_t: Column,
    has_s: Column,
    matched: Mapping[str, str] | str,
    not_matched: str,
) -> list[Column]:
    """The merged value of each data column. ``sides(c)`` gives the
    column's (target, source) values; a source value of ``None`` means
    the source batch doesn't carry the column, which behaves as
    'ignore' (SQL MERGE cannot even reference it): matched rows KEEP
    their target value. Substituting a source NULL would make
    'replace'/'replace_all' silently wipe existing data on every
    routine partial-column upsert."""
    if not_matched not in NOT_MATCHED_VERBS:
        raise ValueError(
            f"unknown not_matched {not_matched!r}; expected one of {NOT_MATCHED_VERBS}"
        )
    insert_new = not_matched == "insert_all"
    out: list[Column] = []
    for c in data_cols:
        if matched == "replace_all":
            verb = "replace"
        elif matched == "do_nothing":
            verb = "ignore"
        elif isinstance(matched, str):
            verb = matched
        else:
            verb = matched.get(c, "ignore")
        tgt, src = sides(c)
        if src is None:
            verb, src = "ignore", F.lit(None)
        out.append(
            F.when(has_t & has_s, _resolve(verb, tgt, src))
            .when(has_t & ~has_s, tgt)
            .when(~has_t & has_s, src if insert_new else F.lit(None))
            .alias(c)
        )
    return out


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    matched: Mapping[str, str] | str = "source_first",
    not_matched: str = "insert_all",
    source_order: Sequence[Column | str] | None = None,
) -> DataFrame:
    """Upsert ``source`` into ``target`` on ``keys``.

    Parameters
    ----------
    matched:
        Per-column verb map (missing columns default to ``ignore``), or
        a single verb applied to every non-key column, or the row-level
        strategies ``"replace_all"`` / ``"do_nothing"``.
    not_matched:
        ``"insert_all"`` (insert new keys) or ``"do_nothing"``; any
        other value raises ``ValueError``.
    source_order:
        Deterministic keep-first order for deduping the source batch on
        the merge key before joining (PK semantics).
    """
    src = dedupe_keep_first(source, keys, source_order)
    data_cols = [c for c in target.columns if c not in keys]

    # Row membership flags as guaranteed-non-null markers (eqNullSafe
    # keeps NULL join keys mergeable, so key-null tests can't be used).
    t = target.withColumn("__t", F.lit(1)).alias("t")
    s = src.withColumn("__s", F.lit(1)).alias("s")
    joined = t.join(s, [t[k].eqNullSafe(s[k]) for k in keys], "full_outer")
    has_t = F.col("t.__t").isNotNull()
    has_s = F.col("s.__s").isNotNull()

    out_cols = [F.coalesce(t[k], s[k]).alias(k) for k in keys] + _merged_cols(
        data_cols,
        lambda c: (t[c], s[c] if c in src.columns else None),
        has_t,
        has_s,
        matched,
        not_matched,
    )
    if not_matched == "do_nothing":
        # Drop the source-only rows entirely.
        joined = joined.filter(has_t)
    return joined.select(*out_cols).drop("__t", "__s")


def merge_deduped(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    matched: Mapping[str, str] | str = "source_first",
    not_matched: str = "insert_all",
) -> DataFrame:
    """Dedupe BOTH batches keep-first by ``order_by``, then merge
    ``source`` into ``target`` — fused into a SINGLE key shuffle.

    Semantically identical to::

        merge_frames(dedupe_keep_first(target, keys, order_by),
                     dedupe_keep_first(source, keys, order_by),
                     keys, matched, not_matched)

    but executed with no join node at all: union both batches with a
    side tag, repartition ONCE on the merge key, window-dedup per
    (key, side) — ``hashpartitioning(keys)`` already satisfies the
    window's ``(keys, side)`` clustering, so no second exchange — and
    resolve the verbs in a ``groupBy(keys)`` that reuses the same
    partitioning. The plain path costs 3 exchanges per side (distinct,
    window, null-safe join repartition); this costs one total, which
    is the difference between one and six data-sized shuffles at
    100 TB. NULL merge keys group null-safely exactly like the
    ``eqNullSafe`` join.

    Reference semantics: the QUALIFY-at-INSERT dedup + ON CONFLICT
    upsert pair (core/sabangnet/admin/order/models.sql:162-198).
    """
    u = (
        target.withColumn("__side", F.lit(0))
        .unionByName(source.select(*target.columns).withColumn("__side", F.lit(1)))
    )
    return merge_deduped_tagged(u, keys, order_by, matched, not_matched)


def merge_deduped_tagged(
    tagged: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    matched: Mapping[str, str] | str = "source_first",
    not_matched: str = "insert_all",
) -> DataFrame:
    """``merge_deduped`` over a pre-built tagged frame: ``tagged``
    carries a ``__side`` column (0 = target batch, 1 = source batch).
    Lets a caller whose two batches partition ONE scan (e.g. a mod-2
    split of the same feed) avoid the second scan a union would plan.
    """
    if not order_by:
        raise ValueError("merge_deduped requires a deterministic order_by")
    data_cols = [c for c in tagged.columns if c not in keys and c != "__side"]

    u = tagged.repartition(*[F.col(k) for k in keys])
    w = Window.partitionBy(*list(keys), "__side").orderBy(*order_by)
    u = u.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)

    def side_val(c: str, side: int) -> Column:
        # <=1 row per (key, side) after the dedup, so MAX(CASE WHEN) is
        # exactly "that side's value (or NULL)".
        return F.max(F.when(F.col("__side") == side, F.col(c)))

    aggs: list[Column] = [
        F.max(F.when(F.col("__side") == 0, F.lit(1))).alias("__t"),
        F.max(F.when(F.col("__side") == 1, F.lit(1))).alias("__s"),
    ]
    for c in data_cols:
        aggs.append(side_val(c, 0).alias(f"__t_{c}"))
        aggs.append(side_val(c, 1).alias(f"__s_{c}"))
    grouped = u.groupBy(*keys).agg(*aggs)

    has_t = F.col("__t").isNotNull()
    has_s = F.col("__s").isNotNull()
    out_cols = [F.col(k) for k in keys] + _merged_cols(
        data_cols,
        lambda c: (F.col(f"__t_{c}"), F.col(f"__s_{c}")),
        has_t,
        has_s,
        matched,
        not_matched,
    )
    if not_matched == "do_nothing":
        grouped = grouped.filter(has_t)
    return grouped.select(*out_cols)
