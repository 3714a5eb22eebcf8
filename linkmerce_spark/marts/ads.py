"""Ads insight mart: effective-dated bundle relations -> report join ->
equal-weight integer allocation over exploded bundles.

Parity targets (semantics, not code):
- ``ranged_bundle_relation`` ~ relation__ad_id_to_ranged_sbn_ids
  (dbt_postgres/models/intermediate/relation/
  relation__ad_id_to_ranged_sbn_ids.sql:19-99): relations containing a
  pivot product split into pre/post effective-dated rows; the post row
  rewrites the bundle (whole-bundle special case -> expansion list,
  otherwise pivot removed, NULLIF('') on empty).
- ``insight_daily`` ~ searchad__insight_daily (dbt_postgres/models/
  intermediate/ads/searchad/searchad__insight_daily.sql:64-235):
  report LEFT JOIN ad/adgroup dims, THREE effective-dated relation
  joins (campaign/adgroup/ad levels) + product-level ranges + account
  fallback resolved by one COALESCE priority chain (:68-77), the
  pre-pivot cost uplift ROUND(cost*1.1) (:84-88), ANY_VALUE aggregation
  to the (ymd, campaign, ad, device) grain (:171-193), then LATERAL
  unnest WITH ORDINALITY + renewal remap + DIV/MOD equal-weight integer
  allocation where the FIRST bundle element takes the remainder
  (:195-232).

Scale notes
-----------
- Relations, dims, accounts and the renewal map are broadcast: the only
  shuffles are the report rollup (upstream) and the final grain groupBy.
- The interval joins are equi-key + date-between on broadcast frames —
  no range-partitioned shuffle needed at any fact size.
- Allocation is pure integer arithmetic on exploded rows (codegen);
  explode fan-out is bounded by bundle size.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from linkmerce_spark.operators.rangejoin import effective_dated_join

__all__ = [
    "ranged_bundle_relation",
    "insight_daily",
    "dable_report_daily",
    "FALLBACK_BUNDLE",
]

FALLBACK_BUNDLE = "200000"  # searchad__insight_daily.sql:76 catch-all bucket

_MEASURES = [
    "impression_count",
    "click_count",
    "ad_cost",
    "ad_rank_sum",
    "conv_count",
    "direct_conv_count",
    "conv_amount",
    "direct_conv_amount",
]


def ranged_bundle_relation(
    rel: DataFrame,
    pivot_product: str,
    expansion: str,
    pre_end: str,
    post_start: str,
    default_start: str = "2000-01-01",
    default_end: str = "2999-12-31",
) -> DataFrame:
    """Effective-date a flat bundle relation around a pivot product.

    Rows whose CSV bundle contains ``pivot_product`` become TWO ranged
    rows: the original bundle through ``pre_end``, and from
    ``post_start`` a rewritten bundle — the pivot-only bundle expands to
    ``expansion``, otherwise the pivot is dropped (NULL if nothing
    remains). All other rows get the open-ended default range.

    EXISTS-over-unnest -> array_contains; the filtered string_agg ->
    array_join(filter(...)) — set semantics identical, single pass,
    whole-stage codegen.
    """
    arr = F.split(F.col("bundle_product_ids"), ",")
    has_pivot = F.array_contains(arr, pivot_product)
    d_start = F.lit(default_start).cast("date")
    d_end = F.lit(default_end).cast("date")

    default_rows = rel.filter(~has_pivot).select(
        "*", d_start.alias("start_date"), d_end.alias("end_date")
    )
    pre_rows = rel.filter(has_pivot).select(
        "*",
        d_start.alias("start_date"),
        F.lit(pre_end).cast("date").alias("end_date"),
    )
    rewritten = F.when(
        F.col("bundle_product_ids") == pivot_product, F.lit(expansion)
    ).otherwise(
        F.nullif(
            F.array_join(F.filter(arr, lambda x: x != pivot_product), ","),
            F.lit(""),
        )
    )
    # Key columns pass through untouched — the same split applies to the
    # ad-level relation (ad_id, ad_level, platform_name) and the
    # smartstore product relation (product_id), cf.
    # relation__smt_prd_to_ranged_sbn_ids.sql:10-77 (identical idiom).
    passthrough = [c for c in rel.columns if c != "bundle_product_ids"]
    post_rows = rel.filter(has_pivot).select(
        *passthrough,
        rewritten.alias("bundle_product_ids"),
        F.lit(post_start).cast("date").alias("start_date"),
        d_end.alias("end_date"),
    )
    out = default_rows.unionByName(pre_rows).unionByName(post_rows)
    return out.filter(F.col("start_date") <= F.col("end_date"))


def _level(rel: DataFrame, level: int, key: str, out: str) -> DataFrame:
    return rel.filter(F.col("ad_level") == level).select(
        F.col("ad_id").alias(key),
        F.col("bundle_product_ids").alias(out),
        "start_date",
        "end_date",
    )


def _alloc(measure: str) -> Column:
    # DIV(x, n) + first-element remainder (searchad__insight_daily.sql:
    # 199-218; WITH ORDINALITY is 1-based, posexplode 0-based).
    return (
        F.expr(f"{measure} DIV bundle_product_count")
        + F.when(
            F.col("bundle_product_offset") == 0,
            F.col(measure) % F.col("bundle_product_count"),
        ).otherwise(F.lit(0))
    ).alias(measure)


def insight_daily(
    report: DataFrame,
    ad_dim: DataFrame,
    adgroup_dim: DataFrame,
    ranged_rel: DataFrame,
    product_rel: DataFrame,
    account: DataFrame,
    renewal: DataFrame,
    cost_uplift_before: str,
    platform_name: str | None = None,
) -> DataFrame:
    """Daily per-product ad insight with equal-weight allocation.

    ``report`` is the advanced_report grain (ad_id, customer_id,
    media_code, pc_mobile_type, 8 measures, ymd). Dim/relation frames
    are broadcast-joined; bundle resolution follows the reference's
    COALESCE priority: product range > ad > adgroup > campaign > brand
    range > account brand > '200000'.
    """
    rel = ranged_rel
    if platform_name is not None:
        rel = rel.filter(F.col("platform_name") == platform_name)

    fact = report.join(broadcast(ad_dim), "ad_id", "left").join(
        broadcast(adgroup_dim), "adgroup_id", "left"
    )
    fact = effective_dated_join(
        fact, _level(rel, 0, "campaign_id", "bundle_cmp"), ["campaign_id"], "ymd"
    )
    fact = effective_dated_join(
        fact, _level(rel, 1, "adgroup_id", "bundle_grp"), ["adgroup_id"], "ymd"
    )
    fact = effective_dated_join(
        fact, _level(rel, 2, "ad_id", "bundle_ad"), ["ad_id"], "ymd"
    )
    prd = product_rel.filter(~F.col("bundle_product_ids").startswith("2")).select(
        "product_id",
        F.col("bundle_product_ids").alias("bundle_prd"),
        "start_date",
        "end_date",
    )
    brd = product_rel.filter(F.col("bundle_product_ids").startswith("2")).select(
        "product_id",
        F.col("bundle_product_ids").alias("bundle_brd"),
        "start_date",
        "end_date",
    )
    fact = effective_dated_join(fact, prd, ["product_id"], "ymd")
    fact = effective_dated_join(fact, brd, ["product_id"], "ymd")
    fact = fact.join(broadcast(account), "customer_id", "left")

    bundle = F.coalesce(
        "bundle_prd",
        "bundle_ad",
        "bundle_grp",
        "bundle_cmp",
        "bundle_brd",
        "bundle_brand_ids",
        F.lit(FALLBACK_BUNDLE),
    )
    # Pre-pivot VAT uplift, exact decimal half-up (models :84-88).
    cost = F.when(
        F.col("ymd") < F.lit(cost_uplift_before).cast("date"),
        F.round(
            F.col("ad_cost").cast("decimal(18,1)") * F.lit("1.1").cast("decimal(2,1)"),
            0,
        ).cast("long"),
    ).otherwise(F.col("ad_cost"))

    # ANY_VALUE in the reference — the bundle is functionally
    # dependent on the grain; MIN makes that deterministic in every
    # engine (equal values -> same result). Two-level rollup keeps the
    # fact-sized pass hash-aggregated (see _grain_rollup).
    grain = _grain_rollup(
        fact.withColumn("device_type", F.col("pc_mobile_type"))
        .withColumn("ad_cost", cost)
        .withColumn("__bundle", bundle),
        ["ymd", "campaign_id", "ad_id", "device_type"],
        "__bundle",
        _MEASURES,
    )

    return _explode_renewed(grain, renewal).select(
        "campaign_id",
        "ad_id",
        "device_type",
        F.col("final_product_id").alias("product_id"),
        *[_alloc(m) for m in _MEASURES],
        "ymd",
    )


def _explode_renewed(grain: DataFrame, renewal: DataFrame) -> DataFrame:
    """One row per bundle element (with its offset and the bundle
    size), the product id renewal-remapped: a renewed product's new id
    maps back to its old id on days before the renewal."""
    exploded = grain.select(
        "*",
        F.posexplode(F.split("bundle_product_ids", ",")).alias(
            "bundle_product_offset", "bundle_product_id"
        ),
    ).withColumn("bundle_product_count", F.size(F.split("bundle_product_ids", ",")))
    return exploded.join(
        broadcast(renewal),
        (F.col("bundle_product_id") == F.col("product_id_new"))
        & (F.col("ymd") < F.col("renewal_date")),
        "left",
    ).withColumn(
        "final_product_id", F.coalesce("product_id_old", "bundle_product_id")
    )


_DABLE_MEASURES = [
    "expose_count",
    "impression_count",
    "click_count",
    "ad_cost",
    "conv_count",
]


def _grain_rollup(
    df: DataFrame,
    keys: Sequence[str],
    bundle_col: str,
    measures: Sequence[str],
    out_bundle: str = "bundle_product_ids",
) -> DataFrame:
    """Grain rollup with a string MIN, kept hash-based on the fact pass.

    MIN over a string column is not hash-aggregatable (string
    aggregation buffers force the whole aggregate into a two-pass
    SortAggregate), so ``GROUP BY keys AGG MIN(bundle), SUM(...)``
    sorts the entire fact input before AND after the exchange. Level 1
    hash-aggregates the measures with the bundle as an extra group key
    (partial aggregation still reduces pre-shuffle bytes; the key is
    wider by one functionally-light column); level 2 computes the
    string MIN plus final SUMs over the grain-sized intermediate, so
    the only sort left runs on already-reduced rows. SUM of per-group
    SUMs == SUM and MIN over the distinct values == MIN (NULL bundles
    group separately and MIN skips NULLs either way), so the result is
    identical for arbitrary input — no functional-dependency
    assumption needed.
    """
    lvl1 = df.groupBy(*keys, bundle_col).agg(
        *[F.sum(m).alias(m) for m in measures]
    )
    return lvl1.groupBy(*keys).agg(
        F.min(bundle_col).alias(out_bundle),
        *[F.sum(m).alias(m) for m in measures],
    )


def dable_report_daily(
    report: DataFrame,
    ranged_rel: DataFrame,
    renewal: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """dable__report_daily (dbt_postgres/models/intermediate/ads/
    dable__report_daily.sql:14-93): effective-dated campaign-level
    bundle attach (platform pre-filtered by the caller), ANY_VALUE
    pre-rollup at (ymd, campaign), ordinality explode with the renewal
    remap, and the DIV/MOD equal split with the offset-0 remainder.

    Scale notes: the relation/renewal dims broadcast (interval join on
    a broadcast frame, no range shuffle); one rollup shuffle at
    (ymd, campaign); the allocation is pure integer arithmetic.
    """
    rel = ranged_rel.select(
        F.col("ad_id").alias("campaign_id"),
        "bundle_product_ids",
        "start_date",
        "end_date",
    )
    fact = report.filter(
        F.col("ymd").between(
            F.lit(start_date).cast("date"), F.lit(end_date).cast("date")
        )
    )
    fact = effective_dated_join(
        fact,
        rel.withColumnRenamed("bundle_product_ids", "__bundle"),
        ["campaign_id"],
        "ymd",
    )
    # ANY_VALUE pinned as MIN; two-level rollup keeps the fact-sized
    # pass hash-aggregated (see _grain_rollup).
    grain = _grain_rollup(
        fact.withColumn("__b", F.coalesce("__bundle", F.lit(FALLBACK_BUNDLE))),
        ["ymd", "campaign_id"],
        "__b",
        _DABLE_MEASURES,
    )
    return _explode_renewed(grain, renewal).select(
        "campaign_id",
        F.col("final_product_id").alias("product_id"),
        *[_alloc(m) for m in _DABLE_MEASURES],
        "ymd",
    )
