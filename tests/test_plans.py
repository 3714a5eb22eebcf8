"""Physical-plan shape tests: performance as a correctness dimension.

At 100 TB a lost filter-pushdown or an un-broadcast dim join is a
bug; these tests pin the plan shapes the engine promises (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from linkmerce_spark.frames import load_star
from linkmerce_spark.plans import plan_shape
from linkmerce_spark.queries import q_star_join_revenue

SF_DIR = "/root/testdata/sf0.001"


def test_filter_and_projection_pushed_to_parquet_scan(spark):
    li = load_star(spark, SF_DIR, ["lineitem"])["lineitem"]
    df = li.filter(F.col("l_orderkey") == 7).select("l_orderkey", "l_quantity")
    (scan,) = plan_shape(df).scans
    assert "l_orderkey" in scan.pushed_filters, scan
    # Column pruning: the scan must read only the 2 projected columns.
    assert "l_quantity" in scan.read_schema and "l_extendedprice" not in scan.read_schema


def test_star_join_broadcasts_dims(spark):
    df = q_star_join_revenue(spark, SF_DIR)
    assert plan_shape(df).joins["bhj"] >= 1


def test_window_dedup_is_single_shuffle(spark):
    from linkmerce_spark.operators.dedup import dedupe_keep_first

    orders = load_star(spark, SF_DIR, ["orders"])["orders"]
    out = dedupe_keep_first(orders, ["o_custkey"], [F.col("o_orderdate").desc()])
    assert plan_shape(out).keyed_shuffles == 1


def test_mart_date_filter_reaches_scan(spark):
    from linkmerce_spark.marts import sales_daily

    df = sales_daily(spark, SF_DIR, "1996-01-01", "1996-03-31")
    scans = plan_shape(df).scans
    assert any("o_orderdate" in s.pushed_filters for s in scans), scans


def test_date_range_predicate_is_pushed(spark):
    from linkmerce_spark.relops import date_range_predicate

    orders = load_star(spark, SF_DIR, ["orders"])["orders"]
    pred = date_range_predicate(
        F.col("o_orderdate").cast("date"),
        [f"1996-03-{d:02d}" for d in range(1, 11)] + ["1996-06-01"],
    )
    (scan,) = plan_shape(orders.filter(pred)).scans
    # the collapsed BETWEEN/IN predicate must appear in the scan's data
    # filters (cast prevents parquet-level pushdown, but the filter is
    # evaluated at the scan, before any exchange)
    assert "1996-03-01" in scan.data_filters or "9556" in scan.data_filters, scan


def test_effective_dated_join_broadcasts_relation(spark):
    from linkmerce_spark.queries import q_effective_dated_campaign

    shape = plan_shape(q_effective_dated_campaign(spark, SF_DIR))
    assert shape.joins["bhj"] >= 1
    # final aggregate adds exactly one exchange on the group key
    assert shape.keyed_shuffles <= 2


def test_allocation_two_windows_one_shuffle(spark):
    from linkmerce_spark.queries import q_allocation_proportional

    df = q_allocation_proportional(spark, SF_DIR)
    # two window passes over the same partitioning must NOT re-shuffle:
    # shuffles = lineitem/orders join sides + (maybe) the window key
    assert plan_shape(df).keyed_shuffles <= 3


def test_minhash_signature_aggregates_map_side(spark):
    from linkmerce_spark.operators.minhash import minhash_signature

    docs = load_star(spark, SF_DIR, ["documents"])["documents"]
    shape = plan_shape(minhash_signature(docs, "text", "doc_id", 8, 3))
    # partial aggregation before the exchange: HashAggregate appears on
    # both sides (map-side combine keeps the shuffle at one row/doc)
    assert shape.nodes["HashAggregate"] >= 2, shape.nodes


def test_round4_marts_never_sort_merge_join(spark):
    """Every dim join in the round-4 mart family must broadcast — a
    SortMergeJoin against a VALUES/master dim is a plan regression."""
    from linkmerce_spark.queries import QUERIES

    # sales_target is excluded: its FULL OUTER target merge cannot
    # broadcast in Spark (unsupported join type) — the SMJ there runs
    # on the already-aggregated brand x shop grain, which is correct.
    for name in (
        "smartstore_sales_daily",
        "adreport_daily",
        "sabangnet_option_master",
        "google_ad_master",
        "dable_report_daily",
    ):
        assert plan_shape(QUERIES[name](spark, SF_DIR)).joins["smj"] == 0, name


def test_stock_cost_mom_shuffle_budget(spark):
    """Round-5 shuffle collapse: the month-end batch maxima are tiny
    broadcast aggregates (not full-table window sorts), the spine dedup
    is ONE distinct, and the monthly rollup is checkpointed for its
    three consumers.  Was 21 exchanges before the collapse; pin the
    budget so a regression (re-added window sorts / per-branch
    distincts) fails loudly."""
    from linkmerce_spark.queries import q_stock_cost_mom

    shape = plan_shape(q_stock_cost_mom(spark, SF_DIR))
    assert shape.keyed_shuffles <= 6, shape.shuffles


def test_sabangnet_option_master_single_master_chain(spark):
    """The product-master chain feeds two broadcast subtrees; the
    checkpoint must keep it out of the final plan (the plan sees the
    materialized RDD, not two copies of the chain)."""
    from linkmerce_spark.queries import q_sabangnet_option_master

    shape = plan_shape(q_sabangnet_option_master(spark, SF_DIR))
    # the chain's distinctive POWER(10)-scale crossJoin appears in the
    # checkpointed subtree only, so the final plan has no window over
    # opt_product_id left at all.
    assert shape.nodes["Scan ExistingRDD"] >= 1, shape.nodes


def test_decontam_benchmark_broadcasts(spark):
    """The benchmark n-gram set must broadcast: the corpus side never
    shuffles on content at any corpus size."""
    from linkmerce_spark.queries import q_doc_decontam

    assert plan_shape(q_doc_decontam(spark, SF_DIR)).joins["bhj"] >= 1


def test_stratified_sample_single_shuffle(spark):
    from linkmerce_spark.operators.sampling import stratified_topn

    docs = load_star(spark, SF_DIR, ["documents"])["documents"]
    out = stratified_topn(docs.withColumn("s", F.col("doc_id") % 3), "s", "doc_id", 5)
    assert plan_shape(out).keyed_shuffles == 1


def test_pack_plan_single_window_per_shard(spark):
    from linkmerce_spark.queries import q_doc_pack_plan

    # the shard window exchange only
    assert plan_shape(q_doc_pack_plan(spark, SF_DIR)).keyed_shuffles == 1


def test_sales_daily_timestamp_filter_pushed(spark):
    """The half-open payment_dt window must reach the scan as a pushed
    filter, not a post-scan Filter only."""
    from linkmerce_spark.queries import q_smartstore_sales_daily

    scans = plan_shape(q_smartstore_sales_daily(spark, SF_DIR)).scans
    # payment_dt derives from o_orderdate; the window's bounds on it
    # reach parquet as pushed filters
    assert any("o_orderdate" in s.pushed_filters for s in scans), scans


def test_option_upsert_single_shuffle_no_join(spark):
    """The fused dedup+merge (merge_deduped_tagged) plans exactly ONE
    exchange on the merge key and NO join node — the whole point of
    the rewrite (was 6 exchanges + a null-safe full-outer join)."""
    from linkmerce_spark.queries import q_sabangnet_option_upsert

    shape = plan_shape(q_sabangnet_option_upsert(spark, SF_DIR))
    assert shape.keyed_shuffles == 1
    assert sum(shape.joins.values()) == 0, shape.joins


def test_bloom_prefilter_fact_side_scan_stage(spark):
    """The bloom pre-filter must not shuffle or join the fact side:
    the bitset arrives as a broadcast 1-row array and probes are
    column expressions in the scan stage."""
    from linkmerce_spark.operators.bloom import bloom_semi_filter
    from linkmerce_spark.frames import load_star

    t = load_star(spark, SF_DIR, ["orders", "customer"])
    hot = t["customer"].filter(F.col("c_acctbal") > 5000).select("c_custkey")
    pre = bloom_semi_filter(t["orders"], hot, "o_custkey", keys_key="c_custkey")
    shape = plan_shape(pre)
    assert shape.shuffles["hash"] == 0, shape.exchanges
    assert shape.joins["bnlj"] >= 1  # the 1-row bitset attach


def test_r6_curation_ops_shuffle_budgets(spark):
    """Round-6 curation/layout ops: pin the exact static shuffle
    budgets that make them 100 TB-credible (gram/segment/token keys
    are hash-uniform; anything beyond the pinned count would mean a
    lost map-side combine or an accidental re-shuffle)."""
    from linkmerce_spark.queries import (
        q_compaction_plan,
        q_doc_bpe_pairs,
        q_doc_dup_spans,
        q_doc_line_dedup,
        q_doc_unigram_lm,
        q_zorder_extents,
    )

    budgets = {
        q_zorder_extents: 1,     # one groupBy on the z-bucket
        q_compaction_plan: 1,    # one groupBy on the partition key
        q_doc_unigram_lm: 2,     # tf agg + per-doc rollup
        q_doc_bpe_pairs: 2,      # vocab agg + pair agg (limit is local)
        q_doc_line_dedup: 2,     # seg-text window + doc rebuild
        q_doc_dup_spans: 3,      # gram occ agg + covered agg + base join
    }
    for fn, budget in budgets.items():
        got = plan_shape(fn(spark, SF_DIR)).keyed_shuffles
        assert got <= budget, (fn.__name__, got, budget)


def test_r6_curation_ops_no_pathological_joins(spark):
    """None of the round-6 ops may plan a BroadcastNestedLoopJoin or
    CartesianProduct — the blowup shapes that static range/inequality
    joins degenerate to."""
    from linkmerce_spark.queries import (
        q_doc_incremental_dedup,
        q_doc_line_dedup,
        q_doc_dup_spans,
    )

    for fn in (q_doc_incremental_dedup, q_doc_line_dedup, q_doc_dup_spans):
        joins = plan_shape(fn(spark, SF_DIR)).joins
        assert joins["bnlj"] == joins["cartesian"] == 0, fn.__name__


def test_incremental_dedup_index_side_is_narrow(spark):
    """The index side of the incremental band join must flow only
    (id, band_id, band_key) — never text/shingles — so its cost is
    independent of document size."""
    from linkmerce_spark.operators.incdedup import band_keys
    from linkmerce_spark.operators.minhash import minhash_sigs

    docs = spark.createDataFrame(
        [(1, "one two three four five six")], "doc_id long, text string"
    )
    idx = band_keys(minhash_sigs(docs, "text", "doc_id"))
    assert set(idx.columns) == {"doc_id", "band_id", "band_key"}
    # sigs-only path plans exactly ONE shuffle (the per-doc hash-min agg)
    assert plan_shape(minhash_sigs(docs, "text", "doc_id")).keyed_shuffles <= 2


def test_core_sales_daily_never_sort_merge_join(spark):
    """Round-6: the brand-day shop lookup is broadcast (it is a strict
    subset of the broadcast product master's grain) — a SortMergeJoin
    reappearing in either ad channel is a plan regression."""
    from linkmerce_spark.queries import QUERIES

    assert plan_shape(QUERIES["core_sales_daily"](spark, SF_DIR)).joins["smj"] == 0


def test_cell_pair_cosines_single_shuffle_no_join(spark):
    """The in-cell matmul scorer plans ONE exchange (the cell key for
    applyInPandas) and no join node at all — the pair volume never
    materializes as rows before the kernel."""
    from linkmerce_spark.queries import QUERIES

    shape = plan_shape(QUERIES["embedding_near_dups"](spark, SF_DIR))
    assert shape.nodes["FlatMapGroupsInPandas"] >= 1
    assert sum(shape.joins.values()) == 0, shape.joins
    assert shape.shuffles == {"range": 1}, shape.exchanges  # the cell shuffle
    assert shape.broadcasts == shape.reused == 0


def test_doc_curation_e2e_composes_without_plan_blowup(spark):
    """Round-7 capstone: nine curation stages composed end-to-end must
    stay plan-bounded. The three lineage checkpoints (clean / corpus /
    surv) truncate re-references, so the FINAL plan is a handful of
    exchanges over leaf scans — not a re-expansion of the whole
    pipeline per diamond edge. Budget: <=200 plan nodes; exactly two hash
    shuffles, one single-partition shuffle and two broadcasts; no
    SortMergeJoin, no CartesianProduct; the one BroadcastNestedLoopJoin
    allowed is the 1-row mixture-totals crossJoin (same as
    embedding_cluster_stats)."""
    from linkmerce_spark.queries import QUERIES

    df = QUERIES["doc_curation_e2e"](spark, SF_DIR)
    shape = plan_shape(df)
    assert sum(shape.nodes.values()) <= 200, f"plan blowup: {shape.nodes}"
    assert shape.shuffles == {"hash": 2, "single": 1}, shape.exchanges
    assert shape.broadcasts == 2 and shape.reused == 0, shape.exchanges
    joins = shape.joins
    assert joins["smj"] == joins["cartesian"] == 0
    assert joins["bnlj"] <= 1
    # and it returns the packed-plan schema
    assert set(df.columns) == {
        "doc_id", "source", "split", "n_tokens",
        "tokens_before", "pack_id", "pack_offset",
    }


def test_sq8_roundtrip_all_joins_broadcast(spark):
    """Round-9 capstone: the storage->prefilter->rerank->audit chain
    must never SortMergeJoin — stats are 64 rows, survivors are Q*M,
    exact5 is Q*5, so every join builds a broadcast side. The only
    nested-loop joins allowed are the two broadcast query-set passes
    (the != predicate on the prefilter and the exact audit leg),
    exactly q_embedding_topk's adjudicated shape."""
    from linkmerce_spark.queries import QUERIES

    joins = plan_shape(QUERIES["embedding_sq8_roundtrip"](spark, SF_DIR)).joins
    assert joins["smj"] == joins["cartesian"] == 0
    assert joins["bnlj"] <= 2
