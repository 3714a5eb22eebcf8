"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs every catalog query (or only the NAMEs given) on
local[$SPARK_GRAFT_CPUS], times each, and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Usage: python bench.py [NAME...]

Action = SUM(xxhash64(*all output columns)) collected as one row — the
FULL result is computed and reduced engine-side, no driver collect of
payload. Rounds 1-8 used ``df.count()``, which is not a full
evaluation: Catalyst prunes unreferenced projection work under a
count, and (the subtle half) column pruning through Aggregate drops
every aggregate expression no one reads — a count over a groupBy
executes the grouping but skips the sums/avgs being grouped. The
DuckDB yardstick's ``fetchall()`` computes everything, so the old
action under-measured the Spark side catalog-wide; rounds <= 8 pair
totals are NOT comparable to round >= 9 numbers (the round-9 ledger
re-ran both sides under the fixed action). The hash reduce is the
cluster-realistic full evaluation: every expression is computed,
every row feeds the reduction, one 8-byte row reaches the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from linkmerce_spark import memo  # noqa: E402
from linkmerce_spark.queries import QUERIES  # noqa: E402


def full_eval(df) -> None:
    """Force FULL evaluation of every output column: one xxhash64 over
    all columns (map-typed columns via their JSON form — hash of
    MapType is unsupported), summed engine-side, 1 row collected."""
    from pyspark.sql import functions as F

    # Any map ANYWHERE in the type (top-level, array<map>, struct
    # field) breaks xxhash64 analysis — route those through to_json.
    cols = [
        F.to_json(F.col(f.name)) if "map<" in f.dataType.simpleString()
        else F.col(f.name)
        for f in df.schema.fields
    ]
    df.select(F.xxhash64(*cols).alias("__h")).agg(F.sum("__h")).collect()


def time_queries(spark, sf_dir: str, names=()) -> dict[str, float]:
    """Best-of-2 seconds per catalog query, in catalog order; a
    non-empty ``names`` times only those queries."""
    # Best-of-2 per query: one measurement is hostage to GC pauses and
    # codegen-compile timing; the min of two runs is the standard
    # steady-state estimator. Before EACH timed run both the Spark
    # storage cache AND the session's derived memos (memo.clear: catalog
    # plans, training results, published marts) are cleared — builders
    # that materialize at build time (localCheckpoint label rounds, IVF
    # training collects, bloom bitsets, upstream masters) must redo that
    # work per run, otherwise the min-of-2 would time cached
    # intermediates while the DuckDB yardstick re-executes from scratch
    # each pass. Each timed run therefore does ALL its own work (plan
    # build + every job); only the JVM's compiled code stays warm (the
    # warm-cluster regime). The memos themselves remain a real library
    # feature for repeated API use — the benchmark refuses to exploit it.
    timings: dict[str, float] = {}
    for name, fn in QUERIES.items():
        if names and name not in names:
            continue
        best = float("inf")
        for _ in range(2):
            spark.catalog.clearCache()
            memo.clear(spark)
            t0 = time.perf_counter()
            full_eval(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from linkmerce_spark.session import get_spark

    names = sys.argv[1:]
    unknown = sorted(set(names) - set(QUERIES))
    if unknown:
        sys.exit(f"unknown catalog queries: {unknown}")
    spark = get_spark("linkmerce_spark-bench")
    # Warm the JVM (JIT + codegen compiler + parquet footers) with a
    # few representative pipelines, untimed: per-query numbers should
    # measure steady-state execution — the regime a long-lived cluster
    # actually runs in — not first-query compiler bootstrap.
    # The warm set spans the engine's code paths (scan/join/agg, deep
    # mart chain, window stack, corpus explode/window, embedding
    # kernel): C2-compiling the scheduler/shuffle/codegen framework up
    # front makes per-query times insensitive to CATALOG ORDER — the
    # r7 window rotation showed front-of-dict queries paying ~1-2 s of
    # global JVM warm-up that mid-catalog positions used to absorb.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    for warm in (
        "pricing_summary",
        "star_join_revenue",
        "doc_lang_guess",
        "core_sales_daily",
        "stock_report_ds",
        "doc_dup_clusters",
        "embedding_ivf_topk",
    ):
        full_eval(QUERIES[warm](spark, sf_dir))
    spark.catalog.clearCache()
    memo.clear(spark)

    timings = time_queries(spark, sf_dir, names)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Compact separators: the driver records this line with a bounded
    # buffer (BENCH_r04 was tail-truncated) — every byte of whitespace
    # costs recorded per-query timings. Key order is deliberate: the
    # buffer keeps the TAIL of the line, so "queries" goes FIRST (its
    # head entries are the sacrificial bytes) and the headline
    # metric/value/sf go LAST — a truncated record still shows the
    # total (BENCH_r10 lost it the other way around).
    print(
        json.dumps(
            {
                "queries": timings,
                "unit": "sec",
                "metric": "total_query_wall_seconds",
                "value": total,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
