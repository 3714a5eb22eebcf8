"""Scale-proportionality probe: time vs data size across sf steps.

Runs a set of scale-sensitive catalog queries at sf0.001 / sf0.01 /
sf0.1 (1x / 10x / 100x data) — plus sf1 (1000x, ~6M lineitem rows)
and sf10 (10000x, ~60M) when the ``tools/make_sf1.py`` fixtures
exist (``python tools/make_sf1.py testdata_sf10 100``) — in one
session and
reports, per query and per 10x data step:

Action = bench.py's ``full_eval`` (sum of xxhash64 over all output
columns) — a ``count()`` lets Catalyst prune projection work AND
unreferenced aggregate expressions, so rounds <= 8 ledgers
under-measured column-computation-heavy queries; ratios in this
ledger are comparable only to other full_eval rows.

- COLD time = plan build + first execution. For action-bearing
  builders (dup-cluster iteration, IVF training, bloom bitset) the
  build runs real distributed jobs, so cold is the honest end-to-end
  number.
- WARM time = MEDIAN-OF-3 re-execution of the memoized plan — the
  steady-state cost. Median, not best-of-2: the r8 ledger committed a
  21x sf10 warm step for embedding_near_dups that two same-day
  sessions measured at 2-5x on identical plans — single-sample warm
  numbers at sf10 carry GC/compaction session noise that a median
  absorbs (the same lesson tools/bench_median.py applied to the A/B).

Reading the ratios (committed at tools/digests/SCALING.md):
- ~1x across a 10x data step = fixed overhead (scheduling, plan,
  exchange setup) dominates at this sf — it amortizes to noise on a
  cluster-scale input;
- ~10x = already data-dominated, scaling linearly — the property that
  must hold at 100 TB;
- >>10x would flag a scale-killer (none expected; the designs are
  reviewed against exactly this).

Usage: python tools/scale_probe.py [query ...]   (default: probe set)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SET = [
    # corpus-heavy (shuffle/explode dominated)
    "doc_dup_clusters",
    "minhash_near_dups",
    "doc_clean_corpus",
    "doc_boilerplate",
    "doc_decontam",
    "doc_chunk_windows",
    # embedding / index (training happens at build)
    "embedding_ivf_topk",
    "embedding_lsh_buckets",
    # fact-table marts and joins
    "pricing_summary",
    "core_sales_daily",
    "smartstore_sales_daily",
    "asof_click_attribution",
    "rolling_30d_qty",
    "cumulative_customer_spend",
    # round-6b curation additions
    "embedding_near_dups",
    "embedding_semdedup",
    "doc_rare_grams",
    "doc_mixture_sample",
    "embedding_cluster_stats",
    # round-6 close: sampling + set-operation sketch
    "doc_priority_sample",
    "kmv_priority_overlap",
    # round-7: the composed nine-stage curation pipeline
    "doc_curation_e2e",
    # round-7b: iterative trainers (loop cost must stay vocab/graph-
    # sized as the corpus grows) + the media decode kernel
    "doc_bpe_train",
    "domain_pagerank",
    "media_stats_real",
    # round-7c: entropy-decode media tier, resize, importance selection
    "media_thumbnails",
    "doc_dsir_select",
]

SFS = ["sf0.001", "sf0.01", "sf0.1"]
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.path.join(_REPO, "testdata_sf1")
SF10_DIR = os.path.join(_REPO, "testdata_sf10")


def main() -> None:
    from linkmerce_spark import memo
    from linkmerce_spark.session import get_spark
    import linkmerce_spark.queries as q
    from bench import full_eval

    names = sys.argv[1:] or DEFAULT_SET
    spark = get_spark()

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    dirs = {sf: os.path.join(base, sf) for sf in SFS}
    sfs = list(SFS)
    if os.path.isdir(SF1_DIR):
        sfs.append("sf1")
        dirs["sf1"] = SF1_DIR
    if os.path.isdir(SF10_DIR):
        sfs.append("sf10")
        dirs["sf10"] = SF10_DIR

    cold: dict[str, dict[str, float]] = {}
    warm: dict[str, dict[str, float]] = {}
    for sf in sfs:
        sf_dir = dirs[sf]
        for name in names:
            t0 = time.perf_counter()
            df = q.QUERIES[name](spark, sf_dir)  # fresh build: memos cleared below
            full_eval(df)
            cold.setdefault(name, {})[sf] = time.perf_counter() - t0
            reruns = []
            for _ in range(3):
                t0 = time.perf_counter()
                full_eval(df)
                reruns.append(time.perf_counter() - t0)
            best = sorted(reruns)[1]  # median-of-3
            warm.setdefault(name, {})[sf] = best
            # Release the query's plan, training results and every
            # checkpoint its build took: one session probes every
            # (sf, query) pair, and they would otherwise pile up in it.
            peak = persisted()
            memo.clear(spark)
            print(
                f"{sf:8s} {name:32s} cold={cold[name][sf]:7.3f}s warm={best:7.3f}s"
                f" persisted={peak}->{persisted()}",
                flush=True,
            )

    lines = [
        "# SCALING — time ratios across 10x data steps",
        "",
        "Generated by tools/scale_probe.py, one session, three scale factors.",
        "Action = full_eval (hash of every output column; count() would",
        "prune projection and unreferenced-aggregate work — see bench.py).",
        "cold = plan build + first execution (includes the real jobs that",
        "action-bearing builders run: dup-cluster iteration, IVF training,",
        "bloom bitsets). warm = MEDIAN-OF-3 re-execution of the memoized",
        "plan (single-sample sf10 warm numbers carry GC/compaction session",
        "noise — the r8 ledger's 21x embedding_near_dups row was exactly",
        "that; the median protocol absorbs it).",
        "Each sf step is 10x the data. ~1x ratio = fixed-overhead-dominated",
        "(amortizes on a cluster); ~10x = linear in data (the 100 TB",
        "property); >>10x would be a scale-killer (none expected).",
        "",
        f"| query | cold {' / '.join(s[2:] for s in sfs)} | cold x/step "
        f"| warm {' / '.join(s[2:] for s in sfs)} | warm x/step |",
        "|---|---|---|---|---|",
    ]
    for name in names:
        c, w = cold[name], warm[name]

        def steps(t: dict[str, float]) -> str:
            rs = [
                t[b] / t[a] if t[a] > 0 else float("nan")
                for a, b in zip(sfs, sfs[1:])
            ]
            return ", ".join(f"{r:.2f}x" for r in rs)

        def times(t: dict[str, float]) -> str:
            return " / ".join(f"{t[s]:.3f}" for s in sfs)

        lines.append(
            f"| `{name}` | {times(c)} s | {steps(c)} "
            f"| {times(w)} s | {steps(w)} |"
        )
    if "sf1" in sfs:
        lines += [
            "",
            "Reading the sf1/sf10 columns (fixtures: tools/make_sf1.py,",
            "10/100 disjoint key-remapped sf0.1 replicas; corpus tables",
            "decorrelated per replica so dup structure scales in COUNT,",
            "not cluster size):",
            "",
            "- Text-scan/mart/sketch queries transition from",
            "  fixed-overhead into the linear regime across sf0.1->sf10;",
            "  every per-step ratio stays at or below ~10x",
            "  (data-proportional) through four decades.",
            "- The embedding PAIR queries derive the IVF cell count from",
            "  corpus size (k = max(8, ceil(n/512)), similarity.ivf_k_for,",
            "  same formula in the DuckDB twin), so cells hold ~512",
            "  vectors at every sf and in-cell pair volume is N*512/2 —",
            "  LINEAR in the corpus. Until n reaches 8*512 = 4096 vectors",
            "  (between sf0.1 and sf1 for the embeddings table) k floors",
            "  at 8 and pair volume still grows quadratically across",
            "  those early toy decades; the sf1->sf10 step is the one",
            "  that demonstrates the linear regime. cell_pair_cosines",
            "  pins one partition per cell so the matmuls parallelize",
            "  regardless of AQE's byte-based coalescing.",
        ]
    # Only a FULL-set run may overwrite the committed ledger — a subset
    # run would silently drop every other query's rows (it did, once).
    if names == DEFAULT_SET:
        out = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "digests", "SCALING.md"
        )
        with open(out, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        print(f"\nwrote {out}")
    else:
        print()
        print("\n".join(lines))
        print("\n(subset run: SCALING.md not overwritten — merge rows by hand)")


if __name__ == "__main__":
    main()
