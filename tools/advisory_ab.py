"""Adversarial A/B of the local AQE advisory partition size (r11
verdict item 3): 64MB (Spark default) vs 2MB (the r11 local override),
COLD JVM per configuration, both orderings, on the embedding family
plus the queries the 2MB advisory was credited for.

Each (rep, config) pair runs in a FRESH subprocess (fresh JVM) with
SPARK_GRAFT_ADVISORY_PARTITION set; within a session every query is
timed twice (pass1 = cold: JIT + codegen + first-touch page cache;
pass2 = warm). The orderings alternate 2MB-first / 64MB-first so
session-level drift (thermal, page cache) cancels instead of biasing
one config.

Usage: python tools/advisory_ab.py [SF_DIR] [REPS]
Writes tools/digests/ADVISORY_AB_r12.md + .json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    "embedding_topk",
    "embedding_ivf_topk",
    "embedding_ivf_cells",
    "embedding_cluster_stats",
    "embedding_near_dups",
    "embedding_semdedup",
    "allocation_proportional",
    "allocation_integer_even",
    "doc_winnow_fingerprints",
    "smartstore_sales_daily",
]

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from bench import full_eval
from linkmerce_spark import memo
from linkmerce_spark.queries import QUERIES
from linkmerce_spark.session import get_spark

sf_dir = %(sf_dir)r
names = %(names)r
spark = get_spark("advisory-ab")
out = {}
for name in names:
    ts = []
    for _ in range(2):
        spark.catalog.clearCache()
        memo.clear(spark)
        t0 = time.perf_counter()
        full_eval(QUERIES[name](spark, sf_dir))
        ts.append(round(time.perf_counter() - t0, 3))
    out[name] = ts
print("RESULT" + json.dumps(out))
"""


def run_session(sf_dir: str, advisory: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_ADVISORY_PARTITION"] = advisory
    code = CHILD % {"repo": REPO, "sf_dir": sf_dir, "names": QUERIES}
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True,
    )
    if p.returncode != 0:
        raise RuntimeError(f"session failed:\n{p.stderr[-3000:]}")
    for line in reversed(p.stdout.strip().splitlines()):
        if line.startswith("RESULT"):
            return json.loads(line[len("RESULT"):])
    raise RuntimeError(f"no RESULT line:\n{p.stdout[-2000:]}")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    configs = sys.argv[3].split(",") if len(sys.argv) > 3 else ["2MB", "64MB"]
    runs: list[dict] = []  # [{config, order, results}]
    for rep in range(reps):
        order = configs if rep % 2 == 0 else configs[::-1]
        for cfg in order:
            res = run_session(sf_dir, cfg)
            runs.append({"config": cfg, "rep": rep, "order": order.index(cfg), "results": res})
            print(f"rep{rep} {cfg}: total cold={sum(v[0] for v in res.values()):.1f}s "
                  f"warm={sum(v[1] for v in res.values()):.1f}s", flush=True)

    digest_dir = os.path.join(REPO, "tools", "digests")
    os.makedirs(digest_dir, exist_ok=True)
    with open(os.path.join(digest_dir, "ADVISORY_AB_r12.json"), "w") as f:
        json.dump(runs, f, indent=1)

    # per-query medians per config
    import statistics
    lines = [
        "# ADVISORY_AB_r12 — AQE advisoryPartitionSizeInBytes 2MB vs 64MB",
        "",
        f"sf_dir={sf_dir}, reps={reps}, cold JVM per session, orderings alternated.",
        "Per query: median across sessions of [cold pass, warm pass].",
        "",
        f"| query | " + " | ".join(f"{c} cold" for c in configs) + " | " + " | ".join(f"{c} warm" for c in configs) + f" | warm last/first |",
        f"|---|---|---|---|---|---|",
    ]
    for q in QUERIES:
        med = {}
        for cfg in configs:
            cold = statistics.median(r["results"][q][0] for r in runs if r["config"] == cfg)
            warm = statistics.median(r["results"][q][1] for r in runs if r["config"] == cfg)
            med[cfg] = (cold, warm)
        ratio = med[configs[-1]][1] / med[configs[0]][1] if med[configs[0]][1] else float("nan")
        cells = " | ".join(f"{med[c][0]:.2f}" for c in configs) + " | " + " | ".join(
            f"{med[c][1]:.2f}" for c in configs
        )
        lines.append(f"| {q} | {cells} | {ratio:.2f} |")
    for cfg in configs:
        tot_cold = statistics.median(
            sum(v[0] for v in r["results"].values()) for r in runs if r["config"] == cfg
        )
        tot_warm = statistics.median(
            sum(v[1] for v in r["results"].values()) for r in runs if r["config"] == cfg
        )
        lines.append("")
        lines.append(f"{cfg}: median session total cold={tot_cold:.1f}s warm={tot_warm:.1f}s")
    with open(os.path.join(digest_dir, "ADVISORY_AB_r12.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
