"""DuckDB yardstick timing for the catalog's oracle twins.

Times every ``oracle_sql()`` twin (or only the NAMEs given) on DuckDB
(32 threads) over the same parquet tables bench.py reads, best-of-2 per
query, and prints ONE JSON line shaped like bench.py's so the two are
directly comparable:

    {"metric": "duckdb_twin_wall_seconds", "value": N, "unit": "sec",
     "queries": {...}, "sf": ...}

This is the self-established baseline BASELINE.md calls for (the
reference publishes no numbers): same logical queries, same data, the
columnar single-node yardstick the 2x criterion is measured against.

Usage: python tools/bench_duck.py [SF_DIR] [NAME...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from linkmerce_spark.oracles import ORACLES  # noqa: E402
from tools.check_oracle import duck_views  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and "/" in args[0] else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    con = duck_views(sf_dir)
    con.execute(f"SET threads TO {os.cpu_count() or 32}")
    # Same resilience the sf10 checksum gate runs with: a spill dir and
    # relaxed insertion order keep the yardstick from dying allocator-
    # bound on the corpus-scale twins (sf1 doc_curation_e2e OOM'd the
    # r10 MED3 harness once without these). This only ever HELPS the
    # DuckDB side — the A/B stays honest.
    con.execute("SET preserve_insertion_order=false")
    os.makedirs("/tmp/duckspill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckspill'")
    # Explicit high limit: the default (80% of RAM) left the sf1
    # doc_clean_select_e2e monolith allocator-bound intermittently —
    # the same twin whose sf10 form needed the staged runner. The
    # default derives from detected RAM (~85%) so a smaller host spills
    # instead of inviting the system OOM killer; DUCK_MEM overrides.
    try:
        ram_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
        )
        mem_default = f"{max(1, int(ram_gb * 0.85))}GB"
    except (ValueError, OSError):  # pragma: no cover - non-POSIX
        mem_default = "8GB"
    con.execute(f"SET memory_limit='{os.environ.get('DUCK_MEM', mem_default)}'")
    skip = set(
        s for s in os.environ.get("BENCH_DUCK_SKIP", "").split(",") if s
    )
    timings: dict[str, float] = {}
    for name, sql in ORACLES.items():
        if name in skip or (args and name not in args):
            continue
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                con.sql(sql).fetchall()
            except Exception as e:
                raise RuntimeError(f"duck twin failed on {name!r}: {e}") from e
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "duckdb_twin_wall_seconds",
                "value": total,
                "unit": "sec",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "queries": timings,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
