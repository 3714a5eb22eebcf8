"""Subset A/B bench for perf iteration: times the named catalog
queries (Spark, bench.py's full_eval action, best-of-2, warm JVM) and
their DuckDB oracle twins, prints a small table.

Usage: python tools/bench_subset.py [SF_DIR] NAME [NAME...]
Same protocol as bench.py / tools/bench_duck.py but scoped — use for
iterating on a target query; the committed ledgers stay the
full-catalog median-of-3 pairs.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import full_eval  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    names = []
    for a in args:
        if "/" in a:
            sf_dir = a
        else:
            names.append(a)
    if not names:
        sys.exit("usage: bench_subset.py [SF_DIR] NAME [NAME...]")
    from linkmerce_spark import memo
    from linkmerce_spark.queries import QUERIES
    from linkmerce_spark.session import get_spark

    spark = get_spark("bench-subset")
    # warm with the first target itself (JIT + codegen framework)
    full_eval(QUERIES[names[0]](spark, sf_dir))
    spark.catalog.clearCache()
    memo.clear(spark)

    spark_t: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(2):
            spark.catalog.clearCache()
            memo.clear(spark)
            t0 = time.perf_counter()
            full_eval(QUERIES[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        spark_t[name] = best

    import duckdb

    from linkmerce_spark.oracles import ORACLES

    from linkmerce_spark.frames import STAR_TABLES

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 32}")
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    duck_t: dict[str, float] = {}
    for name in names:
        sql = ORACLES.get(name)
        if sql is None:
            duck_t[name] = float("nan")
            continue
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        duck_t[name] = best

    print(f"\n{'query':35s} {'spark':>8s} {'duck':>8s} {'ratio':>7s}")
    for name in names:
        s, d = spark_t[name], duck_t[name]
        print(f"{name:35s} {s:8.2f} {d:8.2f} {s / d if d else 0:7.2f}")


if __name__ == "__main__":
    main()
