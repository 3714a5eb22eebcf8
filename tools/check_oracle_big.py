"""Collection-free oracle gate for large scale factors.

``check_oracle.py`` collects BOTH engines' full results into Python
for row-level canonical comparison — exact, but impractical once a
query's OUTPUT is fact-grain at sf1+ (24M-row unpivots). This variant
never collects: each engine computes the same ORDER-INDEPENDENT
per-column checksums engine-side, and only the checksum rows travel.

Per output column, by type:

- integer/bigint/boolean: COUNT(col), SUM(col) in DECIMAL(38,0)
  (exact, order-independent on both engines);
- double: COUNT(col), SUM(FLOOR(col * 1e6)) in DECIMAL(38,0) — every
  catalog double is engine-deterministic by construction (the repo's
  determinism rules), so the scaled floor is exact per row and the
  decimal sum order-independent. NaN would poison the sum equally on
  both sides (the catalog emits none);
- string/date/timestamp: COUNT(col), SUM(md5-prefix-int of the value)
  — the repo's portable 32-bit hash idiom, bit-identical in both
  engines; dates/timestamps hash their ISO cast;
- arrays: SUM over md5 of the '|'-joined element cast (1-level only).

Plus the row count. A mismatch in ANY checksum fails the query. This
is (marginally) weaker than the row-level gate — per-column sums
could in principle collide — but each column needs a simultaneous
md5-sum collision, and the row-level gate still runs at sf0.01/sf0.1.

Usage: python tools/check_oracle_big.py <sf_dir> [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from linkmerce_spark.session import get_spark  # noqa: E402
from tools.check_oracle import duck_views  # noqa: E402


def spark_checksums(df):
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("__n")]
    for f in df.schema.fields:
        c, t = F.col(f.name), f.dataType.simpleString()
        n = F.count(c).cast("decimal(38,0)")
        if t in ("tinyint", "smallint", "int", "bigint"):
            s = F.sum(c.cast("decimal(38,0)"))
        elif t == "boolean":
            s = F.sum(c.cast("int").cast("decimal(38,0)"))
        elif t in ("float", "double"):
            s = F.sum(F.floor(c.cast("double") * 1e6).cast("decimal(38,0)"))
        elif t.startswith("decimal"):
            s = F.sum(c.cast("decimal(38,6)") * 1000000).cast("decimal(38,0)")
        elif t in ("string", "date") or t.startswith("timestamp"):
            s = F.sum(
                F.conv(
                    F.substring(F.md5(c.cast("string")), 1, 8), 16, 10
                ).cast("decimal(38,0)")
            )
        elif t.startswith("array"):
            s = F.sum(
                F.conv(
                    F.substring(
                        F.md5(
                            F.array_join(
                                F.transform(c, lambda x: x.cast("string")), "|"
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("decimal(38,0)")
            )
        else:
            s = F.lit(None).cast("decimal(38,0)")
        aggs += [n.alias(f"__n_{f.name}"), s.alias(f"__s_{f.name}")]
    row = df.agg(*aggs).collect()[0]
    return {k: (None if v is None else int(v)) for k, v in row.asDict().items()}


def duck_checksums(con, sql: str):
    cols = con.execute(f"SELECT * FROM ({sql}) q LIMIT 0").description
    typed = con.execute(
        f"DESCRIBE SELECT * FROM ({sql}) q"
    ).fetchall()  # (name, type, ...)
    aggs = ["CAST(COUNT(*) AS DECIMAL(38,0)) AS __n"]
    for name, dtype, *_ in typed:
        t = dtype.upper()
        q = f'"{name}"'
        n = f'CAST(COUNT({q}) AS DECIMAL(38,0)) AS "__n_{name}"'
        if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
            s = f"CAST(SUM(CAST({q} AS DECIMAL(38,0))) AS DECIMAL(38,0))"
        elif t == "BOOLEAN":
            s = f"CAST(SUM(CAST({q} AS INTEGER)) AS DECIMAL(38,0))"
        elif t in ("FLOAT", "DOUBLE"):
            s = f"CAST(SUM(CAST(FLOOR(CAST({q} AS DOUBLE) * 1e6) AS DECIMAL(38,0))) AS DECIMAL(38,0))"
        elif t.startswith("DECIMAL"):
            s = f"CAST(SUM(CAST({q} AS DECIMAL(38,6)) * 1000000) AS DECIMAL(38,0))"
        elif t in ("VARCHAR", "DATE") or t.startswith("TIMESTAMP"):
            s = (
                "CAST(SUM(CAST('0x' || substr(md5(CAST("
                + q
                + " AS VARCHAR)), 1, 8) AS BIGINT)) AS DECIMAL(38,0))"
            )
        elif t.endswith("[]"):
            s = (
                "CAST(SUM(CAST('0x' || substr(md5(array_to_string("
                f"list_transform({q}, x -> CAST(x AS VARCHAR)), '|')), 1, 8) AS BIGINT)) AS DECIMAL(38,0))"
            )
        else:
            s = "CAST(NULL AS DECIMAL(38,0))"
        aggs += [n, f'{s} AS "__s_{name}"']
    row = con.execute(f"SELECT {', '.join(aggs)} FROM ({sql}) q").fetchone()
    names = [d[0] for d in con.description]
    return {
        k: (None if v is None else int(v)) for k, v in zip(names, row)
    }


def main() -> None:
    sf_dir = sys.argv[1].rstrip("/")
    import linkmerce_spark.queries as q
    from linkmerce_spark.oracles import ORACLES

    names = sys.argv[2:] or list(q.QUERIES)
    spark = get_spark()
    con = duck_views(sf_dir)
    # The checksum gate is order-independent by design, so the twin can
    # drop insertion-order preservation (the main reason large DuckDB
    # CTE chains hold whole intermediates in memory) and spill to disk:
    # at sf10 the chained capstone twins otherwise exhaust the
    # allocator (r8 rotation: doc_clean_select_e2e OOM'd without this).
    con.execute("SET preserve_insertion_order=false")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    npass = nfail = 0
    for name in names:
        t0 = time.perf_counter()
        try:
            got = spark_checksums(q.QUERIES[name](spark, sf_dir))
            want = duck_checksums(con, ORACLES[name])
            dt = time.perf_counter() - t0
            keys = set(got) | set(want)
            bad = {
                k: (got.get(k), want.get(k))
                for k in keys
                if got.get(k) != want.get(k)
            }
            # a None checksum (unsupported type) on either side is
            # compared as None==None only if both sides skipped it
            if bad:
                nfail += 1
                print(f"FAIL {name}: {bad} [{dt:.1f}s]", flush=True)
            else:
                npass += 1
                print(
                    f"ok   {name} (n={got['__n']}, {len(keys)} checksums) [{dt:.1f}s]",
                    flush=True,
                )
        except Exception as e:  # noqa: BLE001
            nfail += 1
            print(f"ERR  {name}: {type(e).__name__}: {e}", flush=True)
    print(f"{npass}/{npass + nfail} passed")


if __name__ == "__main__":
    main()
