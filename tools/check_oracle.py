"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, canonicalizes both results
(column-name sort, row sort, value normalization), and diffs them.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from linkmerce_spark.frames import STAR_TABLES  # noqa: E402
from linkmerce_spark.session import get_spark  # noqa: E402


def duck_views(sf_dir):
    """A fresh DuckDB connection with one view per star table over the
    parquet files under ``sf_dir`` — the tables every oracle twin reads."""
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon_value(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    return v


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return [cols[i] for i in order], out


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}

    spark = get_spark("oracle-check")
    con = duck_views(sf_dir)

    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:400]}")
            continue
        if name not in oracles:
            print(f"skip {name}: no oracle ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:400]}")
            continue
        sc, sr = canon_rows(scols, srows)
        dc, dr = canon_rows(dcols, drows)
        status = []
        if sc != dc:
            status.append(f"cols spark={sc} duck={dc}")
        if len(sr) != len(dr):
            status.append(f"rowcount spark={len(sr)} duck={len(dr)}")
        if not status and sr != dr:
            ndiff = sum(1 for a, b in zip(sr, dr) if a != b)
            status.append(f"values differ ({ndiff}/{len(sr)} rows)")
            for a, b in zip(sr, dr):
                if a != b:
                    print(f"  spark: {a}\n  duck : {b}")
                    break
        if status:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(status)} [{time.time()-t0:.1f}s]")
        else:
            print(f"ok   {name} ({len(sr)} rows) [{time.time()-t0:.1f}s]")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
