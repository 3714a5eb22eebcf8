"""Pandas-dtype parity audit between Spark and the DuckDB oracle twins.

Round-5 root-cause finding for the driver's hash-red rows: the 10 red
queries in CORRECTNESS_r04 are exactly the queries whose *pandas fetch
dtypes* differ between ``spark_df.toPandas()`` and ``duckdb.sql(...).df()``
— int64 vs float64 (DuckDB HUGEINT/DECIMAL both land as float64 in
pandas), or object(Decimal) vs float64.  The 40 green rows all have
matching numeric dtypes (sometimes both float64, e.g. core_sales_daily,
where Spark-side NULLs force the bigint columns to float64 too).  The
local value-level checker (tools/check_oracle.py) canonicalizes
``Decimal -> float`` and Python compares ``1 == 1.0``, which is why every
red row is "bit-identical" locally: the driver's hash is evidently
dtype-sensitive where the local one is not.

Date columns are exempt: Spark DATE fetches as object(datetime.date) and
DuckDB DATE as datetime64[us] in *every* query, green ones included, so
that axis is proven harmless.

Usage: python tools/dtype_audit.py [sf_dir] [query ...]
Exit code 1 if any non-exempt dtype mismatch remains.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from linkmerce_spark.session import get_spark  # noqa: E402
from tools.check_oracle import duck_views  # noqa: E402

# Pairs (spark_dtype, duck_dtype) proven harmless by green driver rows.
_EXEMPT = {
    ("object", "datetime64[us]"),  # DATE columns: every green mart has this
    ("object", "datetime64[ns]"),
}


def audit_one(name, fn, sql, spark, con, sf_dir):
    sp = fn(spark, sf_dir).toPandas()
    dp = con.sql(sql).df()
    bad = []
    for c in sorted(sp.columns):
        a, b = str(sp[c].dtype), str(dp[c].dtype)
        if a != b and (a, b) not in _EXEMPT:
            bad.append((c, a, b))
    return bad


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    only = [a for a in args if "/" not in a]

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark = get_spark()
    con = duck_views(sf_dir)

    names = only or [n for n in qs if n in oracles]
    n_bad = 0
    for n in names:
        if n not in oracles:
            continue
        try:
            bad = audit_one(n, qs[n], oracles[n], spark, con, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {n}: {type(e).__name__}: {e}")
            n_bad += 1
            continue
        if bad:
            n_bad += 1
            det = "; ".join(f"{c}: spark={a} duck={b}" for c, a, b in bad)
            print(f"MISMATCH {n}: {det}")
        else:
            print(f"ok    {n}")
    print(f"\n{len(names) - n_bad}/{len(names)} dtype-clean")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
