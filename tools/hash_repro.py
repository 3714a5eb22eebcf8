"""Hash-mismatch reproduction harness.

For each named query (default: the driver's historically red set), run
the Spark query AND its DuckDB oracle twin, canonicalize both results
identically (column-name sort, row sort, repr-stable value rendering:
floats as hex via ``float.hex``, Decimals as exact strings, temporals
as ISO), and emit

- a canonical CSV dump per engine under ``tools/digests/<q>.{spark,duck}.csv``
- one sha256 digest line per engine appended to ``tools/digests/DIGESTS.txt``

Committing DIGESTS.txt pins the twin-equality evidence: if the driver's
CORRECTNESS marks a query hash-red while both digests here are equal
(and stable across rounds), the divergence is in the driver harness'
environment, not the twins.

NOTE (round 5): equal digests here are necessary but not sufficient —
the r03/r04 reds were value-identical yet fetched with different pandas
dtypes (Spark int64 vs DuckDB HUGEINT->float64), which this value-level
canonicalization cannot see.  Run tools/dtype_audit.py alongside this.

Usage: python tools/hash_repro.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from linkmerce_spark.session import get_spark  # noqa: E402
from tools.check_oracle import duck_views  # noqa: E402

RED_SET = [
    "searchad_report_merge",
    "searchad_insight_daily",
    "smartstore_max_delivery_fee",
    "smartstore_split_sales",
    "analytics_order_count",
    "mart_profit_mom",
    # r04 additions (same root cause: HUGEINT->float64 fetch dtype)
    "sabangnet_total_order",
    "coupang_total_order",
    "cj_invoice",
    "cj_invoice_order",
]

DIGEST_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests")


def render(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return v.hex()  # exact bit pattern; no repr rounding ambiguity
    if isinstance(v, Decimal):
        return f"dec:{v}"  # exact scale-preserving string
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    return str(v)


def canon(cols, rows) -> str:
    """Exact text of a result for a sha256 digest: floats as
    ``float.hex``, Decimals with their scale. Kept apart from
    ``check_oracle.canon_rows``, which folds Decimal to float so the two
    engines compare equal — one canonicalizer would either round the
    committed DIGESTS.txt evidence or change that cross-engine equality."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(render(r[i]) for i in order) for r in rows
    )
    header = "\x1f".join(cols[i] for i in order)
    return header + "\n" + "\n".join(lines) + "\n"


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a] or RED_SET

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("hash-repro")
    con = duck_views(sf_dir)

    os.makedirs(DIGEST_DIR, exist_ok=True)
    out_lines = []
    for name in only:
        if name not in qs:
            print(f"?? {name}: unknown query")
            continue
        sdf = qs[name](spark, sf_dir)
        s_txt = canon(sdf.columns, [tuple(r) for r in sdf.collect()])
        s_dig = hashlib.sha256(s_txt.encode()).hexdigest()
        with open(os.path.join(DIGEST_DIR, f"{name}.spark.csv"), "w") as f:
            f.write(s_txt)
        if name in oracles:
            res = con.execute(oracles[name])
            d_txt = canon([d[0] for d in res.description], res.fetchall())
            d_dig = hashlib.sha256(d_txt.encode()).hexdigest()
            with open(os.path.join(DIGEST_DIR, f"{name}.duck.csv"), "w") as f:
                f.write(d_txt)
        else:
            d_dig = "no-oracle"
        eq = "EQUAL" if s_dig == d_dig else "DIFF "
        print(f"{eq} {name}\n  spark {s_dig}\n  duck  {d_dig}")
        out_lines.append(f"{name}\tsf={os.path.basename(sf_dir)}\tspark={s_dig}\tduck={d_dig}")

    # Engine-version provenance on every digest line: a future red row
    # can then be bisected against the exact duckdb/pyspark pair that
    # produced the committed evidence (round-4 verdict item 3).
    import pyspark

    stamp = f"duckdb={duckdb.__version__}\tpyspark={pyspark.__version__}"
    # Replace any existing stamp per (query, sf) instead of appending a
    # duplicate line: the file is a registry of current evidence, not a
    # log (the round-5 re-stamp left byte-identical duplicates).
    path = os.path.join(DIGEST_DIR, "DIGESTS.txt")
    existing: dict[tuple, str] = {}
    if os.path.exists(path):
        for ln in open(path).read().splitlines():
            if ln.strip():
                parts = ln.split("\t")
                existing[(parts[0], parts[1])] = ln
    for ln in out_lines:
        parts = ln.split("\t")
        existing[(parts[0], parts[1])] = f"{ln}\t{stamp}"
    with open(path, "w") as f:
        f.write("\n".join(existing.values()) + "\n")


if __name__ == "__main__":
    main()
