"""Dump .explain("formatted") for named catalog queries.

Writes plans/<tag>/<name>_<suffix>.txt for each query — the committed
before/after plan evidence for an optimization round.

Usage: python tools/explain_dump.py TAG SUFFIX [SF_DIR] NAME [NAME...]
e.g.   python tools/explain_dump.py r11 before smartstore_sales_daily
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = sys.argv[1:]
    names = [a for a in args[2:] if "/" not in a]
    if not names:
        sys.exit(__doc__)
    tag, suffix = args[0], args[1]
    sf_dir = "/root/testdata/sf0.1"
    sf_dir = ([a for a in args[2:] if "/" in a] or [sf_dir])[-1]
    from linkmerce_spark.plans import physical_plan, plan_shape
    from linkmerce_spark.queries import QUERIES
    from linkmerce_spark.session import get_spark

    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain-dump")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(physical_plan(df, "formatted"))
        shape = plan_shape(df)
        print(f"wrote {path} ({dict(shape.shuffles)} shuffles, {shape.broadcasts} broadcasts)")


if __name__ == "__main__":
    main()
