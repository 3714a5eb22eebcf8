"""Full-catalog physical-plan snapshot: the plan-shape ledger.

tests/test_plans.py pins ~two dozen hand-chosen plan shapes; this
tool records the load-bearing plan properties of EVERY catalog query
at sf0.001 into ``tools/digests/PLANS.json``:

- ``exchanges``: distinct shuffles in the (pre-AQE) physical plan;
- ``smj`` / ``bhj`` / ``bnlj`` / ``cartesian``: join strategy counts
  (CartesianProduct anywhere is a bug; BroadcastNestedLoopJoin is
  legal only for 1-row totals crossJoins);
- ``pushed``: number of scans with non-empty PushedFilters;
- ``inmem``: cache/checkpoint boundaries.

tests/test_plan_snapshot.py replays the catalog against the committed
ledger and fails on DRIFT — a lost broadcast, a new shuffle, a
SortMergeJoin reappearing on a pinned-broadcast mart. Regenerate
deliberately with ``python tools/plan_snapshot.py`` after a reviewed
plan change; the diff then documents exactly what moved.

Counting notes: ``plans.plan_shape`` walks the plan tree, so a shared
subtree's shuffle counts once and a cached relation's plan not at all.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "digests", "PLANS.json"
)


def snapshot_one(df) -> dict:
    from linkmerce_spark.plans import plan_shape

    shape = plan_shape(df)
    return {
        "exchanges": sum(shape.shuffles.values()),
        **{j: shape.joins[j] for j in ("smj", "bhj", "bnlj", "cartesian")},
        "pushed": sum(s.pushed_filters != "[]" for s in shape.scans),
        "inmem": shape.cached,
    }


def build_snapshot(spark, names=None) -> dict:
    from linkmerce_spark import memo
    from linkmerce_spark.queries import QUERIES

    out: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        if names and name not in names:
            continue
        memo.clear(spark)
        spark.catalog.clearCache()
        out[name] = snapshot_one(fn(spark, SF_DIR))
    return out


def main() -> None:
    from linkmerce_spark.session import get_spark

    snap = build_snapshot(get_spark(), set(sys.argv[1:]) or None)
    if sys.argv[1:]:  # partial run: merge over the committed ledger
        with open(OUT, encoding="utf-8") as f:
            snap = {**json.load(f), **snap}
    with open(OUT, "w", encoding="utf-8") as f:
        json.dump(dict(sorted(snap.items())), f, indent=1, sort_keys=True)
    print(f"wrote {OUT} ({len(snap)} queries)")


if __name__ == "__main__":
    main()
