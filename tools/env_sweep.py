"""Adversarial-environment sweep of the oracle gate.

The driver evaluates ``queries()`` under ITS OWN SparkSession — session
timezone, shuffle partitions, ANSI flags are all out of this repo's
control. This tool re-runs the full value-level gate with a
deliberately hostile session (non-UTC timezone + the 200-partition
default) to prove the catalog cannot diverge on those axes.

Round-5 finding: the sweep caught two latently TZ-fragile queries —
session-TZ'd literal load stamps (models/feeds ``_as_of``) and
epoch-seconds rendering (naversearch ``write_dt``) — both now
TIMESTAMP_NTZ. Keep this green alongside tools/dtype_audit.py.

Usage: python tools/env_sweep.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import linkmerce_spark.session as _session

_orig_get_spark = _session.get_spark

TZ = "Asia/Seoul"


def hostile_spark(*args, **kwargs):
    kwargs["timezone"] = TZ
    kwargs.setdefault("shuffle_partitions", 200)
    extra = dict(kwargs.get("extra_conf") or {})
    # flip ANSI off (Spark 4 defaults it on) — cast/overflow semantics
    # must not leak into any catalog value either way.
    extra["spark.sql.ansi.enabled"] = "false"
    kwargs["extra_conf"] = extra
    return _orig_get_spark(*args, **kwargs)


def main() -> None:
    _session.get_spark = hostile_spark
    from tools import check_oracle

    check_oracle.get_spark = hostile_spark
    print(f"== env sweep: session TZ {TZ}, 200 shuffle partitions, ANSI off ==")
    check_oracle.main()


if __name__ == "__main__":
    main()
