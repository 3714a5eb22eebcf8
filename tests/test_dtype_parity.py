"""Fetch-dtype parity regression pins (round-5 root cause).

The r03/r04 driver hash-reds were exactly the queries whose pandas
fetch dtypes differ between Spark's ``toPandas()`` and DuckDB's
``.df()`` (HUGEINT/DECIMAL -> float64 vs int64/object) while every
value-level comparison passed.  tools/dtype_audit.py checks all 137
twins; this test pins the ten formerly-red queries inside the pytest
suite so an oracle edit that reintroduces a bare HUGEINT/DECIMAL
output fails here, not in the next driver round.
"""

from __future__ import annotations

import pytest

from tools.check_oracle import duck_views

SF_DIR = "/root/testdata/sf0.001"

FORMER_REDS = [
    "mart_profit_mom",
    "searchad_report_merge",
    "searchad_insight_daily",
    "smartstore_max_delivery_fee",
    "smartstore_split_sales",
    "analytics_order_count",
    "sabangnet_total_order",
    "coupang_total_order",
    "cj_invoice",
    "cj_invoice_order",
]

# Spark DATE fetches as object(datetime.date), DuckDB DATE as
# datetime64 — present in green driver rows every round, so exempt.
EXEMPT = {("object", "datetime64[us]"), ("object", "datetime64[ns]")}


@pytest.fixture(scope="module")
def duck():
    return duck_views(SF_DIR)


@pytest.mark.parametrize("name", FORMER_REDS)
def test_fetch_dtypes_match(name, spark, duck):
    import __spark_entry__ as entry

    sp = entry.queries()[name](spark, SF_DIR).toPandas()
    dp = duck.sql(entry.oracle_sql()[name]).df()
    mismatches = [
        (c, str(sp[c].dtype), str(dp[c].dtype))
        for c in sorted(sp.columns)
        if str(sp[c].dtype) != str(dp[c].dtype)
        and (str(sp[c].dtype), str(dp[c].dtype)) not in EXEMPT
    ]
    assert not mismatches, mismatches
