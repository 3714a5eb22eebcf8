"""SQL-model registry + task combinator tests (SURVEY §2.9/§2.10)."""

from __future__ import annotations

from pathlib import Path

import pytest

from linkmerce_spark.frames import load_star
from linkmerce_spark.plans import plan_shape
from linkmerce_spark.sqlmodels import SqlModelRegistry, parse_model_blocks, render
from linkmerce_spark.tasks import (
    cursor_all,
    expand_params,
    paginate_all,
    request_each,
    run_loop,
)

MODELS = Path(__file__).resolve().parent.parent / "linkmerce_spark/models/star/models.sql"
SF_DIR = "/root/testdata/sf0.001"


def test_parse_blocks_and_render():
    blocks = parse_model_blocks(MODELS.read_text())
    assert ("SalesByPriority", "create") in blocks
    assert ("SalesByPriority", "select") in blocks
    sql = render("SELECT * FROM {{ t }} JOIN {{ missing }}", {"t": "real_name"})
    assert sql == "SELECT * FROM real_name JOIN missing"


def test_registry_executes_with_params(spark):
    load_star(spark, SF_DIR, ["orders"], register_views=True)
    reg = SqlModelRegistry(
        spark, str(MODELS), tables={"orders": "orders", "scoped_orders": "scoped_orders"}
    )
    reg.execute("SalesByPriority", "create")
    out = reg.execute("SalesByPriority", "select", {"min_total": 50000})
    rows = {r["o_orderpriority"]: r["n_orders"] for r in out.collect()}
    expected = {
        r["o_orderpriority"]: r["cnt"]
        for r in spark.sql(
            "SELECT o_orderpriority, COUNT(*) cnt FROM orders "
            "WHERE o_totalprice >= 50000 GROUP BY o_orderpriority"
        ).collect()
    }
    assert rows == expected


def test_registry_values_scan_and_empty_skip(spark):
    reg = SqlModelRegistry(spark, str(MODELS), tables={"staged": "staged_v"})
    out = reg.execute(
        "InsertBatch", "bulk_insert", {"batch": [{"a": 1}, {"a": 2}, {"a": 3}]}
    )
    assert out.first()["n"] == 3
    # empty batch: every statement referencing batch_rows is skipped
    assert reg.execute("InsertBatch", "bulk_insert", {"batch": []}) is None


def test_run_loop_retries_then_succeeds():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ValueError("transient")
        return "ok"

    assert run_loop(flaky, max_retries=5, backoff=0.0) == "ok"
    assert calls["n"] == 3


def test_run_loop_exhausts_and_raises():
    with pytest.raises(ValueError):
        run_loop(lambda: (_ for _ in ()).throw(ValueError("boom")), max_retries=1, backoff=0.0)


def test_request_each_concat_and_expand():
    out = request_each(lambda x, y: [x * y], expand_params(x=[1, 2], y=[10, 20]), concat=True)
    assert sorted(out) == [10, 20, 20, 40]
    out_par = request_each(lambda x, y: x + y, expand_params(x=[1], y=[2, 3]), max_concurrent=4)
    assert sorted(out_par) == [3, 4]


def test_paginate_all_fans_out_from_counter():
    pages = paginate_all(
        fetch_page=lambda page: {"page": page, "total": 25},
        counter=lambda r: r["total"],
        page_size=10,
    )
    assert [p["page"] for p in pages] == [1, 2, 3]


def test_cursor_all_follows_until_none():
    chain = {None: ("a", 1), 1: ("b", 2), 2: ("c", None)}
    out = cursor_all(
        fetch=lambda cur: chain[cur], get_next_cursor=lambda r: r[1], start=None
    )
    assert [r[0] for r in out] == ["a", "b", "c"]


def test_request_each_distributed(spark):
    out = request_each(
        lambda x: x * x, [{"x": i} for i in range(8)], spark=spark, distribute=True
    )
    assert sorted(out) == [i * i for i in range(8)]


def test_request_each_distributed_schema_returns_lazy_dataframe(spark):
    """With a schema the distributed path must be a DataFrame pipeline
    (mapInPandas on executors), NOT a driver-side collect of payloads."""
    from pyspark.sql import DataFrame

    out = request_each(
        lambda x: [{"x": x, "sq": x * x}],
        [{"x": i} for i in range(6)],
        spark=spark,
        distribute=True,
        schema="x long, sq long",
    )
    assert isinstance(out, DataFrame)  # lazy: nothing ran yet
    # the fetch runs executor-side, straight off the params' LocalRelation
    ops = plan_shape(out, "analyzed").nodes
    assert ops == {"MapInPandas": 1, "LocalRelation": 1}, ops
    rows = out.collect()
    assert sorted((r["x"], r["sq"]) for r in rows) == [(i, i * i) for i in range(6)]


def test_distributed_fetch_mapinpandas(spark):
    from linkmerce_spark.tasks import distributed_fetch

    def _fake_fetch(param):
        # a closure: cloudpickle ships it by value to executor tasks
        page = param["page"]
        return [
            {"page": page, "item_id": page * 10 + i, "name": f"item-{page}-{i}"}
            for i in range(3)
        ]

    out = distributed_fetch(
        spark,
        [{"page": p} for p in range(1, 5)],
        _fake_fetch,
        schema="page long, item_id long, name string",
        parallelism=2,
    )
    rows = out.collect()
    assert len(rows) == 12
    assert {r["page"] for r in rows} == {1, 2, 3, 4}
    assert any(r["name"] == "item-3-2" for r in rows)


def test_udtf_date_range_and_pairs(spark):
    from linkmerce_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    days = spark.sql("SELECT * FROM date_range('2026-02-26', '2026-03-02')").collect()
    assert [r["ymd"].isoformat() for r in days] == [
        "2026-02-26", "2026-02-27", "2026-02-28", "2026-03-01", "2026-03-02"
    ]
    pairs = spark.sql("SELECT * FROM date_pairs('2026-01-01', '2026-01-10', 4)").collect()
    assert [(r["batch_start"].isoformat(), r["batch_end"].isoformat()) for r in pairs] == [
        ("2026-01-01", "2026-01-04"),
        ("2026-01-05", "2026-01-08"),
        ("2026-01-09", "2026-01-10"),
    ]
    # LATERAL correlation: expand each row's own window
    spark.createDataFrame(
        [("a", "2026-01-01", "2026-01-03"), ("b", "2026-01-05", "2026-01-05")],
        "k string, s string, e string",
    ).createOrReplaceTempView("spans")
    n = spark.sql(
        "SELECT k, ymd FROM spans, LATERAL date_range(s, e)"
    ).count()
    assert n == 4
