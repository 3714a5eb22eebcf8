"""Tests for the benchmark's pure parts: statistics, span arithmetic and
the payload generator. No Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pytest

import spans as sp
from payloads import LoadModel, feed_items, make_feed, parse_item


# -- percentile choice -----------------------------------------------------

@pytest.mark.parametrize(
    "n, expected",
    [(10, None), (11, 100 / 11), (20, 50.0), (100, 90.0), (1000, 99.0)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    got = sp.tail_percentile(n)
    assert got == pytest.approx(expected) if expected is not None else got is None


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(11, 400):
        pct = sp.tail_percentile(n)
        values = list(range(n))
        at = sp.percentile(values, pct)
        assert sum(v > at for v in values) >= 10
        # one rank higher would leave only nine beyond
        assert sum(v > at + 1 for v in values) < 10


def test_percentile_nearest_rank():
    assert sp.percentile([5, 1, 3, 2, 4], 50) == 3
    assert sp.percentile([5, 1, 3, 2, 4], 100) == 5
    assert sp.percentile([5, 1, 3, 2, 4], 1) == 1


# -- failed_op_ratio accounting ------------------------------------------------

def test_failed_op_ratio():
    assert sp.failed_op_ratio(8, 0) == 0.0
    assert sp.failed_op_ratio(8, 2) == 0.25
    assert sp.failed_op_ratio(6, 6) == 1.0


@pytest.mark.parametrize("attempted, failed", [(0, 0), (4, 5), (4, -1)])
def test_failed_op_ratio_rejects_impossible_counts(attempted, failed):
    with pytest.raises(ValueError):
        sp.failed_op_ratio(attempted, failed)


# -- span self times -------------------------------------------------------------

def _spans():
    # op [0, 10]: build [1, 4] (with a nested job [2, 3]), action [5, 9]
    return [
        sp.Span("op", 0.0, 10.0, None, "op1"),
        sp.Span("queries.build", 1.0, 4.0, 0, "op1"),
        sp.Span("spark.job", 2.0, 3.0, 1, "op1"),
        sp.Span("spark.action", 5.0, 9.0, 0, "op1"),
    ]


def test_self_times_subtract_children():
    assert sp.self_times(_spans()) == [3.0, 2.0, 1.0, 4.0]


def test_self_times_add_up_to_the_operation_wall():
    spans = _spans()
    assert sum(sp.self_times(spans)) == spans[0].end - spans[0].start


def test_self_times_merge_overlapping_children():
    spans = [
        sp.Span("op", 0.0, 10.0, None, "op1"),
        sp.Span("spark.action", 1.0, 6.0, 0, "op1"),
        sp.Span("spark.action", 4.0, 8.0, 0, "op1"),
    ]
    assert sp.self_times(spans)[0] == 3.0


def test_self_time_by_layer_reports_uncovered_time():
    by_layer = sp.self_time_by(_spans(), lambda s: s.name.split(".")[0])
    assert by_layer == {"op": 3.0, "queries": 2.0, "spark": 5.0}


def test_tracer_records_parents_and_nothing_when_disabled():
    t = sp.Tracer(enabled=True)
    with t.span("op", "op1"):
        with t.span("queries.build", "op1"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("op", None), ("queries.build", 0)]
    assert t.spans[0].start <= t.spans[1].start <= t.spans[1].end <= t.spans[0].end
    off = sp.Tracer(enabled=False)
    with off.span("op", "op1"):
        off.count("sources.pages", 3)
    assert off.spans == [] and not off.counters


# -- payload generator ---------------------------------------------------------------

def test_feed_is_deterministic_for_a_seed():
    a = make_feed(7, days=3, orders_per_day=200, page_size=50)
    b = make_feed(7, days=3, orders_per_day=200, page_size=50)
    c = make_feed(8, days=3, orders_per_day=200, page_size=50)
    assert a.pages == b.pages
    assert a.pages != c.pages


def test_feed_has_the_defects_the_load_must_survive():
    feed = make_feed(3, days=4, orders_per_day=300, page_size=100)
    per_day = {d: [parse_item(it) for it in feed_items(feed, d)] for d in feed.days}
    rows = [r for rs in per_day.values() for r in rs]
    keys_by_day = [{r[:2] for r in rs} for rs in per_day.values()]
    assert any(len(rs) > len({r[:2] for r in rs}) for rs in per_day.values())  # dup PKs
    assert any(keys_by_day[i] & keys_by_day[i + 1] for i in range(3))  # keys reused across days
    assert any(r[4] is None for r in rows)  # malformed or missing order date
    items = [it for d in feed.days for it in feed_items(feed, d)]
    assert any(it["content"]["delivery"] is None for it in items)  # NULL nest
    # within a day a duplicated key is an exact re-send
    for d in feed.days:
        seen = {}
        for it in feed_items(feed, d):
            k = parse_item(it)[:2]
            assert seen.setdefault(k, it) == it


def test_feed_pages_walk_like_the_api():
    feed = make_feed(1, days=1, orders_per_day=120, page_size=50)
    day = feed.days[0]
    pages = [json.loads(feed.pages[(day, p)]) for p in (1, 2, 3)]
    assert [p["data"]["pagination"]["hasNext"] for p in pages] == [True, True, False]
    assert (day, 4) not in feed.pages


def test_load_model_upserts_source_first():
    def item(status, payed):
        return {"content": {
            "order": {"orderId": "5", "orderStatus": status, "totalPaymentAmount": "1,200",
                      "orderDate": "2026-01-01 10:00:00", "payedDate": payed},
            "channel": {"channelSeq": "2"},
            "delivery": None,
        }}

    m = LoadModel()
    m.load_day("2026-01-01", [item("PAYED", "2026-01-01 10:01:00")] * 2)
    m.load_day("2026-01-02", [item("DELIVERED", None)])
    (row,) = m.orders_rows()
    assert row[:4] == (5, 2, 3, 1200)
    assert row[5] is not None  # NULL in the newer batch keeps the stored value
    assert [e[2:] for e in m.events_rows()] == [
        (1, row[5], "2026-01-01"), (1, row[5], "2026-01-01"),
    ]


# -- CPU time from /proc ---------------------------------------------------

def test_stat_cpu_s_reads_own_and_reaped_ticks(tmp_path):
    from run import _CLK_TCK, _stat_cpu_s

    # a thread name may hold spaces and parentheses
    stat = tmp_path / "stat"
    stat.write_text(
        "42 (C2 (Compiler) 1) S 1 42 42 0 -1 4194304 81 0 0 0 "
        f"{3 * _CLK_TCK} {_CLK_TCK} {5 * _CLK_TCK} {2 * _CLK_TCK} 20 0 1 0 3304324\n"
    )
    assert _stat_cpu_s(str(stat), reaped=False) == pytest.approx(4.0)
    assert _stat_cpu_s(str(stat), reaped=True) == pytest.approx(11.0)
