"""Seeded SmartStore order payloads and a plain-Python load model.

``make_feed(seed, days, orders_per_day, page_size)`` draws the pages an
order API would return for each day, in the nested shape of the
SmartStore product-order payload (FIXTURES.md F1), with the defects the
ingest path must survive:

- duplicate PKs: exact re-sends of an item within one day's pages;
- malformed dates: strings no ``yyyy-MM-dd HH:mm:ss`` parse accepts;
- NULL nests: a missing ``delivery`` struct or missing leaf values;
- keys reused across days: a later day carries an order again with a
  newer status.

Every draw comes from ``random.Random(seed)``; the same arguments give
byte-identical pages. ``LoadModel`` applies the same pages the way the
benchmark's Spark load does (parse, merge-upsert ``source_first`` into
``orders``, overwrite the day's partition of ``events``), so the final
warehouse tables can be checked without Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import random
import re
from dataclasses import dataclass, field
from typing import Any

START = dt.date(2026, 1, 1)
STATUSES = ("PAYMENT_WAITING", "PAYED", "DELIVERING", "DELIVERED", "PURCHASE_DECIDED", "CANCELED")
STATUS_CODES = {s: i for i, s in enumerate(STATUSES[:5])} | {"CANCELED": 9}
MALFORMED_DATES = ("2026/01/03 10:05:00", "", "20260103", "not a date", "2026-01-03T10:05:00+09:00")
_TS = re.compile(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}")


@dataclass
class Feed:
    days: list[str]
    pages: dict[tuple[str, int], bytes]  # (day, page) -> response body

    @property
    def payload_bytes(self) -> int:
        return sum(len(b) for b in self.pages.values())


def _ts(rng: random.Random, day: dt.date) -> str:
    t = dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=rng.randrange(86_400))
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _maybe_bad(rng: random.Random, value: str) -> str | None:
    r = rng.random()
    if r < 0.04:
        return rng.choice(MALFORMED_DATES)
    if r < 0.06:
        return None
    return value


def _item(rng: random.Random, order_id: int, channel: int, day: dt.date, stage: int) -> dict[str, Any]:
    status = "CANCELED" if rng.random() < 0.03 else STATUSES[stage]
    amount = rng.randrange(1_000, 300_000)
    amount_raw = rng.choice((f"{amount:,}", str(amount), str(amount), "n/a", None))
    ordered = _maybe_bad(rng, _ts(rng, day - dt.timedelta(days=stage)))
    payed = _maybe_bad(rng, _ts(rng, day)) if stage >= 1 else None
    delivery = None
    if stage >= 3 or rng.random() < 0.5:
        delivery = {
            "deliveredDate": _maybe_bad(rng, _ts(rng, day)) if stage >= 3 else None,
            "deliveryCompany": rng.choice(("CJGLS", "HANJIN", "LOTTE", None)),
        }
    return {
        "productOrderId": str(order_id * 10 + rng.randrange(10)),
        "content": {
            "order": {
                "orderId": str(order_id),
                "orderStatus": status,
                "totalPaymentAmount": amount_raw,
                "orderDate": ordered,
                "payedDate": payed,
                "payLocationType": rng.choice(("PC", "MOBILE")),
            },
            "channel": {"channelSeq": str(channel)},
            "delivery": delivery,
        },
    }


def make_feed(seed: int, days: int, orders_per_day: int, page_size: int) -> Feed:
    rng = random.Random(seed)
    live: list[tuple[int, int, int]] = []  # (order_id, channel, stage) seen so far
    next_id = 1_000_000
    pages: dict[tuple[str, int], bytes] = {}
    day_names = []
    for d in range(days):
        day = START + dt.timedelta(days=d)
        day_names.append(day.isoformat())
        n_reused = min(len(live), orders_per_day // 5)
        reused_idx = rng.sample(range(len(live)), n_reused)
        keys = []
        for i in reused_idx:
            oid, ch, stage = live[i]
            live[i] = (oid, ch, min(stage + 1, 4))
            keys.append(live[i])
        for _ in range(orders_per_day - n_reused):
            keys.append((next_id, rng.randrange(1, 4), rng.randrange(0, 3)))
            live.append(keys[-1])
            next_id += 1
        items = [_item(rng, oid, ch, day, stage) for oid, ch, stage in keys]
        items += [items[i] for i in rng.sample(range(len(items)), len(items) // 30)]
        rng.shuffle(items)
        n_pages = max(1, -(-len(items) // page_size))
        for p in range(n_pages):
            body = {
                "timestamp": f"{day}T23:59:59.999+09:00",
                "data": {
                    "contents": items[p * page_size:(p + 1) * page_size],
                    "pagination": {"page": p + 1, "size": page_size, "hasNext": p + 1 < n_pages},
                },
            }
            pages[(day.isoformat(), p + 1)] = json.dumps(body, ensure_ascii=False).encode()
    return Feed(day_names, pages)


def _parse_ts(s: str | None) -> dt.datetime | None:
    if s is None or not _TS.fullmatch(s):
        return None
    try:
        return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
    except ValueError:
        return None


def _parse_int(s: str | None) -> int | None:
    if s is None:
        return None
    s = s.replace(",", "")
    return int(s) if re.fullmatch(r"[+-]?\d+", s) else None


def parse_item(item: dict[str, Any]) -> tuple:
    """One raw item as the ``orders`` row the load writes:
    (order_id, channel_seq, status_code, amount, ordered_at, payed_at,
    delivered_at)."""
    c = item.get("content") or {}
    order = c.get("order") or {}
    channel = c.get("channel") or {}
    delivery = c.get("delivery") or {}
    oid, ch = order.get("orderId"), channel.get("channelSeq")
    return (
        int(oid) if oid is not None else None,
        int(ch) if ch is not None else None,
        STATUS_CODES.get(order.get("orderStatus"), -1),
        _parse_int(order.get("totalPaymentAmount")),
        _parse_ts(order.get("orderDate")),
        _parse_ts(order.get("payedDate")),
        _parse_ts(delivery.get("deliveredDate")),
    )


@dataclass
class LoadModel:
    """The expected warehouse after loading a feed, day by day."""

    orders: dict[tuple, tuple] = field(default_factory=dict)
    events: dict[str, list[tuple]] = field(default_factory=dict)

    def load_day(self, day: str, items: list[dict[str, Any]]) -> None:
        rows = [parse_item(it) for it in items]
        for r in dict.fromkeys(rows):  # exact re-sends collapse
            key = r[:2]
            old = self.orders.get(key)
            self.orders[key] = r if old is None else key + tuple(
                n if n is not None else o for n, o in zip(r[2:], old[2:])
            )
        self.events[day] = [
            (r[0], r[1], code, ts, day)
            for r in rows
            for code, ts in ((1, r[5]), (3, r[6]))
            if ts is not None
        ]

    def orders_rows(self) -> list[tuple]:
        return sorted(self.orders.values(), key=repr)

    def events_rows(self) -> list[tuple]:
        return sorted((e for rows in self.events.values() for e in rows), key=repr)


def feed_items(feed: Feed, day: str) -> list[dict[str, Any]]:
    """All items of one day, page by page (the model's view of the feed)."""
    out, page = [], 1
    while (day, page) in feed.pages:
        out += json.loads(feed.pages[(day, page)])["data"]["contents"]
        page += 1
    return out
