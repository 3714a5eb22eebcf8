"""memo: the per-session registry's lifetime and clear rules.

Entries live on their session, so a dropped session is collectable
with its memos; ``memo.clear`` drops the derived tier and releases the
checkpoints it published, so the next consumer build redoes the work.
"""

from __future__ import annotations

import gc
import weakref

SF_DIR = "/root/testdata/sf0.001"


def test_dropped_session_is_collected(spark):
    from linkmerce_spark.frames import load_star, values_df
    from linkmerce_spark.queries import QUERIES

    s = spark.newSession()
    load_star(s, SF_DIR, ["orders", "lineitem"])
    values_df(s, [(1, "a")], "k int, v string")
    QUERIES["pricing_summary"](s, SF_DIR)
    ref = weakref.ref(s)
    del s
    # PySpark's RDD.toDF closes over the most recently created session;
    # creating another moves that pin off the one under test.
    spark.newSession()
    gc.collect()
    assert ref() is None


def _persisted(sc) -> set[int]:
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def test_clear_releases_published_masters(spark, monkeypatch):
    import linkmerce_spark.queries as q
    from linkmerce_spark import memo

    sc = spark.sparkContext
    s = spark.newSession()
    calls = []
    upstream = q.q_sabangnet_product_master

    def counted(*args):
        calls.append(args)
        return upstream(*args)

    monkeypatch.setattr(q, "q_sabangnet_product_master", counted)
    q.QUERIES["sabangnet_option_master"](s, SF_DIR).count()
    assert len(calls) == 1
    # The three masters the consumer read; each call is a memo hit.
    masters = [
        q._sbn_product_master_built(s, SF_DIR),
        q._core_product_master_built(s, SF_DIR),
        q._core_brand_master_built(s, SF_DIR),
    ]
    assert len(calls) == 1
    published = {m._jdf.logicalPlan().rdd().id() for m in masters}
    assert len(published) == 3 and published <= _persisted(sc)

    memo.clear(s)
    # Released at once, even while the frames are still referenced.
    assert not published & _persisted(sc)
    q.QUERIES["sabangnet_option_master"](s, SF_DIR).count()
    assert len(calls) == 2
    memo.clear(s)
