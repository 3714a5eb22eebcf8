"""memo: the per-session registry's lifetime and clear rules.

Entries live on their session, so a dropped session is collectable
with its memos; ``memo.clear`` drops the derived tier and releases
every checkpoint a build made, so the next consumer build redoes the
work. Calls that own a scoped checkpoint release it themselves.
"""

from __future__ import annotations

import gc
import re
import weakref
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
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


def test_catalog_queries_return_their_builds():
    """A catalog query returns its build, so its plan (and every plan
    fingerprint) shows the mart's body; ``frames.shared_frame`` is the
    one place a mart is published for its consumers."""
    assert "memo.publish(" not in (REPO / "linkmerce_spark" / "queries.py").read_text(
        encoding="utf-8"
    )


# Queries whose builds left RDDs persisted after ``memo.clear`` while
# checkpoints were taken outside the registry, plus minhash's lazy
# checkpoints.
CHECKPOINTING_QUERIES = [
    "doc_dup_clusters",
    "stock_report_ds",
    "stock_cost_mom",
    "doc_bpe_train",
    "doc_bpe_tokens",
    "smartstore_option_master",
    "customer_spend_deciles",
    "doc_curation_e2e",
    "stock_time_ds",
    "media_near_dups",
    "stock_report",
    "core_brand_master",
    "smartstore_option_assembly",
    "sabangnet_option_master",
    "minhash_near_dups",
]


@pytest.mark.parametrize("name", CHECKPOINTING_QUERIES)
def test_clear_alone_frees_what_a_build_made(spark, name):
    from linkmerce_spark import memo
    from linkmerce_spark.queries import QUERIES

    sc = spark.sparkContext
    s = spark.newSession()
    before = _persisted(sc)
    QUERIES[name](s, SF_DIR).count()
    memo.clear(s)
    assert _persisted(sc) == before


def test_checkpoints_go_through_memo():
    """Only memo.py takes a localCheckpoint; the warehouse snapshot is
    a temp view's storage, not a memo. The only persists are the two
    scoped persist/unpersist pairs."""
    lib = REPO / "linkmerce_spark"
    allowed = {
        r"localCheckpoint\(": {"memo.py", "sources/warehouse.py"},
        r"\.persist\(": {"operators/similarity.py", "streaming/incremental.py"},
    }
    hits = [
        f"{path.relative_to(REPO)}:{n}"
        for probe, files in allowed.items()
        for path in sorted(lib.rglob("*.py"))
        if path.relative_to(lib).as_posix() not in files
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if re.search(probe, line)
    ]
    assert not hits, hits


def test_connected_components_keeps_only_the_returned_labels(spark):
    from linkmerce_spark import memo
    from linkmerce_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    s = spark.newSession()
    before = _persisted(sc)
    # A chain: the min label needs three rounds to reach node 4.
    pairs = s.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    comps = connected_components(pairs)
    (kept,) = memo._memo(s).checkpoints
    assert _persisted(sc) - before == {kept._jdf.logicalPlan().rdd().id()}
    assert sorted(tuple(r) for r in comps.collect()) == [(i, 1) for i in range(1, 5)]
    memo.clear(s)
    assert _persisted(sc) == before


@pytest.mark.parametrize("partition_by", [(), ("p",)])
def test_writers_release_their_staging_checkpoint(spark, tmp_path, partition_by):
    from linkmerce_spark.sources.writers import compact, write_merge

    sc = spark.sparkContext
    path = str(tmp_path / "t")
    batch = spark.createDataFrame([(1, "a", 0), (2, "b", 1)], "k int, v string, p int")
    update = spark.createDataFrame([(2, "B", 1), (3, "c", 0)], "k int, v string, p int")
    before = _persisted(sc)
    write_merge(batch, path, keys=["k"], partition_by=partition_by)  # first write
    assert _persisted(sc) == before
    write_merge(update, path, keys=["k"], partition_by=partition_by)  # merge
    assert _persisted(sc) == before
    compact(spark, path, partition_by=list(partition_by) or None)
    assert _persisted(sc) == before
    rows = sorted(tuple(r) for r in spark.read.parquet(path).select("k", "v").collect())
    assert rows == [(1, "a"), (2, "B"), (3, "c")]
