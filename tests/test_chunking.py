"""Chunking + boilerplate operators (operators/chunking.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linkmerce_spark.operators.chunking import boilerplate_score, chunk_by_words
from linkmerce_spark.plans import plan_shape


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, " ".join(f"w{i}" for i in range(100))),   # 100 words -> 3 chunks @ stride 40
        (2, "alpha beta gamma"),                       # shorter than window -> 1 chunk
        (3, "x"),                                      # single word
        (4, "common gram here we go " * 4),            # repeated internal phrase
        (5, "common gram here we go tail"),            # shares a 5-gram with 4 and 6
        (6, "common gram here we go other"),
    ]
    return spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string"
    )


def test_chunk_counts_and_tail(docs):
    out = chunk_by_words(docs, "text", "doc_id", window=50, stride=40).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 100 words, starts 0/40/80 -> sizes 50/50/20
    one = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_start for r in one] == [0, 40, 80]
    assert [r.n_tokens for r in one] == [50, 50, 20]
    assert one[0].chunk_text.startswith("w0 w1 ") and one[2].chunk_text.endswith("w99")
    # overlap: chunk 1 starts at word 40, inside chunk 0's range
    assert one[1].chunk_text.split(" ")[0] == "w40"
    # short docs -> exactly one chunk covering everything
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "alpha beta gamma"
    assert len(by_doc[3]) == 1 and by_doc[3][0].n_tokens == 1


def test_chunk_rejects_bad_params(docs):
    with pytest.raises(ValueError):
        chunk_by_words(docs, "text", "doc_id", window=0)
    with pytest.raises(ValueError):
        chunk_by_words(docs, "text", "doc_id", stride=-1)


def test_chunk_plan_has_no_shuffle(docs):
    shape = plan_shape(chunk_by_words(docs, "text", "doc_id"))
    assert shape.exchanges == [] and shape.reused == 0, shape.exchanges


def test_boilerplate_scores(docs):
    out = {r.doc_id: r for r in boilerplate_score(docs, "text", "doc_id", n=5, min_df=3).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}          # every doc appears
    # docs 2 and 3 are shorter than n=5 words -> zero grams, zero score
    assert out[2].n_grams == 0 and out[2].boilerplate_bp == 0
    assert out[3].n_grams == 0 and out[3].dup_grams == 0
    # 'common gram here we go' appears in docs 4, 5, 6 -> DF=3 -> boilerplate
    assert out[5].dup_grams >= 1 and out[5].boilerplate_bp > 0
    assert out[6].dup_grams >= 1
    # doc 1 is all-unique words -> nothing shared across >=3 docs
    assert out[1].dup_grams == 0 and out[1].boilerplate_bp == 0
    # score is exact basis points: dup/total in [0, 10000]
    for r in out.values():
        assert 0 <= r.boilerplate_bp <= 10000
        if r.n_grams:
            assert r.boilerplate_bp == (10000 * r.dup_grams) // r.n_grams


def test_boilerplate_internal_repeats_count_occurrences(docs):
    """Doc 4 repeats the phrase internally: DF counts it once per doc,
    but every occurrence in doc 4 scores as boilerplate."""
    out = {r.doc_id: r for r in boilerplate_score(docs, "text", "doc_id", n=5, min_df=3).collect()}
    assert out[4].dup_grams > out[5].dup_grams
