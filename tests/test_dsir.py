"""DSIR importance selection: pure-Python equivalence + plan pins."""

from __future__ import annotations

import hashlib
import math
import random
import re

from linkmerce_spark.operators.dsir import dsir_scores
from linkmerce_spark.plans import plan_shape

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _py_grams(text: str) -> list:
    toks = [t for t in re.split(r"[^0-9a-z]+", text.lower()) if t]
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _py_bucket(gram: str, buckets: int = 256, salt: str = "dsir") -> int:
    h = int(hashlib.md5((salt + gram).encode()).hexdigest()[:8], 16)
    return h % buckets


def _py_dsir(cands: dict, target: dict, buckets: int = 256) -> dict:
    """Reference reimplementation: dict id->text for both corpora."""
    cp: dict = {}
    cq: dict = {}
    for text in target.values():
        for g in _py_grams(text):
            b = _py_bucket(g, buckets)
            cp[b] = cp.get(b, 0) + 1
    for text in cands.values():
        for g in _py_grams(text):
            b = _py_bucket(g, buckets)
            cq[b] = cq.get(b, 0) + 1
    ilog2 = lambda x: x.bit_length() - 1  # noqa: E731
    out = {}
    for i, text in cands.items():
        grams = _py_grams(text)
        sr = sum(
            ilog2(cp.get(_py_bucket(g, buckets), 0) + 1)
            - ilog2(cq.get(_py_bucket(g, buckets), 0) + 1)
            for g in grams
        )
        n = len(grams)
        score = math.floor(10000 * sr / n) if n else 0
        out[i] = (n, sr, score)
    return out


def test_dsir_scores_match_pure_python_reimplementation(spark):
    rng = random.Random(13)
    target = {
        i: " ".join(rng.choices(VOCAB[:5], k=rng.randrange(3, 30)))
        for i in range(40)
    }
    cands = {
        100 + i: " ".join(rng.choices(VOCAB, k=rng.randrange(0, 30)))
        for i in range(60)
    }
    cands[999] = ""  # gram-less doc must appear with score 0
    tdf = spark.createDataFrame(list(target.items()), "doc_id long, text string")
    cdf = spark.createDataFrame(list(cands.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["sum_ratio"], r["dsir_score_bp"])
        for r in dsir_scores(cdf, tdf, "text", "doc_id").collect()
    }
    assert got == _py_dsir(cands, target)
    assert got[999] == (0, 0, 0)


def test_dsir_select_plan_shape(spark):
    """The catalog query's scale contract: no SortMergeJoin anywhere
    (the model ratio folds via union+agg, the dims attach broadcasts
    the post-limit 50 rows), distributed top-k, <=2 hash shuffles."""
    from linkmerce_spark.queries import q_doc_dsir_select

    df = q_doc_dsir_select(spark, "/root/testdata/sf0.001")
    shape = plan_shape(df)
    assert shape.nodes["TakeOrderedAndProject"] >= 1
    assert shape.joins == {"bhj": 2}, shape.joins
    assert shape.keyed_shuffles <= 3  # two bucket/model aggs + the id rollup
