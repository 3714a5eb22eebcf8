"""Iterative BPE training: property tests vs a pure-Python reference.

The Spark trainer (operators/bpe.py `bpe_train_full`) is pinned
against an independent in-memory reimplementation of the canonical
algorithm (Sennrich et al. 2016): same (count DESC, left, right)
argmax, same left-to-right non-overlapping re-segmentation. Random
corpora exercise tie-breaks, repeated-character runs (the overlap
edge), merged-symbol cascades, and exhaustion.
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# ----------------------------------------------------------------------
# Pure-Python reference (independent of the Spark implementation).
# ----------------------------------------------------------------------

def _py_apply_merge(seq: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return tuple(out)


def _py_bpe_train(words: dict[str, int], n_merges: int):
    vocab = {tuple(w): c for w, c in words.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        counts: Counter = Counter()
        for seq, c in vocab.items():
            for i in range(len(seq) - 1):
                counts[(seq[i], seq[i + 1])] += c
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, cnt))
        vocab = {_py_apply_merge(seq, a, b): c for seq, c in vocab.items()}
    return merges, vocab


def _spark_train(spark, corpus: list[str], n_merges: int, threshold: int = 65536):
    from linkmerce_spark import memo
    from linkmerce_spark.operators.bpe import bpe_train_full

    memo.clear(spark)
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    merges, vocab = bpe_train_full(
        df, "text", n_merges, local_loop_threshold=threshold
    )
    got_merges = [tuple(r) for r in merges.collect()]
    got_vocab = {tuple(r["sym"]): r["wc"] for r in vocab.collect()}
    return got_merges, got_vocab


words_st = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=6), min_size=1, max_size=12
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(words=words_st, n_merges=st.integers(min_value=1, max_value=4))
@pytest.mark.parametrize("threshold", [65536, 0])  # local and distributed loops
def test_bpe_train_matches_pure_python(spark, threshold, words, n_merges):
    corpus = [" ".join(words)]
    freq: Counter = Counter(words)
    exp_merges, exp_vocab = _py_bpe_train(dict(freq), n_merges)
    got_merges, got_vocab = _spark_train(spark, corpus, n_merges, threshold)
    assert sorted(got_merges) == sorted(exp_merges)
    assert got_vocab == {tuple(seq): c for seq, c in exp_vocab.items()}


def test_bpe_overlap_run_is_non_overlapping(spark):
    # 'aaa' under merge (a,a): left-to-right gives [aa, a], never [aa, aa].
    got_merges, got_vocab = _spark_train(spark, ["aaa aaa aa"], 1)
    assert got_merges == [(1, "a", "a", "aa", 5)]
    assert got_vocab == {("aa", "a"): 2, ("aa",): 1}


@pytest.mark.parametrize("threshold", [65536, 0])
def test_bpe_exhaustion_rounds_are_noops(spark, threshold):
    # Two-char vocabulary merges fully in one round; rounds 2..5 must
    # neither error nor emit merge rows nor disturb the segmentation.
    got_merges, got_vocab = _spark_train(spark, ["ab ab ab"], 5, threshold)
    assert got_merges == [(1, "a", "b", "ab", 3)]
    assert got_vocab == {("ab",): 3}


def test_bpe_merged_symbol_cascades(spark):
    # A merged symbol must participate in later rounds as the left or
    # right partner ('ab' + 'c' -> 'abc').
    got_merges, _ = _spark_train(spark, ["abc abc abc ab"], 2)
    assert got_merges[0] == (1, "a", "b", "ab", 4)
    assert got_merges[1] == (2, "ab", "c", "abc", 3)


def test_bpe_training_memo_reuses_frames(spark):
    from linkmerce_spark import memo
    from linkmerce_spark.operators.bpe import bpe_train_full
    from linkmerce_spark.operators.similarity import ivf_train

    memo.clear(spark)
    df = spark.createDataFrame([("x y xy",)], "text string")
    first = bpe_train_full(df, "text", 2)
    second = bpe_train_full(df, "text", 2)
    assert first[0] is second[0] and first[1] is second[1]
    assert bpe_train_full(df, "text", 3)[0] is not first[0]
    memo.clear(spark)
    assert bpe_train_full(df, "text", 2)[0] is not first[0]

    # Second trainer, same derived-tier rule: reused within the session,
    # retrained after memo.clear.
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i // 3)]) for i in range(8)],
        "vec_id int, embedding array<double>",
    )
    cents = ivf_train(vecs, dim=2, k=2)
    assert ivf_train(vecs, dim=2, k=2) is cents
    memo.clear(spark)
    again = ivf_train(vecs, dim=2, k=2)
    assert again is not cents and again == cents


def test_bpe_conf_restored_after_training(spark):
    from linkmerce_spark import memo
    from linkmerce_spark.operators.bpe import bpe_train_full

    memo.clear(spark)
    before = (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    )
    df = spark.createDataFrame([("p q pq",)], "text string")
    bpe_train_full(df, "text", 1)
    after = (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    )
    assert before == after


def test_bpe_token_counts_weighted_by_word_frequency(spark):
    from linkmerce_spark import memo
    from linkmerce_spark.operators.bpe import bpe_token_counts

    memo.clear(spark)
    df = spark.createDataFrame([("ab ab ba",)], "text string")
    rows = [tuple(r) for r in bpe_token_counts(df, "text", 1, top_n=10).collect()]
    # merge (a,b) wins 2-1 over (b,a): 'ab'->[ab] twice, 'ba'->[b,a].
    assert rows == [("a", 1), ("ab", 2), ("b", 1)] or rows == sorted(
        [("ab", 2), ("a", 1), ("b", 1)], key=lambda t: (-t[1], t[0])
    )


def test_bpe_oracle_exhaustion_rounds_are_noops():
    # Twin-side mirror of test_bpe_exhaustion_rounds_are_noops: the
    # DuckDB CTE chain uses LEFT JOIN b{k} ON TRUE, so when the argmax
    # layer is EMPTY (vocabulary fully merged before n_merges rounds)
    # the NULL ml/mr makes the fold a pass-through rather than a
    # CROSS JOIN wiping the vocabulary.
    import duckdb

    from linkmerce_spark.oracles import _bpe_oracle

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT 'ab ab ab' AS text, "
        "CAST(1 AS BIGINT) AS doc_id, 'src' AS source"
    )
    merges = con.execute(
        _bpe_oracle(
            5,
            "SELECT * FROM (\n"
            + "\n  UNION ALL ".join(
                f"SELECT {k + 1} AS merge_rank, ml, mr, CAST(cnt AS BIGINT) AS cnt"
                f" FROM b{k}"
                for k in range(5)
            )
            + "\n) ORDER BY merge_rank",
        )
    ).fetchall()
    assert merges == [(1, "a", "b", 3)]
    vocab = con.execute(
        _bpe_oracle(5, "SELECT sym, wc FROM v5")
    ).fetchall()
    assert vocab == [(["ab"], 3)]


def test_bpe_rejects_bad_params(spark):
    from linkmerce_spark.operators.bpe import bpe_token_counts, bpe_train

    df = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError):
        bpe_train(df, "text", 0)
    with pytest.raises(ValueError):
        bpe_token_counts(df, "text", 1, top_n=0)
