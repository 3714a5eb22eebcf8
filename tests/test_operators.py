"""Unit tests for the core operator library (SURVEY §2 custom ops)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linkmerce_spark.operators.allocation import (
    allocate_integer_even,
    allocate_proportional,
)
from linkmerce_spark.operators.dedup import dedupe_keep_first, insert_ignore
from linkmerce_spark.operators.merge import merge_frames
from linkmerce_spark.operators.rangejoin import effective_dated_join
from linkmerce_spark.operators.topk import top_k_per_group
from linkmerce_spark.operators.unpivot import unpivot
from linkmerce_spark.plans import plan_shape


def rows(df, *cols):
    out = [tuple(r) for r in df.select(*cols).collect()]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def test_dedupe_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "b", 2), (1, "a", 1), (2, "c", 9)], "k int, v string, seq int"
    )
    out = dedupe_keep_first(df, ["k"], [F.col("seq").asc()])
    assert rows(out, "k", "v") == [(1, "a"), (2, "c")]


def test_insert_ignore_on_conflict_do_nothing(spark):
    target = spark.createDataFrame([(1, "keep")], "k int, v string")
    source = spark.createDataFrame(
        [(1, "clobber", 1), (2, "new-b", 2), (2, "new-a", 1)], "k int, v string, seq int"
    )
    out = insert_ignore(target, source.drop("seq").withColumn("seq", F.lit(None)), ["k"])
    # existing key untouched; duplicate new key inserted once
    got = rows(out.select("k", "v"), "k", "v")
    assert (1, "keep") in got and len([r for r in got if r[0] == 2]) == 1


def test_merge_frames_verbs(spark):
    target = spark.createDataFrame(
        [(1, 10, 5, "t1"), (2, None, 7, "t2")], "k int, a int, lo int, note string"
    )
    source = spark.createDataFrame(
        [(1, None, 3, "s1"), (3, 99, 1, "s3")], "k int, a int, lo int, note string"
    )
    out = merge_frames(
        target,
        source,
        keys=["k"],
        matched={"a": "source_first", "lo": "least", "note": "replace"},
        not_matched="insert_all",
    )
    got = {r["k"]: r.asDict() for r in out.collect()}
    assert got[1]["a"] == 10  # source null -> keep target (source_first coalesce)
    assert got[1]["lo"] == 3  # least(5, 3)
    assert got[1]["note"] == "s1"  # replace
    assert got[2]["note"] == "t2"  # unmatched target row untouched
    assert got[3]["a"] == 99  # inserted
    # not_matched = do_nothing drops source-only keys
    out2 = merge_frames(target, source, keys=["k"], matched="replace_all", not_matched="do_nothing")
    assert sorted(r["k"] for r in out2.collect()) == [1, 2]


def test_allocate_proportional_exact_group_sum(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0, 100), (1, 2, 20.0, 100), (1, 3, 40.0, 100), (2, 1, 0.0, 7), (2, 2, 0.0, 7)],
        "g int, seq int, w double, total int",
    )
    out = allocate_proportional(df, ["g"], F.col("w"), F.col("total"), [F.col("seq")])
    per_group = out.groupBy("g").agg(F.sum("allocated").alias("s")).collect()
    assert {r["g"]: float(r["s"]) for r in per_group} == {1: 100.0, 2: 7.0}
    # zero-weight group: everything lands on the first row
    zero = {r["seq"]: float(r["allocated"]) for r in out.filter("g = 2").collect()}
    assert zero == {1: 7.0, 2: 0.0}


def test_allocate_integer_even(spark):
    df = spark.createDataFrame(
        [(1, i, 10) for i in range(1, 4)], "g int, seq int, total int"
    )
    out = allocate_integer_even(df, ["g"], F.col("total"), [F.col("seq")])
    got = {r["seq"]: r["allocated"] for r in out.collect()}
    assert got == {1: 4, 2: 3, 3: 3}


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [(1, "x", 5.0), (1, "y", 9.0), (1, "z", 9.0), (2, "w", 1.0)], "g int, id string, m double"
    )
    out = top_k_per_group(df, ["g"], [F.col("m").desc(), F.col("id").asc()], k=2, rank_col="rk")
    got = rows(out, "g", "id", "rk")
    assert got == [(1, "y", 1), (1, "z", 2), (2, "w", 1)]


def test_effective_dated_join_interval_match(spark):
    fact = spark.createDataFrame(
        [("a", "2024-01-15"), ("a", "2024-03-01"), ("b", "2024-01-01")], "k string, d string"
    ).select("k", F.col("d").cast("date").alias("d"))
    rel = spark.createDataFrame(
        [("a", "2024-01-01", "2024-01-31", "jan"), ("a", "2024-02-01", "2999-12-31", "rest")],
        "k string, start_date string, end_date string, tag string",
    ).select(
        "k",
        F.col("start_date").cast("date").alias("start_date"),
        F.col("end_date").cast("date").alias("end_date"),
        "tag",
    )
    out = effective_dated_join(fact, rel, ["k"], F.col("d"))
    got = rows(out, "k", "d", "tag")
    assert [g[2] for g in got] == ["jan", "rest", None]


def test_unpivot_drops_nulls(spark):
    df = spark.createDataFrame([(1, 10.0, None), (2, None, 5.0)], "id int, a double, b double")
    out = unpivot(df, ["id"], ["a", "b"], var_name="m", value_name="v")
    assert rows(out, "id", "m", "v") == [(1, "a", 10.0), (2, "b", 5.0)]


def test_vec_dot_unrolled_equals_hof(spark):
    from pyspark.sql import functions as F

    from linkmerce_spark.functions.vectors import vec_cosine, vec_dot, vec_norm

    df = spark.createDataFrame(
        [([0.1, -0.2, 0.3, 0.4], [0.5, 0.6, -0.7, 0.8])], "a array<float>, b array<float>"
    )
    r = df.select(
        vec_dot("a", "b").alias("d1"),
        vec_dot("a", "b", dim=4).alias("d2"),
        vec_norm("a").alias("n1"),
        vec_norm("a", dim=4).alias("n2"),
        vec_cosine("a", "b").alias("c1"),
        vec_cosine("a", "b", dim=4).alias("c2"),
    ).first()
    assert r["d1"] == r["d2"] and r["n1"] == r["n2"] and r["c1"] == r["c2"]


def test_hash_split_stable_and_disjoint(spark):
    from pyspark.sql import functions as F

    from linkmerce_spark.operators.sampling import hash_split, stable_sample

    df = spark.range(10_000).select(F.col("id"))
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["id"]: r["split"] for r in hash_split(df, "id", splits).collect()}
    b = {r["id"]: r["split"] for r in hash_split(df, "id", splits).collect()}
    assert a == b  # identical across runs
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] - 8000) < 300 and abs(c["val"] - 1000) < 150
    # appends never move existing rows
    bigger = spark.range(20_000).select(F.col("id"))
    c2 = {r["id"]: r["split"] for r in hash_split(bigger, "id", splits).collect()}
    assert all(c2[k] == v for k, v in a.items())
    # independent salted sample decorrelates from the split
    sample = {r["id"] for r in stable_sample(df, "id", 0.1, salt="dbg").collect()}
    in_train = sum(1 for i in sample if a[i] == "train")
    assert 0.7 < in_train / max(len(sample), 1) < 0.9  # ~train fraction, not 0/1


def test_global_row_number_matches_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from linkmerce_spark.operators.rownum import global_row_number

    df = spark.range(5_000).select(
        F.col("id"),
        (F.pmod(F.hash("id"), F.lit(997))).alias("k"),
    )
    got = {
        r["id"]: r["rn"]
        for r in global_row_number(df, ["k", "id"], num_partitions=7).collect()
    }
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("k", "id"))
        ).collect()
    }
    assert got == want
    # sanity: dense 1..N numbering
    assert sorted(got.values()) == list(range(1, 5_001))


def test_ivf_train_is_deterministic_and_adaptive(spark):
    """Two training runs yield identical centroids (pure function of
    the data); trained centroids must differ from the closed-form
    defaults (i.e. training actually adapts to the data)."""
    from linkmerce_spark.operators.similarity import ivf_centroids, ivf_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = ivf_train(emb, "vec_id", "embedding", dim=64, k=8)
    b = ivf_train(emb, "vec_id", "embedding", dim=64, k=8)
    assert a == b
    assert len(a) == 8 and all(len(c) == 64 for c in a)
    assert a != ivf_centroids(64, 8)


def test_connected_components_chain_and_islands(spark):
    """Transitive chains collapse to one component; islands stay apart;
    convergence needs multiple propagation rounds for a long chain."""
    from linkmerce_spark.operators.dedup import (
        connected_components,
        dedup_by_clusters,
    )

    # chain 10-11-12-13-14 (diameter 4), island pair 20-21, triangle 30-31-32
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (20, 21), (30, 31), (31, 32), (30, 32)],
        "id_a long, id_b long",
    )
    comps = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comps == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30,
    }

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [10, 11, 12, 13, 14, 20, 21, 30, 31, 32, 99]],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup_by_clusters(docs, pairs).collect())
    # one representative per cluster + the untouched singleton 99
    assert kept == [10, 20, 30, 99]


def test_stratified_topn_quota_and_determinism(spark):
    from linkmerce_spark.operators.sampling import stratified_topn

    df = spark.createDataFrame(
        [(i, "big" if i < 100 else "small") for i in range(110)],
        "id long, stratum string",
    )
    out1 = stratified_topn(df, "stratum", "id", 25)
    counts = {r["stratum"]: r["n"] for r in out1.groupBy("stratum").agg(
        F.count("*").alias("n")).collect()}
    assert counts == {"big": 25, "small": 10}  # small stratum passes whole
    # deterministic: the same ids every time
    ids1 = sorted(r["id"] for r in out1.collect())
    ids2 = sorted(r["id"] for r in stratified_topn(df, "stratum", "id", 25).collect())
    assert ids1 == ids2
    # a different salt picks a different (still deterministic) subset
    ids3 = sorted(
        r["id"] for r in stratified_topn(df, "stratum", "id", 25, salt="x").collect()
    )
    assert ids1 != ids3


def test_priority_sample_determinism_estimator_and_plan(spark):
    from linkmerce_spark.operators.sampling import priority_sample

    df = spark.createDataFrame(
        [(i, 1 if i < 190 else 1000) for i in range(200)], "id long, w long"
    )
    out = priority_sample(df, "w", "id", 50, salt="t")
    got = out.collect()
    assert len(got) == 50
    # deterministic across runs and partitionings
    ids1 = sorted(r["id"] for r in got)
    ids2 = sorted(
        r["id"] for r in priority_sample(df.repartition(7), "w", "id", 50, salt="t").collect()
    )
    assert ids1 == ids2
    # weight-proportional: the 10 heavy rows (1000x weight) are near-certain in
    heavy_in = sum(1 for i in ids1 if i >= 190)
    assert heavy_in == 10
    # unbiased subset-sum estimator: w_hat >= w, and the estimate of the
    # population total should be within a loose band of the true total
    assert all(r["w_hat"] >= r["w"] for r in got)
    true_total = 190 * 1 + 10 * 1000
    est = sum(r["w_hat"] for r in got)
    assert 0.5 * true_total < est < 2.0 * true_total
    # population <= n passes through whole with w_hat == w
    small = spark.createDataFrame([(i, i + 1) for i in range(5)], "id long, w long")
    whole = priority_sample(small, "w", "id", 50).collect()
    assert len(whole) == 5 and all(r["w_hat"] == float(r["w"]) for r in whole)
    # scale shape: distributed top-k, never a global sort or single-reducer window
    ops = plan_shape(out).nodes
    assert ops["TakeOrderedAndProject"] >= 1, ops
    assert ops["Window"] == 0, ops


def test_repetition_and_pii_helpers(spark):
    from linkmerce_spark.functions.text import (
        pii_counts,
        repetition_counts,
        word_tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, "one two three four five " * 3),  # heavy 5-gram repetition
            (2, "all distinct words here make a single unique sentence"),
            (3, "short"),
        ],
        "doc_id long, text string",
    )
    toked = docs.withColumn("t", word_tokens("text"))
    total, dups = repetition_counts(F.col("t"), n=5)
    rows = {r["doc_id"]: (r["tot"], r["dup"]) for r in toked.select(
        "doc_id", total.alias("tot"), dups.alias("dup")).collect()}
    assert rows[1][0] == 11 and rows[1][1] == 11 - 5  # 15 tokens, 5 distinct grams
    assert rows[2] == (5, 0)
    assert rows[3] == (0, 0)

    pii = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.co.uk and http://a.io/x plus 010-1234-5678 twice 02-555-0000")],
        "doc_id long, text string",
    )
    c = pii_counts("text")
    row = pii.select(
        c["email"].alias("e"), c["url"].alias("u"), c["phone"].alias("p")
    ).collect()[0]
    assert (row["e"], row["u"], row["p"]) == (1, 1, 2)


def test_decontaminate_flags_exact_ngram_overlap(spark):
    from linkmerce_spark.operators.decontam import decontaminate, ngram_hashes

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps over the lazy dog tonight suffix"),
            (2, "quick brown fox jumps over something else entirely different text"),
            (3, "totally unrelated content with no overlap at all whatsoever here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["collision_count"], r["contaminated"]) for r in
           decontaminate(docs, ngram_hashes(bench, n=6), n=6).collect()}
    assert out[1][1] is True and out[1][0] >= 1   # contains benchmark 6-grams
    assert out[2] == (0, False)                    # only 5-gram overlap
    assert out[3] == (0, False)


def test_pack_sequences_positional_binning(spark):
    from linkmerce_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, 300), (2, 300), (3, 100), (4, 50)], "doc_id long, n long"
    )
    rows = {r["doc_id"]: (r["tokens_before"], r["pack_id"], r["pack_offset"])
            for r in pack_sequences(df, "n", budget=512).collect()}
    assert rows[1] == (0, 0, 0)
    assert rows[2] == (300, 0, 300)   # starts inside pack 0, straddles
    assert rows[3] == (600, 1, 88)
    assert rows[4] == (700, 1, 188)
    # sharding restarts the plan per shard
    sharded = pack_sequences(
        df.withColumn("s", F.col("doc_id") % 2), "n", budget=512, shard_col="s"
    )
    srows = {r["doc_id"]: r["tokens_before"] for r in sharded.collect()}
    assert srows == {1: 0, 3: 300, 2: 0, 4: 300}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        pack_sequences(df, "n", budget=0)


# ------------------------------------------------ round-6 review-fix pins
def test_merge_absent_source_column_keeps_target_values(spark):
    """A target column the source batch doesn't carry behaves as
    'ignore' — replace_all must NOT wipe it to NULL."""
    from linkmerce_spark.operators.merge import merge_frames

    target = spark.createDataFrame([(1, 10, "keep"), (2, 20, "also")],
                                   "k long, a long, b string")
    source = spark.createDataFrame([(1, 99), (3, 33)], "k long, a long")
    out = {r.k: (r.a, r.b) for r in
           merge_frames(target, source, ["k"], matched="replace_all").collect()}
    assert out[1] == (99, "keep")     # a replaced, b preserved
    assert out[2] == (20, "also")     # unmatched target untouched
    assert out[3] == (33, None)       # inserted row has no b


def test_merge_rejects_unknown_not_matched(spark):
    """Any not_matched other than insert_all / do_nothing is an error
    in both merge forms, not a silent drop of every new key."""
    import pytest

    from linkmerce_spark.operators.merge import merge_deduped

    target = spark.createDataFrame([(1, 10)], "k long, a long")
    source = spark.createDataFrame([(2, 20)], "k long, a long")
    for merge in (
        lambda: merge_frames(target, source, ["k"], not_matched="insert"),
        lambda: merge_deduped(target, source, ["k"], ["a"], not_matched="insert"),
    ):
        with pytest.raises(ValueError, match="insert_all"):
            merge()


def test_allocation_null_weight_conserves_total(spark):
    """NULL weights count as 0; the group still sums exactly to total
    even when the NULL-weight row sorts first (the residue row)."""
    from pyspark.sql import functions as F

    from linkmerce_spark.operators.allocation import allocate_proportional

    df = spark.createDataFrame(
        [("g", 1, None), ("g", 2, 5)], "grp string, ord long, w long"
    )
    out = allocate_proportional(
        df, ["grp"], weight="w", total=F.lit(100), order_by=["ord"], scale=0
    )
    rows = {r.ord: r.allocated for r in out.collect()}
    assert rows[1] is not None and rows[2] is not None
    assert int(rows[1]) + int(rows[2]) == 100
    assert int(rows[2]) == 100        # all weight on row 2


def test_jaccard_pairs_complete_when_probe_id_larger(spark):
    """Probe ids larger than candidate ids must still pair (the old
    id_a<id_b-only form silently dropped them)."""
    from linkmerce_spark.operators.minhash import jaccard_pairs

    df = spark.createDataFrame(
        [(970, "s", "alpha beta gamma delta"), (5, "s", "alpha beta gamma delta")],
        "doc_id long, source string, text string",
    )
    probes = df.filter("doc_id = 970")
    out = jaccard_pairs(probes, df, join_on=["source"], shingle_words=2).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(970, 5)]
    assert out[0].jaccard == 1.0
    # symmetric self-join mode still dedupes by id order
    sym = jaccard_pairs(df, df, join_on=["source"], shingle_words=2,
                        dedup_symmetric=True).collect()
    assert [(r.id_a, r.id_b) for r in sym] == [(5, 970)]


def test_effective_dated_join_collision_raises_and_suffix_renames(spark):
    import datetime as dt

    from linkmerce_spark.operators.rangejoin import effective_dated_join

    fact = spark.createDataFrame(
        [(1, dt.date(2026, 1, 5), 100)], "k long, d date, price long"
    )
    rel = spark.createDataFrame(
        [(1, dt.date(2026, 1, 1), dt.date(2026, 12, 31), 7)],
        "k long, start_date date, end_date date, price long",
    )
    import pytest as _pytest
    with _pytest.raises(ValueError, match="price"):
        effective_dated_join(fact, rel, ["k"], point="d")
    out = effective_dated_join(fact, rel, ["k"], point="d", suffix="_rel")
    assert set(out.columns) == {"k", "d", "price", "price_rel"}
    row = out.first()
    assert (row.price, row.price_rel) == (100, 7)


def test_lsh_rejects_bands_exceeding_signature(spark):
    from linkmerce_spark.operators.minhash import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    signed = minhash_signature(df, "text", "doc_id", k=16, shingle_words=2)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="exceeds"):
        lsh_candidate_pairs(signed, bands=8, rows_per_band=4)


def test_lsh_guards_bands_without_signature_metadata(spark):
    """A signature that lost its ``k`` metadata (rehydrated from storage)
    must fail loudly on a band config longer than the signature, not
    pair every document through the empty last slice's one band key."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from linkmerce_spark.operators.minhash import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "red green blue cyan magenta"),
            (3, "north south east west center"),
        ],
        "doc_id long, text string",
    )
    signed = minhash_signature(df, "text", "doc_id", k=16, shingle_words=2)
    stripped = signed.select(
        "doc_id", F.array([F.col("sig")[i] for i in range(16)]).alias("sig")
    )
    assert stripped.schema["sig"].metadata.get("k") is None
    assert lsh_candidate_pairs(stripped).collect() == []
    with _pytest.raises(Exception, match="exceeds signature length"):
        lsh_candidate_pairs(stripped, bands=5, rows_per_band=4).collect()


def test_cell_pair_cosines_matches_join_form(spark):
    from pyspark.sql import functions as F

    from linkmerce_spark.operators.similarity import (
        cell_pair_cosines,
        quantized_cosine,
    )

    rows = [
        (i, (i * 7) % 3, [((i * 31 + j * 17) % 200 - 100) / 100.0 for j in range(8)])
        for i in range(40)
    ] + [(99, 0, [0.0] * 8)]  # zero-norm vector: NaN cosine must drop
    cells = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<double>"
    )
    got = (
        cell_pair_cosines(cells, min_cosine=0.1)
        .orderBy("cell", "id_a", "id_b")
        .collect()
    )
    a = cells.select("cell", F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = cells.select("cell", F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = quantized_cosine("va", "vb")
    want = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.floor(cos * 1000000.0 + 0.5) / 1000000.0)
        .filter(F.col("cosine") >= 0.1)
        .select("cell", "id_a", "id_b", "cosine")
        .orderBy("cell", "id_a", "id_b")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert all(r.id_a != 99 and r.id_b != 99 for r in got)


def test_pii_redact_replaces_with_typed_placeholders(spark):
    from pyspark.sql import functions as F

    from linkmerce_spark.functions.text import pii_redact

    rows = [
        (1, "mail me at bob@x.co or see https://a.b/c?d=1 or call 010-1234-5678"),
        (2, "clean text with nothing to hide"),
        # URL with an embedded email-shaped userinfo: the email pattern
        # fires FIRST (dict order), splitting the URL — the point of
        # pinning replacement order on both engines.
        (3, "go https://user@host.example/path now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    got = {
        r["doc_id"]: r["red"]
        for r in df.select(
            "doc_id", pii_redact(F.col("body")).alias("red")
        ).collect()
    }
    assert got[1] == "mail me at <EMAIL> or see <URL> or call <PHONE>"
    assert got[2] == "clean text with nothing to hide"
    # email fires first ("user@host.example" -> <EMAIL>), then the URL
    # pattern swallows the remaining "https://<EMAIL>/path" span whole.
    assert got[3] == "go <URL> now"
    # Idempotence: placeholders themselves must not re-match any pattern.
    redacted = spark.createDataFrame(
        [(1, got[1])], "doc_id long, body string"
    ).select(pii_redact(F.col("body")).alias("red"))
    assert redacted.collect()[0]["red"] == got[1]


def test_ivf_train_releases_its_cache_when_a_step_raises(spark):
    """More cells than rows makes the seed pick index past the
    candidates; the quantized-vector cache must not outlive the raise."""
    from linkmerce_spark.operators.similarity import ivf_train

    sc = spark.sparkContext
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)], "vec_id long, embedding array<float>"
    )
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    with pytest.raises(IndexError):
        ivf_train(df, "vec_id", "embedding", dim=2, k=5, oversample=1)
    assert set(sc._jsc.getPersistentRDDs().keySet().toArray()) == before
