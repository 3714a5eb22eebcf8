"""Streaming BQ ANN index (streaming/annindex.py): stateless encode ==
batch encode of the union, exactly-once ingest across restarts, and
serving parity with the batch pre-filter stage."""

from __future__ import annotations

import random
import shutil

import pytest
from pyspark.sql import functions as F

from linkmerce_spark.plans import plan_shape


@pytest.fixture()
def workdir(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def _vecs(seed, n, base):
    rng = random.Random(seed)
    return [
        (base + i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(n)
    ]


def _drain(spark, src, ckpt, idx, schema):
    from linkmerce_spark.streaming.annindex import streaming_bq_ingest

    stream = spark.readStream.schema(schema).parquet(src)
    q = streaming_bq_ingest(stream, idx, ckpt)
    assert q.awaitTermination(120), "availableNow drain did not finish"


def test_streaming_index_equals_batch_and_serves(spark, workdir):
    from linkmerce_spark.operators.quantize import bq_signatures
    from linkmerce_spark.streaming.annindex import bq_index_topk

    src, ckpt, idx = f"{workdir}/v", f"{workdir}/ck", f"{workdir}/idx"
    b1, b2 = _vecs(1, 40, 0), _vecs(2, 30, 1000)
    schema_str = "vec_id long, embedding array<float>"

    spark.createDataFrame(b1, schema_str).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    _drain(spark, src, ckpt, idx, schema)
    spark.createDataFrame(b2, schema_str).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, ckpt, idx, schema)  # restart from checkpoint

    # 1. the ingested index == the batch encode of the union, exactly
    union = spark.createDataFrame(b1 + b2, schema_str)
    want = {
        r["vec_id"]: (r["sig_lo"], r["sig_hi"])
        for r in bq_signatures(union).collect()
    }
    got = {
        r["vec_id"]: (r["sig_lo"], r["sig_hi"])
        for r in spark.read.parquet(idx).collect()
    }
    assert got == want

    # 2. exactly-once: a no-new-data re-drain appends nothing
    n = spark.read.parquet(idx).count()
    _drain(spark, src, ckpt, idx, schema)
    assert spark.read.parquet(idx).count() == n == 70

    # 3. serving: Hamming top-k from the index == the same ranking
    # computed fully in batch over the union (the capstone's stage)
    queries = spark.createDataFrame(b1[:3] + b2[:2], schema_str)
    served = bq_index_topk(spark, idx, queries, k=5)
    qs = bq_signatures(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_lo").alias("qlo"),
        F.col("sig_hi").alias("qhi"),
    )
    cs = bq_signatures(union).select(
        F.col("vec_id").alias("neighbor_id"), "sig_lo", "sig_hi"
    )
    ham = (
        F.bit_count(F.col("qlo").bitwiseXOR(F.col("sig_lo")))
        + F.bit_count(F.col("qhi").bitwiseXOR(F.col("sig_hi")))
    ).cast("int")
    from linkmerce_spark.operators.topk import top_k_per_group

    batch = top_k_per_group(
        cs.join(F.broadcast(qs), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", ham.alias("hamming")),
        ["query_id"],
        [F.col("hamming").asc_nulls_last(), F.col("neighbor_id").asc()],
        k=5,
        rank_col="rank",
    )
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_encode_plans_stateless(spark, workdir):
    """The streaming encode must stay a stateless projection — no
    stateful operator, no shuffle before the sink (the property that
    makes the 1-bit tier retrain-free)."""
    src = f"{workdir}/v"
    spark.createDataFrame(_vecs(3, 5, 0), "vec_id long, embedding array<float>")\
        .coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    from linkmerce_spark.operators.quantize import bq_signatures

    stream = spark.readStream.schema(schema).parquet(src)
    sig = bq_signatures(stream)
    assert sig.isStreaming
    ops = plan_shape(sig, "analyzed").nodes
    assert not any("Aggregate" in op or "Join" in op for op in ops), ops
