"""SQ8 scalar quantization: contract properties + a pure-Python third
computation (the third-engine discipline — independent of both the
Spark builder and the DuckDB twin)."""

import math

from pyspark.sql import functions as F

from linkmerce_spark.plans import plan_shape


def _py_sq8_audit(vectors):
    """Pure-Python reference of operators/quantize.sq8_audit."""
    dims = len(vectors[0])
    out = {}
    for d in range(dims):
        xs = [float(v[d]) for v in vectors]
        mn, mx = min(xs), max(xs)
        codes, errs = [], []
        for x in xs:
            q = math.floor((x - mn) * 255.0 / (mx - mn) + 0.5) if mx > mn else 0
            xhat = mn + (float(q) * (mx - mn)) / 255.0
            codes.append(q)
            errs.append(abs(xhat - x))
        out[d] = {
            "n_values": len(xs),
            "mn_micro": math.floor(mn * 1e6 + 0.5),
            "mx_micro": math.floor(mx * 1e6 + 0.5),
            "sum_code": sum(codes),
            "max_code": max(codes),
            "sum_err_nano": sum(math.floor(e * 1e9 + 0.5) for e in errs),
            "max_err_nano": max(math.floor(e * 1e9 + 0.5) for e in errs),
        }
    return out


def test_sq8_audit_matches_pure_python_and_contract(spark):
    import random

    from linkmerce_spark.operators.quantize import sq8_audit

    rng = random.Random(42)
    # float32-exact inputs (parquet embeddings are float32): round-trip
    # through struct-of-float semantics by quantizing to 2^-10 grid
    vecs = [
        [round(rng.uniform(-1, 1) * 1024) / 1024 for _ in range(8)]
        for _ in range(200)
    ]
    # make dim 7 constant -> code 0, zero error (the mx==mn edge)
    for v in vecs:
        v[7] = 0.25
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = {r["dim"]: r.asDict() for r in sq8_audit(df).collect()}
    want = _py_sq8_audit(vecs)
    assert set(got) == set(want)
    for d in want:
        for k, v in want[d].items():
            assert got[d][k] == v, (d, k, got[d][k], v)
    # contract: codes bounded, error bounded by half a step (in nanounits)
    for d, row in got.items():
        assert 0 <= row["max_code"] <= 255
        step_half_nano = (
            (want[d]["mx_micro"] - want[d]["mn_micro"]) * 1000 / 255.0 / 2.0
        )
        assert row["max_err_nano"] <= step_half_nano + 2, d
    assert got[7]["max_code"] == 0 and got[7]["sum_err_nano"] == 0


def test_bq_signatures_match_pure_python(spark):
    """Sign-bit BQ codes vs an independent pure-Python packer, and
    Hamming distances vs python popcount — including the 32/33rd-dim
    half boundary, all-positive, all-negative, and exact-zero values
    (zero is NOT positive, so its bit is 0)."""
    import random

    from linkmerce_spark.operators.quantize import bq_signatures

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(50)]
    vecs.append([1.0] * 64)
    vecs.append([-1.0] * 64)
    zero_edge = [0.0] * 64
    zero_edge[0] = 1.0
    zero_edge[33] = 1.0
    vecs.append(zero_edge)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: (r["sig_lo"], r["sig_hi"])
        for r in bq_signatures(df).collect()
    }

    def py_sig(v):
        import struct as _s

        lo = hi = 0
        for d, x in enumerate(v):
            xf = _s.unpack("f", _s.pack("f", x))[0]  # float32 round-trip
            if xf > 0.0:
                if d < 32:
                    lo |= 1 << d
                else:
                    hi |= 1 << (d - 32)
        return lo, hi

    for i, v in enumerate(vecs):
        assert got[i] == py_sig(v), i
    assert got[len(vecs) - 3] == ((1 << 32) - 1, (1 << 32) - 1)  # all +1
    assert got[len(vecs) - 2] == (0, 0)  # all -1
    assert got[len(vecs) - 1] == (1, 2)  # bits 0 and 33 only
    # Hamming via bit_count(xor) == python popcount
    a, b = got[0], got[1]
    from pyspark.sql import functions as F2

    ham = (
        df.sparkSession.range(1)
        .select(
            (
                F2.bit_count(F2.lit(a[0]).bitwiseXOR(F2.lit(b[0])))
                + F2.bit_count(F2.lit(a[1]).bitwiseXOR(F2.lit(b[1])))
            ).alias("h")
        )
        .collect()[0]["h"]
    )
    assert ham == bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def test_sq8_reconstruct_matches_pure_python(spark):
    """Decode-path third computation: reconstructed vectors equal a
    pure-Python train/encode/decode bit-for-bit, and every element is
    within half a quantization step of the original (the SQ8 bound)."""
    import random

    from linkmerce_spark.operators.quantize import sq8_reconstruct

    rng = random.Random(11)
    vecs = [
        [round(rng.uniform(-2, 2) * 1024) / 1024 for _ in range(6)]
        for _ in range(80)
    ]
    for v in vecs:
        v[5] = -0.125  # constant dim: mx == mn -> xhat == mn exactly
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = {r["vec_id"]: list(r["rv"]) for r in sq8_reconstruct(df).collect()}

    dims = len(vecs[0])
    mn = [min(v[d] for v in vecs) for d in range(dims)]
    mx = [max(v[d] for v in vecs) for d in range(dims)]

    def py_decode(v):
        out = []
        for d, x in enumerate(v):
            q = (
                math.floor((x - mn[d]) * 255.0 / (mx[d] - mn[d]) + 0.5)
                if mx[d] > mn[d]
                else 0
            )
            out.append(mn[d] + (float(q) * (mx[d] - mn[d])) / 255.0)
        return out

    for i, v in enumerate(vecs):
        assert got[i] == py_decode(v), i  # bit-identical IEEE trees
        for d in range(dims):
            step = (mx[d] - mn[d]) / 255.0
            assert abs(got[i][d] - v[d]) <= step / 2.0 + 1e-12, (i, d)
    assert all(got[i][5] == -0.125 for i in got)  # constant dim exact


def test_sq8_roundtrip_recall_gate(spark):
    """The composed storage->prefilter->rerank path must keep real
    recall vs the exact float path: >= 0.5 aggregate recall@5 on the
    uniform-random fixture (measured 0.6 at sf0.001 AND sf0.01 —
    uniform vectors are the worst case for 1-bit sign codes; the gate
    allows fixture regeneration without chasing the exact value), and
    every rank-1 quantized cosine must at least be a positive-
    similarity neighbor (uniform-random fixtures keep cosines small,
    so no tighter bound is honest at this corpus size)."""
    from pyspark.sql import functions as F2

    from linkmerce_spark.queries import q_embedding_sq8_roundtrip

    df = q_embedding_sq8_roundtrip(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    n = len(rows)
    hits = sum(1 for r in rows if r["hit"])
    assert n == 50  # 10 queries x top-5
    assert hits / n >= 0.5, hits
    assert all(0 <= r["hamming"] <= 64 for r in rows)
    assert all(1 <= r["rank"] <= 5 for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in per_q.items():
        assert len(rs) == 5, qid
        ranked = sorted(rs, key=lambda r: r["rank"])
        cosines = [r["cosine_q"] for r in ranked]
        assert cosines == sorted(cosines, reverse=True), qid
    # sanity on the audit leg itself: rank-1 must at least be a
    # positive-similarity neighbor, never an anti-correlated row
    top1 = df.filter(F2.col("rank") == 1)
    assert top1.filter(F2.col("cosine_q") <= 0.0).count() == 0


def test_bq_signatures_edge_vectors_match_duckdb(spark):
    """Empty and NULL vectors must produce (0L, 0L), not NULL
    (sequence(0,-1) builds a DESCENDING list and zip_with null-pads
    without the guard); dims >= 65 are capped out of the code on BOTH
    engines (two 32-bit halves hold 64 bits). Spark and the oracle's
    sig expression are run side-by-side on the same handcrafted rows."""
    import duckdb

    from linkmerce_spark.operators.quantize import bq_signatures

    seventy = [1.0 if d % 3 == 0 else -1.0 for d in range(70)]
    rows = [
        (0, []),            # empty -> (0, 0)
        (1, None),          # NULL  -> (0, 0)
        (2, [1.0] * 70),    # 70 dims: hi must cap at dims 33..64
        (3, seventy),       # mixed signs past the cap
        (4, [1.0] * 40),    # partial hi half
        (5, [-0.5, 0.5]),   # lo-only short vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: (r["sig_lo"], r["sig_hi"])
        for r in bq_signatures(df).collect()
    }
    assert got[0] == (0, 0)
    assert got[1] == (0, 0)
    assert got[2] == ((1 << 32) - 1, (1 << 32) - 1)  # dims 65-70 ignored
    assert got[4] == ((1 << 32) - 1, (1 << 8) - 1)
    assert got[5] == (2, 0)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {('NULL' if v is None else 'CAST(' + str([float(x) for x in v]) + ' AS FLOAT[])')})"
            for i, v in rows
        )
        + ") t(vec_id, embedding)"
    )
    from linkmerce_spark.oracles import ORACLES

    sig_cte = ORACLES["embedding_bq_topk"].split("), q AS (")[0] + ")"
    duck = {
        r[0]: (r[1], r[2])
        for r in con.execute(sig_cte + " SELECT * FROM sig").fetchall()
    }
    assert duck == got


def test_bq_signatures_zero_shuffle(spark):
    """The code build must be a pure projection — no exchange."""
    from linkmerce_spark.operators.quantize import bq_signatures

    df = spark.createDataFrame(
        [(i, [float(i), -1.0, 2.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    shape = plan_shape(bq_signatures(df))
    assert shape.exchanges == [] and shape.reused == 0, shape.exchanges


def test_sq8_plan_broadcasts_stats_no_smj(spark):
    """The trained 64-row stats must come back as a BROADCAST join —
    a sort-merge join (or a window over the exploded fact) would put
    the whole corpus through 64 reducers at scale."""
    from linkmerce_spark.operators.quantize import sq8_audit

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    joins = plan_shape(sq8_audit(df)).joins
    assert joins["bhj"] >= 1 and joins["smj"] == 0, joins
