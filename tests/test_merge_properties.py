"""Property-based test: merge_frames vs a pure-Python reference model.

The 6-verb merge vocabulary (SURVEY A10) is the engine's most
semantically dense operator; this drives random target/source batches
through every verb and checks the DataFrame result row-for-row against
a dict-based model implementing the reference semantics directly
(extensions/postgres.py:554-597 rules).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from linkmerce_spark.operators.merge import merge_frames
from linkmerce_spark.plans import plan_shape

_VERBS = ["replace", "ignore", "greatest", "least", "source_first", "target_first"]

_val = st.one_of(st.none(), st.integers(min_value=-50, max_value=50))
_key = st.one_of(st.none(), st.integers(min_value=0, max_value=5))
_row = st.tuples(_key, _val, _val)  # (key, a, b)
_rows = st.lists(_row, min_size=0, max_size=8)


def _model_merge(target, source, verb_a, verb_b):
    """Dict model: last-write per key in target; source deduped
    keep-first by seq; verbs applied per column."""

    def apply(verb, t, s):
        if verb == "replace":
            return s
        if verb == "ignore":
            return t
        if verb == "greatest":
            return max((x for x in (t, s) if x is not None), default=None)
        if verb == "least":
            return min((x for x in (t, s) if x is not None), default=None)
        if verb == "source_first":
            return s if s is not None else t
        return t if t is not None else s  # target_first

    tgt = {k: (a, b) for k, a, b in target}
    src = {}
    for k, a, b in source:  # keep FIRST occurrence per key
        src.setdefault(k, (a, b))
    out = dict(tgt)
    for k, (sa, sb) in src.items():
        if k in tgt:
            ta, tb = tgt[k]
            out[k] = (apply(verb_a, ta, sa), apply(verb_b, tb, sb))
        else:
            out[k] = (sa, sb)
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    target=_rows,
    source=_rows,
    verb_a=st.sampled_from(_VERBS),
    verb_b=st.sampled_from(_VERBS),
)
def test_merge_matches_reference_model(spark, target, source, verb_a, verb_b):
    # target keys unique (it's a PK table): keep last per key
    tgt_rows = list({k: (k, a, b) for k, a, b in target}.values())
    t = spark.createDataFrame(
        [(k, a, b) for k, a, b in tgt_rows] or [(None, None, None)],
        "k int, a int, b int",
    )
    if not tgt_rows:
        t = t.limit(0)
    s = spark.createDataFrame(
        [(k, a, b, i) for i, (k, a, b) in enumerate(source)] or [(None, None, None, None)],
        "k int, a int, b int, seq int",
    )
    if not source:
        s = s.limit(0)

    got_df = merge_frames(
        t,
        s.drop("seq") if not source else s.select("k", "a", "b", "seq"),
        ["k"],
        matched={"a": verb_a, "b": verb_b},
        not_matched="insert_all",
        source_order=[F.col("seq").asc()] if source else None,
    )
    # merge output carries target columns; source seq is not part of it
    got = {r["k"]: (r["a"], r["b"]) for r in got_df.select("k", "a", "b").collect()}
    want = _model_merge(tgt_rows, source, verb_a, verb_b)
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    target=_rows,
    source=_rows,
    verb_a=st.sampled_from(_VERBS),
    verb_b=st.sampled_from(_VERBS),
)
def test_merge_deduped_matches_join_merge(spark, target, source, verb_a, verb_b):
    """The fused single-shuffle merge (union + tagged window dedup +
    grouped verb resolution, no join node) must be value-identical to
    the join-based merge_frames over pre-deduped batches — including
    duplicate keys in BOTH batches and NULL merge keys."""
    from linkmerce_spark.operators.dedup import dedupe_keep_first
    from linkmerce_spark.operators.merge import merge_deduped

    schema = "k int, a int, b int, seq int"
    t_rows = [(k, a, b, i) for i, (k, a, b) in enumerate(target)]
    s_rows = [(k, a, b, i) for i, (k, a, b) in enumerate(source)]
    t = spark.createDataFrame(t_rows or [(None,) * 4], schema)
    s = spark.createDataFrame(s_rows or [(None,) * 4], schema)
    if not t_rows:
        t = t.limit(0)
    if not s_rows:
        s = s.limit(0)
    order = [F.col("seq").asc()]
    verbs = {"a": verb_a, "b": verb_b, "seq": "target_first"}

    fused = merge_deduped(t, s, ["k"], order, matched=verbs)
    plain = merge_frames(
        dedupe_keep_first(t, ["k"], order),
        dedupe_keep_first(s, ["k"], order),
        ["k"],
        matched=verbs,
    )
    key = lambda r: (r["k"] is None, r["k"])  # noqa: E731
    got = sorted((tuple(r) for r in fused.collect()), key=lambda x: (x[0] is None, x[0] or 0))
    want = sorted((tuple(r) for r in plain.select(*fused.columns).collect()), key=lambda x: (x[0] is None, x[0] or 0))
    assert got == want
    # and the fused plan really has no join node
    joins = plan_shape(fused).joins
    assert sum(joins.values()) == 0, joins
