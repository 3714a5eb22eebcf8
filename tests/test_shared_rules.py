"""Each shared parse and operator rule has one definition.

- The ISO-8601 parse, the word n-gram hash and the map literal live
  in ``functions/`` only, no model builds its own CASE-chain enum
  encoder, and no mart joins a ``values_df`` vocabulary.
- The md5 32-bit prefix hash, the MinHash permutation, the LSH band
  digest and the bloom probe positions each have one home.
- Every vocabulary a model passes to ``functions.scalar.enum_code``
  encodes as the CASE chain it replaced (kept here as the reference).
- Every mart vocabulary looks up through ``functions.scalar.lookup``
  as the broadcast LEFT JOIN it replaced (kept here as the reference).
- The sabangnet amount split, each amount's group sum fed to
  ``split_by_cost_weight``, equals the former ``split_group_sum``
  (kept here as the reference).
"""

from __future__ import annotations

import ast
import importlib
import re
from collections.abc import Sequence
from pathlib import Path

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent
LIB = REPO / "linkmerce_spark"


def _hits(pattern: str, paths, flatten: bool = False) -> list[str]:
    out = []
    for path in paths:
        text = path.read_text(encoding="utf-8")
        if flatten:  # match across line breaks and the ``F.`` prefix
            text = re.sub(r"\s+|\bF\.", "", text)
        if re.search(pattern, text):
            out.append(path.relative_to(REPO).as_posix())
    return out


def test_iso_parse_gram_hash_and_enum_encoders_have_one_home():
    outside = [p for p in sorted(LIB.rglob("*.py")) if "functions" not in p.relative_to(LIB).parts]
    assert not _hits(r"yyyy-MM-dd'T'HH:mm:ss", outside)
    assert not _hits(r"xxhash64\(array_join\(slice\(", outside, flatten=True)
    assert not _hits(r"\bfor\b[^\n]*\bin\s+reversed\(", sorted((LIB / "models").rglob("*.py")))
    assert not _hits(r"\bvalues_df\(", sorted((LIB / "marts").rglob("*.py")))
    assert not _hits(r"\bcreate_map\(", outside)


def test_hash_rules_have_one_home():
    """The md5 32-bit prefix hash lives in ``functions/``; the MinHash
    permutation modulus and the LSH band digest in
    ``operators/minhash.py``; the bloom filter has one position scheme."""
    lib = sorted(LIB.rglob("*.py"))
    outside = [p for p in lib if "functions" not in p.relative_to(LIB).parts]
    # an 8-hex-char prefix read as an integer: md5_hash32's body
    assert not _hits(r",1,8\),16,10\)", outside, flatten=True)
    not_minhash = [p for p in lib if p != LIB / "operators" / "minhash.py"]
    assert not _hits(r"\.alias\(\"band_key\"\)", not_minhash, flatten=True)
    assert not _hits(r"_MINHASH_P", not_minhash)
    assert not _hits(r"\bhash_fn\b", [LIB / "operators" / "bloom.py"])


# --- enum_code vs the CASE chain ----------------------------------------


def _case_chain(col, mapping, default):
    expr = F.lit(default).cast("int")
    for code, seq in reversed(list(mapping.items())):
        expr = F.when(col == code, F.lit(seq)).otherwise(expr)
    return expr


def _source_len(node, assigns: dict, ns: dict) -> int:
    """How many entries the vocabulary's source spells out, before a
    dict could fold a duplicated code."""
    if isinstance(node, ast.Dict):
        return len(node.keys)
    if isinstance(node, (ast.List, ast.Tuple)):
        return len(node.elts)
    if isinstance(node, ast.Name) and node.id in assigns:
        return _source_len(assigns[node.id], assigns, ns)
    if isinstance(node, ast.Call) and node.args:  # dict(LABELS), _seqs(VOCAB)
        return _source_len(node.args[0], assigns, ns)
    if isinstance(node, ast.DictComp):
        return _source_len(node.generators[0].iter, assigns, ns)
    return len(eval(compile(ast.Expression(node), "<vocab>", "eval"), ns))


def _enum_sites() -> list[tuple[str, dict, int | None]]:
    """Every ``enum_code(col, mapping[, default])`` call under
    ``models/``, its mapping and default evaluated in its module."""
    sites = []
    for path in sorted((LIB / "models").rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        calls = [
            n for n in ast.walk(tree)
            if isinstance(n, ast.Call) and getattr(n.func, "id", None) == "enum_code"
        ]
        if not calls:
            continue
        dotted = path.relative_to(REPO).with_suffix("").as_posix().replace("/", ".")
        ns = vars(importlib.import_module(dotted.removesuffix(".__init__")))
        assigns = {
            t.id: n.value
            for n in tree.body
            if isinstance(n, (ast.Assign, ast.AnnAssign))
            for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
            if isinstance(t, ast.Name)
        }
        for call in calls:
            args = call.args + [k.value for k in call.keywords if k.arg == "default"]
            val = lambda node: eval(compile(ast.Expression(node), str(path), "eval"), ns)  # noqa: E731
            mapping = val(args[1])
            site = f"{path.relative_to(LIB).as_posix()}:{call.lineno}"
            assert _source_len(args[1], assigns, ns) == len(mapping), f"duplicate code at {site}"
            sites.append((site, mapping, val(args[2]) if len(args) > 2 else None))
    return sites


def test_enum_sites_cover_every_model_vocabulary():
    sites = _enum_sites()
    assert len(sites) == 26
    assert {s.rsplit(":", 1)[0] for s, _, _ in sites} == {
        "models/coupang/__init__.py",
        "models/google/__init__.py",
        "models/orderpipe/__init__.py",
        "models/sabangnet/__init__.py",
        "models/searchad/extras.py",
        "models/smartstore/__init__.py",
        "models/smartstore/extras.py",
    }


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_enum_code_matches_the_case_chain(spark, ansi):
    from linkmerce_spark.functions.scalar import enum_code

    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", ansi)
    sites = _enum_sites()
    keys = sorted({k for _, m, _ in sites for k in m})
    values = s.createDataFrame([(k,) for k in keys] + [("__miss__",), (None,)], "v string")
    cols = []
    for i, (_, mapping, default) in enumerate(sites):
        cols.append(enum_code("v", mapping, default).alias(f"e{i}"))
        cols.append(_case_chain(F.col("v"), mapping, default).alias(f"c{i}"))
    out = values.select("v", *cols)
    for i, (site, _, _) in enumerate(sites):
        e, c = out.schema[f"e{i}"], out.schema[f"c{i}"]
        assert (e.dataType, e.nullable) == (c.dataType, c.nullable), site
    rows = out.collect()
    assert len(rows) == len(keys) + 2
    for i, (site, _, _) in enumerate(sites):
        assert [r[f"e{i}"] for r in rows] == [r[f"c{i}"] for r in rows], site


# --- lookup vs the VALUES join -------------------------------------------

# Vocabularies whose seq a GREATEST status resolves back through.
_GREATEST = {"masters.GOOGLE_STATUSES", "masters.META_EFFECTIVE_STATUSES"}


def _mart_vocabularies() -> list[tuple[str, list[tuple]]]:
    """Every upper-case list-of-tuples constant of the marts that look
    a vocabulary up."""
    out = []
    for mod in ("masters", "product", "adreport", "profit"):
        ns = vars(importlib.import_module(f"linkmerce_spark.marts.{mod}"))
        for name, rows in ns.items():
            if name.isupper() and isinstance(rows, list) and all(isinstance(r, tuple) for r in rows):
                out.append((f"{mod}.{name}", rows))
    return out


_VOCABS = _mart_vocabularies()


def test_every_mart_vocabulary_is_covered():
    assert len(_VOCABS) == 28
    assert _GREATEST <= {name for name, _ in _VOCABS}


@pytest.mark.parametrize("name,rows", _VOCABS, ids=[n for n, _ in _VOCABS])
def test_lookup_matches_the_values_join(spark, name, rows):
    """(seq, code, label) vocabularies key on code, the others on their
    first column; a GREATEST status also keys on seq."""
    from pyspark.sql.functions import broadcast

    from linkmerce_spark.frames import from_rows, values_df
    from linkmerce_spark.functions.scalar import lookup

    width = len(rows[0])
    types = [
        "int" if isinstance(next(r[i] for r in rows if r[i] is not None), int) else "string"
        for i in range(width)
    ]
    schema = ", ".join(f"c{i} {t}" for i, t in enumerate(types))
    keys = [1 if width == 3 else 0] + ([0] if name in _GREATEST else [])
    for ansi in ("true", "false"):
        s = spark.newSession()
        s.conf.set("spark.sql.ansi.enabled", ansi)
        mapping = broadcast(values_df(s, rows, schema))
        for key in keys:
            codes = [r[key] for r in rows]
            assert len(set(codes)) == len(codes), f"{name}: duplicate c{key}"
            miss = -1 if types[key] == "int" else "__miss__"
            probe = from_rows(s, [(c,) for c in codes] + [(miss,), (None,)], f"k {types[key]}")
            values = [i for i in range(width) if i != key]
            out = probe.join(mapping, F.col("k") == F.col(f"c{key}"), "left").select(
                "k",
                *[F.col(f"c{i}").alias(f"want{i}") for i in values],
                *[lookup("k", {r[key]: r[i] for r in rows}).alias(f"got{i}") for i in values],
            )
            for i in values:
                assert out.schema[f"got{i}"].dataType == out.schema[f"want{i}"].dataType, name
            rows_out = out.collect()
            assert len(rows_out) == len(codes) + 2
            for r in rows_out:
                assert [r[f"got{i}"] for i in values] == [r[f"want{i}"] for i in values], (
                    name, key, ansi, r["k"],
                )


# --- the amount split fold ----------------------------------------------


def _split_group_sum(
    df: DataFrame,
    keys: Sequence[str],
    amount_cols: Sequence[str],
    cost_col: str = "cost_amount",
    order_col: str = "product_id",
) -> DataFrame:
    """The former ``total_order.split_group_sum``, verbatim."""
    wg = Window.partitionBy(*keys)
    wo = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    out = (
        df.withColumn("__n", F.count(F.lit(1)).over(wg))
        .withColumn("__total_cost", F.sum(cost_col).over(wg))
        .withColumn("__rn", F.row_number().over(wo))
    )
    for c in amount_cols:
        total = F.sum(c).over(wg)
        split = F.coalesce(
            F.floor(
                total * (F.col(cost_col) / F.nullif(F.col("__total_cost"), F.lit(0)))
                + F.lit(0.5)
            ).cast("long"),
            F.lit(0),
        )
        out = out.withColumn(f"__split_{c}", split).withColumn(f"__total_{c}", total)
        adjusted = (
            F.when(
                F.col("__rn") == 1,
                F.col(f"__total_{c}") - F.sum(f"__split_{c}").over(wg),
            ).otherwise(F.lit(0))
            + F.col(f"__split_{c}")
        )
        out = out.withColumn(c, F.when(F.col("__n") > 1, adjusted).otherwise(F.col(c)))
    return out.drop(
        "__n", "__total_cost", "__rn",
        *[f"__split_{c}" for c in amount_cols],
        *[f"__total_{c}" for c in amount_cols],
    )


class _Captured(Exception):
    pass


def test_amount_split_fold_matches_split_group_sum(spark, monkeypatch):
    from linkmerce_spark.marts import total_order

    costed = spark.createDataFrame(
        [
            (1, "A", "P1", 5, 100, 90),  # singleton
            (2, "A", "P1", None, None, 7),  # singleton, NULL amount and cost
            (1, "B", "P1", 1, 100, 10),  # cost-weighted, residue to P1
            (1, "B", "P2", 2, 0, 11),
            (1, "B", "P3", 3, 33, 12),
            (1, "C", "P2", 0, 50, 5),  # zero total cost: all to the first row
            (1, "C", "P1", 0, 25, 5),
            (2, "D", "P1", 4, None, None),  # NULL amounts
            (2, "D", "P2", 4, 50, None),
            (2, "E", "P1", None, 9, 3),  # a NULL cost in a group
            (2, "E", "P2", 7, 10, 4),
            (3, "F", "P9", 3, 1, 1),  # odd shares: floor(x + 0.5) ties
            (3, "F", "P8", 3, 0, 0),
        ],
        "account_no int, order_id string, product_id string, cost_amount long, "
        "payment_amount long, supply_amount long",
    )
    amounts = ["payment_amount", "supply_amount"]
    captured = {}

    def capture(split, *_):
        captured["split"] = split
        raise _Captured

    monkeypatch.setattr(total_order, "sabangnet_explode", lambda bpo: bpo)
    monkeypatch.setattr(total_order, "with_cost_data", lambda o, *_: o)
    monkeypatch.setattr(total_order, "with_cj_delivery", capture)
    with pytest.raises(_Captured):
        total_order.sabangnet_product_order(costed, *[None] * 6)
    got = captured["split"]
    want = _split_group_sum(
        costed.repartition(F.col("order_id")), ["account_no", "order_id"], amounts
    )
    assert got.schema == want.schema
    order = ["account_no", "order_id", "product_id"]
    assert got.orderBy(*order).collect() == want.orderBy(*order).collect()
