"""Row-batch <-> DataFrame bridge and the table registry.

The reference's universal interchange format is a ``list[dict]`` row
batch bound into SQL as an UNNEST values-scan (reference:
src/linkmerce/common/transform.py:817-819 ``expr_rows``;
src/linkmerce/common/load.py:417-430 ``execute_with_json``). In Spark
that is ``from_rows``: the batch handed to the JVM once as an Arrow
``LocalRelation``. This module keeps that bridge plus the logical-alias
table map the reference renders into its SQL (``tables: {key: name}``,
transform.py:677).
"""

from __future__ import annotations

import threading
from collections.abc import Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from linkmerce_spark import memo

__all__ = [
    "from_rows",
    "TableRegistry",
    "load_star",
    "select_paths",
    "widen_scan",
    "STAR_TABLES",
]


def widen_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow scan up to the session's
    default parallelism — a no-op whenever the input already has that
    many partitions (any real-scale table).

    Use inside operators whose per-row compute EXPANDS far beyond the
    input bytes (gram explodes, signature hashing, codec decode): at
    100 TB the scan splits into thousands of tasks by itself, but a
    small file is ONE split, and a 50x explode behind it then runs
    single-threaded while every other core idles. Catalyst still
    pushes filters and prunes columns through the Repartition node
    (verified: PushedFilters reaches the FileScan below it).

    Order-SENSITIVE consumers (insertion-order ``row_number``) must
    not widen — round-robin destroys file order. The partition probe
    (``df.rdd``) costs ~0.5 s of driver work, so the result is
    memoized on the DataFrame object; ``load_star``'s per-session
    table memo makes that once per session per table.
    """
    cached = getattr(df, "_lm_widened", None)
    if cached is not None:
        return cached
    target = df.sparkSession.sparkContext.defaultParallelism
    out = df if df.rdd.getNumPartitions() >= target else df.repartition(target)
    try:
        df._lm_widened = out
        out._lm_widened = out  # re-widening the widened frame is free
    except Exception:  # pragma: no cover - frozen/mocked frames
        pass
    return out

# Driver-generated TPC-H-ish star schema + pipeline tables (TESTDATA.md).
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def from_rows(
    spark: SparkSession,
    rows: Iterable[Mapping[str, Any]],
    schema: StructType | str | list[str] | None = None,
) -> DataFrame:
    """Bind a row batch (``list[dict]`` or tuples) as a relation.

    This is the engine's values-scan: the Spark-native equivalent of the
    reference's ``(SELECT rows.* FROM (SELECT UNNEST($rows)))`` pattern,
    and the one way driver-held rows enter Spark. Always pass an
    explicit schema in production paths — inference scans the batch
    twice and widens types unpredictably. A list of names, as with
    ``createDataFrame``, infers the types and renames the columns.

    The batch crosses to the JVM once, as an Arrow ``LocalRelation``.
    ``spark.createDataFrame(rows)`` wraps it in a pickled Python RDD
    instead, and every evaluation of that (each merge, stage and
    overwrite that re-reads the batch) reruns ``defaultParallelism``
    Python-worker tasks to unpickle it. Rows and types read as there:
    the schema comes from the same PySpark inference and verifier, and
    each value goes through the same row converter and ``toInternal``
    (non-string scalars in string fields become text, ``True`` as
    ``'true'``; naive ``datetime`` values are the process's local time).
    Decimals take the JVM's reading: rounded half-up to the column's
    scale, NaN as NULL. Where inference meets a ``bool`` and a long in
    one field, the ``bool`` reads as 1/0.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _create_converter, _make_type_verifier

    rows = list(rows)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if isinstance(schema, StructType):
        verify = _make_type_verifier(schema)
        for r in rows:
            verify(r)
        struct = schema
    else:
        # names applied over the inferred fields
        struct = _infer_schema(spark, rows, schema)
        for i, name in enumerate(schema or ()):
            struct.fields[i].name = name
            struct.names[i] = name
    convert = _create_converter(struct)
    internal = [struct.toInternal(convert(r)) for r in rows]
    columns = list(zip(*internal)) or [()] * len(struct.fields)
    arrays = []
    for f, values in zip(struct.fields, columns):
        fix = _leaf_reader(f.dataType)
        arrays.append(
            pa.array(
                values if fix is None else [fix(v) for v in values],
                type=to_arrow_type(f.dataType),
            )
        )
    # What ``createDataFrame(pyarrow.Table)`` does, less its timestamp
    # localize pass: the timestamps here are UTC instants already, and
    # on pyarrow < 17 that pass rebuilds a map with nested values
    # without its null mask, so a NULL map would read as ``{}``.
    jvm = spark._jvm
    jiter = spark.sparkContext._serialize_to_jvm(
        pa.Table.from_arrays(arrays, names=struct.names).to_batches(),
        ArrowStreamSerializer(),
        jvm.PythonSQLUtils.readArrowStreamFromFile,
        jvm.ArrowIteratorServer,
    )
    jdf = jvm.PythonSQLUtils.toDataFrame(jiter, struct.json(), spark._jsparkSession)
    return DataFrame(jdf, spark)


_INFER_LOCK = threading.Lock()


def _infer_schema(spark: SparkSession, rows: list, names: list[str] | None) -> StructType:
    """``createDataFrame``'s own row inference (private: PySpark has no
    public one) with two widenings, as DuckDB unifies its types: where a
    long meets a double the type is double (INTEGER and DOUBLE), and
    where a bool meets a long it is long (``VALUES (true), (1)`` types
    as INTEGER, reading ``true`` as 1). PySpark raises
    ``CANNOT_MERGE_TYPE`` there (``[{"a": 1}, {"a": 2.5}]``), and inside
    one map its answer hangs on key order. Its merge is looked up as a
    module global at every step, so the widening wraps it for this call
    only; it answers only where PySpark would raise, so every batch
    PySpark infers keeps its schema."""
    from pyspark.sql import session, types

    merge = types._merge_type

    def widen(a, b, name=None):
        pair = {type(a), type(b)}
        if pair == {types.LongType, types.DoubleType}:
            return types.DoubleType()
        if pair == {types.BooleanType, types.LongType}:
            return types.LongType()
        return merge(a, b, name)

    with _INFER_LOCK:
        types._merge_type = session._merge_type = widen
        try:
            return spark._inferSchemaFromList(rows, names=names)
        finally:
            types._merge_type = session._merge_type = merge


def _leaf_reader(dt: Any):
    """Per-value fix-up for the decimal and long leaves of ``dt``
    (``None`` when it has none), where Arrow refuses a value: a
    ``Decimal`` takes the JVM reading, half-up to the scale and NaN as
    NULL (Arrow would refuse a lossy rescale; a value too wide for the
    column still raises, as it does on the JVM), and a ``bool`` in a
    long field, which only inference puts there, reads as 1/0."""
    from decimal import ROUND_HALF_UP, Context, Decimal

    from pyspark.sql.types import ArrayType, DecimalType, LongType, MapType

    if isinstance(dt, LongType):
        return lambda v: int(v) if v.__class__ is bool else v
    if isinstance(dt, DecimalType):
        quantum = Decimal(1).scaleb(-dt.scale)
        wide = Context(prec=2 * dt.precision + dt.scale)

        def read(v):
            if v is None or v.is_nan():
                return None
            return v.quantize(quantum, rounding=ROUND_HALF_UP, context=wide)

        return read
    if isinstance(dt, ArrayType):
        elem = _leaf_reader(dt.elementType)
        if elem is None:
            return None
        return lambda v: None if v is None else [elem(x) for x in v]
    if isinstance(dt, MapType):
        key, val = _leaf_reader(dt.keyType), _leaf_reader(dt.valueType)
        if key is None and val is None:
            return None
        key, val = key or (lambda x: x), val or (lambda x: x)
        return lambda v: None if v is None else {key(k): val(x) for k, x in v.items()}
    if isinstance(dt, StructType):
        fields = [_leaf_reader(f.dataType) for f in dt.fields]
        if all(f is None for f in fields):
            return None
        fields = [f or (lambda x: x) for f in fields]
        return lambda v: None if v is None else tuple(f(x) for f, x in zip(fields, v))
    return None


class TableRegistry:
    """Logical-name -> DataFrame registry with temp-view projection.

    Mirrors the reference's ``tables`` alias map + Jinja ``{{ table }}``
    rendering (transform.py:647-650): SQL models refer to logical keys;
    the registry decides the physical name. Here the physical name is a
    temp view, so ``spark.sql`` models and DataFrame pipelines compose.
    """

    def __init__(self, spark: SparkSession, aliases: Mapping[str, str] | None = None):
        self.spark = spark
        self.aliases: dict[str, str] = dict(aliases or {})
        self._frames: dict[str, DataFrame] = {}

    def resolve(self, key: str) -> str:
        return self.aliases.get(key, key)

    def register(self, key: str, df: DataFrame, *, as_view: bool = True) -> str:
        """Register a DataFrame under a logical key; returns the physical name."""
        name = self.resolve(key)
        self._frames[key] = df
        if as_view:
            df.createOrReplaceTempView(name)
        return name

    def __getitem__(self, key: str) -> DataFrame:
        if key in self._frames:
            return self._frames[key]
        return self.spark.table(self.resolve(key))

    def __contains__(self, key: str) -> bool:
        return key in self._frames

    def keys(self):
        return self._frames.keys()


def load_star(
    spark: SparkSession,
    sf_dir: str,
    tables: Iterable[str] = STAR_TABLES,
    register_views: bool = False,
) -> dict[str, DataFrame]:
    """Load the driver's parquet star schema from ``sf_dir``.

    Plain ``spark.read.parquet`` — scans stay columnar/vectorized and
    Catalyst pushes filters and prunes columns into the parquet reader.
    Reads are source-tier memos (``memo.source``): a fresh read costs
    ~100 ms of driver footer and schema work, the catalog touches the
    same ten tables thousands of times a run, and a DataFrame over
    immutable parquet is a reusable plan, as a warehouse table is.
    """
    out: dict[str, DataFrame] = {}
    base = sf_dir.rstrip("/")

    def read(name: str) -> DataFrame:
        try:
            # Runtime-settable SQL conf; required to read pandas-
            # written TIMESTAMP(NANOS) parquet (events.ts) on any
            # caller's session.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = spark.read.parquet(f"{base}/{name}.parquet")
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # TIMESTAMP(NANOS) parquet read as long via nanosAsLong:
            # truncate to micros (identical to DuckDB's nanos
            # handling).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df

    for name in tables:
        df = memo.source(spark, ("parquet", base, name), lambda: read(name))
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def shared_frame(spark: SparkSession, key: tuple, build) -> DataFrame:
    """The materialized build of mart ``key``: the Spark equivalent of a
    dbt ``ref()``. In the reference's DAG every mart is materialized
    once per run and downstream models read the built table (e.g.
    sabangnet__option_master selects FROM the materialized
    sabangnet__product_master, dbt_postgres/models/marts/product/);
    they never re-run the upstream SQL. The first call runs ``build()``
    and publishes it (``memo.publish``: an eager localCheckpoint, so
    lineage is cut once and concurrent broadcast jobs in consumers
    cannot race a lazy materialization); later calls read the build.

    ``key`` must carry every input the build depends on (at minimum
    the mart name and sf_dir). Only CONSUMERS of a mart go through
    this, and it is the one place a mart is published for them: the
    catalog query that verifies mart X builds X fresh and returns the
    build, so its bench time measures real compute and its plan shows
    the mart's body.
    """
    return memo.derived(spark, key, lambda: memo.publish(spark, key, build()))


def select_paths(df: DataFrame, schema: Mapping[str, str], extends: Mapping[str, Any] | None = None) -> DataFrame:
    """Nested-path projection: the reference's field-selection mini-language.

    ``schema`` maps output name -> dotted path into nested structs
    (reference: select_values, src/linkmerce/utils/nested.py:84-135 —
    the whole recursive JSON-path layer collapses to ``select`` over
    StructType columns, SURVEY §1.3). ``extends`` adds derived literal/
    Column fields (the reference's ``extends`` + ``$param`` injection,
    transform.py:157-169).
    """
    cols = [F.col(path).alias(out) for out, path in schema.items()]
    for out, val in (extends or {}).items():
        from pyspark.sql import Column as _Col

        cols.append((val if isinstance(val, _Col) else F.lit(val)).alias(out))
    return df.select(*cols)


def values_df(spark: SparkSession, rows: Iterable[tuple], schema: str) -> DataFrame:
    """Small literal batch as a JVM-side LocalRelation (SQL ``VALUES``).

    For literal dimension and config frames authored in code. Like
    ``from_rows``, it costs no Python workers and folds into a
    LocalTableScan that broadcasts instantly; unlike it, values take
    SQL ``CAST`` semantics and the frame is a source-tier memo, so the
    hundreds of queries that join the same dim share one plan. Use
    ``from_rows`` for row batches computed or fetched at run time.

    ``schema`` is a DDL string (``"name string, price int"``); every
    column is CAST to its declared type, so NULLs and mixed literals
    type correctly.
    """
    rows = [tuple(r) for r in rows]
    # Literal dims are constant plans: the same VALUES frame is rebuilt
    # for every query that joins it (the catalog pays StructType.fromDDL
    # + a spark.sql parse per call, ~15-40 ms each, hundreds of times a
    # run), so each is a source-tier memo, as ``load_star`` reads are.
    # The key carries each value's Python type: 1 == 1.0 == True are
    # hash-equal but render as distinct SQL literals ('1' / '1.0' /
    # 'TRUE'), so a value-only key would return the wrong cached frame.
    key = (
        "values",
        schema,
        tuple(tuple((type(v).__name__, v) for v in r) for r in rows),
    )
    try:
        hash(key)
    except TypeError:  # an unhashable literal: build uncached
        return _values_frame(spark, rows, schema)
    return memo.source(spark, key, lambda: _values_frame(spark, rows, schema))


def _values_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    st = StructType.fromDDL(schema)
    if not rows:
        # Empty LocalRelation, not a 0-row parallelized RDD (the latter
        # still schedules defaultParallelism tasks on every evaluation).
        nulls = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in st.fields
        )
        return spark.sql(f"SELECT {nulls} WHERE FALSE")

    def lit(v: Any) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            # repr of non-finite floats is a bare identifier ('nan',
            # 'inf') that the SQL parser reads as a column reference —
            # render the typed literal forms instead.
            if v != v:
                return "CAST('NaN' AS DOUBLE)"
            if v == float("inf"):
                return "CAST('Infinity' AS DOUBLE)"
            if v == float("-inf"):
                return "CAST('-Infinity' AS DOUBLE)"
            return repr(v)
        if isinstance(v, int):
            return repr(v)
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"

    names = ", ".join(f"`{f.name}`" for f in st.fields)
    casts = ", ".join(
        f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in st.fields
    )
    tuples = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return spark.sql(f"SELECT {casts} FROM VALUES {tuples} AS t({names})")
