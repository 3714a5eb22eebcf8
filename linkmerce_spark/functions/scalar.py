"""Scalar parity layer: the reference's DuckDB-isms as Spark columns.

Mapping table (reference site -> here):

- ``safe_int/safe_float`` comma-stripping casts
  (reference: src/linkmerce/utils/cast.py:9-26)       -> ``safe_int``/``safe_float``
- ``TRY_STRPTIME(s, fmt)`` null-on-parse-failure
  (core/smartstore/api/order/models.sql:78)           -> ``try_strptime``
- ``TRY_STRPTIME(SUBSTR(s, 1, 19), '%Y-%m-%dT%H:%M:%S')`` ISO-8601
  (core/coupang/advertising/report/models.sql:56-57)  -> ``iso_ts``
- ``split_part(s, sep, n)``
  (dbt_postgres/.../smartstore__sales_daily.sql:147)  -> ``split_part`` (Spark builtin passthrough)
- CASE-WHEN enum encoding, 306 uses
  (core/smartstore/api/order/models.sql:91-117)       -> ``enum_code``: ``lookup`` plus its int cast
- ``(VALUES ...) AS mapping(seq, code, label)`` LEFT JOINs
  (dbt_postgres/macros/mapping/*.sql)                 -> ``lookup`` map literal
- ``DIV``/``MOD`` integer split
  (dbt_postgres/.../searchad__insight_daily.sql:201)  -> ``int_div`` / ``F.pmod``
- ``generate_series(date, date, interval)`` date spine
  (dbt_postgres/.../core__sold_qty_30d_daily.sql:17)  -> ``date_spine``

All pure Column expressions — no UDFs, fully codegen'd.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "safe_int",
    "safe_float",
    "try_strptime",
    "iso_ts",
    "split_part",
    "lookup",
    "enum_code",
    "money",
    "int_div",
    "date_spine",
    "md5_hash32",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def safe_int(c: Column | str) -> Column:
    """Comma-stripped null-on-failure integer cast ('1,234' -> 1234)."""
    return F.regexp_replace(_col(c).cast("string"), ",", "").try_cast("bigint")


def safe_float(c: Column | str) -> Column:
    """Comma-stripped null-on-failure float cast ('1,234.5' -> 1234.5)."""
    return F.regexp_replace(_col(c).cast("string"), ",", "").try_cast("double")


def try_strptime(c: Column | str, fmt: str) -> Column:
    """Parse a timestamp, NULL on failure (TRY_STRPTIME semantics).

    ``fmt`` uses Spark datetime patterns (e.g. ``yyyy-MM-dd HH:mm:ss``),
    not C strftime — call sites own the translation.
    """
    return F.try_to_timestamp(_col(c), F.lit(fmt))


def iso_ts(c: Column | str) -> Column:
    """ISO-8601 timestamp, NULL on failure: the first 19 characters
    (``2026-01-31T12:34:56``) parsed, so a fraction or zone suffix is
    ignored as the reference's SUBSTR drops it."""
    return try_strptime(F.substring(_col(c), 1, 19), "yyyy-MM-dd'T'HH:mm:ss")


def split_part(c: Column | str, sep: str, n: int) -> Column:
    """1-indexed split_part with Postgres semantics: the separator is a
    LITERAL (``F.split`` would treat it as a Java regex — ``'.'`` split
    on every character) and out-of-range parts return ``''``, not NULL.
    Delegates to Spark's native ``split_part``, which implements exactly
    that contract."""
    return F.split_part(_col(c), F.lit(sep), F.lit(n))


def _sql_literal(v: str | int | None) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    raise TypeError(f"lookup literal must be str, int or None, got {v!r}")


def lookup(c: Column | str, mapping: Mapping[str | int, str | int | None]) -> Column:
    """Code -> value lookup as one map literal; a missing or NULL code
    reads NULL, as the LEFT JOIN to a ``(VALUES ...)`` mapping did.

    The map is parsed from SQL text in one ``F.expr`` call: per-entry
    ``F.lit`` pairs under ``F.create_map`` cost ~30x the py4j round
    trips (285 against 9 for a 34-entry map), and ``F.lit(dict)`` is
    not a supported literal. An integral key column wider than the
    map's keys widens the map, as the join widened the code column; a
    string key against int codes fails analysis instead of casting.
    """
    entries = ", ".join(f"{_sql_literal(k)}, {_sql_literal(v)}" for k, v in mapping.items())
    return F.element_at(F.expr(f"map({entries})"), _col(c))


def enum_code(
    c: Column | str,
    mapping: Mapping[str, int],
    default: int | None = None,
) -> Column:
    """String -> small-int enum encode: ``lookup`` cast to int.

    One ``element_at(map(...))`` expression instead of a 12-arm CASE
    chain: constant-folded by Catalyst, and the mapping is data not code.
    """
    looked = lookup(c, mapping)
    if default is not None:
        looked = F.coalesce(looked, F.lit(default))
    return looked.cast("int")


def money(c: Column | str, scale: int = 2) -> Column:
    """Cast a monetary double to exact decimal for deterministic sums.

    Floating-point SUM is order-dependent; at 100 TB the partial-sum
    order is nondeterministic run to run. Aggregating in decimal makes
    the result exact and reproducible (and oracle-comparable).
    """
    return _col(c).cast(f"decimal(18,{scale})")


def int_div(a: Column | str, b: Column | str | int) -> Column:
    """Integer division (DuckDB ``//`` / ``DIV``)."""
    bb = F.lit(b) if isinstance(b, int) else _col(b)
    return F.floor(_col(a) / bb).cast("bigint")


def date_spine(
    spark: SparkSession,
    start: str | Column,
    end: str | Column,
    col_name: str = "ymd",
) -> DataFrame:
    """Continuous daily date spine [start, end] as a 1-column DataFrame.

    ``sequence() + explode`` — generated on the executors, no driver
    loop; equivalent of ``generate_series(date, date, interval '1 day')``.
    """
    s = F.lit(start).cast("date") if isinstance(start, str) else start
    e = F.lit(end).cast("date") if isinstance(end, str) else end
    return spark.range(1).select(
        F.explode(F.sequence(s, e, F.expr("interval 1 day"))).alias(col_name)
    )


def md5_hash32(col):
    """Portable 32-bit hash: md5 hex prefix -> BIGINT — bit-identical in
    Spark and DuckDB (``CAST('0x'||substr(md5(x),1,8) AS BIGINT)``).
    The single definition behind MinHash signatures and winnowing
    fingerprints; salted variants (count-min rows, sampling buckets)
    compose it with a prefix.
    """
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
