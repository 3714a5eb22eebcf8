"""JDBC warehouse sink: append / scoped overwrite / merge via staging.

Parity targets: the reference's Postgres loader (extensions/postgres.py
— append :652-679, scoped overwrite :681-723, staged MERGE :725-771
with the query composer :533-597) and the BigQuery twins
(extensions/bigquery.py:598-682). Spark's JDBC writer only does
append/truncate, so overwrite-where and merge follow the reference's
staging pattern: write the frame to a staging table with
``df.write.jdbc``, then run one transaction of DELETE+INSERT or MERGE
composed here.

SQL composition is pure string logic — unit-tested without a live
database (tests/test_jdbc_sql.py); ``run_jdbc_script`` executes it
through the driver's JVM connection when a warehouse is reachable.

The merge strategy vocabulary matches operators/merge.merge_frames
(SURVEY A10): per-column verbs replace / ignore / greatest / least /
source_first / target_first, plus row-level replace_all / do_nothing
and not_matched insert_all / do_nothing — ONE vocabulary for the
in-engine operator and the warehouse sink.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame

from linkmerce_spark.operators.merge import merge_verbs

__all__ = [
    "compose_merge_sql",
    "compose_overwrite_where_sql",
    "run_jdbc_script",
    "stage_and_script",
]


def _set_expr(col: str, verb: str) -> str | None:
    s, t = f"s.{col}", f"t.{col}"
    if verb == "replace":
        return f"{col} = {s}"
    if verb == "ignore":
        return None
    if verb == "greatest":
        return f"{col} = GREATEST({t}, {s})"
    if verb == "least":
        return f"{col} = LEAST({t}, {s})"
    if verb == "source_first":
        return f"{col} = COALESCE({s}, {t})"
    return f"{col} = COALESCE({t}, {s})"  # target_first: merge_verbs admits no other


def compose_merge_sql(
    target: str,
    staging: str,
    keys: Sequence[str],
    columns: Sequence[str],
    matched: Mapping[str, str] | str = "source_first",
    not_matched: str = "insert_all",
) -> str:
    """MERGE INTO ... USING staging ON keys, reference vocabulary.

    Mirrors extensions/postgres.py:533-597 (MERGE supported by
    Postgres 15+ / BigQuery / Delta SQL alike).
    """
    data_cols = [c for c in columns if c not in keys]
    verb_of = merge_verbs(data_cols, matched, not_matched)
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    sets = [e for c in data_cols if (e := _set_expr(c, verb_of[c]))]
    lines = [f"MERGE INTO {target} AS t", f"USING {staging} AS s", f"ON {on}"]
    if sets:
        lines.append("WHEN MATCHED THEN UPDATE SET " + ", ".join(sets))
    if not_matched == "insert_all":
        cols = ", ".join(columns)
        vals = ", ".join(f"s.{c}" for c in columns)
        lines.append(f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})")
    return "\n".join(lines)


def compose_overwrite_where_sql(
    target: str,
    staging: str,
    columns: Sequence[str],
    where: str,
) -> list[str]:
    """Scoped overwrite as one DELETE+INSERT transaction
    (extensions/postgres.py:681-723): delete only the partition scope,
    insert the staged rows — idempotent re-runs of a date window."""
    cols = ", ".join(columns)
    return [
        "BEGIN",
        f"DELETE FROM {target} WHERE {where}",
        f"INSERT INTO {target} ({cols}) SELECT {cols} FROM {staging}",
        "COMMIT",
    ]


def run_jdbc_script(
    spark,
    url: str,
    script: Sequence[str],
    properties: Mapping[str, str] | None = None,
) -> None:
    """Run script statements on one driver-side JVM JDBC connection.

    ``BEGIN`` / ``COMMIT`` markers are interpreted through the JDBC
    autocommit API rather than executed as SQL — Postgres happens to
    accept ``BEGIN`` as a statement but Derby/Oracle/SQLServer do not,
    and ``setAutoCommit(false)`` + ``commit()`` is the portable
    transaction bracket. A failure inside an open bracket rolls back,
    so a crashed scoped-overwrite never leaves the partition deleted
    but not reinserted."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, str(v))
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        st = conn.createStatement()
        try:
            for stmt in script:
                marker = stmt.strip().rstrip(";").upper()
                if marker == "BEGIN":
                    conn.setAutoCommit(False)
                elif marker == "COMMIT":
                    conn.commit()
                    conn.setAutoCommit(True)
                else:
                    st.execute(stmt)
        except Exception:
            if not conn.getAutoCommit():
                conn.rollback()
                conn.setAutoCommit(True)
            raise
        finally:
            st.close()
    finally:
        conn.close()


def stage_and_script(
    df: DataFrame,
    url: str,
    staging: str,
    script: Sequence[str],
    properties: Mapping[str, str] | None = None,
    column_types: str | None = None,
) -> None:
    """Write ``df`` to the staging table, then run the script statements
    on one JVM JDBC connection (transactional: the script brackets its
    own BEGIN/COMMIT). Driver-side control, executor-side data movement
    — the reference's exact split.

    ``column_types`` passes ``createTableColumnTypes`` to the staging
    write — needed when the dialect's default type mapping is not
    joinable/comparable (e.g. Derby maps strings to CLOB, which cannot
    appear in a MERGE ON clause; Postgres TEXT is fine)."""
    writer = df.write
    if column_types:
        writer = writer.option("createTableColumnTypes", column_types)
    writer.jdbc(url, staging, mode="overwrite", properties=dict(properties or {}))
    run_jdbc_script(df.sparkSession, url, script, properties)
