"""DuckDB interchange connector: .duckdb files <-> Spark DataFrames.

The reference's transform/load engine IS an in-process DuckDB
connection (reference: src/linkmerce/common/load.py:320-430
``DuckDBConnection`` — connect/execute/sql plus csv/json/parquet
``execute_with_*`` value feeds); this engine replaces that role with
Spark itself, so what a migrating user still needs is the BRIDGE: read
existing .duckdb warehouses into DataFrames and land results back.

Scale design (the JDBC-connector playbook, not a driver funnel):

- :func:`read_duckdb` — one driver-side Arrow handoff; right for
  dim-sized tables (the reference's typical DuckDB table is an API
  batch). The Arrow result binds through ``frames.from_rows``.
- :func:`read_duckdb_partitioned` — the scale path: a k-sized
  min/max bounds query on the driver, then each EXECUTOR task opens
  the database read-only and scans its own ``BETWEEN`` slice
  (mapInPandas over the bounds list — the same partitioned-read
  contract as ``spark.read.jdbc(partitionColumn=...)``). Works for
  any file on shared storage; no row ever passes through the driver.
- :func:`write_duckdb` — single-writer sinks invert the flow:
  executors write parquet in parallel (native Spark write), then ONE
  local DuckDB statement ingests the directory glob
  (``read_parquet('.../*.parquet')``) — DuckDB's own bulk-load fast
  path, mirroring the reference's parquet ``execute_with`` feed
  (load.py:430-470).

Modes follow sources/warehouse semantics: replace / append / ignore.
"""

from __future__ import annotations

import os
import tempfile
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from linkmerce_spark.frames import from_rows

__all__ = ["read_duckdb", "read_duckdb_partitioned", "write_duckdb"]


def _connect(db_path: str, read_only: bool = False):
    import duckdb

    return duckdb.connect(db_path, read_only=read_only)


def read_duckdb(
    spark: SparkSession, db_path: str, source: str
) -> DataFrame:
    """Load a table name or SELECT query through one Arrow handoff.

    Driver-sized by design — use :func:`read_duckdb_partitioned` for
    fact tables.
    """
    query = source if source.lstrip().upper().startswith("SELECT") else (
        f"SELECT * FROM {source}"
    )
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import from_arrow_schema

    with _connect(db_path, read_only=True) as con:
        table = con.execute(query).arrow()
    # A zone-less TIMESTAMP is a wall-clock time in the session zone.
    tz = spark.conf.get("spark.sql.session.timeZone")
    table = pa.table(
        [
            pc.assume_timezone(c, tz)
            if pa.types.is_timestamp(c.type) and c.type.tz is None
            else c
            for c in table.columns
        ],
        names=table.column_names,
    )
    return from_rows(spark, table.to_pylist(), from_arrow_schema(table.schema))


def read_duckdb_partitioned(
    spark: SparkSession,
    db_path: str,
    table: str,
    partition_column: str,
    num_partitions: int = 8,
) -> DataFrame:
    """Executor-side partitioned scan of one table.

    The driver runs only a min/max bounds query; each task opens the
    file read-only and pulls ``partition_column BETWEEN lo AND hi``
    (first slice unbounded below, last unbounded above, matching
    Spark's JDBC stride semantics). ``partition_column`` must be
    numeric.
    """
    import pandas as pd

    from linkmerce_spark.shipping import ensure_shipped

    if num_partitions < 1:
        raise ValueError("num_partitions must be >= 1")
    ensure_shipped(spark)
    from pyspark.sql.pandas.types import from_arrow_schema

    with _connect(db_path, read_only=True) as con:
        lo, hi = con.execute(
            f"SELECT MIN({partition_column}), MAX({partition_column}) FROM {table}"
        ).fetchone()
        arrow_schema = con.execute(f"SELECT * FROM {table} LIMIT 0").arrow().schema
    spark_schema = from_arrow_schema(arrow_schema)
    if lo is None:  # empty table
        return from_rows(spark, [], spark_schema)

    stride = (float(hi) - float(lo)) / num_partitions
    bounds = []
    for i in range(num_partitions):
        b_lo = None if i == 0 else float(lo) + stride * i
        b_hi = None if i == num_partitions - 1 else float(lo) + stride * (i + 1)
        bounds.append((i, b_lo, b_hi))
    bounds_df = from_rows(spark, bounds, "pid int, lo double, hi double")
    if num_partitions > 1:
        bounds_df = bounds_df.repartition(num_partitions, "pid")

    def _scan(batches: Iterator[Any]) -> Iterator[Any]:
        import duckdb

        for batch in batches:
            for rec in batch.to_dict("records"):
                preds = []
                if rec["lo"] is not None and not pd.isna(rec["lo"]):
                    preds.append(f"{partition_column} >= {rec['lo']}")
                if rec["hi"] is not None and not pd.isna(rec["hi"]):
                    preds.append(f"{partition_column} < {rec['hi']}")
                if preds and rec["pid"] == 0:
                    # NULL partition keys fail every range predicate; the
                    # JDBC-partitioned-read contract routes them to the
                    # first slice.
                    where = f" WHERE ({' AND '.join(preds)}) OR {partition_column} IS NULL"
                elif preds:
                    where = f" WHERE {' AND '.join(preds)}"
                else:
                    where = ""
                with duckdb.connect(db_path, read_only=True) as con:
                    out = con.execute(f"SELECT * FROM {table}{where}").arrow().to_pandas()
                yield out

    return bounds_df.mapInPandas(_scan, schema=spark_schema)


def write_duckdb(
    df: DataFrame,
    db_path: str,
    table: str,
    mode: str = "replace",
    staging_dir: str | None = None,
) -> int:
    """Land a DataFrame into a .duckdb table via parallel parquet
    staging + one local bulk ingest. Returns rows written (0 when an
    existing table is kept under ``ignore``)."""
    if mode not in ("replace", "append", "ignore"):
        raise ValueError("mode must be replace | append | ignore")
    # existence check FIRST — 'ignore' on an existing table must not pay
    # for the distributed staging write it would then throw away
    with _connect(db_path) as con:
        exists = bool(
            con.execute(
                "SELECT 1 FROM information_schema.tables WHERE table_name = ?",
                [table],
            ).fetchone()
        )
    if exists and mode == "ignore":
        return 0
    own_tmp = staging_dir is None
    staging = staging_dir or tempfile.mkdtemp(prefix="duckdb_stage_")
    target = os.path.join(staging, "stage")
    df.write.mode("overwrite").parquet(target)
    glob = os.path.join(target, "*.parquet")
    try:
        with _connect(db_path) as con:
            if exists and mode == "append":
                con.execute(f"INSERT INTO {table} SELECT * FROM read_parquet('{glob}')")
            else:
                con.execute(
                    f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM read_parquet('{glob}')"
                )
            return con.execute(
                "SELECT count(*) FROM read_parquet(?)", [glob]
            ).fetchone()[0]
    finally:
        if own_tmp:
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
