"""linkmerce_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference ELT/analytics framework (minyeamer/linkmerce), re-expressed
Spark-first: declarative DataFrame/SQL plans optimized by Catalyst,
partition-aware sinks, and large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns).

Layout
------
- ``session``    : SparkSession factory with scale-tuned defaults
- ``frames``     : row-batch <-> DataFrame bridge + table registry
- ``memo``       : per-session memo registry (one lifetime rule)
- ``sqlmodels``  : ``-- Name: key`` SQL registry (models.sql semantics)
- ``operators/`` : relational + pipeline operators (merge, dedup,
                   allocation, range join, top-k, minhash, similarity...)
- ``sources/``   : readers (csv/json/parquet/rows) and sinks
                   (append / overwrite-where / merge on parquet, JDBC)
- ``functions/`` : scalar parity layer (DuckDB-isms), text analysis,
                   vector math
- ``plans/``     : physical-plan inspection helpers (pushdown asserts,
                   shuffle counting, broadcast checks)
- ``streaming/`` : Structured Streaming windowed aggregation layer
"""

__version__ = "1.0.0"

from linkmerce_spark.session import get_spark, stop_spark  # noqa: F401

# The stable import surface. Submodules remain importable directly
# (linkmerce_spark.operators.minhash etc.); this names what a release
# guarantees: the session factory plus the module namespaces below.
__all__ = [
    "__version__",
    "get_spark",
    "stop_spark",
    # module namespaces (see USAGE.md for the per-module highlights)
    "frames",
    "relops",
    "sqlmodels",
    "queries",
    "oracles",
    "tasks",
    "operators",
    "sources",
    "functions",
    "plans",
    "streaming",
    "marts",
    "models",
]
