"""Column-function layers: scalar parity, text analysis, vector math.

Everything here returns Spark ``Column`` expressions built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen friendly.
Python/pandas UDFs are quarantined in the few functions that genuinely
need them (documented per-function).
"""

from linkmerce_spark.functions.scalar import (  # noqa: F401
    safe_int,
    safe_float,
    try_strptime,
    iso_ts,
    split_part,
    lookup,
    enum_code,
    money,
    int_div,
    date_spine,
)
from linkmerce_spark.functions.vectors import (  # noqa: F401
    vec_dot,
    vec_norm,
    vec_cosine,
)
from linkmerce_spark.functions import text  # noqa: F401

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
    "vec_dot",
    "vec_norm",
    "vec_cosine",
    "text",
]
