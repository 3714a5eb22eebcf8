"""Per-session memo registry.

The one lifetime rule: every memo entry lives in a dict attached to
its ``SparkSession`` object, so it dies with the session. Nothing at
module level holds a session or a frame.

Two tiers, chosen by the function a call site calls:

- ``source(spark, key, build)`` — lazy plans over immutable inputs
  (``load_star`` parquet reads, ``values_df`` literal frames). They do
  no work to build, so they stay for the session's lifetime.
- ``derived(spark, key, build)`` and ``publish(spark, key, df)`` —
  anything that did work when it was built: catalog plans, IVF and BPE
  training results, materialized marts. ``clear(spark)`` drops the
  whole tier and releases every localCheckpoint ``publish`` made.

A timed pass that must do all of its own work calls ``clear(spark)``
first (``bench.py``); otherwise it would time lookups. Keys are tuples
whose first element names what they hold (``"query"``, ``"ivf_train"``,
a mart name), so entries from different call sites never collide. A
DataFrame inside a key matches only itself.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = ["clear", "derived", "publish", "source"]


class _Memo:
    __slots__ = ("source", "derived", "checkpoints")

    def __init__(self) -> None:
        self.source: dict = {}
        self.derived: dict = {}
        self.checkpoints: list[DataFrame] = []


def _memo(spark: SparkSession) -> _Memo:
    try:
        return spark._lm_memo
    except AttributeError:
        spark._lm_memo = _Memo()
        return spark._lm_memo


def _get(tier: dict, key: tuple, build: Callable[[], Any]) -> Any:
    if key not in tier:
        tier[key] = build()
    return tier[key]


def source(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """``build()`` once per session and ``key``; kept until the session dies."""
    return _get(_memo(spark).source, key, build)


def derived(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """``build()`` once per session and ``key``; dropped by ``clear``."""
    return _get(_memo(spark).derived, key, build)


def publish(spark: SparkSession, key: tuple, df: DataFrame) -> DataFrame:
    """Materialize ``df`` with an eager localCheckpoint and make it the
    derived entry ``key``, replacing any earlier one. ``clear`` releases
    the checkpoint."""
    memo = _memo(spark)
    df = df.localCheckpoint(eager=True)
    memo.checkpoints.append(df)
    memo.derived[key] = df
    return df


def clear(spark: SparkSession) -> None:
    """Drop the derived tier and unpersist its checkpoints. Frames built
    before the call that read a released checkpoint can no longer run."""
    memo = _memo(spark)
    memo.derived.clear()
    for df in memo.checkpoints:
        df._jdf.logicalPlan().rdd().unpersist(True)
    memo.checkpoints.clear()
