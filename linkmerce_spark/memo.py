"""Per-session memo registry.

Every memo entry lives in a dict attached to its ``SparkSession``
object, so it dies with the session. Nothing at module level holds a
session or a frame. Two tiers, chosen by the function a call site calls:

- ``source(spark, key, build)`` — lazy plans over immutable inputs
  (``load_star`` reads, ``values_df`` literals). They do no work to
  build, so they stay for the session's lifetime.
- ``derived``, ``publish`` and ``checkpoint`` — anything that did work
  when it was built: catalog plans, training results, marts, and every
  localCheckpoint the library takes.

The one rule: a checkpoint lives until ``clear(spark)`` drops the
derived tier, or until the call that made it passes it to ``release``
once nothing it returns can read it. The one exception is
``sources.warehouse.insert_into``'s snapshot, a temp view's storage
that ``clear`` must not break. A timed pass calls ``clear`` first
(``bench.py``), and a long-lived session that rebuilds marts calls it
between refreshes. Keys are tuples whose first element names what they
hold (``"query"``, ``"ivf_train"``, a mart name); a DataFrame inside a
key matches only itself.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = ["checkpoint", "clear", "derived", "publish", "release", "source"]


class _Memo:
    __slots__ = ("source", "derived", "checkpoints")

    def __init__(self) -> None:
        self.source: dict = {}
        self.derived: dict = {}
        self.checkpoints: list[DataFrame] = []


def _memo(spark: SparkSession) -> _Memo:
    if not hasattr(spark, "_lm_memo"):
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


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, owned by the derived tier."""
    df = df.localCheckpoint(eager=eager)
    _memo(df.sparkSession).checkpoints.append(df)
    return df


def release(df: DataFrame) -> None:
    """Free a ``checkpoint`` now. Frames that read it can no longer run."""
    _memo(df.sparkSession).checkpoints.remove(df)
    df._jdf.logicalPlan().rdd().unpersist(True)


def publish(spark: SparkSession, key: tuple, df: DataFrame) -> DataFrame:
    """``derived[key] = checkpoint(df)``, replacing any earlier entry."""
    df = checkpoint(df)
    _memo(spark).derived[key] = df
    return df


def clear(spark: SparkSession) -> None:
    """Drop the derived tier and release its checkpoints. Frames built
    before the call that read a released checkpoint can no longer run."""
    memo = _memo(spark)
    memo.derived.clear()
    while memo.checkpoints:
        release(memo.checkpoints[-1])
