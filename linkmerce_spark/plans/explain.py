"""Plan inspection: one walk over Spark's plan tree, for plan pins.

The walk visits each node's children and subqueries and the plan an AQE
wrapper or query stage holds as a field (the final plan once the query
has run, the initial plan before), but not the cached plan behind an
``InMemoryTableScan`` or checkpoint scan. Exchanges are deduplicated by
canonical form: a shared subtree printed twice counts its shuffles once.
"""

from __future__ import annotations

import re
from collections import Counter, namedtuple
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

__all__ = ["physical_plan", "plan_shape", "PlanShape", "Exchange", "Scan"]

_JOINS = {"SortMergeJoin": "smj", "BroadcastHashJoin": "bhj", "BroadcastNestedLoopJoin": "bnlj",
          "CartesianProduct": "cartesian", "ShuffledHashJoin": "shj"}
_KINDS = {"hashpartitioning": "hash", "rangepartitioning": "range",
          "roundrobinpartitioning": "round_robin", "singlepartition": "single"}

# kind: hash, range, round_robin, single or broadcast; partitioning: its text
Exchange = namedtuple("Exchange", "kind partitioning")
# a file scan's metadata, e.g. pushed_filters "[IsNotNull(k), EqualTo(k,7)]"
Scan = namedtuple("Scan", "source pushed_filters data_filters read_schema")


@dataclass
class PlanShape:
    exchanges: list[Exchange] = field(default_factory=list)  # distinct ones
    reused: int = 0  # ReusedExchange nodes
    nodes: Counter = field(default_factory=Counter)  # visited nodes by operator
    scans: list[Scan] = field(default_factory=list)

    @property
    def shuffles(self) -> Counter:  # by partitioning kind
        return Counter(e.kind for e in self.exchanges if e.kind != "broadcast")

    @property
    def keyed_shuffles(self) -> int:  # all but widen_scan's round-robin ones
        return sum(self.shuffles.values()) - self.shuffles["round_robin"]

    @property
    def broadcasts(self) -> int:
        return sum(e.kind == "broadcast" for e in self.exchanges)

    @property
    def joins(self) -> Counter:  # smj, bhj, bnlj, cartesian, shj
        return Counter({j: self.nodes[op] for op, j in _JOINS.items() if self.nodes[op]})

    @property
    def cached(self) -> int:  # in-memory and checkpoint boundaries
        return self.nodes["InMemoryTableScan"] + self.nodes["Scan ExistingRDD"]


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (what ``df.explain`` prints), for humans."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def plan_shape(df: DataFrame, plan: str = "executedPlan") -> PlanShape:
    """Walk the ``executedPlan``, ``optimizedPlan`` or ``analyzed`` plan."""
    scala = df._sc._jvm.scala  # type: ignore[attr-defined]
    pf, predef = (getattr(getattr(scala, o), "MODULE$") for o in ("PartialFunction$", "Predef$"))
    # with the identity, collectWithSubqueries lists all of a tree's nodes in one call
    everything = pf.fromFunction(getattr(predef, "$conforms")())
    shape, seen = PlanShape(), {}
    todo = [getattr(df._jdf.queryExecution(), plan)()]
    while todo:
        tree = todo.pop().collectWithSubqueries(everything)
        for node in map(tree.apply, range(tree.size())):
            op = re.match(r"Scan \w+|\w+", node.nodeName()).group()
            shape.nodes[op] += 1
            if op == "AdaptiveSparkPlan":
                todo.append(node.executedPlan())
            elif op.endswith("QueryStage"):
                todo.append(node.plan())
            elif op == "ReusedExchange":
                shape.reused += 1
            elif op in ("Exchange", "BroadcastExchange"):
                canon = node.canonicalized()
                same_hash = seen.setdefault(canon.hashCode(), [])
                if any(canon.equals(c) for c in same_hash):
                    continue
                same_hash.append(canon)
                part = node.outputPartitioning().toString()
                kind = "broadcast" if op == "BroadcastExchange" else re.match(r"\w+", part).group()
                shape.exchanges.append(Exchange(_KINDS.get(kind.lower(), kind), part))
            elif op.startswith("Scan ") and node.getClass().getSimpleName() == "FileSourceScanExec":
                keys = ("PushedFilters", "DataFilters", "ReadSchema")
                shape.scans.append(Scan(op, *map(node.metadata().apply, keys)))
    return shape

