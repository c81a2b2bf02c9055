"""What a physical plan contains, decided in one place: every plan test
and every PLANS.md row reads plans through this module, with the node
definitions perfbench applies to executed plans. An ``Exchange`` node
is a shuffle, a ``BroadcastExchange`` node a broadcast, and a node
whose name contains one of ``PYTHON_OPS`` (``ArrowEvalPython``,
``MapInPandas``, ...) a Python operator.

Formatted explain prints every node twice, in the tree and in the
detail section; nodes are counted by their ``(N) Name`` detail header,
which appears once per node.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

PYTHON_OPS = ("Python", "InPandas", "InArrow")


@dataclass(frozen=True)
class Digest:
    plan: str  # the formatted explain the fields were read from
    exchanges: int
    broadcasts: int
    python_ops: int
    read_schemas: list[str]
    pushed_filters: list[str]  # one entry per scan, empty ones included
    partition_filters: list[str]


def explain(df) -> str:
    """``df``'s physical plan as ``.explain("formatted")`` prints it."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


def nodes(plan: str) -> list[str]:
    """The operator name of every node, in detail-section order."""
    return re.findall(r"\(\d+\) (\w+)", plan)


def count_nodes(plan: str, name: str) -> int:
    """Nodes whose name is ``name`` (several words allowed, e.g.
    ``Scan parquet``)."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


def digest(df) -> Digest:
    """What ``df``'s physical plan contains, from one explain."""
    plan = explain(df)
    names = nodes(plan)
    return Digest(
        plan=plan,
        exchanges=names.count("Exchange"),
        broadcasts=names.count("BroadcastExchange"),
        python_ops=sum(any(k in n for k in PYTHON_OPS) for n in names),
        read_schemas=re.findall(r"ReadSchema: (struct<[^\n]*)", plan),
        pushed_filters=re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        partition_filters=re.findall(r"PartitionFilters: \[([^\]]*)\]", plan),
    )
