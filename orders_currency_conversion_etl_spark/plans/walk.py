"""The one way to inspect a query plan: a structural walk over py4j.

``walk(plan)`` yields ``(node class, depth, node)`` pre-order over a
DataFrame's physical plan, or over any Catalyst plan passed as a JVM
object (``queryExecution().optimizedPlan()``, ``.analyzed()``).
``AdaptiveSparkPlanExec`` and ``*QueryStageExec`` are replaced by the
plan they wrap (the initial plan before execution, the final plan
after); ``subqueries()`` are walked after the children; a cached
relation's plan is walked once, under the first ``InMemoryTableScanExec``
of it (``cached=False`` skips cached plans); ``ReusedExchangeExec`` is a
leaf. Checks read node classes and node attributes, never the printed
plan, which repeats a cached plan under every scan of it.
"""

from __future__ import annotations

from collections import Counter
from typing import Any, Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame


def cls(obj: Any) -> str:
    """JVM simple class name of a py4j handle."""
    return obj.getClass().getSimpleName()


def seq(s: Any) -> list:
    """A Scala ``Seq`` handle as a list of handles."""
    return [s.apply(i) for i in range(s.size())]


def walk(plan: Any, cached: bool = True) -> Iterator[tuple[str, int, Any]]:
    """Yield ``(node class, depth, node)`` over ``plan``, a DataFrame
    (its executed plan) or a JVM plan node."""
    if isinstance(plan, DataFrame):
        plan = plan._jdf.queryExecution().executedPlan()
    identity = SparkContext._jvm.System.identityHashCode
    seen: set[int] = set()
    stack = [(plan, 0)]
    while stack:
        node, depth = stack.pop()
        name = cls(node)
        while name == "AdaptiveSparkPlanExec" or name.endswith("QueryStageExec"):
            node = node.executedPlan() if name == "AdaptiveSparkPlanExec" else node.plan()
            name = cls(node)
        yield name, depth, node
        below = seq(node.children()) + seq(node.subqueries())
        if cached and name == "InMemoryTableScanExec":
            cached_plan = node.relation().cachedPlan()
            if identity(cached_plan) not in seen:
                seen.add(identity(cached_plan))
                below.append(cached_plan)
        stack.extend((child, depth + 1) for child in reversed(below))


def nodes(plan: Any, name: str, cached: bool = True) -> list:
    """The nodes of class ``name`` in ``plan``, in walk order."""
    return [node for n, _, node in walk(plan, cached) if n == name]


def counts(plan: Any, cached: bool = True) -> Counter:
    """Node class -> number of nodes of that class in ``plan``."""
    return Counter(name for name, _, _ in walk(plan, cached))


def exchanges(plan: Any, cached: bool = True) -> int:
    """Number of exchange nodes: shuffles, broadcasts, and reuses of either."""
    c = counts(plan, cached)
    return c["ShuffleExchangeExec"] + c["BroadcastExchangeExec"] + c["ReusedExchangeExec"]


def hash_shuffles(plan: Any, cached: bool = True) -> int:
    """Number of ``ShuffleExchangeExec`` nodes that hash-partition."""
    return sum(
        cls(node.outputPartitioning()) == "HashPartitioning"
        for node in nodes(plan, "ShuffleExchangeExec", cached)
    )


def expressions(exprs: Any) -> Iterator[tuple[str, Any]]:
    """Yield ``(expression class, expression)`` pre-order over every
    expression tree in the Scala ``Seq`` ``exprs`` (a node's
    ``expressions()``, a scan's ``partitionFilters()``, ...)."""
    stack = seq(exprs)[::-1]
    while stack:
        expr = stack.pop()
        yield cls(expr), expr
        stack.extend(seq(expr.children())[::-1])


def expression_counts(plan: Any) -> Counter:
    """Expression class -> number of such expressions held by the nodes
    of ``plan``."""
    return Counter(c for _, _, node in walk(plan) for c, _ in expressions(node.expressions()))


def scan_paths(node: Any) -> list[str]:
    """Root paths read by a file scan (``FileSourceScanExec``, or the
    logical ``LogicalRelation`` over files)."""
    return [p.toString() for p in seq(node.relation().location().rootPaths())]
