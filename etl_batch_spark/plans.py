"""Physical-plan inspection utilities.

The engine's performance contract is enforced, not hoped for: tests
assert that filters reach the parquet scan, that bounded dimensions
broadcast, and that scans are column-pruned (SURVEY.md §4's "everything
at this layer is stock Catalyst").  ``tools/scan_audit.py`` and
``tools/plan_dump.py`` read plans through the same helpers.

The structural checks read the physical plan tree over py4j, never the
explain text.  ``walk`` starts at ``queryExecution().executedPlan()``
and from every node follows:

- ``children()``;
- ``innerChildren()``: the plans of subqueries (scalar, ``IN``,
  ``EXISTS``) and the inner plans of nodes such as ``UnionLoop``;
- ``executedPlan()`` of an ``AdaptiveSparkPlan`` (its current plan) and
  ``plan()`` of an AQE query stage, so a DataFrame that has already run
  is walked through its final stages.

So a subquery's operators count like the main plan's: a scan inside a
scalar subquery is a scan of the query.  ``ReusedExchange`` and
``ReusedSubquery`` are leaves, so a reused plan counts once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

Plan = DataFrame | list[tuple[str, object]]


def formatted_plan(df: DataFrame) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def walk(df: DataFrame) -> list[tuple[str, object]]:
    """``(node name, JVM node)`` for every node of ``df``'s physical plan,
    parents before children, following the edges in the module doc."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        out.append((name, node))
        edges = _seq(node.children()) + _seq(node.innerChildren())
        if name == "AdaptiveSparkPlan":
            edges.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            edges.append(node.plan())
        todo.extend(reversed(edges))
    return out


def _nodes(plan: Plan) -> list[tuple[str, object]]:
    """``plan`` is a DataFrame, or the ``walk`` of one reused by a caller
    that runs several checks on the same plan."""
    return plan if isinstance(plan, list) else walk(plan)


def count_ops(plan: Plan, op: str) -> int:
    """Nodes of physical operator ``op`` (e.g. 'BroadcastHashJoin',
    'Exchange', 'Scan parquet').  A node matches when its name is ``op``
    or ``op`` followed by a qualifier (``Scan parquet <table>``)."""
    return sum(name == op or name.startswith(op + " ") for name, _ in _nodes(plan))


def scan_counts(plan: Plan) -> dict[str, int]:
    """Parquet-scan and checkpoint-scan (``Scan ExistingRDD``) node counts,
    the two numbers tests/scan_budgets.json pins per query."""
    nodes = _nodes(plan)
    return {"parquet": count_ops(nodes, "Scan parquet"), "rdd": count_ops(nodes, "Scan ExistingRDD")}


