"""Physical-plan inspection utilities.

The engine's performance contract is enforced, not hoped for: tests
assert that filters reach the parquet scan, that bounded dimensions
broadcast, and that scans are column-pruned (SURVEY.md §4's "everything
at this layer is stock Catalyst" — these helpers prove each query uses
it).

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


def _file_scans(plan: Plan) -> list:
    return [n for _, n in _nodes(plan) if n.getClass().getSimpleName() == "FileSourceScanExec"]


def pushed_filters(plan: Plan) -> list[str]:
    """All pushed-down data-source filters across the plan's file scans."""
    return [f.toString() for scan in _file_scans(plan) for f in _seq(scan.pushedDownFilters())]


def read_schemas(plan: Plan) -> list[list[str]]:
    """Column lists actually read by each file scan (pruning check)."""
    return [list(scan.requiredSchema().fieldNames()) for scan in _file_scans(plan)]


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


def unpartitioned_windows(plan: Plan) -> int:
    """Window and WindowGroupLimit nodes with NO partition spec: the
    `WindowExec: No Partition Defined` single-task shape."""
    return sum(
        name in ("Window", "WindowGroupLimit") and node.partitionSpec().isEmpty()
        for name, node in _nodes(plan)
    )


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    filters = pushed_filters(df)
    if not any(column in f for f in filters):
        raise AssertionError(f"no pushed filter on {column!r}; pushed: {filters}")


def assert_broadcast(df: DataFrame, at_least: int = 1) -> None:
    nodes = walk(df)
    n = count_ops(nodes, "BroadcastHashJoin") + count_ops(nodes, "BroadcastNestedLoopJoin")
    if n < at_least:
        raise AssertionError(f"expected ≥{at_least} broadcast joins, plan has {n}")


def assert_columns_pruned(df: DataFrame, table_width: int) -> None:
    """Assert no scan reads all ``table_width`` columns (pruning active)."""
    for cols in read_schemas(df):
        if len(cols) >= table_width:
            raise AssertionError(f"scan reads {len(cols)} columns — pruning lost: {cols}")
