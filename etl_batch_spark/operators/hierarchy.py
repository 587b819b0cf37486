"""Hierarchy traversal — the recursive-CTE class of queries Spark SQL
lacks natively (org charts, BOM explosions, category trees), expressed
as an iterative frontier join.

``bfs_levels`` propagates depth from root nodes down a (child, parent)
edge table: each round joins the current frontier to its children —
one equi-join shuffle per *level*, so total work is O(edges × depth)
and rounds are bounded by the tree height (log-ish for bushy
hierarchies), not the node count.  ``localCheckpoint`` per level
truncates the growing lineage exactly as ``connected_components`` does.
For find-the-root-of-everything workloads prefer pointer-doubling
(connected_components); BFS keeps exact depths, which rollup paths
(level-N subtotals) need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bfs_levels(edges: DataFrame, roots: DataFrame) -> DataFrame:
    """(node, depth) for every node reachable from ``roots`` (depth 0).

    ``edges`` holds (child, parent); ``roots`` holds root node ids in
    ``node``.  Nodes reached via several parents keep the minimum
    depth (breadth-first order guarantees first touch is minimal).
    """
    e = edges.select(
        F.col("child").alias("c"), F.col("parent").alias("p")
    ).localCheckpoint()
    frontier = roots.select(F.col("node").alias("n")).distinct().localCheckpoint()
    levels = frontier.withColumn("depth", F.lit(0))
    seen = frontier
    for depth in range(1, 65):  # a 64-level depth cap
        nxt = (
            e.join(frontier, e.p == frontier.n)
            .select(F.col("c").alias("n"))
            .distinct()
            .join(seen, "n", "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        levels = levels.unionByName(nxt.withColumn("depth", F.lit(depth)))
        seen = seen.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return levels.select(F.col("n").alias("node"), "depth")
