"""Iterative graph centrality — PageRank as pure DataFrame rounds.

Complements the other iterative operators (`connected_components` for
clustering, `bfs_levels` for depth): one join + one aggregate per
round, both keyed on node id, so every iteration is a single shuffle
pattern that AQE sizes; `localCheckpoint` truncates lineage per round.
Dangling-node mass is a one-row aggregate (driver scalar — aggregate
state, not data).  Used on the near-dup candidate graph it ranks
"hub" documents whose text radiates through the corpus — a useful
curation signal beyond binary dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(edges: DataFrame, *, max_iterations: int = 10) -> DataFrame:
    """(node, rank) for every node in the directed edge list; ranks sum
    to ~1, with the standard 0.85 damping.  Deterministic given the
    edge set (modulo FP associativity).
    """
    damping = 0.85
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).distinct()
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        # empty edge list: no graph — a well-typed empty result, not a
        # 1/n division error (the empty-slice contract)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    out_deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    links = e.join(out_deg, "u").localCheckpoint()
    # dangling NODE SET is fixed across rounds — only its mass moves.
    # Hoisting the existence check saves one driver action per round on
    # graphs with no sinks (any symmetrized graph, e.g. near-dup pairs).
    dangling_nodes = nodes.join(
        out_deg, nodes.node == out_deg.u, "left_anti"
    ).localCheckpoint()
    has_dangling = not dangling_nodes.isEmpty()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(max_iterations):
        contribs = (
            links.join(ranks, links.u == ranks.node)
            .select(F.col("v").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        # dangling nodes (no out-edges) spread their mass uniformly
        dangling = (
            dangling_nodes.join(ranks, "node")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
            .first()["m"]
            if has_dangling
            else 0.0
        )
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce("c", F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint()
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def triangle_count(edges: DataFrame, *, a: str = "a", b: str = "b") -> DataFrame:
    """One-row (n_nodes, n_edges, n_triangles) for an undirected edge
    list (any orientation, duplicates/self-loops tolerated).

    Canonicalizes to a < b once, then counts each triangle exactly once
    via the ordered wedge join: e1(a<b) ⋈ e2(b<c) on the shared middle
    vertex, closed by e3(a<c).  The ordering both dedups (no 6× count,
    no /6 division) and bounds the wedge fan-out by the SMALLER endpoint
    degree — the standard mitigation for power-law hubs at scale.  Two
    shuffle joins on single key columns; AQE handles residual skew.
    """
    # the canonical edge list feeds six consumers (both wedge sides,
    # the closing join, edge/node stats) — materialize it ONCE, or each
    # replays the upstream derivation (et15's edge list is itself a
    # lineitem self-join: 12 scans in the executed plan without this).
    # eager=False: building this DataFrame stays a pure plan
    # construction (no cluster job at call time); the blocks
    # materialize on the first action and every consumer reuses them.
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    e = e.localCheckpoint(eager=False)
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    wedges = e1.join(e2, "y")
    tri = wedges.join(e3, ["x", "z"]).agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = e.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return nodes.crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(tri))
