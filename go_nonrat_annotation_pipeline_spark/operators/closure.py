"""Iterate-to-fixpoint graph operators.

Spark has no recursive CTE (pre-4.x SQL surface here), so the two
hierarchical computations the reference delegates to Oracle CONNECT BY
become iterative DataFrame self-joins with per-iteration localCheckpoint
to cut lineage (SURVEY.md §4):

- transitive descendants of an ontology DAG node
  (reference: rgdcore OntologyXDAO.isDescendantOf CONNECT-BY SQL,
   used by MAHQC.java:69-75 / DAO.java:255-258)
- retired-ID history chain resolution to an ACTIVE terminal
  (reference: rgdcore RGDManagementDAO.getActiveRgdIdFromHistory,
   used by MAHQC.java:169-193)

Scale notes: each iteration is one shuffle join on the frontier only
(monotonically shrinking); edges are broadcast when small, else
hash-partitioned once and reused. Self-loops are filtered up front
(the reference's old==new guard) so cycles cannot loop forever; a
max_iterations backstop raises instead of spinning.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _maybe_broadcast(df: DataFrame, do_broadcast: bool) -> DataFrame:
    return F.broadcast(df) if do_broadcast else df


def transitive_descendants(
    edges: DataFrame,
    seeds: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    out_col: str = "node",
    max_iterations: int = 100,
    broadcast_edges: bool = True,
) -> DataFrame:
    """All nodes reachable from `seeds` by following parent→child edges.

    edges: DataFrame[child_col, parent_col]; seeds: DataFrame[out_col].
    Returns DataFrame[out_col] of distinct descendants INCLUDING the seeds
    (matching CONNECT BY ... START WITH semantics where the start node's
    subtree includes itself for the IPI catalytic-activity check).
    """
    edges = edges.select(
        F.col(child_col).alias("_child"), F.col(parent_col).alias("_parent")
    ).where(F.col(child_col) != F.col(parent_col)).persist()
    bedges = _maybe_broadcast(edges, broadcast_edges)

    # the visited set is the union of the checkpointed frontiers (disjoint
    # by construction); only the frontiers are checkpointed per round, and
    # the result is their union, checkpointed once at the end
    seen = [seeds.select(F.col(out_col).alias("_node")).distinct().localCheckpoint()]
    frontier = seen[0]
    try:
        for _ in range(max_iterations):
            children = (
                frontier.join(bedges, frontier["_node"] == bedges["_parent"], "inner")
                .select(F.col("_child").alias("_node"))
                .distinct()
            )
            new_frontier = children.join(
                _maybe_broadcast(reduce(DataFrame.unionByName, seen), broadcast_edges),
                "_node",
                "left_anti",
            ).localCheckpoint()
            if new_frontier.isEmpty():
                break
            seen.append(new_frontier)
            frontier = new_frontier
        else:
            raise RuntimeError(f"closure did not converge in {max_iterations} iterations")
        result = reduce(DataFrame.unionByName, seen).localCheckpoint()
    finally:
        edges.unpersist()
    return result.select(F.col("_node").alias(out_col))


def resolve_history(
    edges: DataFrame,
    ids: DataFrame,
    old_col: str = "old_id",
    new_col: str = "new_id",
    id_col: str = "id",
    max_iterations: int = 100,
    broadcast_edges: bool = True,
) -> DataFrame:
    """Follow old→new chains until a terminal id (no outgoing edge).

    Returns DataFrame[id_col, resolved_id] — one row per distinct input id,
    resolved_id = terminal of the chain (the id itself if no history).
    Self-loop edges (old == new) are dropped up front, mirroring the
    reference's guard (rgdcore getActiveRgdIdFromHistory returns 0 on
    old==new). When a chain branches, the max successor wins, mirroring
    the reference's ``SELECT MAX(new_rgd_id)``.

    Scale design: the closure is computed by POINTER DOUBLING over the
    successor mapping alone (the history table is dimension-sized), so a
    chain of length L converges in O(log L) tiny self-joins instead of L
    passes over the fact ids; the fact table then takes a single
    broadcast join against the closed map. Non-self-loop cycles cannot
    make progress stop — the max_iterations backstop raises (the
    reference would recurse forever on such data).
    """
    succ = (
        edges.where(F.col(old_col) != F.col(new_col))
        .groupBy(F.col(old_col).alias("_old"))
        .agg(F.max(F.col(new_col)).alias("_new"))
    )
    m = succ.localCheckpoint()  # x → current known end-of-chain (distance 2^k)

    for _ in range(max_iterations):
        # The successor map is dimension-sized (SURVEY §6: ~22k ids), so the
        # doubling join broadcasts it — each iteration is a map-side job with
        # no exchange. broadcast_edges=False keeps shuffle joins for maps too
        # big to broadcast.
        nxt = _maybe_broadcast(
            m.select(F.col("_old").alias("_o2"), F.col("_new").alias("_n2")),
            broadcast_edges,
        )
        m = (
            m.join(nxt, m["_new"] == nxt["_o2"], "left")
            .select(
                "_old",
                F.coalesce("_n2", "_new").alias("_new"),
                F.col("_n2").isNotNull().alias("_moved"),
            )
            .localCheckpoint()
        )
        if m.where("_moved").isEmpty():
            break
    else:
        raise RuntimeError(f"history resolution did not converge in {max_iterations} iterations")

    resolved = _maybe_broadcast(m.select("_old", "_new"), broadcast_edges)
    out = ids.select(F.col(id_col).alias("_orig")).distinct()
    return out.join(resolved, out["_orig"] == resolved["_old"], "left").select(
        F.col("_orig").alias(id_col),
        F.coalesce("_new", "_orig").alias("resolved_id"),
    )
