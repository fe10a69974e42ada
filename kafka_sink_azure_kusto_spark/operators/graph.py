"""Iterative graph analytics as chained DataFrame plans (north-star).

``pagerank`` runs a fixed number of damped power-iteration steps over a
weighted edge list, entirely as joins + aggregations — the companion to
the pointer-doubling connected components in ``functions/dedup.py``:
iterative algorithms in Spark are *plan composition*, not driver loops
over collected data.

Per iteration: broadcast the current rank vector onto the (static,
pre-normalized) transition edges, aggregate contributions by
destination, re-attach the full node set (so sinks with no in-edges
keep the teleport mass). The edge frame is the big side and is never
re-shuffled after the one-time out-weight normalization; only the rank
vector (O(nodes)) moves per step. Dangling-node mass (nodes with no
out-edges) is dropped, not redistributed — the simplified damped form;
the DuckDB oracle (``pagerank_sql``, generated from the same loop)
computes the LITERALLY same recurrence so the two cannot drift.

No reference citation: north-star addition (SURVEY §7.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    iterations: int = 3,
    damping: float = 0.85,
    persist_edges: bool = True,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """Damped weighted PageRank after ``iterations`` power steps →
    ``(node_col, rank)``.

    ``nodes`` must contain every vertex (including ones absent from
    ``edges``). The node count is read once (a count on the vertex
    frame — at scale this is a dimension-table count, not a fact scan).

    Recompute control, the part that matters when ``edges`` is derived
    from an expensive upstream join (like the bilateral-trade graph):
    every iteration references the normalized transition frame, so an
    unpersisted lineage would RE-RUN the upstream join once per
    iteration. ``persist_edges`` (default) caches the normalized edges
    (memory-and-disk; stays pinned for the returned frame's lifetime),
    and every ``checkpoint_interval`` iterations the O(nodes) rank
    vector is localCheckpoint'ed so the plan depth stays bounded for
    long power runs (rank state is materialized, never collected —
    unlike ``pq_train``'s tiny codebooks, a web-scale rank vector
    must not visit the driver).
    """
    if iterations < 1:
        raise ValueError("pagerank needs iterations >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("pagerank needs 0 < damping < 1")
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank needs a non-empty node set")
    teleport = (1.0 - damping) / n

    out_w = edges.groupBy(src_col).agg(F.sum(weight_col).alias("__out_w"))
    trans = (
        edges.join(out_w, src_col)
        .select(
            F.col(src_col),
            F.col(dst_col),
            (F.col(weight_col) / F.col("__out_w")).alias("__p"),
        )
    )
    if persist_edges:
        from pyspark import StorageLevel

        trans = trans.persist(StorageLevel.MEMORY_AND_DISK)
    ranks = nodes.select(F.col(node_col), F.lit(1.0 / n).alias("rank"))
    for i in range(iterations):
        contribs = (
            trans.join(
                F.broadcast(ranks.withColumnRenamed(node_col, src_col)), src_col
            )
            .groupBy(dst_col)
            .agg(F.sum(F.col("rank") * F.col("__p")).alias("__in"))
        )
        ranks = (
            nodes.join(
                contribs.withColumnRenamed(dst_col, node_col), node_col, "left"
            )
            .select(
                F.col(node_col),
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if checkpoint_interval and (i + 1) % checkpoint_interval == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(node_col, F.round("rank", 6).alias("rank"))


def pagerank_sql(
    nodes_cte: str,
    edges_cte: str,
    node_col: str = "node",
    iterations: int = 3,
    damping: float = 0.85,
) -> str:
    """DuckDB oracle for ``pagerank`` — the iteration CTE chain is
    GENERATED from the same loop as the Spark plan (one CTE per power
    step), so the recurrence cannot drift. ``edges_cte`` must yield
    ``(src, dst, w)``; ``nodes_cte`` must yield ``node_col``."""
    if iterations < 1:
        raise ValueError("pagerank_sql needs iterations >= 1")
    d = float(damping)
    ctes = [
        f"nodes AS ({nodes_cte})",
        f"edges AS ({edges_cte})",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "out_w AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src)",
        "trans AS (SELECT e.src, e.dst, e.w / o.out_w AS p"
        " FROM edges e JOIN out_w o ON e.src = o.src)",
        f"r0 AS (SELECT {node_col}, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"r{i} AS (SELECT nd.{node_col}, "
            f"(1.0 - {d}) / (SELECT n FROM nn) + {d} * COALESCE("
            f"(SELECT SUM(r.rank * t.p) FROM trans t "
            f"JOIN r{i - 1} r ON r.{node_col} = t.src "
            f"WHERE t.dst = nd.{node_col}), 0.0) AS rank "
            f"FROM nodes nd)"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT {node_col}, ROUND(rank, 6) AS rank FROM r{iterations}"
    )
