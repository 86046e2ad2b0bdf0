"""Iterative graph operators on DataFrames (no GraphX/GraphFrames
dependency): weighted PageRank.

100 TB shape: callers AGGREGATE the raw data down to a (src, dst, p)
edge-probability list first (that star join + groupBy is the big job);
the iteration then runs over the aggregated graph. For small aggregates
(e.g. 25 nations) Catalyst folds the unrolled loop into one plan; a large
node set would need a lineage cut every few rounds (a ``localCheckpoint``,
as operators/clusters.py's connected-components loop does) to keep round
cost constant.

No analogue in the reference (a file-move utility); part of the
training-data-pipeline mandate (graph/iteration tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize_edges(edges: DataFrame) -> DataFrame:
    """Per-source transition probabilities from (src, dst, w) edges:
    p = w / sum(w) over src. One window exchange on src."""
    return edges.select(
        "src",
        "dst",
        (F.col("w") / F.sum("w").over(Window.partitionBy("src"))).alias("p"),
    )


def pagerank(
    norm: DataFrame,
    nodes: DataFrame,
    *,
    iterations: int = 8,
    damping: float = 0.85,
    n_nodes: int | None = None,
) -> DataFrame:
    """``iterations`` rounds of r(dst) = (1-d)/N + d * sum(r(src) * p).

    ``norm``: (src, dst, p) transition probabilities (see
    :func:`normalize_edges`); ``nodes``: one column ``nation`` listing
    every node (dangling mass is dropped, matching the oracle's edge-set
    construction). Pass ``n_nodes`` when N is known statically to keep
    query construction action-free; otherwise one tiny ``count()`` runs.
    The loop stays unrolled, which suits small aggregated graphs.
    """
    if n_nodes is None:
        n_nodes = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(iterations):
        contrib = norm.join(
            ranks.withColumnRenamed("nation", "src"), "src"
        ).select("dst", (F.col("rank") * F.col("p")).alias("c"))
        ranks = (
            nodes.join(contrib, nodes["nation"] == contrib.dst, "left")
            .groupBy("nation")
            .agg(
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping) * F.coalesce(F.sum("c"), F.lit(0.0))
                ).alias("rank")
            )
        )
    return ranks
