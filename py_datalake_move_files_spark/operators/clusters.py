"""Connected components over near-duplicate pair graphs — the step that
turns pairwise dedup output (MinHash/LSH/embedding pairs) into dedup GROUPS
(one representative per cluster).

Iterative min-label propagation on DataFrames: every node repeatedly adopts
the smallest label among itself and its neighbors until a fixed point. This
is the standard large-graph CC approach on Spark (no GraphX dependency, pure
joins + aggregates):

- each iteration is one join (labels × edges) + one groupBy min — both on
  the node id, so at scale consecutive iterations reuse the same hash
  partitioning (co-partitioned, no extra shuffle beyond the two per round);
- iteration count is O(graph diameter); near-dup clusters are tiny and
  star-shaped, so 2-4 rounds converge even at 100 TB corpus scale;
- convergence is detected by counting changed labels (one action per round —
  the driver loop is control flow only, no data ever collects).

An `(a)-(b)` edge list is symmetrized internally; singleton nodes (no edge)
are not emitted — callers union them in if needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    *,
    max_iterations: int = 20,
) -> DataFrame:
    """Cluster ids for every node appearing in the ``(id_a, id_b)`` edge
    list ``pairs``.

    Returns ``(node, cluster_id)`` where ``cluster_id`` is the minimum node
    id reachable from ``node`` (deterministic representative).

    Propagation is one-hop neighbor-min per round with an early exit at
    convergence and a LOUD failure at the iteration cap (below). A
    pointer-doubling variant (relabel through label-of-label, O(log
    diameter) rounds) was measured SLOWER here — the extra per-round
    self-join + full-outer merge cost more than the rounds it saved on
    real graphs, where high-degree hubs already spread the min label in
    few hops (knn_components: 3.8 s one-hop vs 6.8 s doubled at sf0.1).

    Lineage is cut with ``localCheckpoint``: blocks live on executor local
    storage (fast, no remote-store traffic), so losing an executor
    mid-iteration fails the job rather than recomputing.
    """
    # Materialize the pair list ONCE and cut its lineage: the symmetrizing
    # union below references it twice, and every iteration's plan would
    # otherwise embed the whole upstream pair pipeline (minhash, LSH,
    # verify) — persist() alone keeps the logical plan growing, so Catalyst
    # re-analyzes an ever-larger tree each round (measured: round cost
    # dominated by planning, not data). Checkpointing truncates the plan
    # to an RDD scan → constant-size plans per round.
    def cut(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    p = cut(pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    edges = cut(
        p.union(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    labels = cut(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # one action per round: the checkpoint materializes labels AND the
        # change flag together (a separate count() on the pre-checkpoint
        # frame would re-run the join a second time)
        new_labels = cut(
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("new_label"),
                (
                    F.least(
                        F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                    )
                    != F.col("label")
                ).alias("__changed"),
            )
            .withColumnRenamed("new_label", "label")
        )
        changed = new_labels.where(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    else:
        # silent wrong labels are worse than a loud stop: min-label
        # propagation advances one hop per round, so a graph whose
        # min-eccentricity exceeds the cap (long chains — e.g. a kNN graph)
        # would return partially-propagated clusters that LOOK valid
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing) — raise "
            f"max_iterations (graph diameter exceeds the cap)"
        )

    # one row per clustered node, lineage already truncated
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))

