"""Distributed PageRank over an undirected edge list — iterative
DataFrame power iteration, the same execution discipline as the
components and distributed-SEIR kernels (per-round checkpointing, driver
sees only scalars).

The reference's network analytics run networkx on collected graphs; this
is the form that runs on the full 100 TB co-location network:

- adjacency stays an edge DataFrame (both directions materialized once
  and cached: contribution flow is rank/degree along every directed arc);
- one shuffle per iteration (groupBy dst), plus the rank join;
- every round is localCheckpointed (an iterative plan otherwise doubles
  per round, and the convergence check would replay the uncheckpointed
  rounds);
- convergence is the driver-side L1 delta — a scalar per round, never a
  table, read off the round's checkpoint, which carries the previous
  rank next to the new one.

Undirected edge lists have no dangling nodes (every listed node has
degree >= 1), so the dangling-mass redistribution term is zero by
construction; the uniform teleport keeps the standard (1-d)/n form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 40,
) -> DataFrame:
    """(node_id, rank) with sum(rank) == 1; power iteration until the L1
    delta drops below ``tol`` or ``max_iter`` rounds."""
    arcs = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionAll(
            edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
    )
    deg = arcs.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    arcs = arcs.join(deg, "src").cache()

    nodes = arcs.select(F.col("src").alias("node_id")).distinct().cache()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    teleport = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()

    for it in range(max_iter):
        contribs = (
            arcs.join(ranks, arcs["src"] == ranks["node_id"])
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("flow"))
        )
        # Every round is checkpointed and carries its predecessor's rank,
        # so the delta reads this round's blocks instead of replaying the
        # uncheckpointed rounds behind both sides of a rank join.
        new_ranks = (
            ranks.join(contribs, ranks["node_id"] == contribs["dst"], "left")
            .select(
                "node_id",
                (
                    F.lit(teleport) + F.lit(damping) * F.coalesce("flow", F.lit(0.0))
                ).alias("rank"),
                F.col("rank").alias("prev"),
            )
            .localCheckpoint()
        )
        delta = new_ranks.agg(
            F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("d")
        ).collect()[0]["d"]
        ranks = new_ranks.select("node_id", "rank")
        if delta < tol:
            break
    return ranks


def label_propagation(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 10,
) -> DataFrame:
    """Community detection by synchronous label propagation: every node
    adopts the most frequent label among its neighbours each round (ties
    break to the smallest label, making rounds deterministic — the
    classic async/random variant is not reproducible, which disqualifies
    it here). Returns (node_id, label); nodes sharing a label at
    convergence form a community.

    Same scale shape as :func:`pagerank`: cached bidirectional arcs, one
    neighbour-join + two aggregations per round (count labels per
    (node, label), then argmax per node via max_by), lineage checkpoints,
    driver sees only the changed-node count. Deterministic synchronous
    updates can oscillate on bipartite-ish structures, so the loop also
    stops when the change count stops decreasing — standard practice."""
    arcs = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionAll(
            edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .cache()
    )
    labels = (
        arcs.select(F.col("src").alias("node_id"))
        .distinct()
        .withColumn("label", F.col("node_id"))
        .localCheckpoint()
    )
    prev_changed = None
    for it in range(max_iter):
        neigh = (
            arcs.join(labels, arcs["dst"] == labels["node_id"])
            .select("src", "label")
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # most frequent neighbour label; ties -> smallest label. Every
        # round is checkpointed with its predecessor's label alongside,
        # so the change count reads this round's blocks.
        new_labels = (
            neigh.groupBy("src")
            .agg(F.expr("max_by(label, struct(n, -label))").alias("label"))
            .join(labels.withColumnRenamed("label", "prev"),
                  F.col("src") == F.col("node_id"))
            .select("node_id", "label", "prev")
            .localCheckpoint()
        )
        changed = new_labels.where(F.col("label") != F.col("prev")).count()
        labels = new_labels.select("node_id", "label")
        if changed == 0 or (prev_changed is not None and changed >= prev_changed):
            break
        prev_changed = changed
    return labels
