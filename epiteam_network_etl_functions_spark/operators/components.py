"""Distributed connected components over an edge list.

The reference builds the `connected_component` arrays of its
neighbour-frequency imputation (home_ageb_imputers.py:120-206) with networkx
on one machine. ``connected_components`` computes the components on the
cluster with large-star/small-star rounds: O(log n) rounds on any topology,
each round working on the edge list alone (no driver-side graph), with state
localCheckpointed every round and the previous round unpersisted. Its output
is long (node_id, component_id) labels, which the imputer
(plans/mobility.impute_neighbour_frequency) joins directly, so no component
has to fit in a row. The mobility chain's imputation, the corpus stage's
fuzzy dedup and the text queries' near-duplicate clusters all run this one
kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F


def undirected_adjacency(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Canonical (src, dst) adjacency with both directions, deduplicated —
    the distributed SEIR's neighbour lists."""
    fwd = edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    rev = edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    return fwd.unionByName(rev).distinct()


def connected_components(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iterations: int = 40,
) -> DataFrame:
    """(node_id, component_id) with component_id = the min node id of the
    component, via alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
    rounds on ANY topology: a 10⁵-node path graph converges in ~17 rounds
    here, where min-label propagation would need 10⁵.

    Edge contract: self-loops and edges with a NULL endpoint are dropped,
    and duplicate or reversed edges collapse to one undirected edge. So
    the output has one row per node that appears in at least one edge
    between two distinct non-NULL ids; a node seen only in a self-loop, or
    isolated nodes absent from the edge list, get no row — union them in
    from the node table if they must label themselves. Node ids must be of
    an ordered type (numbers, strings, dates, timestamps).

    Each round is two star operations, each one window minimum over the
    current edge set partitioned by ``u``:

    - large-star: for every node u, point every *larger* neighbour at
      m = min(Γ(u) ∪ {u}).
    - small-star: orient edges downward (u ≥ v); point u and all its
      smaller neighbours at their minimum.

    Convergence: the edge set is a fixpoint (star forests centred on each
    component's min id). Checked with an order-independent fingerprint
    (count + bit_xor of xxhash64(u, v) — xor, not sum, so ANSI-mode
    overflow is impossible), observed during the round's own
    localCheckpoint action, so it costs no job of its own. State is
    localCheckpointed per round so plans stay O(1) across iterations, and
    the returned labels read only that checkpoint — callers may release
    any cache that backed ``edges`` as soon as this returns.

    Replaces the driver-side networkx components the reference consumes for
    neighbour-frequency imputation (home_ageb_imputers.py:120-206) at any
    scale.
    """
    comparable = {"int", "bigint", "smallint", "tinyint", "double", "float",
                  "string", "date", "timestamp", "decimal"}
    for f in edges.select(a_col, b_col).schema.fields:
        t = f.dataType.simpleString().split("(")[0]
        if t not in comparable:
            raise ValueError(f"node id column {f.name} has unordered type {t}")

    def checkpoint(df: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
        obs = Observation()
        out = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).localCheckpoint()
        return out, (int(obs.get["n"]), int(obs.get["h"]))

    e, prev = checkpoint(
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )
    by_u = Window.partitionBy("u")
    converged = False
    for _ in range(max_iterations):
        # large-star over the symmetric neighbourhood; v > u >= m, so every
        # edge it emits already points downward. Its duplicates are left
        # for small-star's distinct.
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        large = (
            sym.withColumn("m", F.least(F.min("v").over(by_u), F.col("u")))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: each emitted row yields (v -> m) and (u -> m)
        star = large.withColumn("m", F.min("v").over(by_u))
        small, cur = checkpoint(
            star.where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(star.select("u", F.col("m").alias("v")))
            .distinct()
        )
        e.unpersist()
        e = small
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds — pathological input (expected O(log n) rounds)"
        )
    # Fixpoint edges are (member -> component min); the mins label
    # themselves. ``e`` stays checkpointed: the labels read it.
    return e.select(
        F.col("u").alias("node_id"), F.col("v").alias("component_id")
    ).unionByName(
        e.select(F.col("v").alias("node_id"), F.col("v").alias("component_id")).distinct()
    )

