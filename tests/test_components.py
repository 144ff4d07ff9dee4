"""Connected components: edge contract, correctness against a union-find
reference, O(log n) rounds, imputer integration."""

from __future__ import annotations

import random

from pyspark.sql import Row, functions as F

from epiteam_network_etl_functions_spark.constants import SENTINEL_AGEB_13
from epiteam_network_etl_functions_spark.operators.components import (
    connected_components,
)


def _labels(labels_df) -> dict:
    rows = labels_df.collect()
    out = {r["node_id"]: r["component_id"] for r in rows}
    assert len(out) == len(rows)  # one row per node
    return out


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Plain-Python reference: min node id per component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_components_two_clusters_and_chain(spark):
    # The edge contract on string ids: duplicate and reversed edges collapse
    # to one undirected edge; self-loops and NULL endpoints are dropped, so a
    # node seen only in a self-loop or beside a NULL gets no row.
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "b"), ("c", "b"),
         ("x", "x"),
         ("y", None), (None, "z"), (None, None),
         ("n", "m"), ("n", "n"),
         ("q", "p"), ("p", "q")],
        "a_id string, b_id string",
    )
    assert _labels(connected_components(edges)) == {
        "a": "a", "b": "a", "c": "a", "m": "m", "n": "m", "p": "p", "q": "p",
    }


def test_components_feed_imputer(spark):
    from epiteam_network_etl_functions_spark.plans.mobility import (
        impute_neighbour_frequency,
    )

    edges = spark.createDataFrame(
        [Row(a_id="A", b_id="B"), Row(a_id="B", b_id="D"), Row(a_id="A", b_id="C")]
    )
    labels = connected_components(edges)
    assert _labels(labels) == {"A": "A", "B": "A", "C": "A", "D": "A"}

    homes = spark.createDataFrame(
        [Row(caid="A", home_ageb="0901200010010"),
         Row(caid="B", home_ageb="0901200010010"),
         Row(caid="C", home_ageb="1501200010020"),
         Row(caid="D", home_ageb=SENTINEL_AGEB_13)]
    )
    out = {r["caid"]: r["home_ageb"]
           for r in impute_neighbour_frequency(homes, labels).collect()}
    assert out["D"] == "0901200010010"


def test_star_components_match_min_label(spark):
    # component {1,2,3,4} as a chain (diameter 3) + {10,11} + {20,21,22} star
    edges = spark.createDataFrame(
        [Row(a_id=1, b_id=2), Row(a_id=2, b_id=3), Row(a_id=3, b_id=4),
         Row(a_id=10, b_id=11),
         Row(a_id=20, b_id=21), Row(a_id=20, b_id=22)]
    )
    star = _labels(connected_components(edges))
    assert star == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_star_components_random_graph_equivalence(spark):
    for seed in (7, 11, 23):
        rng = random.Random(seed)
        n = 400
        edges_py = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
        edges_py = [(a, b) for a, b in edges_py if a != b]
        # duplicate and reversed copies of a sample of the edges
        edges_py += rng.sample(edges_py, 40)
        edges_py += [(b, a) for a, b in rng.sample(edges_py, 40)]
        edges = spark.createDataFrame(edges_py, ["a_id", "b_id"])
        star = _labels(connected_components(edges))
        assert star == _union_find_labels(edges_py), seed


def test_star_components_path_graph_log_rounds(spark):
    # 10k-node path: diameter 9999 — propagating the min label one hop per
    # round would need 10k rounds; large-/small-star converges in O(log n)
    # rounds within its 40-round default cap.
    n = 10_000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["a_id", "b_id"]
    )
    labels = connected_components(edges)

    agg = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component_id").alias("ncomp"),
        F.min("component_id").alias("minc"),
        F.max("component_id").alias("maxc"),
    ).collect()[0]
    assert (agg["n"], agg["ncomp"], agg["minc"], agg["maxc"]) == (n, 1, 0, 0)
