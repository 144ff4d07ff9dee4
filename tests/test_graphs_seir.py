"""SBM sampling, size scaling and SEIR invariants (reference assert
properties, SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from epiteam_network_etl_functions_spark.operators.graphs import (
    sample_nodes,
    sbm_edges,
    scale_sizes,
)
from epiteam_network_etl_functions_spark.operators.seir import (
    infected_by_block,
    run_gillespie_sweep,
    seir_discrete,
    trajectory_stats,
)


def test_scale_sizes_sums_to_target():
    sizes = {"a": 5000, "b": 300, "c": 1, "d": 0}
    scaled = scale_sizes(sizes, 10000)
    assert sum(scaled.values()) == 10000  # size_scalers.py:48 invariant
    assert all(v >= 1 for v in scaled.values())  # zero bump
    assert scaled["a"] > scaled["b"] > scaled["c"]


def test_scale_sizes_deterministic():
    sizes = {"a": 17, "b": 29, "c": 54}
    assert scale_sizes(sizes, 1000) == scale_sizes(sizes, 1000)


def test_sbm_edges_respects_blocks(spark):
    nodes = sample_nodes({"x": 30, "y": 30}, spark)
    probs = spark.createDataFrame(
        [
            Row(a_block="x", b_block="x", prob=1.0),
            Row(a_block="y", b_block="y", prob=0.0),
            Row(a_block="x", b_block="y", prob=0.0),
            Row(a_block="y", b_block="x", prob=0.0),
        ]
    )
    edges = sbm_edges(nodes, probs, seed=7)
    got = edges.groupBy("a_block", "b_block").count().collect()
    by_pair = {(r["a_block"], r["b_block"]): r["count"] for r in got}
    # prob=1 block fully connected internally, everything else empty
    assert by_pair == {("x", "x"): 30 * 29 // 2}
    # canonical pairs only
    assert edges.where(F.col("a_node") >= F.col("b_node")).count() == 0


def test_seir_conservation_and_monotonicity():
    edges = [(i, (i + 1) % 50) for i in range(50)] + [(i, (i + 7) % 50) for i in range(50)]
    rows = seir_discrete(50, edges, beta=0.5, sigma=0.5, gamma=0.3, seed=1, t_max=200)
    n = 50
    r_prev = 0
    for t, s, e, i, r in rows:
        assert s + e + i + r == n  # conservation
        assert r >= r_prev  # R monotone
        r_prev = r
    assert rows[0][1:] == (49, 0, 1, 0)
    # deterministic under seed
    assert rows == seir_discrete(50, edges, beta=0.5, sigma=0.5, gamma=0.3, seed=1, t_max=200)


def test_seir_sweep_and_stats(spark):
    edges = [(i, (i + 1) % 30) for i in range(30)]
    traj = run_gillespie_sweep(spark, 30, edges, seeds=[0, 1, 2], beta=0.4, t_max=50)
    stats = trajectory_stats(traj)
    assert stats.where(F.col("n_runs") > 3).count() == 0
    t0 = stats.where(F.col("t") == 0).collect()[0]
    assert t0["n_runs"] == 3 and t0["avg_I"] == 1.0


def test_infected_by_block(spark):
    ns = spark.createDataFrame(
        [
            Row(node_id=0, ageb_id="a", I=1.5),
            Row(node_id=1, ageb_id="a", I=None),
            Row(node_id=2, ageb_id="b", I=2.5),
        ]
    )
    out = {r["ageb_id"]: (r["n_infected"], r["avg_t_infected"])
           for r in infected_by_block(ns).collect()}
    assert out == {"a": (1, 1.5), "b": (1, 2.5)}
