"""Binomial SBM sampler (the beyond-n² scale path): exactness of the
pair-index bijections, distributional match with the cross-join sampler,
determinism, and a large-n smoke (reference NetworkBuilder.py:437 scale
target)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row

from epiteam_network_etl_functions_spark.operators.graphs import (
    _decode_same_block,
    block_ranges,
    sample_nodes,
    sbm_edges,
    sbm_edges_binomial,
)


def test_distributed_node_table_matches_list_builder(spark):
    scaled = {"x": 40, "y": 1, "z": 25}
    expected = sorted(
        (lo + i, b) for b, (lo, n) in block_ranges(scaled).items() for i in range(n)
    )
    assert sorted(map(tuple, sample_nodes(scaled, spark).collect())) == expected


def test_decode_same_block_is_bijection():
    for n in (2, 3, 7, 50):
        idx = np.arange(n * (n - 1) // 2, dtype=np.int64)
        i, j = _decode_same_block(idx, n)
        assert (i < j).all() and (i >= 0).all() and (j < n).all()
        pairs = set(zip(i.tolist(), j.tolist()))
        assert len(pairs) == n * (n - 1) // 2  # every pair hit exactly once


def test_p1_recovers_every_pair_across_chunks(spark):
    """p=1.0 must yield the complete pair set — exercises chunk boundaries
    (chunk_pairs tiny) and both decoders end-to-end."""
    scaled = {"a": 23, "b": 17}
    probs = {("a", "a"): 1.0, ("a", "b"): 1.0, ("b", "b"): 1.0}
    edges = sbm_edges_binomial(scaled, probs, spark, seed=1, chunk_pairs=100)
    rows = {(r["a_node"], r["b_node"]) for r in edges.collect()}
    n = 23 + 17
    assert len(rows) == n * (n - 1) // 2
    assert all(a < b for a, b in rows)


def test_block_membership_and_ranges(spark):
    scaled = {"x": 40, "y": 25, "z": 35}
    ranges = block_ranges(scaled)
    probs = {("x", "y"): 0.3, ("z", "z"): 0.2}
    edges = sbm_edges_binomial(scaled, probs, spark, seed=7, chunk_pairs=500)
    for r in edges.collect():
        a0, an = ranges[r["a_block"]]
        b0, bn = ranges[r["b_block"]]
        assert a0 <= r["a_node"] < a0 + an
        assert b0 <= r["b_node"] < b0 + bn
        assert r["a_node"] < r["b_node"]
        assert (r["a_block"], r["b_block"]) in probs


def test_deterministic_per_seed(spark):
    scaled = {"a": 30, "b": 30}
    probs = {("a", "a"): 0.1, ("a", "b"): 0.05, ("b", "b"): 0.1}
    e1 = sorted(map(tuple, sbm_edges_binomial(scaled, probs, spark, seed=3).collect()))
    e2 = sorted(map(tuple, sbm_edges_binomial(scaled, probs, spark, seed=3).collect()))
    e3 = sorted(map(tuple, sbm_edges_binomial(scaled, probs, spark, seed=4).collect()))
    assert e1 == e2
    assert e1 != e3


def test_distribution_matches_cross_join_sampler(spark):
    """Per-block-pair edge counts from both samplers are draws from the
    same Binomial(n_pairs, p); compare seed-averaged means within 4 SE."""
    scaled = {"a": 40, "b": 30}
    probs_d = {("a", "a"): 0.15, ("a", "b"): 0.08, ("b", "b"): 0.2}
    probs_df = spark.createDataFrame(
        [Row(a_block=k[0], b_block=k[1], prob=v) for k, v in probs_d.items()]
    )
    nodes = sample_nodes(scaled, spark)
    n_seeds = 24
    n_pairs = {("a", "a"): 40 * 39 // 2, ("a", "b"): 40 * 30, ("b", "b"): 30 * 29 // 2}

    def counts(edges_df):
        out = dict.fromkeys(probs_d, 0)
        for r in edges_df.groupBy("a_block", "b_block").count().collect():
            out[(r["a_block"], r["b_block"])] = r["count"]
        return out

    cross_tot = dict.fromkeys(probs_d, 0.0)
    binom_tot = dict.fromkeys(probs_d, 0.0)
    for s in range(n_seeds):
        for k, v in counts(sbm_edges(nodes, probs_df, seed=s)).items():
            cross_tot[k] += v
        for k, v in counts(sbm_edges_binomial(scaled, probs_d, spark, seed=s)).items():
            binom_tot[k] += v

    for k, p in probs_d.items():
        mean = n_pairs[k] * p
        se = np.sqrt(n_pairs[k] * p * (1 - p) / n_seeds)
        assert abs(cross_tot[k] / n_seeds - mean) < 4 * se + 1, (k, "cross")
        assert abs(binom_tot[k] / n_seeds - mean) < 4 * se + 1, (k, "binom")


def test_million_node_smoke(spark):
    """10⁶ nodes / 10 blocks: the candidate space is 5×10¹¹ pairs — the
    cross-join sampler cannot touch it; the binomial path generates the
    ~50k realized edges in output-sized work."""
    scaled = {f"b{i:02d}": 100_000 for i in range(10)}
    probs = {(f"b{i:02d}", f"b{i:02d}"): 1e-6 for i in range(10)}
    edges = sbm_edges_binomial(scaled, probs, spark, seed=11)
    n = edges.count()
    # 10 blocks × Binomial(~5e9, 1e-6): mean 49999.5, sd ~224
    assert 47_000 < n < 53_000
    # spot-check structure without collecting everything
    bad = edges.where("a_node >= b_node OR a_block != b_block").count()
    assert bad == 0
