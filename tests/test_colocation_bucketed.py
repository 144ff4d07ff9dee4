"""Bucketed presence path: identical output to the in-flight kernel,
zero exchanges/sorts before the self-join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from epiteam_network_etl_functions_spark.operators.colocation import (
    colocation_pairs,
)
from epiteam_network_etl_functions_spark.operators.colocation_bucketed import (
    colocation_pairs_bucketed,
    write_presence_bucketed,
)


@pytest.fixture(scope="module")
def pings(spark):
    # (caid, h3index_15, tw) presence with co-located clusters and repeats
    rows = []
    for tw in range(6):
        for cell in ("8f0", "8f1", "8f2"):
            for dev in range(4):
                if (dev + tw) % 3:
                    rows.append((f"d{dev}", cell, tw))
                    rows.append((f"d{dev}", cell, tw))  # duplicate ping
    return spark.createDataFrame(rows, "caid string, h3index_15 string, tw long")


@pytest.fixture(scope="module")
def bucketed(spark, pings):
    spark.sql("DROP TABLE IF EXISTS b_presence")
    write_presence_bucketed(pings, "b_presence", n_buckets=8)
    yield "b_presence"
    spark.sql("DROP TABLE IF EXISTS b_presence")


def test_pairs_match_inflight_kernel(spark, pings, bucketed):
    want = {tuple(r) for r in colocation_pairs(pings).collect()}
    got = {tuple(r) for r in colocation_pairs_bucketed(spark, bucketed).collect()}
    assert want
    assert got == want


def test_join_runs_without_exchange(spark, bucketed):
    """The bucket layout carries the partitioning proof: the self-join
    subtree has no Exchange and no Sort (bucketBy + sortBy on the join
    keys); the only shuffle left is the output-sized pair distinct."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pairs = colocation_pairs_bucketed(spark, bucketed)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # exactly ONE exchange: the final distinct's. Join inputs: none.
        assert plan.count("Exchange") == 1
        join_part = plan.split("SortMergeJoin")[-1]  # below the join
        assert "Exchange" not in join_part
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_presence_is_deduped_at_write(spark, bucketed):
    p = spark.table(bucketed)
    assert p.count() == p.distinct().count()


def test_bucketed_workload_query_is_rerunnable(spark):
    """The workload entry writes the bucketed presence table at plan-build;
    a second invocation in the same session (and, via the orphan-location
    sweep, in a NEW session over a stale warehouse dir) must overwrite
    cleanly and return identical pairs."""
    from epiteam_network_etl_functions_spark import workload

    workload.load_all()
    fn = workload.REGISTRY["colocation_pairs_bucketed"]
    sf = "/root/testdata/sf0.001"
    first = sorted(map(tuple, fn(spark, sf).collect()))
    second = sorted(map(tuple, fn(spark, sf).collect()))
    assert first == second and len(first) > 0
