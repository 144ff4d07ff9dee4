"""Sources/sinks: partitioned layout round-trip, partition pruning, csv,
stage-IR checkpoint (reference S2/S5/S8/S9/S11)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from epiteam_network_etl_functions_spark import catalog, cli
from epiteam_network_etl_functions_spark.sources import (
    read_csv,
    read_partitioned,
    write_csv,
    write_partitioned,
)
from tests.conftest import PARITY_SF_DIR


@pytest.fixture()
def events(spark):
    return catalog.load(spark, PARITY_SF_DIR, "events")


def test_partitioned_roundtrip_and_pruning(spark, events, tmp_path):
    path = str(tmp_path / "events_part")
    by_day = events.withColumn("day", F.to_date("ts").cast("string"))
    write_partitioned(by_day, path, ["day", "event_type"])

    back = read_partitioned(spark, path)
    assert back.count() == events.count()

    pruned = back.where(
        (F.col("day") == "2024-01-05") & (F.col("event_type") == "error")
    )
    expected = events.where(
        (F.to_date("ts") == F.lit("2024-01-05")) & (F.col("event_type") == "error")
    )
    assert pruned.count() == expected.count()
    # Partition predicates must prune at plan time, not post-scan filter.
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "2024-01-05" in plan


def test_csv_roundtrip(spark, events, tmp_path):
    path = str(tmp_path / "csv_out")
    small = events.select("event_id", "user_id", "event_type").limit(100)
    write_csv(small, path)
    back = read_csv(spark, path)
    assert back.count() == 100
    assert set(back.columns) == {"event_id", "user_id", "event_type"}


def test_checkpoint_roundtrip(spark, events, tmp_path):
    """The CLI's stage-IR writer materializes a frame and continues from
    the parquet read back under the frame's own schema."""
    path = str(tmp_path / "ckpt")
    agg = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    back = cli._write_ir(spark, agg, path)
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in agg.schema
    ]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, agg.collect()))


def test_read_days_prunes(spark, events, tmp_path):
    from epiteam_network_etl_functions_spark.sources import read_days, write_partitioned

    path = str(tmp_path / "by_day")
    by_day = events.withColumn("day", F.to_date("ts").cast("string"))
    write_partitioned(by_day, path, ["day"])
    days = ["2024-01-03", "2024-01-04", "2024-01-05"]
    got = read_days(spark, path, days)
    expected = events.where(F.to_date("ts").cast("string").isin(days))
    assert got.count() == expected.count()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-03" in plan


def test_matrix_and_pickle_sinks(tmp_path):
    """S13: text-matrix (np.savetxt .npy) + pickle round-trips."""
    import numpy as np

    from epiteam_network_etl_functions_spark.sources.io import (
        read_matrix_npy,
        read_pickle,
        write_matrix_npy,
        write_pickle,
    )

    m = np.array([[0.0, 0.25], [0.5, 1.0]])
    mp = str(tmp_path / "probs_matrix.npy")
    write_matrix_npy(mp, m)
    # reference writes TEXT via savetxt despite the .npy suffix — parse as text
    assert np.allclose(read_matrix_npy(mp), m)
    with open(mp) as f:
        first = f.readline()
    assert "e" in first and " " in first  # savetxt text rows, as NetworkBuilder emits

    obj = {"seed": 7, "trajectory": [(0, 199, 0, 1, 0)]}
    pp = str(tmp_path / "SIM_SEED_7_raw_result.pkl")
    write_pickle(pp, obj)
    assert read_pickle(pp) == obj


def test_jsonl_shard_roundtrip(spark, tmp_path):
    """Sharded JSONL export: shard count matches ceil(n/size), every shard
    respects the record cap, and a schema'd re-read round-trips exactly."""
    import glob

    from pyspark.sql import functions as F

    from epiteam_network_etl_functions_spark.sources.io import (
        read_jsonl,
        write_jsonl_shards,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )
    out = str(tmp_path / "shards")
    write_jsonl_shards(df, out, records_per_shard=300, compression=None)
    files = sorted(glob.glob(out + "/part-*.json"))
    assert len(files) == 4  # ceil(1000/300)
    for f in files:
        with open(f) as fh:
            assert sum(1 for _ in fh) <= 300
    back = read_jsonl(spark, out, schema="doc_id long, text string")
    assert back.count() == 1000
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """A partitioned fact joined through a FILTERED dim must plan a
    dynamicpruning subquery on the fact's partition column — at 100 TB
    this is what turns a star join into a scan of only the matching
    partitions (static pruning can't: the partition values come from the
    dim at runtime). DPP requires the dim-side filter; an unfiltered dim
    join plans a full scan (verified while writing this test)."""
    from pyspark.sql import functions as F

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    fact_path = str(tmp_path / "fact")
    events.withColumn("day", F.to_date("ts")).write.partitionBy(
        "day"
    ).mode("overwrite").parquet(fact_path)
    dim_rows = [
        (f"2024-01-{i:02d}", "keep" if i == 5 else "drop")
        for i in range(1, 29)
    ]
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(dim_rows, "day_str string, tag string").select(
        F.to_date("day_str").alias("day"), "tag"
    ).write.mode("overwrite").parquet(dim_path)

    fact = spark.read.option("basePath", fact_path).parquet(fact_path)
    dim = spark.read.parquet(dim_path).where(F.col("tag") == "keep")
    j = fact.join(dim, "day")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    truth = events.where(F.to_date("ts") == "2024-01-05").count()
    assert j.count() == truth


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC round-trip + the same pushdown contract as parquet: a value
    predicate must reach the ORC scan as a pushed filter."""
    from pyspark.sql import functions as F

    from epiteam_network_etl_functions_spark.sources.io import (
        read_orc,
        write_orc,
    )

    events = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).select("event_id", "user_id", "value")
    p = str(tmp_path / "events_orc")
    write_orc(events, p)
    back = read_orc(spark, p, schema="event_id long, user_id long, value double")
    assert back.count() == events.count()
    q = back.where(F.col("value") >= 100.0)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(value,100.0)" in plan
    truth = events.where(F.col("value") >= 100.0).count()
    assert q.count() == truth


def test_runtime_bloom_filter_join_pruning_fires(spark):
    """Runtime Bloom-filter pruning: a selective dim filter must inject a
    might_contain() filter on the FACT scan side of a shuffled join — the
    row-level analogue of dynamic partition pruning, and the mechanism
    that keeps a 100 TB fact scan from shuffling rows that cannot match.
    Defaults only trigger above a 10 GB application-side scan, so the
    thresholds are lowered for the fixture; production defaults fire at
    exactly the scale where it matters."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        truth = (
            spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
            .join(
                spark.read.parquet(
                    "/root/testdata/sf0.001/orders.parquet"
                ).where(F.col("o_orderpriority") == "1-URGENT"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert j.count() == truth
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
