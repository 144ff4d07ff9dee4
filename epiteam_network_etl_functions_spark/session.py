"""SparkSession factory + runtime prep.

The reference sized a single-machine session by hand
(SparkWrapper.py:10-16: local[*], 50g driver/executor). Here the session is
tuned for local[N] testing but every setting that matters at cluster scale
(AQE, skew-join handling, shuffle partition sizing) is expressed as config,
not code, so the same plans run unchanged on a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Correctness confs — always pinned, driver session or ours.
_CORRECTNESS_CONF = {
    # DuckDB timestamps are UTC-naive; pin the session so hour()/to_date()
    # and collected datetimes agree with the oracle bit-for-bit.
    "spark.sql.session.timeZone": "UTC",
    # The testdata writes events.ts as TIMESTAMP(NANOS), which Spark's
    # vectorized parquet reader rejects; read as long and rebuild in catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Python DataSource filter pushdown is opt-in; the parquet_meta
    # reader prunes footer fetches with it (file = ... predicates).
    "spark.sql.python.filterPushdown.enabled": "true",
}

# Scale profile (default): what a 1000-executor / 100 TB run wants. AQE
# re-plans at runtime, coalesces post-shuffle partitions, and splits skewed
# joins — the J1-style co-location self-join has hot (cell, bucket) keys by
# design.
_SCALE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r15 spike RESULT (VERDICT r14 carried item), REVERTED in-round:
    # routing path-based parquet through DataSource V2
    # (useV1SourceList minus parquet + spark.sql.parquet.aggregatePushdown,
    # lowercase 'down') does serve COUNT(*)-only subtrees from footers
    # (PushedAggregation: [COUNT(*)] — plan committed,
    # plans/r15/tfidf_top_terms_scaleprofile_v2_after.txt), BUT the v2
    # BatchScan path plans NO dynamic partition pruning in Spark 4.1: a
    # partitioned fact joined through a filtered dim shows neither a
    # dynamicpruning subquery nor a populated RuntimeFilters list, in all
    # six probed combinations (AQE on/off x reuseBroadcastOnly true/false
    # x pre/post-execution; v1 plans the subquery in the same session).
    # Losing DPP on partitioned facts costs full scans at 100 TB — far
    # more than a footer-count saves — so the v1 reader stays and the
    # aggregate-pushdown key (inert under v1) is dropped with it.
    # tests/test_io.py::test_dynamic_partition_pruning_fires locks this.
}

# Small-input latency profile (bench at sf<=0.1, a few hundred MB): AQE's
# per-stage re-optimization costs more than it saves, and every dimension
# fits comfortably in a broadcast. Selected via $SPARK_GRAFT_SMALL_PROFILE=1
# (bench.py sets it from the measured input size).
_SMALL_CONF = {
    "spark.sql.adaptive.enabled": "false",
    # 4 MB: every true dimension broadcasts, but a fact-sized side of a
    # self-join does NOT — broadcasting one presence branch both costs a
    # broadcast job and breaks the ReuseExchange that lets one shuffle feed
    # both sides (measured 2x slower on the co-location kernels at 100 MB).
    "spark.sql.autoBroadcastJoinThreshold": str(4 * 1024 * 1024),
    # Shuffled-hash over sort-merge: at sub-GB scale the per-partition sort
    # costs more than the hash table build, and single-JVM memory is ample.
    "spark.sql.join.preferSortMergeJoin": "false",
}

# Static core confs — only settable at session build time (get_session), not
# via prep() on an externally provided session. Small-profile only: sub-GB
# shuffles are latency-bound, so compression just adds CPU to the critical
# path; at scale the defaults (compressed) win once shuffle hits disk/net.
_SMALL_CORE_CONF = {
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    "spark.locality.wait": "0",
}

# Scale-profile static core confs (get_session only; prep() cannot set core
# confs on an externally provided session). zstd over the lz4 default for
# shuffle/broadcast/spill blocks: measured at the 10x tier (interleaved
# fresh-JVM A/B, min-of-3 per session, two rounds — OPTIMIZATION_r14.md):
# pings_interactions 3.50/3.70 s (lz4) vs 2.55/2.47 s (zstd), near_dup and
# tfidf equal-or-better — the guide's §2.3 prediction (better ratio, a bit
# more CPU) lands on the win side once shuffles carry the md5-derived cell
# strings. The small profile is untouched (it disables shuffle compression
# outright), so the driver's sf0.1 bench comparison is unchanged.
_SCALE_CORE_CONF = {
    "spark.io.compression.codec": "zstd",
}


def _profile_conf() -> dict:
    conf = dict(_CORRECTNESS_CONF)
    if os.environ.get("SPARK_GRAFT_SMALL_PROFILE") == "1":
        conf.update(_SMALL_CONF)
    else:
        conf.update(_SCALE_CONF)
    return conf


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(app_name: str = "epiteam-network-etl-functions-spark") -> SparkSession:
    """Build (or reuse) a local session sized from $SPARK_GRAFT_CPUS."""
    cpus = default_parallelism()
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no [Stage N:>...] progress bars interleaved with the stderr logs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in _profile_conf().items():
        builder = builder.config(k, v)
    if os.environ.get("SPARK_GRAFT_SMALL_PROFILE") == "1":
        for k, v in _SMALL_CORE_CONF.items():
            builder = builder.config(k, v)
    else:
        for k, v in _SCALE_CORE_CONF.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally provided session (driver smoke
    tests hand us their own SparkSession). Idempotent per session — the
    py4j conf round-trips are skipped after the first call."""
    profile = "small" if os.environ.get("SPARK_GRAFT_SMALL_PROFILE") == "1" else "scale"
    if getattr(spark, "_graft_prepped", None) == profile:
        return spark
    for k, v in _profile_conf().items():
        spark.conf.set(k, v)
    # Keep shuffle width sane on local sessions that kept the 200 default.
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) == 200:
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:
        pass
    try:
        spark._graft_prepped = profile
    except Exception:
        pass
    return spark
