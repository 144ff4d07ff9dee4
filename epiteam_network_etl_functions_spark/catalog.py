"""Testdata catalog: the driver-provided parquet tables.

The reference inferred schemas everywhere (SURVEY.md §1.3); here table names
are explicit and reads are plain `spark.read.parquet` so Catalyst keeps
predicate pushdown + column pruning. Hive-partitioned layouts (reference
S2/S9, IndexingHomeAgebs.py:144-146) are handled in sources/io.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# (session id, sf_dir, table) -> DataFrame. DataFrames are immutable plan
# handles; memoizing skips the per-call file listing + parquet footer read.
# Bounded: cleared wholesale past _LOAD_CACHE_MAX so stopped sessions'
# object graphs cannot accumulate in a long-lived process.
_LOAD_CACHE: dict[tuple, DataFrame] = {}
_LOAD_CACHE_MAX = 256


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if len(_LOAD_CACHE) > _LOAD_CACHE_MAX:
        _LOAD_CACHE.clear()
    sc = spark.sparkContext
    # applicationId+startTime is stable for the session's lifetime and can
    # never alias a new context the way a recycled id() could after GC.
    key = (sc.applicationId, sc.startTime, sf_dir, name)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong (session.py); truncate to
        # microseconds exactly as DuckDB does when it surfaces TIMESTAMP.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Plain µs/ms parquet written with isAdjustedToUTC=false surfaces as
    # TIMESTAMP_NTZ under Spark 4 inference; unix_micros()/window() require
    # TIMESTAMP. The session is pinned to UTC, so the cast is value-exact.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _LOAD_CACHE[key] = df
    return df


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Temp views for spark.sql workloads (reference §3.3 notebook pattern)."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
