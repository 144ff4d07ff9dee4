"""Sources & sinks (reference S1-S14).

The reference materializes every stage to parquet and re-reads it
(SURVEY.md §1.1), with Hive layouts `year=/month=/day=/cve_zm=` written by
hand-built paths (IndexingHomeAgebs.py:144-146) and read with hand-built
path pruning (NetworkBuilder.py:67-73). Here the layout is the same but
pruning is Catalyst's: `read_partitioned(...).where(...)` pushes partition
filters into the scan — no path arithmetic.

Scale notes:
- Partitioned writes repartition by the partition columns first so each
  task writes one file per partition instead of `tasks × partitions`
  small files (the classic 100 TB small-file explosion).
- `checkpoint` is the reference's stage-materialization idiom (restart
  points) — explicit parquet round-trip, not Spark's RDD checkpoint.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet sink (S9: pq.write_to_dataset with
    partition_cols -> df.write.partitionBy)."""
    (
        df.repartition(*[df[c] for c in partition_cols])
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_single(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Single-directory parquet sink (S8: stage materialization)."""
    df.write.mode(mode).parquet(path)


def read_partitioned(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Partitioned dataset scan (S2). Partition-column predicates applied by
    the caller are pruned at planning time (check: explain() shows them
    under PartitionFilters, and only matching directories are listed).

    Pass ``schema`` (DDL string or StructType) for a known layout: schema
    inference opens parquet footers *before* partition pruning, so an
    explicit schema is what makes a pruned read touch only its partition's
    files — and skips a footer round-trip a 100 TB catalog never pays."""
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_days(
    spark: SparkSession,
    path: str,
    dates: Sequence[str],
    date_col: str = "day",
) -> DataFrame:
    """Multi-day scan (S3: the reference loops per-date reads and concats,
    parquet_extractor.py:22-40). One partitioned read + an IN-list partition
    predicate — Catalyst prunes to exactly the requested directories, no
    loop, no union. Pair with calendar_utils.trusted_range / last_n_days."""
    from pyspark.sql import functions as F

    return read_partitioned(spark, path).where(F.col(date_col).isin(list(dates)))


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV scan (S5: read_csv_auto). Schema inference only when no schema is
    given — at scale always pass one (inference is a second full read)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (S11: SEIR trajectory tables)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_matrix_npy(path: str, matrix) -> None:
    """Text-matrix sink (S13): the reference persists the dense AGEB×AGEB
    matrices with ``np.savetxt(...npy)`` (NetworkBuilder.py:305,315,323 —
    text format despite the .npy suffix; kept bug-for-bug so files
    interchange). Driver-side by design: the matrix is n_blocks², produced
    by plans/contact_matrix.probs_to_matrix after the distributed pivot."""
    import numpy as np

    np.savetxt(path, matrix)


def read_matrix_npy(path: str):
    """Read back a ``write_matrix_npy`` text matrix (np.loadtxt)."""
    import numpy as np

    return np.loadtxt(path)


def write_pickle(path: str, obj) -> None:
    """Pickle sink (S13): raw simulation results and context objects
    (SimulationManager.py:239-240, seir_utils.py:96-110). Driver-side —
    for the small per-run artifacts, never for table data."""
    import pickle

    with open(path, "wb") as f:
        pickle.dump(obj, f)


def read_pickle(path: str):
    """Read back a ``write_pickle`` artifact."""
    import pickle

    with open(path, "rb") as f:
        return pickle.load(f)


def write_range_clustered(
    df: DataFrame,
    path: str,
    order_cols: Sequence[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet sink: repartitionByRange + sortWithinPartitions
    on ``order_cols`` before writing, so each output file covers a narrow,
    disjoint range of the clustering key and parquet footer min/max stats
    make point/range predicates skip whole files and row groups.

    This is the layout lever Hive partitioning can't provide for
    high-cardinality keys (timestamps, ids): partitioning by such a key
    explodes into millions of directories, while range-clustering keeps
    file count fixed and still gives the scan-pruning effect — the standard
    data-layout discipline for a 100 TB time-series table. Row-group
    pruning needs no engine cooperation beyond parquet stats, so DuckDB,
    Trino, and Spark all benefit from the same files."""
    parted = (
        df.repartitionByRange(n_files, *order_cols)
        if n_files
        else df.repartitionByRange(*order_cols)
    )
    parted.sortWithinPartitions(*order_cols).write.mode(mode).parquet(path)


def zorder_key(x, y, bits: int = 16):
    """Morton (z-order) interleave of two non-negative integer columns,
    already scaled to [0, 2^bits): bit b of x lands at position 2b+1, bit b
    of y at 2b. Pure JVM bitwise expressions (shiftright/bitwise AND/OR) —
    whole-stage-codegen folds the chain into straight-line longs."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for b in range(bits):
        xb = F.shiftright(x.cast("long"), b).bitwiseAND(F.lit(1))
        yb = F.shiftright(y.cast("long"), b).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(xb, 2 * b + 1)).bitwiseOR(
            F.shiftleft(yb, 2 * b)
        )
    return z


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Two-dimensional clustered parquet sink: scale both columns to the
    [0, 2^bits) grid by their global min/max (two scalar aggregates,
    injected as literals), compute the Morton key, then range-partition +
    sort on it. Each output file covers a compact *tile* in (x, y) space,
    so footer min/max stats prune scans for predicates on EITHER column —
    the property single-column range clustering cannot give the second
    column. The standard lakehouse Z-ORDER layout, from first principles;
    `tests/test_range_clustered.py` proves the tile geometry from the
    footers."""
    from pyspark.sql import functions as F

    lo_x, hi_x, lo_y, hi_y = df.select(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).first()
    if lo_x is None or lo_y is None:
        # empty input (min/max of zero rows): write the empty frame as-is
        # rather than crash on None arithmetic below
        df.write.mode(mode).parquet(path)
        return
    span = 2**bits - 1

    def scaled(c, lo, hi):
        rng = (hi - lo) or 1
        return ((F.col(c) - F.lit(lo)).cast("double") / F.lit(rng) * span).cast(
            "long"
        )

    keyed = df.withColumn(
        "__z", zorder_key(scaled(col_x, lo_x, hi_x), scaled(col_y, lo_y, hi_y), bits)
    )
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
) -> None:
    """Idempotent backfill sink: overwrite ONLY the partitions present in
    ``df``, leaving every other partition untouched (dynamic partition
    overwrite — the daily-rerun primitive; static overwrite mode would
    truncate the whole table). The conf is set per-write and restored, so
    the session default stays untouched for other writers."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        (
            df.repartition(*[df[c] for c in partition_cols])
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set(key, prev)


def read_merged_schema(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of every file footer
    (mergeSchema) so a table whose late partitions gained columns reads as
    one frame with NULLs for the missing early columns. Costs a footer
    round-trip per file — at 100 TB, resolve the schema once, persist it,
    and use read_partitioned(schema=...) for steady-state reads."""
    return spark.read.option("mergeSchema", True).parquet(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines scan (the interchange format of training-data pipelines).
    ALWAYS pass a schema in production: schema inference reads the input
    twice, and a 100 TB corpus cannot afford the extra pass — the same
    rule the parquet readers here follow by writing explicit schemas."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    records_per_shard: int,
    mode: str = "overwrite",
    compression: str | None = "gzip",
) -> None:
    """Sharded JSONL export — the standard LLM training-data layout (many
    similar-sized .jsonl.gz shards a downstream loader can stream and
    shuffle). Shard sizing is enforced two ways, both executor-side:

    - ``maxRecordsPerFile`` caps records per written file (the hard bound);
    - a round-robin repartition to ceil(n/records_per_shard) partitions
      ahead of the write spreads rows evenly so shards are size-UNIFORM,
      not just bounded — without it one fat input partition emits many
      capped files while others emit one small one.

    The count for the partition target is one metadata-cheap job on
    parquet-backed input; at 100 TB the caller usually knows n and the
    round-robin shuffle is the export's only wide operation."""
    n = df.count()
    shards = max(1, -(-n // records_per_shard))
    writer = (
        df.repartition(shards)
        .write.mode(mode)
        .option("maxRecordsPerFile", records_per_shard)
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the other columnar interchange format (Hive/Trino
    ecosystems). Same footer-statistics pruning model as parquet, so the
    range/z-order clustering writers compose with it unchanged."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC scan; pass a schema for the same inference-avoidance reason as
    the parquet/CSV/JSONL readers. Predicate pushdown and column pruning
    reach the ORC reader exactly as they do parquet (PushedFilters in the
    explain), so a format migration does not change plan shapes."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    predicates: Sequence[str] | None = None,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
    fetch_size: int = 10_000,
    **options,
) -> DataFrame:
    """JDBC source (closes the reference-implied surface: the reference
    loads the PostgreSQL driver jar in its session wrapper,
    SparkWrapper.py:13-16, but never reads JDBC in the surveyed
    pipelines).

    Scale rules encoded here rather than left to the caller:
    - A bare table read is ONE executor connection pulling the whole
      table — fine for dims, a 100 TB anti-pattern for facts. Pass
      either ``predicates`` (one WHERE fragment per partition, e.g.
      day slices) or ``partition_column``+bounds+``num_partitions``
      (numeric/date stride split) so the read parallelizes.
    - ``table`` may be a subquery alias ("(SELECT ...) t"): projection
      and WHERE inside it run DATABASE-side — JDBC pushdown is the only
      pushdown there is; Catalyst cannot prune what the query already
      shipped.
    - ``fetchsize`` defaults sane (10k): the JDBC default of a few dozen
      rows round-trips the network per fetch.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetch_size))
    )
    if driver:
        reader = reader.option("driver", driver)
    for k, v in options.items():
        reader = reader.option(k, v)
    if predicates:
        # py4j signature: jdbc(url, table, predicates, properties)
        props = {"fetchsize": str(fetch_size), **{k: str(v) for k, v in options.items()}}
        if driver:
            props["driver"] = driver
        return spark.read.jdbc(
            url=url, table=table, predicates=list(predicates), properties=props
        )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option(
                "numPartitions",
                str(num_partitions or spark.sparkContext.defaultParallelism),
            )
        )
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    driver: str | None = None,
    mode: str = "append",
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    **options,
) -> None:
    """JDBC sink. Each task opens one connection and writes its partition
    in ``batchsize`` batches; ``num_partitions`` caps the connection
    count (a 1000-task write would open 1000 simultaneous connections —
    coalesce to what the database actually tolerates)."""
    out = df.coalesce(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    if driver:
        writer = writer.option("driver", driver)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()
