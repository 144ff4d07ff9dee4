"""Bucketed co-location: the exchange-free flagship path.

`colocation.py` pays one co-partitioned exchange per run (ReuseExchange
feeds dedup and both self-join sides from a single shuffle). When the
same presence table drives *many* downstream runs — daily interactions,
contact matrices, empiric networks, all of §3.1/§3.2 — the 100 TB play
is to pay that shuffle ONCE at write time: persist presence bucketed by
the join keys, and every subsequent self-join planner-proves
co-partitioning from the bucket spec and runs with NO exchange and NO
sort before the join (bucket + sortBy metadata satisfy both).

This mirrors the reference's own staging discipline (every stage
materializes to parquet and is re-read by later stages,
NetworkBuilder.py:120,151,209,260) — same materialization point, but the
layout carries the partitioning proof, so re-reads skip the shuffle the
reference re-pays inside DuckDB per query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_presence_bucketed(
    pings: DataFrame,
    table: str,
    n_buckets: int = 64,
    id_col: str = "caid",
    cell_col: str = "h3index_15",
    tw_col: str = "tw",
    location: str | None = None,
) -> None:
    """Dedup (id, cell, tw) presence and persist it bucketed+sorted by the
    co-location join keys. The distinct's shuffle doubles as the bucketing
    shuffle (repartition by bucket keys first, same subset rule as the
    in-flight kernel). n_buckets is a layout-time choice: at 100 TB size it
    so each bucket's presence slice fits an executor (buckets are the unit
    of join parallelism — too few caps cores, too many makes small files).

    The table is EXTERNAL at an explicit ``location`` (default: a temp-dir
    path derived from the table name), so the write does not assume a
    writable warehouse dir under the host process's cwd. It is also
    idempotent across sessions: a previous session's files can survive at
    the location while the new in-memory catalog has no table entry, and
    saveAsTable then refuses with LOCATION_ALREADY_EXISTS — so drop the
    catalog entry AND clear the stale location first."""
    import shutil
    import tempfile

    spark = pings.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if location is None:
        location = os.path.join(
            tempfile.gettempdir(), "spark_graft_bucketed", table.lower()
        )
    if os.path.exists(location):
        # refuse to clear a caller-supplied path that doesn't look like a
        # prior bucketed write of THIS kind of table — a mistyped or shared
        # directory must fail loudly, not vanish silently
        entries = os.listdir(location)
        # ALL entries must match the Spark-output shape (a lone .git or
        # stray dotfile must NOT legitimize rmtree of the whole directory),
        # and the hidden-file match is narrowed to Spark artifacts
        # (.part-*.crc / ._SUCCESS.crc / ._committed), not any dotfile.
        def _spark_artifact(e: str) -> bool:
            return (
                e == "_SUCCESS"
                or e.startswith(("part-", "_temporary", "._", ".part-"))
                or e.endswith(".crc")
            )

        looks_like_prior_write = not entries or all(
            _spark_artifact(e) for e in entries
        )
        if not looks_like_prior_write:
            raise ValueError(
                f"refusing to clear {location!r}: existing contents "
                f"{entries[:5]} do not look like a prior bucketed table "
                "write (no _SUCCESS/part-* files); remove it manually or "
                "pass an empty/fresh location"
            )
        shutil.rmtree(location, ignore_errors=True)
    (
        pings.select(id_col, cell_col, tw_col)
        .repartition(F.col(cell_col), F.col(tw_col))
        .distinct()
        .write.mode("overwrite")
        .option("path", location)
        .bucketBy(n_buckets, cell_col, tw_col)
        .sortBy(cell_col, tw_col)
        .format("parquet")
        .saveAsTable(table)
    )


def colocation_pairs_bucketed(
    spark: SparkSession,
    table: str,
    id_col: str = "caid",
    cell_col: str = "h3index_15",
    tw_col: str = "tw",
) -> DataFrame:
    """Distinct ordered pairs from a bucketed presence table — identical
    output to colocation_pairs, but the self-join reads both sides from the
    bucket layout: zero exchanges and zero sorts before the join (the only
    remaining shuffle is the output-sized pair distinct, which no layout
    can remove). Verified by plan assertion in tests."""
    p = spark.table(table)
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(b, on=[cell_col, tw_col])
        .where(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias(f"a_{id_col}"),
            F.col(f"b.{id_col}").alias(f"b_{id_col}"),
        )
        .distinct()
    )

