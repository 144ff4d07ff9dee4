"""The home-location inference pipeline — the reference's core product flow
(SURVEY.md §3.2), re-expressed as pure DataFrame composition.

Reference chain: ParquetExtractor -> NTLPreparation -> NTLWinners ->
NTLJoiner -> NTLLocator -> imputers -> interactions. Each stage below is a
DataFrame-in/DataFrame-out function; `Context.payload` plumbing is gone.

Expected pings schema (FIXTURES.md): caid string, utc_timestamp long,
cdmx_datetime timestamp, latitude/longitude double, horizontal_accuracy
double (+ h3 cell columns added here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..constants import NIGHT_END_HOUR, NIGHT_START_HOUR, SENTINEL_AGEB_13
from ..functions.hexgrid import cell_of, k_ring
from ..operators.timebucket import with_time_bucket
from ..operators.winners import top1_per_key


def extract_day(
    pings: DataFrame,
    day: str,
    ts_col: str = "cdmx_datetime",
    min_accuracy: float = 100.0,
) -> DataFrame:
    """Day-slice extract (extractqueries.py:6-23): date equality + accuracy
    gate. The partitioned layout makes the date predicate a partition prune."""
    return pings.where(
        (F.to_date(ts_col) == F.lit(day))
        & (F.col("horizontal_accuracy") >= min_accuracy)
    )


def with_cells(
    pings: DataFrame,
    res: int = 15,
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    out_col: str = "h3index_15",
    cell_expr: Column | None = None,
) -> DataFrame:
    """Attach the cell (F1) in one isolated projection. The default is
    hexgrid's ``cell_of``: the square grid's JVM expression when h3 is
    absent, else the h3 pandas UDF, a codegen barrier that runs exactly
    once per stage this way.

    ``cell_expr`` pins the grid instead: the oracle-mirrored queries pass
    the square grid's SQL text (functions/squaregrid.cell_sql), so they
    stay on the grid their DuckDB oracles compute even when real h3 is
    installed."""
    col = cell_expr if cell_expr is not None else cell_of(lat_col, lon_col, res)
    return pings.withColumn(out_col, col)


def night_pings(pings: DataFrame, ts_col: str = "cdmx_datetime") -> DataFrame:
    """Night-window filter (P7: hour >= 22 OR hour < 6)."""
    h = F.hour(ts_col)
    return pings.where((h >= NIGHT_START_HOUR) | (h < NIGHT_END_HOUR))


def night_presence_scores(
    pings: DataFrame,
    id_col: str = "caid",
    cell_col: str = "h3index_15",
    ts_col: str = "cdmx_datetime",
    bucket_seconds: int = 600,
) -> DataFrame:
    """Score = distinct night time-buckets a device spent in a cell (A4:
    HomeAgebGenerator.py:107-119 COUNT(DISTINCT tw_cluster))."""
    b = with_time_bucket(night_pings(pings, ts_col), ts_col, bucket_seconds)
    return b.groupBy(id_col, cell_col).agg(
        F.countDistinct("tw").alias("score")
    )


def daily_home_winners(
    scores: DataFrame, id_col: str = "caid", cell_col: str = "h3index_15"
) -> DataFrame:
    """Daily local winner (W4) + confidence vs the global mean score
    (HomeAgebGenerator.py:130-180). The global mean is a scalar agg
    broadcast back — never an empty-partition window (SURVEY.md §7)."""
    won = top1_per_key(scores, [id_col], [F.desc("score"), F.asc(cell_col)])
    mean = won.agg(F.avg("score").alias("__mean_score"))
    return (
        won.crossJoin(F.broadcast(mean))
        .select(
            id_col,
            F.col(cell_col).alias("home_cell"),
            "score",
            F.when(F.col("score") >= F.col("__mean_score"), "high")
            .otherwise("low")
            .alias("confidence"),
        )
    )


def global_home_winner(
    daily_repos: DataFrame, id_col: str = "caid", home_col: str = "home_ageb"
) -> DataFrame:
    """Winner across the multi-day repository (IndexingHomeAgebs.py:66-89):
    prefer non-sentinel (longer) codes, then score, then code for a total
    order. Sentinel rows lose to real codes via length DESC ordering only
    when codes differ in length; the reference's exact sort keys are kept:
    len(home_ageb) DESC, score DESC."""
    return top1_per_key(
        daily_repos,
        [id_col],
        [
            F.desc(F.length(home_col)),
            F.desc("score"),
            F.asc(home_col),
        ],
    )


def cells_to_regions_dim(
    regions: DataFrame,
    cells_col: str = "cells",
    region_col: str = "cve_geo",
) -> DataFrame:
    """Exploded (cell, region) dimension — the broadcast equi-join
    replacement for the point-in-polygon sjoin (J6, SURVEY.md §4): polygons
    are pre-indexed to covering cells once (driver-side polyfill / fallback
    grid cover), and geo attribution becomes `pings ⋈ dim ON cell`."""
    return regions.select(
        F.explode(F.col(cells_col)).alias("cell"), F.col(region_col)
    ).distinct()


def locate_pings(
    pings: DataFrame,
    cell_region_dim: DataFrame,
    cell_col: str = "h3index_15",
    region_col: str = "cve_geo",
) -> DataFrame:
    """Geo attribution via broadcast equi-join on the cell id (replaces
    geopandas sjoin row-loops, FactPingsBaseGenerator.py:74-131)."""
    dim = F.broadcast(
        cell_region_dim.withColumnRenamed("cell", cell_col)
    )
    return pings.join(dim, cell_col, "left")


def locate_homes(
    winners: DataFrame, cell_region_dim: DataFrame, cell_col: str
) -> DataFrame:
    """Home region of each winner row (IndexingHomeAgebs.py:66-132): the
    winner's cell attributed through the (cell, cve_geo) dim by
    locate_pings' broadcast left join, and a cell the dim does not map
    takes the 13-zero sentinel. Returns the winner columns plus
    ``home_ageb``."""
    return (
        locate_pings(winners, cell_region_dim, cell_col=cell_col)
        .withColumn("home_ageb", F.coalesce(F.col("cve_geo"), F.lit(SENTINEL_AGEB_13)))
        .drop("cve_geo")
    )


def fact_pings_base(
    pings: DataFrame,
    cell_region_dim: DataFrame,
    res: int = 15,
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    region_col: str = "cve_geo",
    cell_expr: Column | None = None,
) -> DataFrame:
    """The fact-table build (FactPingsBaseGenerator.py:140-217): geo-label
    only the DISTINCT coordinates, then join the labels back to all pings
    (J7). The join-back key is a computed point-key string, not a 2-double
    equi-join — float equality keys are fragile and hash worse (SURVEY.md
    §2.3 J7 note). Adds cve_mun as the region prefix
    (substring, §1.4) alongside the cell index."""
    # +0.0 normalizes -0.0 (distinct() applies NormalizeFloatingNumbers on
    # one side but not the other); coalesce keeps NULL lat vs NULL lon keys
    # distinct (concat_ws would silently skip NULL args and collide them).
    point_key = F.concat_ws(
        ",",
        F.coalesce((F.col(lat_col) + 0.0).cast("string"), F.lit("∅lat")),
        F.coalesce((F.col(lon_col) + 0.0).cast("string"), F.lit("∅lon")),
    )
    distinct_pts = (
        pings.select(lat_col, lon_col).distinct()
    )
    located_pts = locate_pings(
        with_cells(
            distinct_pts, res=res, lat_col=lat_col, lon_col=lon_col,
            out_col=f"h3index_{res}", cell_expr=cell_expr,
        ),
        cell_region_dim,
        cell_col=f"h3index_{res}",
        region_col=region_col,
    ).select(
        point_key.alias("__pt"),
        f"h3index_{res}",
        region_col,
    )
    return (
        pings.withColumn("__pt", point_key)
        .join(located_pts, "__pt", "left")
        .drop("__pt")
        .withColumn("cve_mun", F.substring(F.col(region_col), 1, 5))
    )


def impute_kring(
    homes: DataFrame,
    cell_region_dim: DataFrame,
    id_col: str = "caid",
    cell_col: str = "home_cell",
    region_col: str = "cve_geo",
    max_k: int = 5,
    ring_fn=None,
) -> DataFrame:
    """Iterative k-ring imputation (home_ageb_imputers.py:22-118): devices
    whose home cell maps to no region get the nearest mapped neighbour cell's
    region, widening k each round; loop-with-shrinking-input, cached, early
    exit when nothing is missing (SURVEY.md §4 'iterative loop').

    ``ring_fn(cell_col, k) -> array Column`` pins the grid (see
    with_cells): the square-grid oracle queries pass squaregrid.k_ring and
    the hex variant h3lite's disk; default None uses hexgrid's k_ring."""
    dim = cell_region_dim
    cur = homes.join(
        F.broadcast(dim.withColumnRenamed("cell", cell_col)), cell_col, "left"
    )
    resolved = cur.where(F.col(region_col).isNotNull())
    missing = cur.where(F.col(region_col).isNull()).drop(region_col)
    prev_cached = None
    for k in range(1, max_k + 1):
        missing = missing.cache()
        empty = missing.isEmpty()
        # materialized this round's cache -> the previous round's is dead
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = missing
        if empty:
            break
        rings = (ring_fn or k_ring)(cell_col, k)
        ring = missing.select(id_col, cell_col, F.explode(rings).alias("cell"))
        hits = ring.join(F.broadcast(dim), "cell").select(
            id_col, cell_col, F.col(region_col)
        )
        # deterministic pick among candidate regions
        picked = top1_per_key(hits, [id_col], [F.asc(region_col)])
        newly = missing.join(picked.select(id_col, region_col), id_col, "inner")
        resolved = resolved.unionByName(newly)
        missing = missing.join(picked.select(id_col), id_col, "left_anti")
    # whatever is still missing keeps NULL region
    return resolved.unionByName(missing.withColumn(region_col, F.lit(None).cast("string")))


def impute_neighbour_frequency(
    homes: DataFrame,
    labels: DataFrame,
    id_col: str = "caid",
    home_col: str = "home_ageb",
    node_col: str = "node_id",
    comp_col: str = "component_id",
    sentinel: str = SENTINEL_AGEB_13,
) -> DataFrame:
    """Neighbour-frequency imputation (home_ageb_imputers.py:120-206):
    devices with sentinel homes inherit the most frequent home among their
    component neighbours. The reference's ARRAY_CONTAINS theta join (J8)
    becomes an equi-join on long (node, component) labels, such as
    connected_components' output, so no component ever has to fit in a
    row. The component id is only a grouping key: the fill choice per
    component is (count DESC, home ASC).

    One pass is the fixpoint of the reference's repeated rounds: the
    first round fills every sentinel device whose component holds a
    non-sentinel member, and the components left over hold only sentinel
    members, so no later round can fill anything (components are disjoint,
    as connected components are). Callers that want no imputation skip
    the call.

    Both windows run on one exchange: hash partitioning on the component
    satisfies the (component, home) window too."""
    member = labels.select(
        F.col(comp_col).alias("__comp_id"), F.col(node_col).alias(id_col)
    )
    n = F.count(F.lit(1)).over(Window.partitionBy("__comp_id", home_col))
    # the (n DESC, home ASC) winner among the component's non-sentinel rows
    best = F.min(
        F.when(F.col(home_col) != sentinel, F.struct((-n).alias("n"), F.col(home_col)))
    ).over(Window.partitionBy("__comp_id"))
    fill = (
        homes.join(member, id_col)
        .repartition("__comp_id")
        .select(id_col, home_col, best[home_col].alias("__fill"))
        .where((F.col(home_col) == sentinel) & F.col("__fill").isNotNull())
        # a device labelled into several components takes the smallest fill
        .groupBy(id_col)
        .agg(F.min("__fill").alias("__fill"))
    )
    return (
        homes.join(fill, id_col, "left")
        .withColumn(
            home_col,
            F.when(
                (F.col(home_col) == sentinel) & F.col("__fill").isNotNull(),
                F.col("__fill"),
            ).otherwise(F.col(home_col)),
        )
        .drop("__fill")
    )
