"""Radius of gyration over the hex grid (reference
RadiusOfGyrationHandler.py:134-279 + RGAggregatorByMun.py:75-104).

Reference semantics kept exactly (SURVEY.md §7 'ragged semantics'):
- distances are integer grid hops from the device's *mass-center cell*
  (the cell minimizing nothing — the reference uses the most-visited cell
  as center, W4 winner);
- rg = SQRT( SUM(n_i * (d_i)^2) / N ) with the handler's squared-diff
  (RadiusOfGyrationHandler.py:225), not the notebook's abs variant
  (RadiusOfGyrationH3.ipynb cell 33) — divergence documented there;
- municipal rollup is AVG + STDDEV over device rgs (A5).

The grid distance (F3) runs once per (device, cell) pair — the
dedup-before-expensive-op idiom again. With h3 absent it is the square
grid's JVM expression and the plan runs no Python; with h3 installed it
is the h3 pandas UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.hexgrid import grid_distance


def device_rg(
    pings: DataFrame,
    id_col: str = "caid",
    cell_col: str = "h3index_15",
    distance_expr=None,
) -> DataFrame:
    """Per-device radius of gyration in grid hops.

    The center cell (W4 winner) is attached as a full-frame ``first()``
    window over the visits table rather than a winner-subquery join: the
    join form evaluates the visits subtree TWICE (once per join side) and
    shuffles a broadcast besides, while the window computes the center
    inside the single subtree — one (id, cell) agg exchange with map-side
    combine, one id exchange for the window, and the final per-id agg
    rides the window's partitioning. Measured 0.85 s -> 0.25 s at sf0.1,
    byte-identical output.

    ``distance_expr((Column, Column) -> Column)`` pins the grid: the
    square-grid oracle queries pass squaregrid.grid_distance, so they keep
    Chebyshev hops when real h3 is installed; default None uses hexgrid's
    grid_distance."""
    from pyspark.sql import Window

    visits = pings.groupBy(id_col, cell_col).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.desc("n"), F.asc(cell_col))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    dist = distance_expr if distance_expr is not None else grid_distance
    with_d = visits.withColumn(
        "__center", F.first(cell_col).over(w)
    ).withColumn("__d", dist(F.col(cell_col), F.col("__center")))
    return with_d.groupBy(id_col).agg(
        F.round(
            F.sqrt(
                F.sum(F.col("n") * F.pow(F.col("__d"), F.lit(2))) / F.sum("n")
            ),
            6,
        ).alias("rg"),
        F.countDistinct(cell_col).alias("n_cells"),  # A8 denominator
    )


def rg_rollup(
    rgs: DataFrame,
    membership: DataFrame,
    id_col: str = "caid",
    group_col: str = "cve_mun",
) -> DataFrame:
    """Municipal AVG/STDDEV rollup (RGAggregatorByMun.py:85-96): inner join
    device rg × membership, then grouped stats."""
    return (
        rgs.join(membership.select(id_col, group_col), id_col)
        .groupBy(group_col)
        .agg(
            F.round(F.avg("rg"), 6).alias("avg_rg"),
            F.round(F.coalesce(F.stddev_samp("rg"), F.lit(0.0)), 6).alias("std_rg"),
            F.count(F.lit(1)).alias("n_devices"),
        )
    )
