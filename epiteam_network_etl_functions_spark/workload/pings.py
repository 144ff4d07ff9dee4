"""Pings-shaped oracle coverage for the home-location plans.

The driver's testdata has no pings table, so the §3.2 plan kernels
(`plans/mobility.py`) were pytest-only in round 1. These queries close that
gap: a pings-shaped input (caid, cdmx_datetime, latitude, longitude,
horizontal_accuracy) is DERIVED deterministically from `events` with the
engine-portable md5 hash-bucket (operators/sampling.hash_bucket — already
oracle-proven by `dataset_splits`), and the real plan kernels run on it
with a DuckDB oracle reproducing the same derivation.

Grid system: the kernels take a pluggable cell expression, ring function
and distance (default: hexgrid's, which is real H3 when the h3 package is
installed). These queries pin the square grid of functions/squaregrid.py,
whose `cell_sql` text both engines parse, so the oracles hold whether or
not h3 is installed.

Reference parity targets:
- pings_fact_base       -> FactPingsBaseGenerator.py:140-217 (J7 dedup-joinback)
- pings_daily_homes     -> HomeAgebGenerator.py:107-180 (night scores + confidence)
- pings_global_home     -> IndexingHomeAgebs.py:66-89 (multi-day repo winner)
- pings_impute_kring    -> home_ageb_imputers.py:22-118 (iterative k-ring)
- pings_impute_neighbours -> home_ageb_imputers.py:120-206 (component frequency)
- pings_device_rg       -> RadiusOfGyrationHandler.py:134-279 (grid-hop RG)
- pings_interactions    -> interaction_queries.py:7-29 (the §3.2 interactions table)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .. import catalog
from ..constants import SENTINEL_AGEB_13
from ..functions.squaregrid import cell_sql, grid_distance, k_ring
from ..operators.winners import category_winner, top1_per_key
from ..operators.colocation import colocation_pairs
from ..operators.timebucket import with_time_bucket
from ..plans.gyration import device_rg
from ..plans.mobility import (
    daily_home_winners,
    fact_pings_base,
    global_home_winner,
    impute_kring,
    impute_neighbour_frequency,
    locate_homes,
    night_presence_scores,
    with_cells,
)
from ..session import prep
from . import query
from .extended import _hash_bucket_sql

RES = 9


def _hb_spark(expr: str, salt: str, buckets: int) -> str:
    """Spark-SQL text of sampling.hash_bucket (DuckDB side: _hash_bucket_sql)."""
    return (
        f"(cast(conv(substring(md5(cast(concat('{salt}:', cast({expr} as string))"
        f" as binary)), 1, 12), 16, 10) as bigint) % {buckets})"
    )


# ---- derived pings + region dim (Spark side) --------------------------------


def _pings(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    e = catalog.load(spark, sf_dir, "events")
    # doubles made explicit: bare decimal literals are DECIMAL in Spark SQL
    # (but DOUBLE in DuckDB), and the oracle compare needs identical types.
    return e.selectExpr(
        "cast(user_id as string) AS caid",
        "ts AS cdmx_datetime",
        f"cast(19.0 as double) + ({_hb_spark('event_id', 'lat', 2000)}"
        " / cast(2000.0 as double)) AS latitude",
        f"cast(-99.5 as double) + ({_hb_spark('event_id', 'lon', 2000)}"
        " / cast(2000.0 as double)) AS longitude",
        f"cast(50 + {_hb_spark('event_id', 'acc', 150)} as double)"
        " AS horizontal_accuracy",
    )


def _dim_from_cells(cells: DataFrame) -> DataFrame:
    """(cell -> 13-char cve_geo) for ~70% of the given cells — ONE copy of
    the region-code derivation, shared by the square and hex dims (the
    DuckDB mirrors live in _DIM_CTE / _HEX_DIM_CTE)."""
    return cells.where(F.expr(f"{_hb_spark('cell', 'geo', 10)} < 7")).selectExpr(
        "cell",
        "concat('09', "
        f"lpad(cast({_hb_spark('cell', 'mun', 900)} as string), 3, '0'), "
        f"lpad(cast({_hb_spark('cell', 'loc', 9000)} as string), 4, '0'), "
        f"lpad(cast({_hb_spark('cell', 'blk', 9000)} as string), 4, '0')) AS cve_geo",
    )


def _dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell -> 13-char cve_geo) for ~70% of realized cells; the unmapped 30%
    exercise the sentinel and imputation paths."""
    cells = _pings(spark, sf_dir).selectExpr(f"{cell_sql(RES)} AS cell").distinct()
    return _dim_from_cells(cells)


# ---- shared DuckDB CTEs -----------------------------------------------------

# MATERIALIZED: the md5 derivation is referenced 2-4x per oracle (self-
# joins, multi-day winners); DuckDB inlines plain CTEs and re-derives each
# time (9s vs 0.35s at sf0.1), while the reference's own pipeline always
# materializes stage IR to parquet. Spark's side gets the same effect from
# ReuseExchange. Materialized is the fair, reference-faithful baseline.
_PINGS_CTE = f"""
pings AS MATERIALIZED (
    SELECT CAST(user_id AS VARCHAR) AS caid,
           ts AS cdmx_datetime,
           19.0 + ({_hash_bucket_sql('event_id', 2000, 'lat')} / 2000.0) AS latitude,
           -99.5 + ({_hash_bucket_sql('event_id', 2000, 'lon')} / 2000.0) AS longitude,
           CAST(50 + {_hash_bucket_sql('event_id', 150, 'acc')} AS DOUBLE)
               AS horizontal_accuracy
    FROM events
)
"""

_DIM_CTE = f"""
cells AS MATERIALIZED (SELECT DISTINCT {cell_sql(RES)} AS cell FROM pings),
dim AS MATERIALIZED (
    SELECT cell,
           concat('09',
                  lpad(CAST({_hash_bucket_sql('cell', 900, 'mun')} AS VARCHAR), 3, '0'),
                  lpad(CAST({_hash_bucket_sql('cell', 9000, 'loc')} AS VARCHAR), 4, '0'),
                  lpad(CAST({_hash_bucket_sql('cell', 9000, 'blk')} AS VARCHAR), 4, '0'))
               AS cve_geo
    FROM cells
    WHERE {_hash_bucket_sql('cell', 10, 'geo')} < 7
)
"""

# all-time winner cell per device (input homes table for the imputers)
_WINNERS_CTE = f"""
pc AS MATERIALIZED (SELECT caid, cdmx_datetime, {cell_sql(RES)} AS cell FROM pings),
allc AS (SELECT caid, cell, count(*) AS n FROM pc GROUP BY caid, cell),
winners AS MATERIALIZED (
    SELECT caid, cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY caid ORDER BY n DESC, cell ASC
        ) AS rn FROM allc
    ) WHERE rn = 1
)
"""


def _home_winners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(caid, cell) all-time winner per device: the W4 count argmax
    (operators/winners.category_winner, ties to the smaller cell). The
    winners also feed _homes' dim branch: _dim_from_cells over their
    distinct cells."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    return category_winner(p, "caid", "cell", out_category="cell", out_score="n").select(
        "caid", "cell"
    )


def _homes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-time winner cell -> region, sentinel-filled (the imputer's and
    the interactions table's home_ageb input, IndexingHomeAgebs.py:112-132
    shape). The dim is derived for the winners' cells only: a cell no
    winner holds never matches the left join, whatever the dim."""
    winners = _home_winners(spark, sf_dir)
    dim = _dim_from_cells(winners.select("cell").distinct())
    return locate_homes(winners, dim, "cell").select("caid", "home_ageb")


# ---- queries ----------------------------------------------------------------


@query(
    "pings_fact_base",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    {_DIM_CTE.strip()}
    SELECT p.caid,
           epoch_us(p.cdmx_datetime) AS ts_us,
           round(p.latitude, 6) AS lat6,
           round(p.longitude, 6) AS lon6,
           CAST(p.horizontal_accuracy AS BIGINT) AS acc,
           {cell_sql(RES, 'p.latitude', 'p.longitude')} AS cell,
           d.cve_geo,
           substr(d.cve_geo, 1, 5) AS cve_mun
    FROM pings p
    LEFT JOIN dim d ON d.cell = {cell_sql(RES, 'p.latitude', 'p.longitude')}
    """,
)
def pings_fact_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact_pings_base over derived pings: geo-label DISTINCT coordinates,
    join back on the point key (J7), cve_mun prefix — the oracle is the
    direct join, proving dedup-joinback is semantics-preserving."""
    # r14 audit note: the 3 scans here (fact join-back, distinct-coord
    # labels, dim cells) were examined for subtree sharing — deriving the
    # dim's cells from the labels branch's distinct-coords subtree is
    # collapsed by RemoveRedundantAggregates back into an independent
    # scan, and forcing the share with an in-plan cache measured ~5% at
    # sf0.1 (the md5 derivation is cheap relative to the join-back pass).
    # In production the dim is a real external dimension, not derived
    # from pings, so the third scan is a synthetic-derivation artifact.
    out = fact_pings_base(
        _pings(spark, sf_dir),
        _dim(spark, sf_dir),
        res=RES,
        cell_expr=F.expr(cell_sql(RES)),
    )
    return out.selectExpr(
        "caid",
        "unix_micros(cdmx_datetime) AS ts_us",
        "round(latitude, 6) AS lat6",
        "round(longitude, 6) AS lon6",
        "cast(horizontal_accuracy as bigint) AS acc",
        f"h3index_{RES} AS cell",
        "cve_geo",
        "cve_mun",
    )


@query(
    "pings_daily_homes",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    night AS (
        SELECT caid, cdmx_datetime, {cell_sql(RES)} AS cell
        FROM pings WHERE hour(cdmx_datetime) >= 22 OR hour(cdmx_datetime) < 6
    ),
    org AS (SELECT min(epoch_us(cdmx_datetime)) AS o FROM night),
    scores AS (
        SELECT caid, cell,
               count(DISTINCT (epoch_us(cdmx_datetime) - (SELECT o FROM org))
                     // 600000000) AS score
        FROM night GROUP BY caid, cell
    ),
    won AS (
        SELECT caid, cell, score FROM (
            SELECT *, row_number() OVER (
                PARTITION BY caid ORDER BY score DESC, cell ASC
            ) AS rn FROM scores
        ) WHERE rn = 1
    ),
    m AS (SELECT avg(score) AS ms FROM won)
    SELECT caid, cell AS home_cell, score,
           CASE WHEN score >= (SELECT ms FROM m) THEN 'high' ELSE 'low' END
               AS confidence
    FROM won
    """,
)
def pings_daily_homes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """night_presence_scores + daily_home_winners: distinct night buckets per
    (device, cell), argmax cell, confidence vs the global mean score
    (HomeAgebGenerator.py:107-180)."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    scores = night_presence_scores(p, cell_col="cell")
    return daily_home_winners(scores, cell_col="cell")


@query(
    "pings_global_home",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    {_DIM_CTE.strip()},
    pc AS (
        SELECT caid, CAST(cdmx_datetime AS DATE) AS day, {cell_sql(RES)} AS cell
        FROM pings
    ),
    daily AS (SELECT caid, day, cell, count(*) AS score FROM pc GROUP BY caid, day, cell),
    dwin AS (
        SELECT caid, day, cell, score FROM (
            SELECT *, row_number() OVER (
                PARTITION BY caid, day ORDER BY score DESC, cell ASC
            ) AS rn FROM daily
        ) WHERE rn = 1
    ),
    repo AS (
        SELECT w.caid, coalesce(d.cve_geo, '{SENTINEL_AGEB_13}') AS home_ageb, w.score
        FROM dwin w LEFT JOIN dim d USING (cell)
    )
    SELECT caid, home_ageb, score FROM (
        SELECT *, row_number() OVER (
            PARTITION BY caid
            ORDER BY length(home_ageb) DESC, score DESC, home_ageb ASC
        ) AS rn FROM repo
    ) WHERE rn = 1
    """,
)
def pings_global_home(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily winners per (device, day) -> multi-day repository with sentinel
    fill -> global winner by (len DESC, score DESC, code ASC)
    (IndexingHomeAgebs.py:66-89).

    Plan: the daily agg keeps its map-side combine (the shuffle carries
    (caid, day, cell) counts, ~10x smaller than raw pings at product
    scale), then ONE repartition on caid feeds BOTH windows exchange-free
    — HashPartitioning(caid) satisfies the (caid, day) window's clustering
    as a key subset and the global caid window exactly, so the old
    three-exchange plan (agg keys, per-day window, global window) becomes
    two exchanges of aggregated data. Measured 0.62 s vs 0.76 s at sf0.1;
    at 100 TB the alternative single raw-pings shuffle on caid would move
    ~10x more bytes, so this is also the scale shape. The repository's
    regions come from locate_homes over a dim derived for the daily
    winners' cells only (a broadcast of their distinct cells' codes)."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    daily = p.groupBy(
        "caid", F.to_date("cdmx_datetime").alias("day"), "cell"
    ).agg(F.count(F.lit(1)).alias("score"))
    daily = daily.repartition("caid")
    dwin = top1_per_key(daily, ["caid", "day"], [F.desc("score"), F.asc("cell")])
    repo = locate_homes(
        dwin, _dim_from_cells(dwin.select("cell").distinct()), "cell"
    ).select("caid", "home_ageb", "score")
    return global_home_winner(repo)


@query(
    "pings_impute_kring",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    {_DIM_CTE.strip()},
    {_WINNERS_CTE.strip()},
    cand AS (
        SELECT h.caid, h.home_cell, d.cve_geo,
               greatest(abs(a.di), abs(b.dj)) AS cheb
        FROM (SELECT caid, cell AS home_cell FROM winners) h
        CROSS JOIN (SELECT range AS di FROM range(-5, 6)) a
        CROSS JOIN (SELECT range AS dj FROM range(-5, 6)) b
        JOIN dim d ON d.cell = concat('g{RES}:',
            CAST(CAST(split_part(h.home_cell, ':', 2) AS BIGINT) + a.di AS VARCHAR),
            ':',
            CAST(CAST(split_part(h.home_cell, ':', 3) AS BIGINT) + b.dj AS VARCHAR))
    ),
    pick AS (
        SELECT caid, cve_geo FROM (
            SELECT *, row_number() OVER (
                PARTITION BY caid ORDER BY cheb ASC, cve_geo ASC
            ) AS rn FROM cand
        ) WHERE rn = 1
    )
    SELECT w.caid, w.cell AS home_cell, p.cve_geo
    FROM winners w LEFT JOIN pick p USING (caid)
    """,
)
def pings_impute_kring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """impute_kring over the all-time winner cells: unmapped homes take the
    minimum region among mapped cells at the smallest Chebyshev ring k <= 5
    (home_ageb_imputers.py:22-118). The oracle collapses the widening loop
    into 'min region at min ring distance' — provably the loop's fixpoint,
    because the first non-empty ring k contains exactly the cells at
    distance min_dist."""
    homes = _home_winners(spark, sf_dir).withColumnRenamed("cell", "home_cell")
    out = impute_kring(
        homes,
        _dim(spark, sf_dir),
        cell_col="home_cell",
        max_k=5,
        ring_fn=k_ring,
    )
    return out.select("caid", "home_cell", "cve_geo")


@query(
    "pings_impute_neighbours",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    {_DIM_CTE.strip()},
    {_WINNERS_CTE.strip()},
    homes AS (
        SELECT w.caid, coalesce(d.cve_geo, '{SENTINEL_AGEB_13}') AS home_ageb
        FROM winners w LEFT JOIN dim d USING (cell)
    ),
    comp AS (
        SELECT caid, {_hash_bucket_sql('caid', 30, 'comp')} AS cb
        FROM (SELECT DISTINCT caid FROM pings)
    ),
    freq AS (
        SELECT c.cb, h.home_ageb, count(*) AS n
        FROM homes h JOIN comp c USING (caid)
        WHERE h.home_ageb <> '{SENTINEL_AGEB_13}'
        GROUP BY c.cb, h.home_ageb
    ),
    best AS (
        SELECT cb, home_ageb AS fill FROM (
            SELECT *, row_number() OVER (
                PARTITION BY cb ORDER BY n DESC, home_ageb ASC
            ) AS rn FROM freq
        ) WHERE rn = 1
    )
    SELECT h.caid,
           CASE WHEN h.home_ageb = '{SENTINEL_AGEB_13}' AND b.fill IS NOT NULL
                THEN b.fill ELSE h.home_ageb END AS home_ageb
    FROM homes h
    JOIN comp c USING (caid)
    LEFT JOIN best b ON b.cb = c.cb
    """,
)
def pings_impute_neighbours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """impute_neighbour_frequency: sentinel homes inherit the most frequent
    non-sentinel home in their connected component
    (home_ageb_imputers.py:120-206). Components derive from a deterministic
    hash partition of the device population, handed to the chain's imputer
    as (caid, bucket) labels; the oracle is the one-round
    closed form (round 1 fills every fillable device, later rounds are
    no-ops, so the loop's fixpoint equals the single-round result)."""
    homes = _homes(spark, sf_dir)
    labels = (
        _pings(spark, sf_dir)
        .select("caid")
        .distinct()
        .withColumn("cb", F.expr(f"{_hb_spark('caid', 'comp', 30)}"))
    )
    return impute_neighbour_frequency(homes, labels, node_col="caid", comp_col="cb")


@query(
    "pings_device_rg",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    pc AS (SELECT caid, {cell_sql(RES)} AS cell FROM pings),
    visits AS (SELECT caid, cell, count(*) AS n FROM pc GROUP BY caid, cell),
    center AS (
        SELECT caid, cell AS c FROM (
            SELECT *, row_number() OVER (
                PARTITION BY caid ORDER BY n DESC, cell ASC
            ) AS rn FROM visits
        ) WHERE rn = 1
    ),
    d AS (
        SELECT v.caid, v.n,
               greatest(
                   abs(CAST(split_part(v.cell, ':', 2) AS BIGINT)
                       - CAST(split_part(c.c, ':', 2) AS BIGINT)),
                   abs(CAST(split_part(v.cell, ':', 3) AS BIGINT)
                       - CAST(split_part(c.c, ':', 3) AS BIGINT))) AS d
        FROM visits v JOIN center c USING (caid)
    )
    SELECT caid,
           round(sqrt(sum(n * d * d) / sum(n)), 6) AS rg,
           count(*) AS n_cells
    FROM d GROUP BY caid
    """,
)
def pings_device_rg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """plans/gyration.device_rg over derived pings: visit-weighted RG in
    grid hops from the most-visited cell, squared-diff per the handler
    (RadiusOfGyrationHandler.py:134-279; SURVEY §7 squared-vs-abs decision
    documented in plans/gyration.py). The grid distance is the square
    grid's Chebyshev hops (squaregrid.grid_distance, a JVM expression),
    which the oracle reproduces in closed form; every addend is an
    integer-valued double, so the float sums are exact on both engines."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    return device_rg(
        p, id_col="caid", cell_col="cell", distance_expr=grid_distance
    )


@query(
    "pings_interactions",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    {_DIM_CTE.strip()},
    {_WINNERS_CTE.strip()},
    homes AS (
        SELECT w.caid, coalesce(d.cve_geo, '{SENTINEL_AGEB_13}') AS home_ageb
        FROM winners w LEFT JOIN dim d USING (cell)
    ),
    org AS (SELECT min(epoch_us(cdmx_datetime)) AS o FROM pings),
    pb AS (
        SELECT caid, {cell_sql(RES)} AS cell,
               (epoch_us(cdmx_datetime) - (SELECT o FROM org)) // 600000000 AS tw
        FROM pings
    )
    SELECT DISTINCT a.caid AS a_caid, ah.home_ageb AS a_home_ageb,
           b.caid AS b_caid, bh.home_ageb AS b_home_ageb
    FROM pb a
    JOIN pb b ON a.cell = b.cell AND a.tw = b.tw
    JOIN homes ah ON ah.caid = a.caid
    JOIN homes bh ON bh.caid = b.caid
    WHERE a.caid <> b.caid
    """,
)
def pings_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.2 interactions table (interaction_queries.py:7-29): origin-
    anchored 600 s buckets over the whole pings table, co-location self-join
    on (cell, tw), DISTINCT ordered pairs, each endpoint labelled with its
    home AGEB. Runs the real kernels (with_time_bucket + colocation_pairs);
    home_ageb is functionally dependent on caid, so attaching homes after
    the pair dedup is equivalent to the reference's pre-join attach — and
    keeps the wide shuffle on the narrow (id, cell, tw) presence."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    b = with_time_bucket(p, "cdmx_datetime", 600)
    pairs = colocation_pairs(b, id_col="caid", cell_col="cell", tw_col="tw")
    homes = _homes(spark, sf_dir)
    ah = homes.selectExpr("caid AS a_caid", "home_ageb AS a_home_ageb")
    bh = homes.selectExpr("caid AS b_caid", "home_ageb AS b_home_ageb")
    return pairs.join(ah, "a_caid").join(bh, "b_caid").select(
        "a_caid", "a_home_ageb", "b_caid", "b_home_ageb"
    )


# ---- hex-grid variant (h3lite semantics) ------------------------------------
# The queries above run the square fallback grid because it predates the
# hex lattice; this variant runs the SAME imputer kernel under true
# hexagon semantics (hex disks of 1+3k(k+1) cells, hex distance — the
# shape of the reference's real h3 usage, home_ageb_imputers.py:36-39).
# The cell derivation is h3lite's shared SQL text, identical in Spark SQL
# and DuckDB, so the differential gate covers the hex path end-to-end.

from ..functions import h3lite as _h3lite  # noqa: E402

_HEX_STEPS = _h3lite.axial_sql_steps("latitude", "longitude", RES)
_MAX_HEX_K = 5


def _with_hex_cell(df: DataFrame) -> DataFrame:
    """Attach the h3lite cell via the staged-steps form: one small
    projection per intermediate keeps whole-stage codegen alive (the
    single self-expanding expression drops the stage to interpreted mode —
    measured 2.8 s -> see SCALING.md round 4 addendum)."""
    for name, expr in _HEX_STEPS:
        df = df.selectExpr("*", f"{expr} AS {name}")
    return df.drop(*[n for n, _ in _HEX_STEPS[:-1]])


def _hex_cell_sql_select(src: str, cols: list[str]) -> str:
    """Nested-SELECT DuckDB mirror of :func:`_with_hex_cell` over ``src``
    (which must expose latitude/longitude): identical step exprs, so the
    arithmetic is bit-equal on both engines."""
    keep = ", ".join(cols + ["latitude", "longitude"]) if cols else "latitude, longitude"
    inner = f"SELECT {keep} FROM {src}"
    for name, expr in _HEX_STEPS:
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    out_cols = ", ".join(cols + ["cell"]) if cols else "cell"
    return f"SELECT {out_cols} FROM ({inner})"


def _hex_ring_fn(cell_col: str, k: int) -> Column:
    """Hex k-disk as one parsed JVM array expression over the axial id."""
    q = f"cast(split_part({cell_col}, ':', 2) as bigint)"
    r = f"cast(split_part({cell_col}, ':', 3) as bigint)"
    items = ", ".join(
        f"concat('x{RES}:', cast({q} + {dq} as string), ':', cast({r} + {dr} as string))"
        for dq, dr in _h3lite.disk_offsets(k)
    )
    return F.expr(f"array({items})")


_HEX_DIM_CTE = f"""
hcells AS MATERIALIZED (SELECT DISTINCT cell FROM ({_hex_cell_sql_select('pings', [])})),
hdim AS MATERIALIZED (
    SELECT cell,
           concat('09',
                  lpad(CAST({_hash_bucket_sql('cell', 900, 'mun')} AS VARCHAR), 3, '0'),
                  lpad(CAST({_hash_bucket_sql('cell', 9000, 'loc')} AS VARCHAR), 4, '0'),
                  lpad(CAST({_hash_bucket_sql('cell', 9000, 'blk')} AS VARCHAR), 4, '0'))
               AS cve_geo
    FROM hcells
    WHERE {_hash_bucket_sql('cell', 10, 'geo')} < 7
)
"""

_HEX_WINNERS_CTE = f"""
hpc AS MATERIALIZED ({_hex_cell_sql_select('pings', ['caid'])}),
hallc AS (SELECT caid, cell, count(*) AS n FROM hpc GROUP BY caid, cell),
hwinners AS MATERIALIZED (
    SELECT caid, cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY caid ORDER BY n DESC, cell ASC
        ) AS rn FROM hallc
    ) WHERE rn = 1
)
"""

_HEX_OFFS = ", ".join(
    f"({dq}, {dr}, {(abs(dq) + abs(dr) + abs(dq + dr)) // 2})"
    for dq, dr in _h3lite.disk_offsets(_MAX_HEX_K)
)


def _hex_dim(celled: DataFrame) -> DataFrame:
    """(cell -> cve_geo) over an already hex-celled pings frame — takes the
    frame (not sf_dir) so callers share ONE celled subtree between the
    dim and the winners derivation."""
    return _dim_from_cells(celled.select("cell").distinct())


@query(
    "pings_impute_kring_hex",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    {_HEX_DIM_CTE.strip()},
    {_HEX_WINNERS_CTE.strip()},
    offs(di, dj, hexd) AS (VALUES {_HEX_OFFS}),
    cand AS (
        SELECT h.caid, h.home_cell, d.cve_geo, o.hexd
        FROM (SELECT caid, cell AS home_cell FROM hwinners) h
        CROSS JOIN offs o
        JOIN hdim d ON d.cell = concat('x{RES}:',
            CAST(CAST(split_part(h.home_cell, ':', 2) AS BIGINT) + o.di AS VARCHAR),
            ':',
            CAST(CAST(split_part(h.home_cell, ':', 3) AS BIGINT) + o.dj AS VARCHAR))
    ),
    pick AS (
        SELECT caid, cve_geo FROM (
            SELECT *, row_number() OVER (
                PARTITION BY caid ORDER BY hexd ASC, cve_geo ASC
            ) AS rn FROM cand
        ) WHERE rn = 1
    )
    SELECT w.caid, w.cell AS home_cell, p.cve_geo
    FROM hwinners w LEFT JOIN pick p USING (caid)
    """,
)
def pings_impute_kring_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """impute_kring under hexagon semantics: unmapped winner cells take the
    minimum region at the smallest non-empty hex disk k <= 5 — disks are
    1+3k(k+1) cells and the oracle's closed form uses the hex metric
    (|dq|+|dr|+|dq+dr|)/2, not Chebyshev. Same fixpoint argument as the
    square variant: the first non-empty disk k hits exactly the cells at
    hex distance k. Cells come from h3lite's shared SQL text (bit-exact in
    both engines, tests/test_h3lite.py); the widening loop runs the same
    plans/mobility.impute_kring kernel as production."""
    # ONE celled subtree (12 staged projections over the md5-derived
    # pings) feeds both the dim and the winners; localCheckpoint (eager),
    # not cache(): the imputer loop's resolved-union lineage references it
    # per round, and checkpoint blocks are freed with the RDD when the
    # returned frame is dropped — a cache() here would pin executor
    # storage for the rest of the session (one leak per invocation).
    p = _with_hex_cell(_pings(spark, sf_dir)).select("caid", "cell").localCheckpoint()
    homes = category_winner(
        p, "caid", "cell", out_category="home_cell", out_score="n"
    ).select("caid", "home_cell")
    out = impute_kring(
        homes,
        _hex_dim(p),
        cell_col="home_cell",
        max_k=_MAX_HEX_K,
        ring_fn=_hex_ring_fn,
    )
    return out.select("caid", "home_cell", "cve_geo")


@query(
    "device_day_coverage",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS caid,
           count(DISTINCT CAST(ts AS DATE)) AS n_days,
           strftime(min(CAST(ts AS DATE)), '%Y-%m-%d') AS first_day,
           strftime(max(CAST(ts AS DATE)), '%Y-%m-%d') AS last_day,
           CAST(date_diff('day', min(CAST(ts AS DATE)),
                          max(CAST(ts AS DATE))) + 1 AS BIGINT) AS span_days
    FROM events GROUP BY user_id
    """,
)
def device_day_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-device observation coverage: active days vs calendar span — the
    panel-quality report the reference's multi-day home aggregation
    implicitly depends on (a device seen 2 days out of 60 gets a weak
    home signal; RadiusOfGyrationHandler gates on similar coverage). One
    groupBy with a two-phase distinct-day count; dates format to strings
    for the cross-engine compare, span is exact day arithmetic."""
    prep(spark)
    e = catalog.load(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    return e.groupBy(F.col("user_id").cast("string").alias("caid")).agg(
        F.countDistinct(day).alias("n_days"),
        F.date_format(F.min(day), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max(day), "yyyy-MM-dd").alias("last_day"),
        (F.datediff(F.max(day), F.min(day)) + 1).cast("bigint").alias(
            "span_days"
        ),
    )


@query(
    "night_owl_share",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS caid,
           count(*) AS n_pings,
           CAST(sum(CASE WHEN hour(ts) >= 22 OR hour(ts) < 6
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_night,
           round(sum(CASE WHEN hour(ts) >= 22 OR hour(ts) < 6
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
               AS night_share,
           (sum(CASE WHEN hour(ts) >= 22 OR hour(ts) < 6
                     THEN 1 ELSE 0 END) * 1.0 / count(*) >= 0.5)
               AS is_night_owl
    FROM events GROUP BY user_id
    """,
)
def night_owl_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Night-activity profile per device: the share of pings in the
    reference's night window (22:00-06:00, the home-inference window —
    ntl_queries.py's hour predicate) and a night-owl flag. The flag
    threshold compares a ratio of exact integers against 0.5 (exactly
    representable), so the boolean cannot drift between engines. One
    conditional-sum groupBy, map-side combined."""
    prep(spark)
    e = catalog.load(spark, sf_dir, "events")
    night = F.when((F.hour("ts") >= 22) | (F.hour("ts") < 6), 1).otherwise(0)
    n = F.count(F.lit(1))
    return e.groupBy(F.col("user_id").cast("string").alias("caid")).agg(
        n.alias("n_pings"),
        F.sum(night).cast("bigint").alias("n_night"),
        F.round(F.sum(night) * 1.0 / n, 6).alias("night_share"),
        (F.sum(night) * 1.0 / n >= 0.5).alias("is_night_owl"),
    )


@query(
    "pings_home_stability",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    pc AS (
        SELECT caid, CAST(cdmx_datetime AS DATE) AS day,
               {cell_sql(RES)} AS cell
        FROM pings
    ),
    daily AS (
        SELECT caid, day, cell, count(*) AS score
        FROM pc GROUP BY caid, day, cell
    ),
    dwin AS (
        SELECT caid, day, cell FROM (
            SELECT *, row_number() OVER (
                PARTITION BY caid, day ORDER BY score DESC, cell ASC
            ) AS rn FROM daily
        ) WHERE rn = 1
    )
    SELECT caid,
           count(*) AS n_days,
           count(DISTINCT cell) AS n_homes,
           (count(DISTINCT cell) = 1) AS is_stable
    FROM dwin GROUP BY caid
    """,
)
def pings_home_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Home-churn report: how many DISTINCT daily winner cells each device
    produced across the observation window (the stability diagnostic
    behind the reference's multi-day repository vote — a device with a
    different 'home' every day yields a weak global winner,
    IndexingHomeAgebs.py:66-89). Rides the same daily-winner kernel as
    pings_global_home (one aggregate + one caid-clustered window), then a
    per-device distinct count; all integers, caid is the unique key."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    daily = p.groupBy(
        "caid", F.to_date("cdmx_datetime").alias("day"), "cell"
    ).agg(F.count(F.lit(1)).alias("score"))
    daily = daily.repartition("caid")
    dwin = top1_per_key(daily, ["caid", "day"], [F.desc("score"), F.asc("cell")])
    return dwin.groupBy("caid").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.countDistinct("cell").alias("n_homes"),
        (F.countDistinct("cell") == 1).alias("is_stable"),
    )


@query(
    "device_rg_percentiles",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    pc AS (SELECT caid, {cell_sql(RES)} AS cell FROM pings),
    visits AS (SELECT caid, cell, count(*) AS n FROM pc GROUP BY caid, cell),
    center AS (
        SELECT caid, cell AS c FROM (
            SELECT *, row_number() OVER (
                PARTITION BY caid ORDER BY n DESC, cell ASC
            ) AS rn FROM visits
        ) WHERE rn = 1
    ),
    d AS (
        SELECT v.caid, v.n,
               greatest(
                   abs(CAST(split_part(v.cell, ':', 2) AS BIGINT)
                       - CAST(split_part(c.c, ':', 2) AS BIGINT)),
                   abs(CAST(split_part(v.cell, ':', 3) AS BIGINT)
                       - CAST(split_part(c.c, ':', 3) AS BIGINT))) AS d
        FROM visits v JOIN center c USING (caid)
    ),
    rg AS (
        SELECT caid, round(sqrt(sum(n * d * d) / sum(n)), 6) AS rg
        FROM d GROUP BY caid
    )
    SELECT count(*) AS n_devices,
           round(quantile_cont(rg, 0.25), 6) AS p25,
           round(quantile_cont(rg, 0.5), 6) AS median_rg,
           round(quantile_cont(rg, 0.75), 6) AS p75
    FROM rg
    """,
)
def device_rg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population quartiles of device radius-of-gyration — the mobility-
    distribution summary the reference plots per region
    (RadiusOfGyrationHandler downstream). COMPOSES two certified
    kernels: the grid-hop RG (pings_device_rg) and exact continuous
    percentiles — interpolation runs over the ROUNDED rg values, which
    both engines hold bit-identically, so the quantile arithmetic is the
    same IEEE ops; a one-row scalar rollup of a per-device aggregate."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    rg = device_rg(
        p, id_col="caid", cell_col="cell", distance_expr=grid_distance
    ).select("caid", "rg")
    return rg.agg(
        F.count(F.lit(1)).alias("n_devices"),
        F.round(F.percentile("rg", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("rg", F.lit(0.5)), 6).alias("median_rg"),
        F.round(F.percentile("rg", F.lit(0.75)), 6).alias("p75"),
    )


def _pos_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-timestamp device positions (caid, ts, cell) —
    the OD-matrix position collapse (min cell per (caid, ts)) — built on
    ONE caid exchange: the explicit repartition satisfies the min-cell
    aggregate (hashpartitioning(caid) clusters (caid, ts)) AND every
    downstream caid-partitioned window/aggregate, so the old plan's
    second exchange and two of its three sorts disappear (guide §2.4:
    establish the partitioning once). Shuffle bytes are unchanged: the
    collapse key (caid, cdmx_datetime) is unique per ping row in this
    derivation (measured sf0.1: 100000 rows -> 100000 groups), so the
    map-side partial aggregate the repartition forgoes reduced nothing."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    return (
        p.repartition(F.col("caid"))
        .groupBy("caid", "cdmx_datetime")
        .agg(F.min("cell").alias("cell"))
    )


@query(
    "device_od_matrix",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    pc AS (
        SELECT caid, cdmx_datetime, {cell_sql(RES)} AS cell FROM pings
    ),
    pos AS (
        SELECT caid, cdmx_datetime, min(cell) AS cell
        FROM pc GROUP BY caid, cdmx_datetime
    ),
    seq AS (
        SELECT caid, cell, lag(cell) OVER (
            PARTITION BY caid ORDER BY cdmx_datetime ASC
        ) AS prev_cell
        FROM pos
    )
    SELECT prev_cell AS from_cell, cell AS to_cell, count(*) AS n_trips
    FROM seq
    WHERE prev_cell IS NOT NULL AND prev_cell <> cell
    GROUP BY prev_cell, cell
    ORDER BY n_trips DESC, from_cell ASC, to_cell ASC
    LIMIT 50
    """,
)
def device_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination matrix — the classic mobility product the
    reference's co-location network sits NEXT to (trip flows between
    cells, aggregated over devices): consecutive device positions become
    directed (from_cell -> to_cell) transitions, counted and top-k'd.
    Determinism: a device's position per timestamp is the MIN cell over
    that timestamp's pings (a total collapse, so the lag order is the
    unique (caid, ts) key — never an arbitrary tie among same-ts pings);
    self-transitions are excluded; the top-50 orders on (n_trips DESC,
    from_cell, to_cell) — a total order. Plan: ONE caid spine exchange
    (_pos_spine) serving the (caid, ts) collapse and the lag window, one
    pair groupBy, and a TakeOrderedAndProject head — every exchange
    carries combined rows; the OD pair space is bounded by realized
    transitions, never cells²."""
    from pyspark.sql import Window

    pos = _pos_spine(spark, sf_dir)
    w = Window.partitionBy("caid").orderBy(F.asc("cdmx_datetime"))
    seq = pos.select(
        "caid", "cell", F.lag("cell").over(w).alias("prev_cell")
    )
    return (
        seq.where(
            F.col("prev_cell").isNotNull()
            & (F.col("prev_cell") != F.col("cell"))
        )
        .groupBy(
            F.col("prev_cell").alias("from_cell"),
            F.col("cell").alias("to_cell"),
        )
        .agg(F.count(F.lit(1)).alias("n_trips"))
        .orderBy(
            F.desc("n_trips"), F.asc("from_cell"), F.asc("to_cell")
        )
        .limit(50)
    )


@query(
    "cell_dwell_quantiles",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    pc AS (
        SELECT caid, cdmx_datetime, {cell_sql(RES)} AS cell FROM pings
    ),
    pos AS (
        SELECT caid, cdmx_datetime, min(cell) AS cell
        FROM pc GROUP BY caid, cdmx_datetime
    ),
    seq AS (
        SELECT caid, cell, cdmx_datetime, lead(cdmx_datetime) OVER (
            PARTITION BY caid ORDER BY cdmx_datetime ASC
        ) AS next_ts
        FROM pos
    ),
    dw AS (
        SELECT cell,
               (epoch_us(next_ts) - epoch_us(cdmx_datetime)) // 60000000
                   AS mins
        FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT cell, count(*) AS n_dwells,
           CAST(round(quantile_cont(mins, 0.5)) AS BIGINT) AS p50_min,
           CAST(round(quantile_cont(mins, 0.9)) AS BIGINT) AS p90_min
    FROM dw GROUP BY cell
    ORDER BY n_dwells DESC, cell ASC
    LIMIT 100
    """,
)
def cell_dwell_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell dwell-time distribution: the time from each device
    position to its NEXT position, attributed to the cell it was in —
    the stop-duration signal behind home/work inference and visit
    modeling (a cell where devices linger differs from one they transit).
    Semantics stated plainly: dwell = gap to next ping, not merged
    same-cell runs (the simple estimator; runs-merging is a trivial
    follow-on window). Determinism: positions collapse to min-cell per
    (caid, ts) exactly as device_od_matrix, gaps floor-divide exact
    epoch micros to integer minutes, and the two quantiles interpolate
    over integers then re-round to BIGINT (the
    purchase_interpurchase_gaps discipline); top-100 cells order on
    (n_dwells DESC, cell) — total. Plan: ONE caid spine exchange
    (_pos_spine) serving the collapse and the lead window, then one cell
    groupBy with exact percentiles; at 100 TB the percentile state is
    per-cell and the head is k-bounded."""
    from pyspark.sql import Window

    pos = _pos_spine(spark, sf_dir)
    w = Window.partitionBy("caid").orderBy(F.asc("cdmx_datetime"))
    seq = pos.select(
        "caid",
        "cell",
        "cdmx_datetime",
        F.lead("cdmx_datetime").over(w).alias("next_ts"),
    )
    dw = seq.where(F.col("next_ts").isNotNull()).select(
        "cell",
        F.expr(
            "(unix_micros(next_ts) - unix_micros(cdmx_datetime))"
            " div 60000000"
        ).alias("mins"),
    )
    return (
        dw.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_dwells"),
            F.round(F.percentile("mins", F.lit(0.5)))
            .cast("bigint")
            .alias("p50_min"),
            F.round(F.percentile("mins", F.lit(0.9)))
            .cast("bigint")
            .alias("p90_min"),
        )
        .orderBy(F.desc("n_dwells"), F.asc("cell"))
        .limit(100)
    )


@query(
    "commute_matrix",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    pc AS (
        SELECT caid, {cell_sql(RES)} AS cell,
               hour(cdmx_datetime) AS h
        FROM pings
    ),
    home AS (
        SELECT caid, cell FROM (
            SELECT caid, cell, row_number() OVER (
                PARTITION BY caid ORDER BY count(*) DESC, cell ASC
            ) AS rn
            FROM pc WHERE h >= 22 OR h < 6
            GROUP BY caid, cell
        ) WHERE rn = 1
    ),
    work AS (
        SELECT caid, cell FROM (
            SELECT caid, cell, row_number() OVER (
                PARTITION BY caid ORDER BY count(*) DESC, cell ASC
            ) AS rn
            FROM pc WHERE h >= 9 AND h < 17
            GROUP BY caid, cell
        ) WHERE rn = 1
    )
    SELECT h.cell AS home_cell, w.cell AS work_cell,
           count(*) AS n_devices
    FROM home h JOIN work w USING (caid)
    WHERE h.cell <> w.cell
    GROUP BY h.cell, w.cell
    ORDER BY n_devices DESC, home_cell ASC, work_cell ASC
    LIMIT 30
    """,
)
def commute_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Home->work COMMUTE MATRIX: each device's night-window winner cell
    (home, the reference's own home heuristic) joined to its work-hours
    winner cell (9-17), flows counted and top-30'd — the mobility product
    transit planning and epidemic commuting matrices are built from
    (the reference's contact matrix is the CO-presence analog; this is
    the directed anchor-pair analog). Both winners are the certified
    A2/W4 kernel (count-desc, cell-asc total order); devices missing
    either window drop on both engines (inner join); same-cell anchors
    are excluded. Plan: each winner branch runs on ONE caid exchange of
    its filtered ping rows (the explicit spine repartition clusters the
    (caid, cell) aggregate, the winner window AND the caid equi-join —
    the pre-spine plan paid two exchanges per branch, guide §2.4), then
    a pair groupBy and a TakeOrderedAndProject; flow-pair space is
    bounded by realized anchor pairs, never cells squared. Byte-neutral:
    the hash-derived cells make (caid, cell) near-unique per ping
    (sf0.1 night window: 33426 rows -> 33296 groups), so the forgone
    map-side partial aggregate reduced nothing."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    p = p.withColumn("h", F.hour("cdmx_datetime")).repartition(F.col("caid"))

    def winner(filtered: DataFrame, out: str) -> DataFrame:
        return category_winner(filtered, "caid", "cell", out_category=out).select("caid", out)

    home = winner(p.where((F.col("h") >= 22) | (F.col("h") < 6)), "home_cell")
    work = winner(p.where((F.col("h") >= 9) & (F.col("h") < 17)), "work_cell")
    return (
        home.join(work, "caid")
        .where(F.col("home_cell") != F.col("work_cell"))
        .groupBy("home_cell", "work_cell")
        .agg(F.count(F.lit(1)).alias("n_devices"))
        .orderBy(
            F.desc("n_devices"), F.asc("home_cell"), F.asc("work_cell")
        )
        .limit(30)
    )


@query(
    "cell_occupancy_volatility",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    daily AS (
        SELECT {cell_sql(RES)} AS cell,
               CAST(cdmx_datetime AS DATE) AS day,
               count(DISTINCT caid) AS pop
        FROM pings
        GROUP BY cell, day
    )
    SELECT cell,
           count(*) AS n_days,
           round(avg(pop), 6) AS mean_pop,
           round(coalesce(stddev_samp(pop), 0.0), 6) AS std_pop,
           round(coalesce(stddev_samp(pop), 0.0) / avg(pop), 6) AS cv
    FROM daily
    GROUP BY cell
    HAVING count(*) >= 3
    ORDER BY cv DESC, cell ASC
    LIMIT 50
    """,
)
def cell_occupancy_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-to-day OCCUPANCY VOLATILITY per cell: coefficient of variation
    of daily distinct-device counts — the stability screen separating
    residential cells (steady population) from event/transit cells
    (bursty), the same distinction the reference's home heuristic
    exploits implicitly via night windows. Counts are exact integers;
    mean is an int/int division; the sample stddev runs over at most
    |days| small integers so the 6dp round absorbs accumulation-order
    ulps (the supplier_balance_rollup precedent); cells observed under
    3 days are gated out on both engines, and the top-50 orders on the
    ROUNDED cv with a cell tie-break. Plan: one (cell, day) distinct
    aggregate, one cell-keyed rollup, TakeOrderedAndProject — two
    exchanges, both on combined rows."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    daily = p.groupBy(
        "cell", F.to_date("cdmx_datetime").alias("day")
    ).agg(F.countDistinct("caid").alias("pop"))
    std = F.coalesce(F.stddev_samp("pop"), F.lit(0.0))
    return (
        daily.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg("pop"), 6).alias("mean_pop"),
            F.round(std, 6).alias("std_pop"),
            F.round(std / F.avg("pop"), 6).alias("cv"),
        )
        .where(F.col("n_days") >= 3)
        .orderBy(F.desc("cv"), F.asc("cell"))
        .limit(50)
    )


@query(
    "od_destination_entropy",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    pc AS (
        SELECT caid, cdmx_datetime, {cell_sql(RES)} AS cell FROM pings
    ),
    pos AS (
        SELECT caid, cdmx_datetime, min(cell) AS cell
        FROM pc GROUP BY caid, cdmx_datetime
    ),
    seq AS (
        SELECT caid, cell, lag(cell) OVER (
            PARTITION BY caid ORDER BY cdmx_datetime ASC
        ) AS prev_cell
        FROM pos
    ),
    tc AS (
        SELECT prev_cell AS from_cell, cell AS to_cell, count(*) AS c
        FROM seq
        WHERE prev_cell IS NOT NULL AND prev_cell <> cell
        GROUP BY prev_cell, cell
    ),
    tw AS (
        SELECT from_cell, c,
               sum(c) OVER (PARTITION BY from_cell) AS tot
        FROM tc
    ),
    agg AS (
        SELECT from_cell,
               CAST(sum(c) AS BIGINT) AS n_trips,
               round(-sum((c * 1.0 / tot) * ln(c * 1.0 / tot)), 6)
                   AS dest_entropy
        FROM tw
        GROUP BY from_cell
    )
    SELECT * FROM agg
    ORDER BY n_trips DESC, from_cell ASC
    LIMIT 50
    """,
)
def od_destination_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Destination-distribution entropy per ORIGIN cell — mobility
    predictability (a residential origin feeds a few commute
    destinations: low entropy; a transit hub scatters: high), the
    Song-et-al predictability axis on the certified OD transitions.
    Same min-cell/lag construction as device_od_matrix; probabilities
    are exact int ratios and the per-origin entropy sum's reorder drift
    (~1e-15) is absorbed by round(...,6) (the event_transition_entropy
    argument); top-50 origins by trip volume with a cell tie-break.
    Plan: ONE caid spine exchange (_pos_spine) serving the collapse and
    the lag window."""
    from pyspark.sql import Window

    pos = _pos_spine(spark, sf_dir)
    w = Window.partitionBy("caid").orderBy(F.asc("cdmx_datetime"))
    seq = pos.select(
        "caid", "cell", F.lag("cell").over(w).alias("prev_cell")
    )
    tc = (
        seq.where(
            F.col("prev_cell").isNotNull()
            & (F.col("prev_cell") != F.col("cell"))
        )
        .groupBy(
            F.col("prev_cell").alias("from_cell"),
            F.col("cell").alias("to_cell"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_o = Window.partitionBy("from_cell")
    tc = tc.withColumn("tot", F.sum("c").over(w_o))
    prob = F.col("c") * 1.0 / F.col("tot")
    return (
        tc.groupBy("from_cell")
        .agg(
            F.sum("c").cast("bigint").alias("n_trips"),
            F.round(-F.sum(prob * F.log(prob)), 6).alias("dest_entropy"),
        )
        .orderBy(F.desc("n_trips"), F.asc("from_cell"))
        .limit(50)
    )


def _register_mobility_contact_corr() -> None:
    """Registered via a deferred assembly because the oracle stitches the
    pings CTE (this module) to the co-location edge CTE
    (workload.mobility) — one query, two certified derivations."""
    from . import ORACLES
    from .mobility import _EDGES_CTE

    ORACLES["mobility_contact_correlation"] = f"""
    WITH {_PINGS_CTE.strip()},
    {_EDGES_CTE.strip().lstrip()},
    pc AS (SELECT caid, {cell_sql(RES)} AS cell FROM pings),
    visits AS (SELECT caid, cell, count(*) AS n FROM pc GROUP BY caid, cell),
    center AS (
        SELECT caid, cell AS c FROM (
            SELECT *, row_number() OVER (
                PARTITION BY caid ORDER BY n DESC, cell ASC
            ) AS rn FROM visits
        ) WHERE rn = 1
    ),
    d AS (
        SELECT v.caid, v.n,
               greatest(
                   abs(CAST(split_part(v.cell, ':', 2) AS BIGINT)
                       - CAST(split_part(c.c, ':', 2) AS BIGINT)),
                   abs(CAST(split_part(v.cell, ':', 3) AS BIGINT)
                       - CAST(split_part(c.c, ':', 3) AS BIGINT))) AS d
        FROM visits v JOIN center c USING (caid)
    ),
    rg AS (
        SELECT caid, round(sqrt(sum(n * d * d) / sum(n)), 6) AS rg
        FROM d GROUP BY caid
    ),
    deg AS (
        SELECT node_id, count(*) AS degree FROM (
            SELECT a_user_id AS node_id FROM edges
            UNION ALL
            SELECT b_user_id FROM edges
        ) GROUP BY node_id
    ),
    xy AS (
        SELECT CAST(round(r.rg * 1e6) AS BIGINT) AS x,
               g.degree AS y
        FROM rg r JOIN deg g ON r.caid = CAST(g.node_id AS VARCHAR)
    ),
    m AS (
        SELECT count(*) AS n,
               sum(CAST(x AS HUGEINT)) AS sx,
               sum(CAST(y AS HUGEINT)) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(y AS HUGEINT) * y) AS syy,
               sum(CAST(x AS HUGEINT) * y) AS sxy
        FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_devices,
           round((CAST(sxy AS DOUBLE) / n
                  - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                 / sqrt(CAST(sxx AS DOUBLE) / n
                        - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                 / sqrt(CAST(syy AS DOUBLE) / n
                        - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)),
                 6) AS pearson_r
    FROM m
    WHERE CAST(sxx AS DOUBLE) / n
          - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) > 0
      AND CAST(syy AS DOUBLE) / n
          - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) > 0
    """


@query("mobility_contact_correlation", oracle=None)
def mobility_contact_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does MOBILITY predict CONTACT? Pearson correlation between each
    device's radius of gyration and its co-location-graph degree — the
    cross-kernel product an epidemic platform actually publishes (the
    'travelers are super-connectors' hypothesis, testable because both
    inputs are certified kernels: plans/gyration.device_rg and the
    canonical edge list). The rounded rg re-quantizes EXACTLY to
    integer micro-units (it is already 6dp), degree is an integer, and
    r assembles from exact HUGEINT/DECIMAL(38,0) moment sums with two
    mirrored sqrt/divisions (the balance_spend_correlation discipline);
    degenerate variance gates on both engines. Plan: the rg aggregate
    and the degree aggregate each touch their fact once; the join is
    device-keyed; one scalar rollup."""
    from .mobility import _colocation_edge_list
    from ..operators.graphstats import degrees

    dec = "decimal(38,0)"
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    rg = device_rg(
        p, id_col="caid", cell_col="cell", distance_expr=grid_distance
    ).select("caid", "rg")
    deg = degrees(
        _colocation_edge_list(spark, sf_dir), "a_user_id", "b_user_id"
    )
    xy = rg.join(
        deg, rg.caid == deg.node_id.cast("string")
    ).select(
        F.round(F.col("rg") * 1e6).cast("long").alias("x"),
        F.col("degree").alias("y"),
    )
    xd = F.col("x").cast(dec)
    yd = F.col("y").cast(dec)
    m = xy.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum((xd * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((yd * F.col("y")).cast(dec)).alias("syy"),
        F.sum((xd * F.col("y")).cast(dec)).alias("sxy"),
    )
    # moments divided by n in DOUBLE before the products (n*sxx - sx^2
    # style exact-integer combinations are decimal(38,0)-capped in Spark
    # vs HUGEINT in DuckDB — silent-NULL vs hard-error divergence at
    # extreme SF; dividing first bounds every intermediate near the data
    # magnitude; the oracle mirrors the expression term-for-term)
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    vx = F.col("sxx").cast("double") / nd - mx * mx
    vy = F.col("syy").cast("double") / nd - my * my
    cov = F.col("sxy").cast("double") / nd - mx * my
    return (
        m.where((vx > 0) & (vy > 0))
        .select(
            F.col("n").cast("bigint").alias("n_devices"),
            F.round(cov / F.sqrt(vx) / F.sqrt(vy), 6).alias("pearson_r"),
        )
    )


_register_mobility_contact_corr()


# ---- round-9 additions -----------------------------------------------------


@query(
    "cell_daily_turnover",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    pres AS (
        SELECT DISTINCT {cell_sql(RES)} AS cell,
               CAST(cdmx_datetime AS DATE) AS day, caid
        FROM pings
    ),
    sizes AS (SELECT cell, day, count(*) AS n FROM pres GROUP BY cell, day),
    inter AS (
        SELECT a.cell, a.day, count(*) AS i
        FROM pres a JOIN pres b
          ON a.cell = b.cell AND a.caid = b.caid AND b.day = a.day + 1
        GROUP BY a.cell, a.day
    ),
    pairs AS (
        SELECT s1.cell,
               COALESCE(i.i, 0) AS i, s1.n AS na, s2.n AS nb
        FROM sizes s1
        JOIN sizes s2 ON s1.cell = s2.cell AND s2.day = s1.day + 1
        LEFT JOIN inter i ON i.cell = s1.cell AND i.day = s1.day
    )
    SELECT cell,
           count(*) AS n_day_pairs,
           round(avg(i * 1.0 / (na + nb - i)), 6) AS mean_jaccard,
           round(1 - avg(i * 1.0 / (na + nb - i)), 6) AS turnover
    FROM pairs GROUP BY cell
    ORDER BY n_day_pairs DESC, cell ASC
    LIMIT 50
    """,
)
def cell_daily_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAY-OVER-DAY population turnover per cell: Jaccard of the device
    sets present on consecutive days, averaged per cell (turnover =
    1 - Jaccard) — the site-fidelity statistic mobility platforms
    publish next to occupancy (a cell whose visitors fully rotate daily
    is a transit artery; one that retains them is residential — exactly
    the home-detection prior the reference's night heuristic leans on).
    All joins are (cell, day)- or (cell, caid)-keyed equi-joins on the
    deduped presence spine — set intersections come from the join, never
    from collect_set — so the plan is a handful of narrow keyed
    shuffles, linear in presence rows at any SF; day pairs where either
    day is absent drop on both engines (inner sizes join), and a
    consecutive pair with zero common devices keeps Jaccard 0 via the
    zero-fill left join. Top-50 cells under a total tie order."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    pres = p.select(
        "cell", F.to_date("cdmx_datetime").alias("day"), "caid"
    # three consumers (sizes, shifted copy, intersection join) would
    # re-run the md5 ping synthesis + distinct (plan_audit lead, r10)
    ).distinct().localCheckpoint(eager=False)
    sizes = (
        pres.groupBy("cell", "day")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # consumed as na AND the s2 shift
    )
    nxt = pres.select(
        "cell", F.date_sub(F.col("day"), 1).alias("day"), "caid"
    )
    inter = (
        pres.join(nxt, ["cell", "day", "caid"])
        .groupBy("cell", "day")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    s2 = sizes.select(
        "cell", F.date_sub(F.col("day"), 1).alias("day"), F.col("n").alias("nb")
    )
    pairs = (
        sizes.withColumnRenamed("n", "na")
        .join(s2, ["cell", "day"])
        .join(inter, ["cell", "day"], "left")
        .select(
            "cell",
            F.coalesce(F.col("i"), F.lit(0)).alias("i"),
            "na",
            "nb",
        )
    )
    jac = F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        pairs.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_day_pairs"),
            F.round(F.avg(jac), 6).alias("mean_jaccard"),
            F.round(1 - F.avg(jac), 6).alias("turnover"),
        )
        .orderBy(F.desc("n_day_pairs"), F.asc("cell"))
        .limit(50)
    )


@query(
    "commute_asymmetry_index",
    oracle=f"""
    WITH {_PINGS_CTE.strip()},
    pc AS (
        SELECT caid, {cell_sql(RES)} AS cell,
               hour(cdmx_datetime) AS h
        FROM pings
    ),
    home AS (
        SELECT caid, cell FROM (
            SELECT caid, cell, row_number() OVER (
                PARTITION BY caid ORDER BY count(*) DESC, cell ASC
            ) AS rn
            FROM pc WHERE h >= 22 OR h < 6
            GROUP BY caid, cell
        ) WHERE rn = 1
    ),
    work AS (
        SELECT caid, cell FROM (
            SELECT caid, cell, row_number() OVER (
                PARTITION BY caid ORDER BY count(*) DESC, cell ASC
            ) AS rn
            FROM pc WHERE h >= 9 AND h < 17
            GROUP BY caid, cell
        ) WHERE rn = 1
    ),
    flows AS (
        SELECT h.cell AS hc, w.cell AS wc, count(*) AS n
        FROM home h JOIN work w USING (caid)
        WHERE h.cell <> w.cell
        GROUP BY h.cell, w.cell
    ),
    und AS (
        SELECT least(hc, wc) AS cell_a, greatest(hc, wc) AS cell_b,
               sum(CASE WHEN hc < wc THEN n ELSE 0 END) AS ab,
               sum(CASE WHEN hc > wc THEN n ELSE 0 END) AS ba
        FROM flows GROUP BY cell_a, cell_b
    )
    SELECT cell_a, cell_b,
           CAST(ab AS BIGINT) AS flow_ab,
           CAST(ba AS BIGINT) AS flow_ba,
           CAST(ab + ba AS BIGINT) AS total_flow,
           round(abs(ab - ba) * 1.0 / (ab + ba), 6) AS asymmetry
    FROM und
    ORDER BY total_flow DESC, cell_a ASC, cell_b ASC
    LIMIT 30
    """,
)
def commute_asymmetry_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL IMBALANCE of the commute matrix: for each unordered
    cell pair, the two directed home->work flows and |ab-ba|/(ab+ba) —
    the dormitory-vs-office-district diagnostic (asymmetry 1 means every
    commuter flows one way; 0 means balanced exchange). Built on the
    SAME certified night/work winner kernels as commute_matrix, but
    canonicalizing pairs with LEAST/GREATEST (the reference's undirected
    edge idiom, MakeEmpiricNetworks.py:85-86) BEFORE the rollup so both
    directions land in one group — integer flows, one extra pair-keyed
    aggregate over the flow table (flow-pair bounded, never cells
    squared). Top-30 pairs by total flow under a total tie order.
    Winner branches run on one caid spine exchange each, exactly as
    commute_matrix (guide §2.4; byte-neutral, see there)."""
    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    p = p.withColumn("h", F.hour("cdmx_datetime")).repartition(F.col("caid"))

    def winner(filtered: DataFrame, out: str) -> DataFrame:
        return category_winner(filtered, "caid", "cell", out_category=out).select("caid", out)

    home = winner(p.where((F.col("h") >= 22) | (F.col("h") < 6)), "hc")
    work = winner(p.where((F.col("h") >= 9) & (F.col("h") < 17)), "wc")
    flows = (
        home.join(work, "caid")
        .where(F.col("hc") != F.col("wc"))
        .groupBy("hc", "wc")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    und = flows.groupBy(
        F.least("hc", "wc").alias("cell_a"),
        F.greatest("hc", "wc").alias("cell_b"),
    ).agg(
        F.sum(F.when(F.col("hc") < F.col("wc"), F.col("n")).otherwise(0))
        .alias("ab"),
        F.sum(F.when(F.col("hc") > F.col("wc"), F.col("n")).otherwise(0))
        .alias("ba"),
    )
    ab, ba = F.col("ab"), F.col("ba")
    return (
        und.select(
            "cell_a",
            "cell_b",
            ab.cast("bigint").alias("flow_ab"),
            ba.cast("bigint").alias("flow_ba"),
            (ab + ba).cast("bigint").alias("total_flow"),
            F.round(F.abs(ab - ba) * 1.0 / (ab + ba), 6).alias("asymmetry"),
        )
        .orderBy(F.desc("total_flow"), F.asc("cell_a"), F.asc("cell_b"))
        .limit(30)
    )
