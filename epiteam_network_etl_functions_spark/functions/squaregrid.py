"""The square fallback grid of F1-F4 — its one definition.

A cell id is ``g{res}:{i}:{j}`` with ``i = floor(lat / size)``,
``j = floor(lon / size)`` and ``size = 10 / 2**res`` degrees, an exact
binary fraction. Distances are Chebyshev hops; a k-ring is the
(2k+1)^2 square around the cell, di outer and dj inner. Three renderings,
locked equal by tests/test_squaregrid.py:

- ``cell_sql``: SQL text that Spark SQL and DuckDB parse alike, shared by
  the oracle-mirrored pings queries and their oracles;
- ``cell_of`` / ``cell_centroid`` / ``grid_distance`` / ``k_ring``: JVM
  Column forms with hexgrid's signatures, served by hexgrid when ``h3``
  is absent (no Python worker; NULL for NULL or non-finite input);
- ``py_*``: Python scalars for driver-side use (the GeoJSON cover cells)
  and as the tests' reference.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F


def cell_size(res: int) -> float:
    """Cell width in degrees at ``res`` (coarse 0 -> fine 15)."""
    return 10.0 / (1 << res)


def cell_sql(res: int, lat: str = "latitude", lon: str = "longitude") -> str:
    """Cell id as SQL text over two column expressions. The divisor is
    cast to double explicitly: a bare decimal literal is DECIMAL in Spark
    SQL but DOUBLE in DuckDB, and both engines must run the same IEEE754
    ops. No finiteness guard: the oracle inputs are finite."""
    size = f"cast({cell_size(res)!r} as double)"
    return (
        f"concat('g{res}:', cast(floor({lat} / {size}) as bigint), "
        f"':', cast(floor({lon} / {size}) as bigint))"
    )


# ---- JVM Column forms -------------------------------------------------------


def as_column(c) -> Column:
    """Column name or Column -> Column."""
    return F.col(c) if isinstance(c, str) else c


def _parts(cell: Column) -> tuple[Column, Column, Column]:
    """'gR:i:j' -> ('gR', i, j) as columns."""
    parts = F.split(cell, ":")
    return (
        F.element_at(parts, 1),
        F.element_at(parts, 2).cast("long"),
        F.element_at(parts, 3).cast("long"),
    )


def cell_of(lat, lon, res: int) -> Column:
    """point -> cell id; NULL unless both coordinates are finite (Spark
    orders NaN above +inf, so ``abs(x) < inf`` is false for NaN and inf)."""
    lat, lon = as_column(lat), as_column(lon)
    size = F.lit(cell_size(res))
    inf = F.lit(math.inf)
    return F.when(
        (F.abs(lat) < inf) & (F.abs(lon) < inf),
        F.concat(F.lit(f"g{res}:"), F.floor(lat / size), F.lit(":"), F.floor(lon / size)),
    )


def cell_centroid(cell) -> Column:
    """cell -> struct(lat, lon) of its centre."""
    prefix, i, j = _parts(as_column(cell))
    # 2.0^r is exact in IEEE754, so this is cell_size(r) bit for bit
    size = F.lit(10.0) / F.pow(F.lit(2.0), F.substring(prefix, 2, 2).cast("int"))
    return F.struct(((i + 0.5) * size).alias("lat"), ((j + 0.5) * size).alias("lon"))


def grid_distance(a, b) -> Column:
    """Chebyshev hops between two cells, as long."""
    (_, ai, aj), (_, bi, bj) = _parts(as_column(a)), _parts(as_column(b))
    return F.greatest(F.abs(ai - bi), F.abs(aj - bj))


def k_ring(cell, k: int) -> Column:
    """cell -> the (2k+1)^2 cells within k hops, itself included."""
    cell = as_column(cell)
    prefix, i, j = _parts(cell)
    span = F.sequence(F.lit(-k), F.lit(k))
    ring = F.flatten(F.transform(span, lambda di: F.transform(span, lambda dj: F.concat(
        prefix, F.lit(":"), (i + di).cast("string"), F.lit(":"), (j + dj).cast("string")
    ))))
    return F.when(cell.isNotNull(), ring)


# ---- Python scalars ---------------------------------------------------------


def cell_id(res: int, i: int, j: int) -> str:
    return f"g{res}:{i}:{j}"


def parse_cell(cell: str) -> tuple[int, int, int]:
    """'gR:i:j' -> (R, i, j)."""
    r, i, j = cell.split(":")
    return int(r[1:]), int(i), int(j)


def py_cell_of(lat: float | None, lon: float | None, res: int) -> str | None:
    if lat is None or lon is None or not (math.isfinite(lat) and math.isfinite(lon)):
        return None
    size = cell_size(res)
    return cell_id(res, math.floor(lat / size), math.floor(lon / size))


def py_cell_centroid(cell: str) -> tuple[float, float]:
    r, i, j = parse_cell(cell)
    size = cell_size(r)
    return (i + 0.5) * size, (j + 0.5) * size


def py_grid_distance(a: str, b: str) -> int:
    (_, ai, aj), (_, bi, bj) = parse_cell(a), parse_cell(b)
    return max(abs(ai - bi), abs(aj - bj))


def py_k_ring(cell: str, k: int) -> list[str]:
    r, i, j = parse_cell(cell)
    return [cell_id(r, i + di, j + dj) for di in range(-k, k + 1) for dj in range(-k, k + 1)]
