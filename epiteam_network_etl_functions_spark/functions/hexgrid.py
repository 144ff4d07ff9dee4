"""Cell-grid functions F1-F4 (reference h3.geo_to_h3, h3_to_geo,
h3_distance, k_ring — ntl_transforms.py:64-65, home_ageb_imputers.py:36-51,
RadiusOfGyrationHandler.py:139-140).

``cell_of`` / ``cell_centroid`` / ``grid_distance`` / ``k_ring`` are the
pipelines' grid, selected once at the bottom of this module:

- with the ``h3`` package installed, the ``hex_*`` family below: real H3
  in Arrow-vectorized pandas UDFs (the reference's row-wise
  ``.apply(axis=1)`` is the slow path they replace). They are codegen
  barriers (SURVEY.md §4), so pipelines isolate them in one projection;
- without it, the square fallback grid of functions/squaregrid.py: JVM
  Column expressions with the same API (string ids, arrays from k_ring,
  integer hop distances) that run no Python at all.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .squaregrid import as_column

try:  # pragma: no cover - h3 not in this container
    import h3 as _h3

    HAVE_H3 = True
except Exception:
    # API-compatible pure-python hex lattice (see h3lite docstring): the
    # _h3.* call sites below stay LIVE in every environment — with the
    # real library they run true H3; without it they run h3lite, so a
    # broken call can never hide behind the import gate again.
    from . import h3lite as _h3

    HAVE_H3 = False


def _is_bad(*vals) -> bool:
    """NULL arrives as NaN/None in the Arrow batch, and +-inf has no cell;
    emit NULL out, never crash the stage on one bad row."""
    return any(v is None or (isinstance(v, float) and not math.isfinite(v)) for v in vals)


# ---- hexagon-semantics UDF family ------------------------------------------
# The four operations routed through _h3 in every environment (real h3
# when installed, h3lite otherwise): hex rings (1 + 3k(k+1) cells), hex
# distance, hex centroids. With h3 installed they are the pipelines'
# grid; without it the pipelines keep the square grid, which every
# registered oracle mirrors in SQL, and hex pipelines call these directly.


@F.pandas_udf(T.StringType())
def _hex_cell_of_udf(lat: pd.Series, lon: pd.Series, res: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if _is_bad(a, o, r) else _h3.latlng_to_cell(a, o, int(r))
            for a, o, r in zip(lat, lon, res)
        ],
        dtype="object",
    )


@F.pandas_udf(T.StructType([T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())]))
def _hex_centroid_udf(cell: pd.Series) -> pd.DataFrame:
    pts = [
        (None, None) if _is_bad(c) else _h3.cell_to_latlng(c) for c in cell
    ]
    return pd.DataFrame({"lat": [p[0] for p in pts], "lon": [p[1] for p in pts]})


@F.pandas_udf(T.LongType())
def _hex_distance_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if _is_bad(x, y) else int(_h3.grid_distance(x, y))
            for x, y in zip(a, b)
        ],
        dtype="object",
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def _hex_k_ring_udf(cell: pd.Series, k: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if _is_bad(c, kk) else list(_h3.grid_disk(c, int(kk)))
            for c, kk in zip(cell, k)
        ]
    )


def hex_cell_of(lat, lon, res: int):
    """point -> hex cell id (F1 under hex semantics; h3 or h3lite)."""
    return _hex_cell_of_udf(as_column(lat), as_column(lon), F.lit(res))


def hex_cell_centroid(cell):
    """hex cell -> struct(lat, lon) centroid (F2 under hex semantics)."""
    return _hex_centroid_udf(as_column(cell))


def hex_grid_distance(a, b):
    """hex grid hops between cells (F3 under hex semantics)."""
    return _hex_distance_udf(as_column(a), as_column(b))


def hex_k_ring(cell, k: int):
    """hex cell -> 1+3k(k+1) cells within k hops (F4 under hex semantics)."""
    return _hex_k_ring_udf(as_column(cell), F.lit(k))


if HAVE_H3:  # pragma: no cover - h3 is optional
    cell_of, cell_centroid = hex_cell_of, hex_cell_centroid
    grid_distance, k_ring = hex_grid_distance, hex_k_ring
else:
    from .squaregrid import cell_centroid, cell_of, grid_distance, k_ring  # noqa: F401
