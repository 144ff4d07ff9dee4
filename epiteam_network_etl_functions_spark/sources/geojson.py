"""GeoJSON -> dimension-table seeding (reference S6/F5:
GeneratesMunicipioDB.ipynb cells 0-5 flatten an INEGI FeatureCollection
into a catalog with geometry kept as a GeoJSON *string* column —
SURVEY.md §1.1 'geospatial layer').

One-time, driver-side by design: catalogs are a few hundred rows. The
geometry stays an opaque string; spatial attribution goes through the
polygon->covering-cells dimension (plans/mobility.cells_to_regions_dim),
never a row-wise shapely loop.
"""

from __future__ import annotations

import json
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("cve_geo", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("geometry", T.StringType(), True),  # GeoJSON string
    ]
)


def feature_collection_to_catalog(
    spark: SparkSession,
    fc: Mapping,
    key_prop: str = "cve_geo",
    name_prop: str = "nom_agem",
) -> DataFrame:
    """Flatten a GeoJSON FeatureCollection into (cve_geo, name, geometry)
    rows; geometry serialized back to a JSON string exactly as the
    reference does (json.dumps(feat['geometry']))."""
    rows = []
    for feat in fc.get("features", []):
        props = feat.get("properties", {})
        rows.append(
            (
                str(props.get(key_prop)),
                props.get(name_prop),
                json.dumps(feat.get("geometry"), sort_keys=True),
            )
        )
    return spark.createDataFrame(rows, CATALOG_SCHEMA)


def _walk_points(coords) -> list[tuple[float, float]]:
    """Flatten nested GeoJSON coordinates into (lat, lon) points."""
    pts: list[tuple[float, float]] = []

    def walk(c):
        if isinstance(c, (list, tuple)) and c and isinstance(c[0], (int, float)):
            pts.append((float(c[1]), float(c[0])))  # GeoJSON is lon,lat
        else:
            for x in c:
                walk(x)

    walk(coords)
    return pts


def _ray_cast(lat: float, lon: float, rings: Sequence[Sequence[Sequence[float]]]) -> bool:
    """Even-odd ray cast over every ring of one polygon: crossing a hole
    ring flips the parity back out, so holes need no special casing. Rings
    are GeoJSON [[lon, lat], ...]."""
    inside = False
    for ring in rings:
        n = len(ring)
        for k in range(n):
            x1, y1 = ring[k][0], ring[k][1]
            x2, y2 = ring[(k + 1) % n][0], ring[(k + 1) % n][1]
            if (y1 > lat) != (y2 > lat):
                xint = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
                if lon < xint:
                    inside = not inside
    return inside


def point_in_geometry(lat: float, lon: float, geom: Mapping) -> bool:
    """Exact point-in-polygon for GeoJSON Polygon / MultiPolygon (the
    geopandas sjoin predicate, reference FactPingsBaseGenerator.py:74)."""
    gtype = geom.get("type")
    coords = geom.get("coordinates", [])
    if gtype == "Polygon":
        return _ray_cast(lat, lon, coords)
    if gtype == "MultiPolygon":
        return any(_ray_cast(lat, lon, poly) for poly in coords)
    raise ValueError(f"unsupported geometry type {gtype!r}")


def polygon_bbox_cells(geometry_json: str, res: int) -> Sequence[str]:
    """Bounding-box candidate cells for a polygon on the fallback grid —
    an over-approximation; :func:`polygon_cover_cells` refines it. Kept
    public as the candidate generator and for cheap coarse prefilters."""
    from ..functions.squaregrid import cell_id, parse_cell, py_cell_of

    geom = json.loads(geometry_json)
    pts = _walk_points(geom.get("coordinates", []))
    if not pts:
        return []
    lats = [p[0] for p in pts]
    lons = [p[1] for p in pts]
    _, i0, j0 = parse_cell(py_cell_of(min(lats), min(lons), res))
    _, i1, j1 = parse_cell(py_cell_of(max(lats), max(lons), res))
    return sorted(
        cell_id(res, i, j) for i in range(i0, i1 + 1) for j in range(j0, j1 + 1)
    )


def polygon_cover_cells(geometry_json: str, res: int) -> Sequence[str]:
    """Covering cells for a polygon: bbox candidates refined to the cells
    whose *centroid* lies inside the polygon (exact ray cast, holes and
    MultiPolygon included) — the same containment rule as
    `h3.polygon_to_cells`, so a non-convex polygon's bbox notch is
    excluded and the cell->region dim matches the reference's sjoin
    (FactPingsBaseGenerator.py:74) at cell granularity. Driver-side by
    design: catalogs are a few hundred polygons and the candidate set is
    bbox-bounded."""
    from ..functions.squaregrid import py_cell_centroid

    geom = json.loads(geometry_json)
    return [
        cell
        for cell in polygon_bbox_cells(geometry_json, res)
        if point_in_geometry(*py_cell_centroid(cell), geom)
    ]
