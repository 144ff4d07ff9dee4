"""GeoJSON catalog seeding + polygon cell cover (reference S6/F5-F7)."""

from __future__ import annotations

import json

from pyspark.sql import Row

from epiteam_network_etl_functions_spark.plans.mobility import (
    cells_to_regions_dim,
    locate_pings,
)
from epiteam_network_etl_functions_spark.sources.geojson import (
    feature_collection_to_catalog,
    point_in_geometry,
    polygon_bbox_cells,
    polygon_cover_cells,
)

FC = {
    "type": "FeatureCollection",
    "features": [
        {
            "type": "Feature",
            "properties": {"cve_geo": "09010", "nom_agem": "Alpha"},
            "geometry": {
                "type": "Polygon",
                "coordinates": [[[-99.1, 19.0], [-99.0, 19.0], [-99.0, 19.1],
                                 [-99.1, 19.1], [-99.1, 19.0]]],
            },
        },
        {
            "type": "Feature",
            "properties": {"cve_geo": "15020", "nom_agem": "Beta"},
            "geometry": {
                "type": "Polygon",
                "coordinates": [[[-98.6, 19.5], [-98.5, 19.5], [-98.5, 19.6],
                                 [-98.6, 19.6], [-98.6, 19.5]]],
            },
        },
    ],
}


def test_catalog_flatten(spark):
    cat = feature_collection_to_catalog(spark, FC)
    rows = {r["cve_geo"]: r for r in cat.collect()}
    assert set(rows) == {"09010", "15020"}
    geom = json.loads(rows["09010"]["geometry"])
    assert geom["type"] == "Polygon"


def test_polygon_cover_and_locate(spark):
    cat = feature_collection_to_catalog(spark, FC)
    covered = cat.rdd.map(
        lambda r: (r["cve_geo"], list(polygon_cover_cells(r["geometry"], res=7)))
    ).collect()
    dim_src = spark.createDataFrame(
        [Row(cve_geo=k, cells=v) for k, v in covered]
    )
    dim = cells_to_regions_dim(dim_src)
    assert dim.count() >= 2

    # a ping inside Alpha's box must attribute to 09010
    from epiteam_network_etl_functions_spark.functions.squaregrid import py_cell_of

    ping_cell = py_cell_of(19.05, -99.05, 7)
    pings = spark.createDataFrame([Row(caid="A", h3index_15=ping_cell)])
    out = locate_pings(pings, dim).collect()[0]
    assert out["cve_geo"] == "09010"


# L-shape: a 1°×1° square with its NE quadrant [19.5..20] × [-99.5..-99]
# removed. The notch is inside the bbox but outside the polygon.
L_SHAPE = {
    "type": "Polygon",
    "coordinates": [[
        [-100.0, 19.0], [-99.0, 19.0], [-99.0, 19.5], [-99.5, 19.5],
        [-99.5, 20.0], [-100.0, 20.0], [-100.0, 19.0],
    ]],
}


def test_point_in_geometry_nonconvex_and_holes():
    assert point_in_geometry(19.25, -99.25, L_SHAPE)  # SE arm
    assert point_in_geometry(19.75, -99.75, L_SHAPE)  # NW arm
    assert not point_in_geometry(19.75, -99.25, L_SHAPE)  # the notch
    donut = {
        "type": "Polygon",
        "coordinates": [
            [[-100.0, 19.0], [-99.0, 19.0], [-99.0, 20.0], [-100.0, 20.0],
             [-100.0, 19.0]],
            [[-99.7, 19.3], [-99.3, 19.3], [-99.3, 19.7], [-99.7, 19.7],
             [-99.7, 19.3]],
        ],
    }
    assert not point_in_geometry(19.5, -99.5, donut)  # in the hole
    assert point_in_geometry(19.1, -99.9, donut)  # in the band
    multi = {"type": "MultiPolygon", "coordinates": [L_SHAPE["coordinates"]]}
    assert point_in_geometry(19.25, -99.25, multi)
    assert not point_in_geometry(19.75, -99.25, multi)


def test_nonconvex_cover_excludes_notch(spark):
    """Regression for the J6 bbox over-cover: a ping in the bbox notch of a
    non-convex polygon must NOT attribute to it (reference sjoin gives it
    no region -> NULL)."""
    geom_json = json.dumps(L_SHAPE, sort_keys=True)
    bbox = set(polygon_bbox_cells(geom_json, res=6))
    cover = set(polygon_cover_cells(geom_json, res=6))
    assert cover < bbox  # strictly refined
    from epiteam_network_etl_functions_spark.functions.squaregrid import py_cell_of

    notch_cell = py_cell_of(19.75, -99.25, 6)
    arm_cell = py_cell_of(19.25, -99.25, 6)
    assert notch_cell in bbox and notch_cell not in cover
    assert arm_cell in cover

    dim = cells_to_regions_dim(
        spark.createDataFrame([Row(cve_geo="09999", cells=sorted(cover))])
    )
    pings = spark.createDataFrame(
        [Row(caid="notch", h3index_15=notch_cell), Row(caid="arm", h3index_15=arm_cell)]
    )
    out = {r["caid"]: r["cve_geo"] for r in locate_pings(pings, dim).collect()}
    assert out["arm"] == "09999"
    assert out["notch"] is None
