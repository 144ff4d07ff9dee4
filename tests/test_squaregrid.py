"""The square fallback grid has one definition (functions/squaregrid.py):
its JVM Column forms, its SQL text on both engines and its Python scalars
must agree cell for cell, and with h3 absent the CLI chain's grid stages
must run no Python."""

from __future__ import annotations

import os
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from epiteam_network_etl_functions_spark import cli
from epiteam_network_etl_functions_spark.functions.hexgrid import HAVE_H3
from epiteam_network_etl_functions_spark.functions.squaregrid import (
    cell_centroid,
    cell_of,
    cell_size,
    cell_sql,
    k_ring,
    py_cell_centroid,
    py_cell_of,
    py_k_ring,
)

RESOLUTIONS = (7, 9, 15)


def _points(res: int) -> list[tuple]:
    rng = random.Random(res)
    size = cell_size(res)
    pts = [(rng.uniform(-90, 90), rng.uniform(-180, 180)) for _ in range(300)]
    # exact multiples of the cell size on both axes, signs mixed
    pts += [(m * size, -m * size) for m in range(-3, 4)]
    pts += [(-0.0, 0.0), (0.0, -0.0), (-1e-12, 1e-12), (None, 1.0), (1.0, None)]
    return pts


@pytest.mark.parametrize("res", RESOLUTIONS)
def test_square_grid_forms_match_python_reference(spark, res):
    pts = _points(res)
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = df.select(
        "lat", "lon",
        cell_of("lat", "lon", res).alias("cell"),
        F.expr(cell_sql(res, "lat", "lon")).alias("sql_cell"),
    ).withColumns({
        "ring": k_ring("cell", 2),
        "centre": cell_centroid("cell"),
    }).collect()
    assert len(got) == len(pts)
    for r in got:
        want = py_cell_of(r["lat"], r["lon"], res)
        assert r["cell"] == want, (r["lat"], r["lon"])
        if want is None:
            assert r["ring"] is None
            continue
        assert r["sql_cell"] == want
        assert r["ring"] == py_k_ring(want, 2)
        assert (r["centre"]["lat"], r["centre"]["lon"]) == py_cell_centroid(want)

    # the same SQL text on DuckDB gives the same ids
    con = duckdb.connect()
    finite = [p for p in pts if None not in p]
    con.execute("CREATE TABLE pts (lat DOUBLE, lon DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?, ?)", finite)
    duck = [c for (c,) in con.execute(f"SELECT {cell_sql(res, 'lat', 'lon')} FROM pts").fetchall()]
    con.close()
    assert duck == [py_cell_of(a, o, res) for a, o in finite]


@pytest.mark.skipif(HAVE_H3, reason="with h3 installed the grid is the h3 pandas UDF")
def test_cli_grid_stages_run_no_python(spark, tmp_path, monkeypatch):
    """gen_tables' located IR and rg_stage's device_rg, on --pings input,
    take the square grid's JVM forms: no Python evaluation node."""
    import datetime as dt

    rows = [
        (f"d{d}", dt.datetime(2024, 3, 2, 23, m), 19.4 + 1e-3 * d, -99.15, 150.0)
        for d in range(4)
        for m in (0, 20, 40)
    ]
    pings = spark.createDataFrame(
        rows,
        "caid string, cdmx_datetime timestamp, latitude double, "
        "longitude double, horizontal_accuracy double",
    )
    pings_path, dim_path = str(tmp_path / "pings"), str(tmp_path / "dim")
    pings.write.parquet(pings_path)
    pings.select(
        cell_of("latitude", "longitude", 15).alias("cell"),
        F.lit("0901200010010").alias("cve_geo"),
    ).distinct().write.parquet(dim_path)
    out = str(tmp_path / "run")
    os.makedirs(out)
    args = cli.build_parser().parse_args(
        ["all", "--pings", pings_path, "--dim", dim_path, "--out", out,
         "--impute-rounds", "0"]
    )

    plans = {}
    write_ir = cli._write_ir

    def record(spark_, df, path):
        plans[os.path.basename(path)] = df._jdf.queryExecution().executedPlan().toString()
        return write_ir(spark_, df, path)

    monkeypatch.setattr(cli, "_write_ir", record)
    tables = cli.gen_tables(spark, args)
    cli.rg_stage(spark, args, tables)
    for name in ("located.parquet", "device_rg.parquet"):
        plan = plans[name]
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (name, plan)
