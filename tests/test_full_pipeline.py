"""End-to-end pipeline integration through the staged CLI: pings and dim
parquet in (``--pings/--dim``), SEIR trajectory out."""

from __future__ import annotations

import csv
import datetime as dt
import os

from pyspark.sql import Row

from epiteam_network_etl_functions_spark import cli
from epiteam_network_etl_functions_spark.functions.squaregrid import py_cell_of
from epiteam_network_etl_functions_spark.plans.mobility import cells_to_regions_dim


def test_full_pipeline_end_to_end(spark, tmp_path):
    # two "neighbourhoods": cluster P around (19.05,-99.05), Q around (19.61,-99.61)
    rows = []
    base = dt.datetime(2020, 1, 14, 23, 0)
    for d, (lat, lon) in enumerate([(19.05, -99.05), (19.61, -99.61)]):
        for i in range(4):  # 4 devices per cluster
            for m in range(6):  # 6 night pings each, co-located
                rows.append(
                    Row(
                        caid=f"dev{d}{i}",
                        cdmx_datetime=base + dt.timedelta(minutes=7 * m),
                        latitude=lat,
                        longitude=lon,
                        horizontal_accuracy=150.0,
                    )
                )
    pings_path, dim_path = str(tmp_path / "pings"), str(tmp_path / "dim")
    spark.createDataFrame(rows).write.parquet(pings_path)
    cells_to_regions_dim(
        spark.createDataFrame(
            [
                Row(cells=[py_cell_of(19.05, -99.05, 15)], cve_geo="0901200010010"),
                Row(cells=[py_cell_of(19.61, -99.61, 15)], cve_geo="1502100020020"),
            ]
        )
    ).write.parquet(dim_path)
    out = str(tmp_path / "run")
    os.makedirs(out)
    args = cli.build_parser().parse_args(
        ["2020-01-14", "--pings", pings_path, "--dim", dim_path, "--out", out,
         "--scale", "40", "--beta", "0.9", "--sigma", "0.9", "--gamma", "0.5",
         "--initial-infected", "1"]
    )
    tables = cli.gen_tables(spark, args)
    probs = cli.prob_matrix(spark, args, tables)
    cli.seir_sweep(spark, args, *cli.build_network(spark, args, tables, probs))

    def ir(name):
        return spark.read.parquet(os.path.join(out, f"{name}.parquet"))

    assert ir("located").where("cve_geo IS NULL").count() == 0
    assert ir("homes").count() == 8  # one home per device
    # interactions only within a cluster (different cells never co-locate)
    inter = ir("interactions").collect()
    assert len(inter) > 0
    for r in inter:
        assert r["a_caid"][3] == r["b_caid"][3]  # same cluster digit
    probs = {(r["a_home_ageb"], r["b_home_ageb"]): r["prob"]
             for r in ir("contact_probs").collect()}
    # intra-block contact certain, cross-block zero
    assert probs[("0901200010010", "1502100020020")] == 0.0
    assert probs[("0901200010010", "0901200010010")] > 0
    # network respects blocks: only intra-block edges (cross prob = 0)
    for r in ir("network_edges").collect():
        assert r["a_block"] == r["b_block"]
    with open(os.path.join(out, "seir_trajectories.csv")) as f:
        traj = list(csv.DictReader(f))
    n = 40
    assert all(int(r["S"]) + int(r["E"]) + int(r["I"]) + int(r["R"]) == n for r in traj)
    assert int(traj[0]["I"]) == 1
