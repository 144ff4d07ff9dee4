#!/usr/bin/env python
"""Runnable end-to-end demo: synthetic GPS pings -> home inference ->
co-location network -> contact probabilities -> SBM network -> SEIR curve.

    python examples/mobility_demo.py

The synthetic pings and their (cell, cve_geo) dim are written as parquet
to a temp dir and run through the staged CLI in one call, exactly as
``python -m epiteam_network_etl_functions_spark.cli 2020-01-14 --pings
... --dim ... --gen-tables --prob-matrix --build-network --seir`` would.
Everything runs locally in ~a minute; point ``--pings``/``--dim`` at a
real dataset and the same stages run on a cluster.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# workers import the package by module reference when deserializing the
# pandas UDFs — PYTHONPATH must carry the repo root to them too
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import Row

from epiteam_network_etl_functions_spark import cli
from epiteam_network_etl_functions_spark.plans.mobility import cells_to_regions_dim
from epiteam_network_etl_functions_spark.session import get_session


def synthetic_pings(n_devices: int = 60, seed: int = 42):
    """Devices clustered in 4 neighbourhoods; night pings at home, day
    pings scattered."""
    rng = random.Random(seed)
    hoods = [(19.05, -99.05), (19.31, -99.31), (19.61, -99.61), (19.85, -98.85)]
    base = dt.datetime(2020, 1, 14)
    rows = []
    for d in range(n_devices):
        hlat, hlon = hoods[d % len(hoods)]
        for p in range(12):
            night = p < 8
            hour = rng.choice([23, 0, 1, 2, 3]) if night else rng.randint(9, 18)
            lat = hlat + (0 if night else rng.uniform(-0.3, 0.3))
            lon = hlon + (0 if night else rng.uniform(-0.3, 0.3))
            rows.append(
                Row(
                    caid=f"dev{d:03d}",
                    cdmx_datetime=base + dt.timedelta(hours=hour, minutes=rng.randint(0, 59)),
                    latitude=lat,
                    longitude=lon,
                    horizontal_accuracy=float(rng.randint(50, 300)),
                )
            )
    return rows, hoods


def main() -> None:
    spark = get_session("mobility-demo")
    rows, hoods = synthetic_pings()
    pings = spark.createDataFrame(rows)
    # Derive the region dim's covering cells through the SAME cell backend
    # the pipeline uses (h3 when installed, fallback grid otherwise) — a
    # hardcoded grid string would silently mismatch real h3 indices.
    from epiteam_network_etl_functions_spark.plans.mobility import with_cells

    hood_cells = with_cells(
        spark.createDataFrame(
            [Row(idx=i, latitude=lat, longitude=lon) for i, (lat, lon) in enumerate(hoods)]
        ),
        res=15,
        out_col="cell",
    ).collect()
    dim = cells_to_regions_dim(
        spark.createDataFrame(
            [
                Row(cells=[r["cell"]], cve_geo=f"090120001{r['idx']:04d}")
                for r in hood_cells
            ]
        )
    )
    work = tempfile.mkdtemp(prefix="mobility-demo-")
    pings_path, dim_path = os.path.join(work, "pings"), os.path.join(work, "dim")
    out = os.path.join(work, "run")
    pings.write.parquet(pings_path)
    dim.write.parquet(dim_path)
    # one call runs every stage; it stops the session when done
    cli.main(["2020-01-14", "--pings", pings_path, "--dim", dim_path,
              "--out", out, "--gen-tables", "--prob-matrix",
              "--build-network", "--seir", "--scale", "200", "--t-max", "20",
              "--seeds", "1"])

    import pandas as pd

    print("\n=== homes (sample) ===")
    print(pd.read_parquet(os.path.join(out, "homes.parquet")).head(5))
    print("=== contact probabilities ===")
    probs = pd.read_parquet(os.path.join(out, "contact_probs.parquet"))
    print(probs.sort_values(["a_home_ageb", "b_home_ageb"]).head(8))
    print("=== SEIR trajectory ===")
    print(pd.read_csv(os.path.join(out, "seir_trajectories.csv")).head(10))
    print(f"(stage IR under {out})")


if __name__ == "__main__":
    main()
