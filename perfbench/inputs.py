"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed and knobs, so two runs with
the same ``--seed`` see byte-identical inputs. Generation is never timed.

* ``write_pings``: a pings parquet plus a ``(cell, cve_geo)`` dimension for
  the real-input CLI path (``--pings``/``--dim``). Co-location is created on
  purpose: devices sleep in shared home cells and spend the day at a small
  pool of venues, so the pool size sets how many devices share one
  (res-15 cell, 10-min bucket) and the pair output grows with its square.
* ``write_registry``: the ten registry tables with the test data's
  schemas and value domains at a small base scale, then replicated the way
  ``tools/make_scale_tier.py --horizontal`` replicates them.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Square-grid res-15 cell width (functions/hexgrid._RES_DEG[15]); an exact
# binary fraction, so a centre +/- 0.35 cell can never round across an edge.
CELL_DEG = 10.0 / 2**15
ORIGIN = (19.40, -99.15)  # CDMX
STATES = ("09", "13", "15", "21", "17")
DAY = "2024-03-02"  # the day slice the chain runs on
HOMES, AGEBS = 400, 24
DIM_COVERAGE = 0.70  # share of the realized cells the dim maps
ACCURACY_MEAN = 140.0  # metres; the CLI keeps pings at >= 100 m
OFF_DAY_SHARE = 0.10  # pings on the next day, which the day slice drops


@dataclass(frozen=True)
class PingKnobs:
    devices: int = 1200
    pings_per_device: int = 30
    night_share: float = 0.35
    # horizontal_accuracy ~ N(ACCURACY_MEAN, accuracy_sd) around the 100 m gate
    accuracy_sd: float = 60.0
    # devices per (venue cell, 10-min bucket) ~= day pings / (venues * 78)
    venues: int = 30


def _grid_cells(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    """n distinct (i, j) cell indices in a span x span box at ORIGIN."""
    i0 = int(np.floor(ORIGIN[0] / CELL_DEG))
    j0 = int(np.floor(ORIGIN[1] / CELL_DEG))
    flat = rng.choice(span * span, size=n, replace=False)
    return np.stack([i0 + flat // span, j0 + flat % span], axis=1)


def _points(rng: np.random.Generator, cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    jitter = rng.uniform(-0.35, 0.35, size=cells.shape)
    pts = (cells + 0.5 + jitter) * CELL_DEG
    return pts[:, 0], pts[:, 1]


def write_pings(spark, out_dir: str, seed: int, k: PingKnobs = PingKnobs()) -> dict:
    """Write ``pings.parquet`` and ``dim.parquet`` under ``out_dir``.

    The dimension maps ``DIM_COVERAGE`` of the realized cells to AGEB codes;
    its cell ids come from the package's public ``cell_of`` function, so the
    benchmark never re-implements the grid."""
    from epiteam_network_etl_functions_spark.functions.hexgrid import cell_of

    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    homes = _grid_cells(rng, HOMES + k.venues, span=400)
    venues, homes = homes[: k.venues], homes[k.venues:]
    home_of = rng.integers(0, HOMES, size=k.devices)

    n_night = int(round(k.pings_per_device * k.night_share))
    n_day = k.pings_per_device - n_night
    dev = np.repeat(np.arange(k.devices), k.pings_per_device)
    is_night = np.tile(np.r_[np.ones(n_night, bool), np.zeros(n_day, bool)], k.devices)
    n = dev.size

    day0 = np.datetime64(DAY, "s").astype(np.int64)
    # night: 22:00-06:00 of the day (buckets 132..143 and 0..35); day:
    # venue visits in buckets 48..125 (08:00-21:00)
    night_buckets = np.r_[np.arange(0, 36), np.arange(132, 144)]
    bucket = np.where(
        is_night,
        rng.choice(night_buckets, size=n),
        rng.integers(48, 126, size=n),
    )
    secs = day0 + bucket * 600 + rng.integers(0, 600, size=n)
    off_day = rng.random(n) < OFF_DAY_SHARE
    secs = np.where(off_day, secs + 86400, secs)
    cells = np.where(
        is_night[:, None],
        homes[home_of[dev]],
        venues[rng.integers(0, k.venues, size=n)],
    )
    lat, lon = _points(rng, cells)
    acc = np.clip(rng.normal(ACCURACY_MEAN, k.accuracy_sd, size=n), 5.0, None).round(1)
    # one on-day anchor ping at 00:00:00 pins the bucket origin (the min
    # timestamp) to midnight, so venue slots line up with 10-min buckets
    secs[0], acc[0] = day0, max(acc[0], 150.0)

    caid = np.char.add("dev", np.char.zfill(dev.astype(str), 6))
    pings = pa.table(
        {
            "caid": caid,
            "cdmx_datetime": pa.array(
                (secs * 1_000_000).astype("datetime64[us]"),
                type=pa.timestamp("us", tz="UTC"),
            ),
            "latitude": lat,
            "longitude": lon,
            "horizontal_accuracy": acc,
        }
    )
    pq.write_table(pings, os.path.join(out_dir, "pings.parquet"))

    realized = np.unique(np.concatenate([homes[np.unique(home_of)], venues]), axis=0)
    covered = realized[rng.random(len(realized)) < DIM_COVERAGE]
    codes = np.array(
        [STATES[a % len(STATES)] + f"{rng.integers(0, 10**11):011d}" for a in range(AGEBS)]
    )
    clat, clon = (covered[:, 0] + 0.5) * CELL_DEG, (covered[:, 1] + 0.5) * CELL_DEG
    centres = spark.createDataFrame(
        pd.DataFrame({"lat": clat, "lon": clon, "cve_geo": codes[rng.integers(0, AGEBS, len(covered))]})
    )
    dim = centres.select(cell_of("lat", "lon", 15).alias("cell"), "cve_geo").toPandas()
    pq.write_table(pa.Table.from_pandas(dim, preserve_index=False), os.path.join(out_dir, "dim.parquet"))
    return {
        "pings_rows": n,
        "dim_rows": len(dim),
        "realized_cells": len(realized),
        "knobs": asdict(k),
    }


# ---- registry tables ---------------------------------------------------------

WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
BASE_SF = 0.01  # scale of the generated base tables
REPLICAS = 2  # horizontal copies of the fact tables
NEAR_DUP_SHARE = 0.05  # documents copied from an earlier one with 0-2 word edits


def _day_ts(rng, n: int, start: str, days: int) -> np.ndarray:
    days = np.datetime64(start, "D") + rng.integers(0, days, size=n).astype("timedelta64[D]")
    return days.astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(0, 3)):  # 0 edits = exact duplicate
                words[rng.integers(0, len(words))] = "dup"
        else:
            words = list(rng.choice(WORDS, size=rng.integers(10, 100)))
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _base_tables(rng: np.random.Generator) -> dict:
    sf = BASE_SF
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_users = int(50_000 * sf), int(50_000 * sf), int(15_000 * sf)
    i32, i64 = np.int32, np.int64
    return {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": rng.uniform(-999.99, 9999.99, n_cust).round(2),
            "c_mktsegment": rng.choice(
                ["HOUSEHOLD", "BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE"], n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": rng.uniform(-999.99, 9999.99, n_supp).round(2),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=i64),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice("blue cold hot red small new old large".split(), n_part),
                    rng.choice("ring plate gear rod bolt anvil widget".split(), n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": (900 + (np.arange(n_part) % 1000) / 10).round(1),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
            "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
            "o_totalprice": rng.uniform(1000, 500000, n_ord).round(2),
            "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", 2405),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(i64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": rng.uniform(900, 105000, n_li).round(2),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _day_ts(rng, n_li, "1995-01-02", 2498),
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=i64),
            "ts": np.sort(
                np.datetime64("2024-01-01T00:00:00", "us")
                + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n_ev).astype(i64),
            "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_ev),
            "value": rng.exponential(50.0, n_ev).round(2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": pd.DataFrame({
            "vec_id": np.arange(n_vec, dtype=i64),
            "embedding": list(rng.normal(0, 0.13, (n_vec, 64)).astype(np.float32)),
            "label": rng.integers(0, 10, n_vec).astype(i32),
        }),
    }


# make_scale_tier.py --horizontal, table by table: fresh key ranges and a
# per-replica cell namespace (event_type) per replica; dims are shared.
# Replica 0 keeps the base event types, so queries that filter on a literal
# type ('signup', 'error') still select rows.
_REPLICATE = {
    "events": """SELECT e.event_id + 10000000 * r.rep AS event_id,
                        e.user_id + 100000 * r.rep AS user_id, e.ts,
                        CASE WHEN r.rep = 0 THEN e.event_type
                             ELSE concat(e.event_type, '#', CAST(r.rep AS VARCHAR)) END AS event_type,
                        e.value, e.props FROM src e""",
    "documents": """SELECT d.doc_id + 1000000 * r.rep AS doc_id,
                           concat(d.text, ' shard', CAST(r.rep AS VARCHAR)) AS text,
                           d.lang, d.source,
                           d.n_chars + 6 + CAST(length(CAST(r.rep AS VARCHAR)) AS BIGINT) AS n_chars
                    FROM src d""",
    "embeddings": """SELECT e.vec_id + 1000000 * r.rep AS vec_id,
                            list_transform(e.embedding, x -> CAST(x + 0.001 * r.rep AS FLOAT)) AS embedding,
                            e.label FROM src e""",
    "customer": "SELECT t.* REPLACE (c_custkey + 100000 * r.rep AS c_custkey) FROM src t",
    "orders": """SELECT t.* REPLACE (o_orderkey + 10000000 * r.rep AS o_orderkey,
                                     o_custkey + 100000 * r.rep AS o_custkey) FROM src t""",
    "lineitem": "SELECT t.* REPLACE (l_orderkey + 10000000 * r.rep AS l_orderkey) FROM src t",
}


def write_registry(out_dir: str, seed: int) -> dict:
    """Write the ten registry tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng([seed, 2])
    base_dir = os.path.join(out_dir, "_base")
    os.makedirs(base_dir, exist_ok=True)
    rows = {}
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for name, df in _base_tables(rng).items():
            table = pa.Table.from_pandas(df, preserve_index=False)
            if name == "embeddings":
                table = table.set_column(
                    1, "embedding", table.column("embedding").cast(pa.list_(pa.float32())))
            src = os.path.join(base_dir, f"{name}.parquet")
            pq.write_table(table, src)
            dst = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"CREATE OR REPLACE VIEW src AS SELECT * FROM read_parquet('{src}')")
            sql = (
                f"{_REPLICATE[name]} CROSS JOIN (SELECT unnest(range({REPLICAS})) AS rep) r"
                if name in _REPLICATE else "SELECT * FROM src"
            )
            con.execute(f"COPY ({sql}) TO '{dst}' (FORMAT parquet)")
            rows[name] = con.execute(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
    finally:
        con.close()
    return rows
