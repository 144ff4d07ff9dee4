"""Home-location pipeline parity properties (reference semantics from
HomeAgebGenerator / IndexingHomeAgebs / home_ageb_imputers), on synthetic
pings built in-test."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row, functions as F

from epiteam_network_etl_functions_spark import cli
from epiteam_network_etl_functions_spark.constants import SENTINEL_AGEB_13
from epiteam_network_etl_functions_spark.plans.mobility import (
    cells_to_regions_dim,
    daily_home_winners,
    extract_day,
    global_home_winner,
    impute_kring,
    impute_neighbour_frequency,
    locate_homes,
    locate_pings,
    night_presence_scores,
    with_cells,
)


def _ts(day, hour, minute=0):
    return dt.datetime(2020, 1, day, hour, minute)


@pytest.fixture(scope="module")
def pings(spark):
    rows = []
    # device A: 10 night pings at (19.05, -99.05), 2 day pings elsewhere
    for i in range(10):
        rows.append(Row(caid="A", cdmx_datetime=_ts(14, 23, i * 5), latitude=19.05,
                        longitude=-99.05, horizontal_accuracy=150.0))
    rows.append(Row(caid="A", cdmx_datetime=_ts(14, 12), latitude=19.9,
                    longitude=-99.9, horizontal_accuracy=150.0))
    rows.append(Row(caid="A", cdmx_datetime=_ts(14, 13), latitude=19.9,
                    longitude=-99.9, horizontal_accuracy=150.0))
    # device B: night pings split between two cells, more at (19.31, -99.31)
    for i in range(6):
        rows.append(Row(caid="B", cdmx_datetime=_ts(14, 2, i * 11), latitude=19.31,
                        longitude=-99.31, horizontal_accuracy=120.0))
    for i in range(3):
        rows.append(Row(caid="B", cdmx_datetime=_ts(14, 4, i * 11), latitude=19.61,
                        longitude=-99.61, horizontal_accuracy=120.0))
    # device C: low accuracy only -> dropped by extract
    rows.append(Row(caid="C", cdmx_datetime=_ts(14, 23), latitude=19.05,
                    longitude=-99.05, horizontal_accuracy=10.0))
    return spark.createDataFrame(rows)


def test_extract_day_filters(spark, pings):
    out = extract_day(pings, "2020-01-14")
    assert out.where(F.col("horizontal_accuracy") < 100).count() == 0
    assert out.select("caid").distinct().count() == 2  # C dropped


def test_night_scores_and_winner(spark, pings):
    good = extract_day(pings, "2020-01-14")
    cells = with_cells(good, res=12, out_col="cell")
    scores = night_presence_scores(cells, cell_col="cell")
    # A's day pings (hour 12/13) must not contribute
    a = scores.where(F.col("caid") == "A").collect()
    # 10 pings at 5-min steps span 5 distinct 600s buckets
    assert len(a) == 1 and a[0]["score"] == 5
    winners = daily_home_winners(scores, cell_col="cell")
    w = {r["caid"]: r for r in winners.collect()}
    assert set(w) == {"A", "B"}
    # B's winner is the 6-ping cell
    b_cell = with_cells(
        spark.createDataFrame([Row(latitude=19.31, longitude=-99.31)]), res=12,
        out_col="cell",
    ).collect()[0]["cell"]
    assert w["B"]["home_cell"] == b_cell
    assert {r["confidence"] for r in winners.collect()} <= {"high", "low"}


def test_global_winner_prefers_nonsentinel_then_score(spark):
    repo = spark.createDataFrame(
        [
            Row(caid="X", home_ageb=SENTINEL_AGEB_13, score=100),
            Row(caid="X", home_ageb="0901200010010", score=3),
            Row(caid="X", home_ageb="0901200010020", score=7),
            Row(caid="Y", home_ageb=SENTINEL_AGEB_13, score=5),
        ]
    )
    out = {r["caid"]: r["home_ageb"] for r in global_home_winner(repo).collect()}
    # sentinel has same 13-char length, so score wins among equal length:
    # the reference orders len DESC then score DESC — sentinel(100) wins X.
    assert out["X"] == SENTINEL_AGEB_13
    assert out["Y"] == SENTINEL_AGEB_13

    repo2 = spark.createDataFrame(
        [
            Row(caid="Z", home_ageb="090120001001", score=2),   # 12 chars
            Row(caid="Z", home_ageb="0901200010020", score=1),  # 13 chars
        ]
    )
    out2 = {r["caid"]: r["home_ageb"] for r in global_home_winner(repo2).collect()}
    assert out2["Z"] == "0901200010020"  # longer code wins despite lower score


def test_attach_home_sentinel(spark, pings, tmp_path):
    """A device whose winner cell the dim does not cover gets the 13-zero
    sentinel home (J3: ntl_queries.py:50-65, IndexingHomeAgebs.py:112-132)
    in the homes IR cli.gen_tables writes."""
    pings_path, dim_path = str(tmp_path / "pings"), str(tmp_path / "dim")
    pings.write.parquet(pings_path)
    # the dim covers A's night cell only; B's winner cell is unmapped
    with_cells(
        spark.createDataFrame([Row(latitude=19.05, longitude=-99.05)]), out_col="cell"
    ).selectExpr("cell", "'0901200010010' AS cve_geo").write.parquet(dim_path)
    out = str(tmp_path / "run")
    args = cli.build_parser().parse_args(
        ["2020-01-14", "--pings", pings_path, "--dim", dim_path, "--out", out,
         "--impute-rounds", "0"]
    )
    os.makedirs(out)
    cli.gen_tables(spark, args)
    homes = spark.read.parquet(os.path.join(out, "homes.parquet"))
    got = {r["caid"]: r["home_ageb"] for r in homes.collect()}
    assert got == {"A": "0901200010010", "B": SENTINEL_AGEB_13}  # C: accuracy-gated


def test_locate_and_kring_impute(spark):
    # dim maps cell g12:7:9 -> region R1 (fallback grid, res irrelevant)
    dim = cells_to_regions_dim(
        spark.createDataFrame([Row(cells=["g3:15:-80"], cve_geo="R1")])
    )
    homes = spark.createDataFrame(
        [
            Row(caid="A", home_cell="g3:15:-80"),   # direct hit
            Row(caid="B", home_cell="g3:16:-80"),   # 1 hop away
            Row(caid="C", home_cell="g3:99:99"),    # unreachable in k<=2
        ]
    )
    out = impute_kring(homes, dim, max_k=2)
    got = {r["caid"]: r["cve_geo"] for r in out.collect()}
    assert got == {"A": "R1", "B": "R1", "C": None}


def test_neighbour_frequency_impute(spark):
    homes = spark.createDataFrame(
        [
            Row(caid="A", home_ageb="0901200010010"),
            Row(caid="B", home_ageb="0901200010010"),
            Row(caid="C", home_ageb="1501200010020"),
            Row(caid="D", home_ageb=SENTINEL_AGEB_13),  # in comp with A,B,C
            Row(caid="E", home_ageb=SENTINEL_AGEB_13),  # isolated
        ]
    )
    labels = spark.createDataFrame(
        [Row(node_id=d, component_id="c1") for d in ("A", "B", "C", "D")]
    )
    out = impute_neighbour_frequency(homes, labels)
    got = {r["caid"]: r["home_ageb"] for r in out.collect()}
    assert got["D"] == "0901200010010"  # majority home in component
    assert got["E"] == SENTINEL_AGEB_13  # no neighbours -> unchanged
    assert got["A"] == "0901200010010"


def test_neighbour_frequency_labels_matches_arrays(spark):
    """The star kernel's labels fill identically to the reference's
    component member lists written out by hand as (node, component) rows —
    including components the kernel closes over a chain of edges."""
    from epiteam_network_etl_functions_spark.operators.components import (
        connected_components,
    )

    homes = spark.createDataFrame(
        [
            Row(caid="A", home_ageb="0901200010010"),
            Row(caid="B", home_ageb="0901200010010"),
            Row(caid="C", home_ageb="1501200010020"),
            Row(caid="D", home_ageb=SENTINEL_AGEB_13),
            Row(caid="E", home_ageb=SENTINEL_AGEB_13),  # isolated
            Row(caid="F", home_ageb="1501200010020"),
            Row(caid="G", home_ageb=SENTINEL_AGEB_13),
        ]
    )
    edges = spark.createDataFrame(
        [
            Row(a_id="A", b_id="B"), Row(a_id="B", b_id="C"),
            Row(a_id="C", b_id="D"), Row(a_id="F", b_id="G"),
        ]
    )
    members = spark.createDataFrame(
        [Row(node_id=d, component_id="ABCD") for d in "ABCD"]
        + [Row(node_id=d, component_id="FG") for d in "FG"]
    )
    via_labels = {
        r["caid"]: r["home_ageb"]
        for r in impute_neighbour_frequency(homes, connected_components(edges)).collect()
    }
    via_arrays = {
        r["caid"]: r["home_ageb"]
        for r in impute_neighbour_frequency(homes, members).collect()
    }
    assert via_labels == via_arrays
    assert via_labels["D"] == "0901200010010"
    assert via_labels["G"] == "1501200010020"
    assert via_labels["E"] == SENTINEL_AGEB_13


def test_pings_impute_neighbours_plan_has_no_member_arrays(spark):
    """The registered query hands its hash-bucket labels to the imputer
    as they are: no per-component collect_set array that would only be
    exploded back into rows."""
    from conftest import PARITY_SF_DIR
    from epiteam_network_etl_functions_spark.session import prep
    from epiteam_network_etl_functions_spark.workload.pings import (
        pings_impute_neighbours,
    )

    prep(spark)  # the query's own prep() must not turn AQE back on
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = pings_impute_neighbours(spark, PARITY_SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "collect_set" not in plan, plan
    assert "Generate explode" not in plan, plan


_CODES = ("0901200010010", "0901200010020", "1501200010020")


def _multi_round_model(homes, comp_of, rounds):
    """The reference's repeated imputation rounds in plain Python: each
    round fills every sentinel device of a component holding a
    non-sentinel home with that component's (count DESC, home ASC) winner
    over the current homes, until a round fills nothing."""
    from collections import Counter, defaultdict

    cur = dict(homes)
    for _ in range(rounds):
        counts = defaultdict(Counter)
        for dev, home in cur.items():
            if home != SENTINEL_AGEB_13 and dev in comp_of:
                counts[comp_of[dev]][home] += 1
        best = {
            c: min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for c, cnt in counts.items()
        }
        fill = {
            dev: best[comp_of[dev]]
            for dev, home in cur.items()
            if home == SENTINEL_AGEB_13 and comp_of.get(dev) in best
        }
        if not fill:
            break
        cur.update(fill)
    return cur


@st.composite
def _population(draw, tag):
    """(homes, labels): components that are mixed, sentinel-heavy or
    all-sentinel, members without a homes row, and isolated devices."""
    homes, labels = {}, {}
    home = st.sampled_from((SENTINEL_AGEB_13,) * 3 + _CODES)
    for c in range(draw(st.integers(0, 6))):
        all_sentinel = draw(st.booleans())
        for _ in range(draw(st.integers(1, 6))):
            dev = f"{tag}d{len(labels) + len(homes)}"
            labels[dev] = f"{tag}c{c}"
            if draw(st.integers(0, 5)) > 0:  # else: labelled, no homes row
                homes[dev] = SENTINEL_AGEB_13 if all_sentinel else draw(home)
    for _ in range(draw(st.integers(0, 3))):  # isolated: no component
        homes[f"{tag}d{len(labels) + len(homes)}"] = draw(home)
    return homes, labels


@st.composite
def _populations(draw):
    """Several populations with disjoint ids, imputed in one Spark run."""
    homes, labels = {}, {}
    for i in range(draw(st.integers(1, 8))):
        h, lab = draw(_population(f"p{i}"))
        homes.update(h)
        labels.update(lab)
    return homes, labels


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pop=_populations(), rounds=st.integers(0, 4))
def test_one_pass_imputation_matches_multi_round_model(spark, pop, rounds):
    """Equality lock for the one-pass imputation: one call gives what the
    old multi-round loop gives, for every positive round count; round 0
    is the caller skipping the call (cli.gen_tables on --impute-rounds 0)."""
    homes, labels = pop
    homes_df = spark.createDataFrame(
        sorted(homes.items()), "caid string, home_ageb string"
    )
    labels_df = spark.createDataFrame(
        sorted(labels.items()), "node_id string, component_id string"
    )
    want = _multi_round_model(homes, labels, rounds)
    out = homes_df if rounds == 0 else impute_neighbour_frequency(homes_df, labels_df)
    rows = out.collect()
    assert len(rows) == len(homes)
    assert {r["caid"]: r["home_ageb"] for r in rows} == want


def test_locate_pings_broadcast_join(spark):
    dim = cells_to_regions_dim(
        spark.createDataFrame([Row(cells=["g12:x:y"], cve_geo="R9")])
    )
    pings = spark.createDataFrame(
        [Row(caid="A", h3index_15="g12:x:y"), Row(caid="B", h3index_15="g12:zz:zz")]
    )
    out = {r["caid"]: r["cve_geo"] for r in locate_pings(pings, dim).collect()}
    assert out == {"A": "R9", "B": None}


def test_locate_homes_sentinel_and_passthrough(spark):
    """locate_homes: a winner cell the dim does not map takes the 13-zero
    sentinel, dim cells no winner holds change nothing, and the winner's
    other columns pass through."""
    winners = spark.createDataFrame(
        [
            Row(caid="A", home_cell="g12:x:y", score=5, confidence="high"),
            Row(caid="B", home_cell="g12:zz:zz", score=2, confidence="low"),
        ]
    )
    want = {
        ("A", "g12:x:y", 5, "high", "0901200010010"),
        ("B", "g12:zz:zz", 2, "low", SENTINEL_AGEB_13),
    }
    for cells in (["g12:x:y"], ["g12:x:y", "g12:other", "g12:third"]):
        dim = cells_to_regions_dim(
            spark.createDataFrame([Row(cells=cells, cve_geo="0901200010010")])
        )
        out = locate_homes(winners, dim, "home_cell")
        assert sorted(out.columns) == sorted(winners.columns + ["home_ageb"])
        got = {
            (r["caid"], r["home_cell"], r["score"], r["confidence"], r["home_ageb"])
            for r in out.collect()
        }
        assert got == want


def test_home_queries_join_the_given_dim(spark, monkeypatch):
    """pings_global_home and pings_interactions take their homes from the
    dim _dim_from_cells returns, as their oracles LEFT JOIN theirs. With a
    dim the test-data generator does not make (codes reversed, a tenth of
    the cells dropped) Spark and DuckDB still agree, and both differ from
    the generator-dim answer: a shortcut that recomputes the generator's
    dim instead of joining fails here. sf0.01, because sf0.001 has no
    co-located pair."""
    import duckdb

    import __spark_entry__ as entrymod
    from epiteam_network_etl_functions_spark.workload import pings as wp
    from epiteam_network_etl_functions_spark.workload.extended import _hash_bucket_sql
    from tests.conftest import PARITY_SF_DIR

    sf_dir = os.path.join(os.path.dirname(PARITY_SF_DIR), "sf0.01")
    generated = wp._dim_from_cells

    def permuted(cells):
        return generated(cells).where(
            F.expr(f"{wp._hb_spark('cell', 'drop', 10)} <> 0")
        ).selectExpr("cell", "reverse(cve_geo) AS cve_geo")

    monkeypatch.setattr(wp, "_dim_from_cells", permuted)
    dim_cte = wp._DIM_CTE.strip()
    permuted_cte = dim_cte.replace("dim AS MATERIALIZED", "gen_dim AS MATERIALIZED") + f""",
dim AS MATERIALIZED (
    SELECT cell, reverse(cve_geo) AS cve_geo FROM gen_dim
    WHERE {_hash_bucket_sql('cell', 10, 'drop')} <> 0
)"""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )

    def rows(columns, records):
        order = sorted(range(len(columns)), key=lambda i: columns[i])
        return sorted(tuple(str(r[i]) for i in order) for r in records)

    def duck(sql):
        cur = con.execute(sql)
        return rows([c[0] for c in cur.description], cur.fetchall())

    oracles, registry = entrymod.oracle_sql(), entrymod.queries()
    for name in ("pings_global_home", "pings_interactions"):
        assert dim_cte in oracles[name]
        generator_answer = duck(oracles[name])
        want = duck(oracles[name].replace(dim_cte, permuted_cte))
        sdf = registry[name](spark, sf_dir)
        got = rows(sdf.columns, [tuple(r) for r in sdf.collect()])
        assert got == want, name
        assert want and want != generator_answer, name
    con.close()


def test_fact_pings_base_joinback(spark):
    from epiteam_network_etl_functions_spark.functions.squaregrid import py_cell_of
    from epiteam_network_etl_functions_spark.plans.mobility import fact_pings_base

    cell = py_cell_of(19.05, -99.05, 15)
    dim = cells_to_regions_dim(
        spark.createDataFrame([Row(cells=[cell], cve_geo="0901200010010")])
    )
    pings = spark.createDataFrame(
        [
            Row(caid="A", latitude=19.05, longitude=-99.05),
            Row(caid="B", latitude=19.05, longitude=-99.05),  # same point: label computed once
            Row(caid="C", latitude=19.99, longitude=-99.99),  # unmapped
        ]
    )
    out = {r["caid"]: r for r in fact_pings_base(pings, dim).collect()}
    assert out["A"]["cve_geo"] == "0901200010010"
    assert out["B"]["cve_geo"] == "0901200010010"
    assert out["A"]["cve_mun"] == "09012"
    assert out["C"]["cve_geo"] is None
    assert out["A"]["h3index_15"] == cell


def test_hexgrid_null_inputs_yield_nulls(spark):
    from epiteam_network_etl_functions_spark.functions.hexgrid import (
        cell_of,
        grid_distance,
        k_ring,
    )

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [Row(lat=19.0, lon=-99.0), Row(lat=None, lon=-99.0), Row(lat=19.0, lon=None),
         Row(lat=nan, lon=-99.0), Row(lat=inf, lon=-99.0), Row(lat=19.0, lon=-inf)],
        "lat double, lon double",
    )
    out = df.select(
        cell_of("lat", "lon", 7).alias("cell")
    ).collect()
    assert out[0]["cell"] is not None
    # NULL, NaN and +-inf coordinates have no cell: NULL out, no crash
    assert all(r["cell"] is None for r in out[1:]), out

    cells = spark.createDataFrame(
        [Row(a="g7:1:1", b="g7:2:2"), Row(a=None, b="g7:2:2")]
    )
    got = cells.select(
        grid_distance("a", "b").alias("d"), k_ring("a", 1).alias("ring")
    ).collect()
    assert got[0]["d"] == 1 and len(got[0]["ring"]) == 9
    assert got[1]["d"] is None and got[1]["ring"] is None
