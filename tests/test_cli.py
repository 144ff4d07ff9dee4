"""CLI driver smoke: the staged NetworkBuilder-shaped entry point
(cli.py) runs end-to-end on the sf0.001 demo derivation and leaves the
reference's side_results-shaped IR behind."""

from __future__ import annotations

import json
import os

import pytest

from epiteam_network_etl_functions_spark import cli
from conftest import PARITY_SF_DIR


def _args(out: str, extra: list[str] | None = None):
    return cli.build_parser().parse_args(
        [
            "all",
            "--sf-dir",
            PARITY_SF_DIR,
            "--out",
            out,
            "--bucket-seconds",
            "86400",
            "--impute-rounds",
            "2",
            "--scale",
            "120",
            "--seeds",
            "2",
            "--t-max",
            "10",
        ]
        + (extra or [])
    )


# gen_tables on the demo ran 39-40 jobs when this budget was set (151
# when every consumer re-ran the lazy lineage); about 1.5x the measured
# count, so a reintroduced recompute fails here as a count, not as noise.
GEN_TABLES_JOB_BUDGET = 60
# prob_matrix on the same inputs ran 8 jobs when this budget was set (9
# when it localCheckpointed the homes IR it had just read back).
PROB_MATRIX_JOB_BUDGET = 8
# corpus_stage on the same inputs ran 58-59 jobs when this budget was set
# (63-64 when the funnel counted the stage boundaries itself, 96-98 with
# min-label propagation components, 180 when the funnel re-ran the whole
# corpus pipeline); the 14-job margin of the earlier 80-job budget.
CORPUS_STAGE_JOB_BUDGET = 73


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    """One in-process chain on the demo inputs (tables and probs handed
    forward), with the job counts of its gen_tables and prob_matrix
    stages."""
    out = str(tmp_path_factory.mktemp("chain"))
    args = _args(out)
    sc = spark.sparkContext

    def counted(group, fn, *fn_args):
        sc.setJobGroup(group, f"{group} job budget")
        try:
            result = fn(*fn_args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    tables, jobs = counted("test-cli-gen-tables", cli.gen_tables, spark, args)
    probs, prob_jobs = counted("test-cli-prob-matrix", cli.prob_matrix, spark, args, tables)
    nodes, edges = cli.build_network(spark, args, tables, probs)
    return {"args": args, "tables": tables, "probs": probs, "nodes": nodes,
            "edges": edges, "gen_tables_jobs": jobs, "prob_matrix_jobs": prob_jobs}


def _rows(path: str) -> list[tuple]:
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    return sorted(zip(*(table.column(c).to_pylist() for c in sorted(table.column_names))))


def test_cli_stages_end_to_end(spark, chain):
    args, tables, probs = chain["args"], chain["tables"], chain["probs"]
    out = args.out
    homes = tables["homes"]
    assert set(homes.columns) >= {"caid", "home_ageb"}
    assert homes.count() > 0
    for name in ("homes.parquet", "interactions.parquet", "located.parquet"):
        assert os.path.exists(os.path.join(out, name))

    assert set(probs.columns) == {
        "a_home_ageb", "b_home_ageb", "total_pairs", "observed", "prob"
    }
    labels = json.load(open(os.path.join(out, "probs_labels.json")))
    assert len(labels) > 0
    assert os.path.exists(os.path.join(out, "probs_matrix.npy"))

    nodes, edges = chain["nodes"], chain["edges"]
    assert nodes.count() == 120  # scale honored exactly (sizes sum assert)
    assert os.path.exists(os.path.join(out, "network.graphml"))

    cli.seir_sweep(spark, args, nodes, edges)
    traj = os.path.join(out, "seir_trajectories.csv")
    assert os.path.exists(traj)
    with open(traj) as f:
        header = f.readline().strip()
    assert header == "seed,t,S,E,I,R"
    assert os.path.exists(os.path.join(out, "seir_results.pickle"))


def test_cli_graphml_cap_skips_sink(spark, chain, tmp_path):
    """--graphml-max-edges 0 skips the driver-streamed XML sink but still
    writes the parquet IR (the scale artifact)."""
    out = str(tmp_path / "run_cap")
    os.makedirs(out)
    args = _args(out, ["--graphml-max-edges", "0"])
    nodes, edges = cli.build_network(spark, args, chain["tables"], chain["probs"])
    assert not os.path.exists(os.path.join(out, "network.graphml"))
    assert os.path.exists(os.path.join(out, "network_edges.parquet"))
    assert nodes.count() == 120


def test_cli_seir_distributed_switch(spark, chain, tmp_path):
    """Forcing --seir-max-collect-edges below the demo network's edge
    count routes the sweep through the distributed discrete-time kernel;
    output artifacts keep the same shape (seed column, per-t stats)."""
    import csv

    out = str(tmp_path / "run_dist")
    os.makedirs(out)
    args = _args(out, ["--seir-max-collect-edges", "1"])
    nodes, edges = cli.build_network(spark, args, chain["tables"], chain["probs"])
    cli.seir_sweep(spark, args, nodes, edges)
    with open(os.path.join(out, "seir_trajectories.csv")) as f:
        rows = list(csv.DictReader(f))
    assert {r["seed"] for r in rows} == {"0", "1"}
    # discrete kernel: integer-valued t, conservation per row
    for r in rows:
        assert float(r["t"]) == int(float(r["t"]))
        assert int(r["S"]) + int(r["E"]) + int(r["I"]) + int(r["R"]) == 120
    with open(os.path.join(out, "seir_stats.csv")) as f:
        assert f.readline().strip() == "t,avg_I,std_I,n_runs"


def test_cli_seir_ignores_edge_row_order(spark, tmp_path):
    """The Gillespie sweep draws one weight per edge-list position, so one
    network whose edge parquet comes back in another row order must give
    the same trajectories."""
    import random

    rng = random.Random(5)
    pairs = sorted({tuple(sorted(rng.sample(range(60), 2))) for _ in range(150)})
    nodes = spark.range(60).withColumnRenamed("id", "node_id")
    written = []
    for tag, order in (("fwd", pairs), ("rev", pairs[::-1])):
        out = str(tmp_path / tag)
        os.makedirs(out)
        edges = spark.createDataFrame(order, "a_node long, b_node long")
        cli.seir_sweep(spark, _args(out, ["--t-max", "30"]), nodes, edges)
        with open(os.path.join(out, "seir_trajectories.csv")) as f:
            written.append(f.read())
    assert written[0] == written[1]


def test_cli_stage_restart_reads_prior_ir(spark, chain, tmp_path):
    """A later stage in a fresh invocation reuses the parquet IR, and the
    restart writes exactly what the in-process chain (tables and probs
    handed forward) writes."""
    out = str(tmp_path / "run2")
    os.makedirs(out)
    args = _args(out)
    cli.gen_tables(spark, args)
    # no in-memory tables passed: must read homes/interactions from disk
    probs = cli.prob_matrix(spark, args, None)
    assert probs.count() > 0
    cli.build_network(spark, args, None, None)
    for name in ("homes", "interactions", "contact_probs", "network_edges"):
        want = _rows(os.path.join(chain["args"].out, f"{name}.parquet"))
        assert _rows(os.path.join(out, f"{name}.parquet")) == want, name
        assert want, name
    cli.rg_stage(spark, args, None)
    with open(os.path.join(out, "rg_by_mun.csv")) as f:
        assert f.readline().strip() == "cve_mun,avg_rg,std_rg,n_devices"


def test_cli_restart_names_missing_stage(spark, tmp_path, monkeypatch):
    """A stage whose prior IR is missing exits with the flag of the stage
    that writes it, not with a Spark path error."""
    out = str(tmp_path / "empty")
    monkeypatch.setattr(cli, "get_session", lambda name: spark)
    with pytest.raises(SystemExit, match="--build-network"):
        cli.main(["all", "--out", out, "--seir"])


def test_gen_tables_job_budget(chain):
    """Every gen_tables intermediate is computed once: the stage's job
    count stays within a budget measured on the same demo inputs."""
    assert 0 < chain["gen_tables_jobs"] <= GEN_TABLES_JOB_BUDGET, chain["gen_tables_jobs"]


def test_prob_matrix_job_budget(chain):
    """prob_matrix reads the homes IR as it is, with no checkpoint job of
    its own: its job count stays within the count measured on the same
    demo inputs."""
    assert 0 < chain["prob_matrix_jobs"] <= PROB_MATRIX_JOB_BUDGET, chain["prob_matrix_jobs"]


def test_cli_quality_gate_failure_leaves_no_ir(spark, tmp_path):
    """--quality-gate checks the gen-tables IR as read back; a failure
    raises and deletes that IR, so no restart can reuse it."""
    import datetime as dt

    from epiteam_network_etl_functions_spark.plans.mobility import with_cells

    rows = [
        (caid, dt.datetime(2024, 3, 2, 23, minute), 19.4 + 1e-5 * i, -99.15, 150.0)
        for i, caid in enumerate(("a", "b"))
        for minute in (0, 20, 40)
    ]
    pings = spark.createDataFrame(
        rows,
        "caid string, cdmx_datetime timestamp, latitude double, "
        "longitude double, horizontal_accuracy double",
    )
    pings_path, dim_path = str(tmp_path / "pings"), str(tmp_path / "dim")
    pings.write.parquet(pings_path)
    # every realized cell maps to a code that is not 13 digits
    with_cells(pings, out_col="cell").selectExpr(
        "cell", "'BAD-GEO' AS cve_geo"
    ).distinct().write.parquet(dim_path)
    out = str(tmp_path / "gated")
    os.makedirs(out)
    args = cli.build_parser().parse_args(
        ["all", "--pings", pings_path, "--dim", dim_path, "--out", out,
         "--quality-gate"]
    )
    with pytest.raises(ValueError, match="home_ageb"):
        cli.gen_tables(spark, args)
    for name in ("homes", "interactions", "located"):
        assert not os.path.exists(os.path.join(out, f"{name}.parquet")), name


def test_cli_corpus_stage(spark, tmp_path):
    out = str(tmp_path / "corpus_run")
    os.makedirs(out)
    args = _args(out, ["--corpus", "--corpus-shards", "2"])
    sc = spark.sparkContext
    sc.setJobGroup("test-cli-corpus", "corpus_stage job budget")
    try:
        cli.corpus_stage(spark, args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # each stage boundary is computed once, the funnel included
    jobs = len(sc.statusTracker().getJobIdsForGroup("test-cli-corpus"))
    assert 0 < jobs <= CORPUS_STAGE_JOB_BUDGET, jobs
    # stage IR: gzip JSONL shards, packed bins parquet, funnel CSV
    shard_dir = os.path.join(out, "corpus_shards")
    assert spark.read.json(shard_dir).count() > 0
    packed = spark.read.parquet(os.path.join(out, "corpus_packed.parquet"))
    assert set(packed.columns) == {"doc_id", "n_tokens", "bin_id"}
    with open(os.path.join(out, "corpus_funnel.csv")) as f:
        lines = f.read().strip().splitlines()
    assert lines[0].split(",")[:2] == ["stage_id", "stage"]
    assert len(lines) == 6  # header + 5 stages
