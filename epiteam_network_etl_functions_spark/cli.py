"""Staged CLI driver — the reference's primary user surface re-expressed.

The reference is driven as ``python NetworkBuilder.py 2020-02-04
--gen_tables --prob_matrix --build_network --scale 10000 --iterative 99``
(NetworkBuilder.py:483-546, click flags) plus a SimulationManager seed
sweep (SimulationManager.py:227-371). This module is the same workflow
over the Spark plans:

    python -m epiteam_network_etl_functions_spark.cli 2024-03-02 \\
        --sf-dir /root/testdata/sf0.001 --out /tmp/run \\
        --gen-tables --prob-matrix --build-network --scale 500 \\
        --seir --seeds 8

Stages are restartable exactly like the reference's ``side_results/``
pattern: each stage writes parquet/npy/GraphML into ``--out`` and later
stages re-read those files when run in a separate invocation
(NetworkBuilder.py:264-284 stage graph; the IR between stages is files).
The same rule holds inside one invocation: a stage continues from its IR
read back, never from the lazy plan that wrote it, so every intermediate
is computed exactly once however many consumers it has.

Input is either a real pings parquet (``--pings`` with columns caid,
cdmx_datetime, latitude, longitude, horizontal_accuracy, plus ``--dim``
with (cell, cve_geo)) or ``--sf-dir`` demo mode, which derives a
pings-shaped table from the synthetic events fixture the same way the
oracle-checked pings workload does.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession, functions as F

from .constants import SENTINEL_AGEB_13
from .operators.colocation import colocation_edges
from .operators.components import connected_components
from .operators.contacts import group_sizes
from .operators.graphs import (
    sample_nodes,
    sbm_edges,
    sbm_edges_binomial,
    scale_sizes,
    write_graphml,
)
from .operators.seir import run_gillespie_sweep, trajectory_stats
from .operators.timebucket import with_time_bucket
from .plans.contact_matrix import contact_prob_table, probs_to_matrix
from .plans.mobility import (
    daily_home_winners,
    extract_day,
    impute_neighbour_frequency,
    locate_homes,
    locate_pings,
    night_presence_scores,
    with_cells,
)
from .session import get_session
from .sources.io import write_matrix_npy, write_pickle


def _load_inputs(
    spark: SparkSession, args: argparse.Namespace
) -> tuple[DataFrame, DataFrame, object]:
    """(pings, cell->region dim, cell expression) from --pings/--dim or
    --sf-dir demo derivation. Real inputs take hexgrid's cell (None); the
    demo dim is keyed by the pings workload's res-9 square cells."""
    if args.pings:
        if not args.dim:
            sys.exit("--pings requires --dim (a (cell, cve_geo) parquet)")
        return spark.read.parquet(args.pings), spark.read.parquet(args.dim), None
    from .functions.squaregrid import cell_sql
    from .workload.pings import RES, _dim, _pings

    return (
        _pings(spark, args.sf_dir),
        _dim(spark, args.sf_dir),
        F.expr(cell_sql(RES)),
    )


def _out(args: argparse.Namespace, name: str) -> str:
    return os.path.join(args.out, name)


def _write_ir(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Materialize one stage IR and continue from the parquet read back.
    Pinning the schema skips the footer-inference job of a plain read."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


# the stage flag whose run writes each restartable IR table
_IR_STAGE = {
    "located": "--gen-tables",
    "interactions": "--gen-tables",
    "homes": "--gen-tables",
    "contact_probs": "--prob-matrix",
    "network_nodes": "--build-network",
    "network_edges": "--build-network",
}


def _read_ir(spark: SparkSession, args: argparse.Namespace, name: str) -> DataFrame:
    """Stage IR a previous invocation left behind."""
    path = _out(args, f"{name}.parquet")
    if not os.path.exists(path):
        sys.exit(f"no {path}: run {_IR_STAGE[name]} first")
    print(f"# {name}: reusing {path}", file=sys.stderr)
    return spark.read.parquet(path)


def gen_tables(spark, args) -> dict[str, DataFrame]:
    """Stage 1 (NetworkBuilder.get_tables): located pings -> interactions
    -> homes; writes located/interactions/homes parquet and returns them
    read back."""
    pings, dim, cell_expr = _load_inputs(spark, args)
    if args.day == "all":
        # multi-day run (S3 trusted-range shape): accuracy gate only
        sliced = pings.where(F.col("horizontal_accuracy") >= args.min_accuracy)
    else:
        sliced = extract_day(pings, args.day, min_accuracy=args.min_accuracy)
    day = with_cells(sliced, out_col="h3index_15", cell_expr=cell_expr)
    paths = {n: _out(args, f"{n}.parquet") for n in ("located", "interactions", "homes")}
    located = _write_ir(spark, locate_pings(day, dim), paths["located"])
    # Co-location reads only (caid, cell, tw) and dedups presence, so it
    # needs no home attached (a left join cannot move min(ts) either).
    bucketed = with_time_bucket(located, "cdmx_datetime", args.bucket_seconds)
    interactions = _write_ir(
        spark,
        colocation_edges(bucketed, id_col="caid", cell_col="h3index_15", tw_col="tw"),
        paths["interactions"],
    )
    scores = night_presence_scores(located, bucket_seconds=args.bucket_seconds)
    winners = daily_home_winners(scores)
    homes = locate_homes(
        winners.withColumnRenamed("home_cell", "h3index_15"), dim, "h3index_15"
    ).select("caid", "home_ageb", "score", "confidence")
    if args.impute_rounds > 0:
        comp = connected_components(interactions, a_col="a_caid", b_col="b_caid")
        homes = impute_neighbour_frequency(homes, comp)
    homes = _write_ir(spark, homes, paths["homes"])
    if args.quality_gate:
        # Declarative stage gate (the reference's logged sanity counts,
        # SURVEY.md §5, as enforced invariants): one agg pass per table,
        # over the IR exactly as later stages and restarts will read it.
        from .operators.quality import assert_rules, matches, not_null, unique

        try:
            assert_rules(homes, [unique("caid"), not_null("home_ageb"),
                                 matches("home_ageb", "^[0-9]{13}$")])
            assert_rules(interactions, [not_null("a_caid"), not_null("b_caid")])
        except Exception:
            # IR that did not pass the gate, for whatever reason, must not
            # survive for a restart to reuse
            for path in paths.values():
                shutil.rmtree(path, ignore_errors=True)
            raise
        print("# gen-tables: quality gate passed (homes unique/13-char, "
              "interactions non-null)", file=sys.stderr)
    print(f"# gen-tables: wrote located/interactions/homes under {args.out}",
          file=sys.stderr)
    return {"located": located, "homes": homes, "interactions": interactions}


def prob_matrix(spark, args, tables: dict | None) -> DataFrame:
    """Stage 2 (get_total_vs_observed + get_probs_matrix): long probs table
    + dense .npy matrix."""
    if tables:
        interactions, homes = tables["interactions"], tables["homes"]
    else:
        homes = _read_ir(spark, args, "homes")
        interactions = _read_ir(spark, args, "interactions")
    # The interactions IR is the co-location join's output in (least,
    # greatest) form; both directions of it are exactly the distinct
    # ordered pairs, so the self-join over located never runs twice.
    pairs = interactions.select("a_caid", "b_caid").unionByName(
        interactions.select(
            F.col("b_caid").alias("a_caid"), F.col("a_caid").alias("b_caid")
        )
    )
    # contact_prob_table attaches homes itself (via observed_contacts); a
    # pre-join here would be a pure wasted shuffle.
    probs = contact_prob_table(pairs, homes.select("caid", "home_ageb"))
    probs = _write_ir(spark, probs, _out(args, "contact_probs.parquet"))
    labels, matrix = probs_to_matrix(probs, "a_home_ageb", "b_home_ageb")
    write_matrix_npy(_out(args, "probs_matrix.npy"), matrix)
    with open(_out(args, "probs_labels.json"), "w") as f:
        json.dump(labels, f)
    print(f"# prob-matrix: {len(labels)}x{len(labels)} matrix", file=sys.stderr)
    return probs


def build_network(spark, args, tables: dict | None, probs: DataFrame | None):
    """Stage 3 (build_network): scale block sizes, SBM edge sampling,
    GraphML export."""
    homes = tables["homes"] if tables else _read_ir(spark, args, "homes")
    if probs is None:
        probs = _read_ir(spark, args, "contact_probs")
    sizes = {
        r["home_ageb"]: r["size"]
        for r in group_sizes(homes, block_col="home_ageb", id_col="caid").collect()
    }
    scaled = scale_sizes(sizes, max(args.scale, len(sizes)))
    prob_table = probs.selectExpr(
        "a_home_ageb AS a_block", "b_home_ageb AS b_block", "prob"
    )
    nodes = sample_nodes(scaled, spark)
    if sum(scaled.values()) > 50_000:
        # beyond the n² candidate-join regime: binomial per-chunk counts —
        # identical layout and edge distribution, output-sized work,
        # O(n_blocks) driver state
        edges = sbm_edges_binomial(scaled, prob_table, spark, seed=args.seed)
    else:
        edges = sbm_edges(nodes, prob_table, seed=args.seed)
    # Downstream consumers read the materialized IR back — the SBM cross
    # join must run once, not once per consumer (side_results semantics).
    edges = _write_ir(spark, edges, _out(args, "network_edges.parquet"))
    nodes = _write_ir(spark, nodes, _out(args, "network_nodes.parquet"))
    n_edges = edges.count()
    if n_edges <= args.graphml_max_edges:
        stats = write_graphml(
            _out(args, "network.graphml"),
            edges,
            nodes=nodes,
            id_col="node_id",
            attr_cols=["block"],
        )
        print(f"# build-network: {stats['nodes']} nodes / {stats['edges']} edges",
              file=sys.stderr)
    else:
        # GraphML is one driver-streamed XML document; at tens of millions
        # of edges that is GBs of text and minutes of wall. The parquet IR
        # above is the scale artifact — consumers join it directly.
        print(
            f"# build-network: {nodes.count()} nodes / {n_edges} edges — "
            f"skipping GraphML (> --graphml-max-edges="
            f"{args.graphml_max_edges}); network_edges.parquet is the IR",
            file=sys.stderr,
        )
    return nodes, edges


def seir_sweep(spark, args, nodes: DataFrame | None, edges: DataFrame | None):
    """Stage 4 (SimulationManager seed sweep): one continuous-time Gillespie
    run per seed, fanned out with parallelize; CSV trajectories + per-t
    stats + pickled results, matching seir_utils.py:84-140 /
    SimulationManager.py:239-240 output shapes.

    Above --seir-max-collect-edges the edge list no longer fits a driver
    collect (the reference's own regime never exceeds ~10⁴ nodes); the
    sweep switches to the distributed discrete-time kernel
    (plans/seir_distributed), one cluster-parallel run per seed, with
    rates converted to per-step probabilities p = 1 - exp(-rate)
    (divergence quantified in DETERMINISM.md §8)."""
    if nodes is None:
        nodes = _read_ir(spark, args, "network_nodes")
        edges = _read_ir(spark, args, "network_edges")
    n_nodes = nodes.count()
    n_edges = edges.count()
    if n_edges > args.seir_max_collect_edges:
        import math
        from functools import reduce

        from .plans.seir_distributed import distributed_seir

        bp = 1.0 - math.exp(-args.beta)
        sp = 1.0 - math.exp(-args.sigma)
        gp = 1.0 - math.exp(-args.gamma)
        runs = [
            distributed_seir(
                spark, nodes, edges,
                beta=bp, sigma=sp, gamma=gp, seed=s,
                t_max=int(args.t_max),
                initial_infected=args.initial_infected,
            ).select(
                F.lit(s).alias("seed"),
                F.col("t").cast("double").alias("t"),
                "S", "E", "I", "R",
            )
            for s in range(args.seeds)
        ]
        traj = reduce(lambda a, b: a.unionByName(b), runs).cache()
        print(f"# seir: distributed discrete-time kernel ({n_edges} edges "
              f"> --seir-max-collect-edges={args.seir_max_collect_edges})",
              file=sys.stderr)
    else:
        # sorted: the per-edge Gillespie weights are drawn by list
        # position, so the trajectories must not depend on file row order
        edge_list = sorted(
            (r["a_node"], r["b_node"])
            for r in edges.select("a_node", "b_node").collect()
        )
        traj = run_gillespie_sweep(
            spark,
            n_nodes,
            edge_list,
            seeds=list(range(args.seeds)),
            weighted=True,
            beta=args.beta,
            sigma=args.sigma,
            gamma=args.gamma,
            t_max=args.t_max,
            initial_infected=args.initial_infected,
        ).cache()
    traj.toPandas().to_csv(_out(args, "seir_trajectories.csv"), index=False)
    trajectory_stats(traj).toPandas().to_csv(
        _out(args, "seir_stats.csv"), index=False
    )
    traj.unpersist()
    write_pickle(
        _out(args, "seir_results.pickle"),
        {"n_nodes": n_nodes, "n_edges": n_edges, "seeds": args.seeds},
    )
    print(f"# seir: {args.seeds} seeds over {n_nodes} nodes", file=sys.stderr)


def rg_stage(spark, args, tables: dict | None) -> None:
    """Radius-of-gyration stage (RadiusOfGyrationHandler.py:134-279 +
    RGAggregatorByMun.py:75-104): per-device grid-hop RG over located
    pings, then the municipal AVG/STDDEV rollup keyed by the home code's
    5-char municipality prefix."""
    from .plans.gyration import device_rg, rg_rollup

    if tables:
        located, homes = tables["located"], tables["homes"]
    else:
        located = _read_ir(spark, args, "located")
        homes = _read_ir(spark, args, "homes")
    rgs = _write_ir(
        spark,
        device_rg(located, id_col="caid", cell_col="h3index_15"),
        _out(args, "device_rg.parquet"),
    )
    # Devices whose home stayed the 13-char sentinel (unlocatable /
    # imputation miss) must not roll up into a phantom "00000" municipality
    # — the reference rollup keys on real cve_mun membership.
    membership = homes.where(F.col("home_ageb") != SENTINEL_AGEB_13).select(
        "caid", F.substring("home_ageb", 1, 5).alias("cve_mun")
    )
    rg_rollup(rgs, membership).toPandas().to_csv(
        _out(args, "rg_by_mun.csv"), index=False
    )
    print("# rg: device_rg.parquet + rg_by_mun.csv", file=sys.stderr)


def corpus_stage(spark, args) -> None:
    """LLM-corpus preparation stage (plans/corpus_pipeline): quality gates
    -> exact dedup -> fuzzy dedup -> decontamination -> packing -> JSONL
    shards, plus the per-stage funnel report — the training-data product
    the engine adds beyond the reference's mobility arc. Documents below
    --bench-max-id stand in for the benchmark/eval set (the same split
    convention the certified corpus_funnel query uses)."""
    from . import catalog
    from .plans.corpus_pipeline import (
        CorpusConfig,
        corpus_funnel,
        run_corpus_pipeline,
    )

    docs = catalog.load(spark, args.sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") >= args.bench_max_id)
    bench = docs.where(F.col("doc_id") < args.bench_max_id)
    res = run_corpus_pipeline(
        corpus,
        bench,
        CorpusConfig(),
        out_dir=_out(args, "corpus_shards"),
        shards=args.corpus_shards,
    )
    res.packed.write.mode("overwrite").parquet(_out(args, "corpus_packed.parquet"))
    # the funnel reads the counts this run already observed
    corpus_funnel(res).toPandas().to_csv(
        _out(args, "corpus_funnel.csv"), index=False
    )
    print(
        "# corpus: corpus_shards/ + corpus_packed.parquet + corpus_funnel.csv",
        file=sys.stderr,
    )


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="epiteam-etl-spark",
        description="Staged mobility->network->SEIR pipeline driver",
    )
    p.add_argument(
        "day",
        help="day slice YYYY-MM-DD, or 'all' for a multi-day run. The "
        "synthetic demo data is deliberately sparse per (cell, 10-min "
        "bucket); for a live demo network use: all --bucket-seconds 86400",
    )
    src = p.add_argument_group("input")
    src.add_argument("--pings", help="pings parquet path")
    src.add_argument("--dim", help="(cell, cve_geo) dimension parquet path")
    src.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="testdata dir for demo-mode derived pings (default sf0.001)",
    )
    p.add_argument("--out", required=True, help="output dir (stage IR lives here)")
    st = p.add_argument_group("stages")
    st.add_argument("--gen-tables", action="store_true")
    st.add_argument("--prob-matrix", action="store_true")
    st.add_argument("--build-network", action="store_true")
    st.add_argument("--seir", action="store_true")
    st.add_argument("--rg", action="store_true",
                    help="radius-of-gyration + municipal rollup stage")
    st.add_argument("--corpus", action="store_true",
                    help="LLM-corpus preparation stage (gates -> dedup -> "
                         "decontaminate -> pack -> JSONL shards + funnel)")
    p.add_argument("--bench-max-id", type=int, default=20,
                   help="documents below this doc_id form the benchmark "
                        "set for decontamination")
    p.add_argument("--corpus-shards", type=int, default=8)
    p.add_argument("--min-accuracy", type=float, default=100.0)
    p.add_argument("--quality-gate", action="store_true",
                   help="enforce stage invariants (operators/quality) on "
                        "the gen-tables IR as read back; a failure deletes "
                        "that IR before raising")
    p.add_argument("--bucket-seconds", type=int, default=600)
    p.add_argument("--impute-rounds", type=int, default=6,
                   help="neighbour-frequency imputation; 0 disables it, and "
                        "one round already reaches the fixpoint (any "
                        "positive value gives the same homes)")
    p.add_argument("--scale", type=int, default=1000, help="network node count")
    p.add_argument(
        "--graphml-max-edges", type=int, default=5_000_000,
        help="skip the driver-streamed GraphML sink above this edge count "
        "(the parquet IR is always written)",
    )
    p.add_argument(
        "--seir-max-collect-edges", type=int, default=2_000_000,
        help="above this edge count the SEIR sweep switches from the "
        "driver-collected Gillespie fan-out to the distributed "
        "discrete-time kernel (p = 1 - exp(-rate))",
    )
    p.add_argument("--seed", type=int, default=3696)
    p.add_argument("--seeds", type=int, default=10, help="SEIR seed-sweep width")
    p.add_argument("--beta", type=float, default=0.3, help="S->E transmission rate")
    p.add_argument("--sigma", type=float, default=0.4, help="E->I rate")
    p.add_argument("--gamma", type=float, default=0.2, help="I->R rate")
    p.add_argument("--t-max", type=float, default=60.0)
    p.add_argument(
        "--initial-infected", type=int, default=5,
        help="index cases (lowest node ids; node 0 alone can be isolated)",
    )
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    if not (args.gen_tables or args.prob_matrix or args.build_network
            or args.seir or args.rg or args.corpus):
        sys.exit("nothing to do: pass at least one of --gen-tables --prob-matrix "
                 "--build-network --seir --rg --corpus")
    os.makedirs(args.out, exist_ok=True)
    spark = get_session("epiteam-etl-spark-cli")
    tables = gen_tables(spark, args) if args.gen_tables else None
    probs = prob_matrix(spark, args, tables) if args.prob_matrix else None
    nodes = edges = None
    if args.build_network:
        nodes, edges = build_network(spark, args, tables, probs)
    if args.seir:
        seir_sweep(spark, args, nodes, edges)
    if args.rg:
        rg_stage(spark, args, tables)
    if args.corpus:
        corpus_stage(spark, args)
    spark.stop()


if __name__ == "__main__":
    main()
