#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the mobility chain and the query mix.

    python3 perfbench/run.py --workload mobility_chain --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run is a closed loop with one client:
one ``get_session()`` at ``local[<cores>]``, then sequential calls into the
package's public entry points. Inputs are generated from ``--seed`` into a
scratch directory under ``.bench_build/`` and deleted afterwards.

* ``mobility_chain``: ``cli.gen_tables -> prob_matrix -> build_network ->
  seir_sweep -> rg_stage`` over generated ``--pings``/``--dim`` files.
* ``query_mix``: twelve ``bench.BENCH_QUERIES`` queries (``MIX_QUERIES``),
  rebuilt and counted after ``clearCache()``, over a seeded replica of the
  registry tables. Traced runs add one ``cli.corpus_stage`` over the
  replica's documents after the passes, for the ``corpus_stage`` layer.

Iterations (one chain, or one pass over the query set) repeat until
``--seconds`` have passed. The mix's first two passes warm up; ``wall_s`` is
the median of the passes after them. The chain times only its first iteration
(see ``mobility_chain``). Every operation's output is checked; an operation that
raises or fails its check counts in ``failed`` and its traceback goes to
stderr.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log (through ``PYSPARK_SUBMIT_ARGS``, no other session conf
changes) and the pandas-UDF perf profiler, and reports the per-layer
metrics, attributed by job group to each call. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

from layers import COUNTERS, EventLog, RssSampler, Span, event_files

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
APP = "epiteam-etl-spark-perfbench"
CHAIN_STAGES = ("gen_tables", "prob_matrix", "build_network", "seir_sweep", "rg_stage")
UDF_STAGES = ("gen_tables", "prob_matrix")
SCALE = 600
CHAIN_FLAGS = ["--scale", str(SCALE), "--impute-rounds", "2", "--seeds", "2", "--t-max", "20"]
# Passes 0 and 1 warm up: pass 1 still ran ~15 % slower than the passes
# after it (JIT, codegen, Python workers).
MIX_WARMUP_PASSES = 2
# One or two queries per family of bench.BENCH_QUERIES: co-location and
# contact matrix, TPC-H, temporal, pings homes and RG, dedup, text.
MIX_QUERIES = [
    "colocation_pairs", "contact_probs", "radius_of_gyration",
    "region_nation_revenue",
    "user_sessions", "overlap_windows_events",
    "pings_daily_homes", "pings_device_rg",
    "minhash_signatures", "near_dup_pairs",
    "doc_token_stats", "tfidf_top_terms",
]


def per_layer_units() -> dict[str, str]:
    def unit(metric: str) -> str:
        return "s" if metric.endswith("_s") else "MB" if metric.endswith("_mb") else "count"

    names = ["session.start_s", "session.first_job_s", "process.peak_rss_mb",
             "iteration.wall_s", "iteration.other_s"]
    for stage in CHAIN_STAGES + ("corpus_stage",):
        names += [f"{stage}.wall_s", f"{stage}.driver_s"] + [f"{stage}.{c}" for c in COUNTERS]
        if stage in UDF_STAGES:
            names.append(f"{stage}.python_udf_s")
    names += ["workload.build_s", "workload.action_s"] + [f"workload.{c}" for c in COUNTERS]
    names += ["sources.out_bytes_per_in_byte", "sources.files_written"]
    units = {n: unit(n) for n in names}
    units["sources.out_bytes_per_in_byte"] = "ratio"
    return units


class Run:
    """State of one benchmark run: spans, per-iteration samples, failures."""

    def __init__(self, work: Path, trace: bool) -> None:
        self.work = work
        self.trace = trace
        self.spans: list = []
        self.attempted = 0
        self.failures: list[str] = []
        # measured calls by job-group tag: "it<n>" iterations, "corpus"
        self.samples: dict[str, dict[str, float]] = {}
        self.spark = None

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failures.append(what)
        print(f"# FAILED {what}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def call(self, group: str, fn, *args):
        """One traced operation: job group + wall-clock span around ``fn``."""
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.time()
        try:
            return fn(*args)
        finally:
            self.spans.append(Span(group, t0, time.time()))
            self.spark.sparkContext.setJobGroup("perfbench:idle", "untimed")


# ---- set-up ---------------------------------------------------------------------


def configure_env(work: Path, workload: str, trace: bool) -> None:
    for sub in ("local", "tmp", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    env = os.environ
    # Python workers import the package (hexgrid UDF, Gillespie fan-out)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")]))
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # get_session's heap knob: the inputs are a few MB, and the host is shared
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    env["TMPDIR"] = str(work / "tmp")
    # no hsperfdata file in /tmp: the run writes only inside the checkout
    env["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    if workload == "query_mix":
        # bench.py's profile rule for inputs under 1 GiB
        env["SPARK_GRAFT_SMALL_PROFILE"] = "1"
        env["SPARK_GRAFT_SHUFFLE"] = "4"
    if trace:
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{work / 'eventlog'} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )


def set_up(run: Run) -> dict[str, float]:
    """The one cold get_session() of the run (it launches the JVM) plus a
    first trivial job: what every CLI invocation pays before its stages."""
    from epiteam_network_etl_functions_spark.session import get_session

    t0 = time.perf_counter()
    run.spark = get_session(APP)
    t1 = time.perf_counter()
    run.spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    return {"setup_s": t2 - t0, "session.start_s": t1 - t0, "session.first_job_s": t2 - t1}


# ---- mobility chain -------------------------------------------------------------


def _dir_stats(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, name))
                files += 1
    return size, files


def check_chain(out: str) -> tuple[list[str], str]:
    """Output checks of one chain iteration; returns (problems, fingerprint)."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    problems = []
    homes = pq.read_table(os.path.join(out, "homes.parquet")).to_pandas()
    if homes["caid"].duplicated().any():
        problems.append("homes: caid not unique")
    if not homes["home_ageb"].str.len().eq(13).all():
        problems.append("homes: home_ageb not 13 characters")
    nodes = pq.read_table(os.path.join(out, "network_nodes.parquet")).to_pandas()
    edges = pq.read_table(os.path.join(out, "network_edges.parquet")).to_pandas()
    if len(nodes) != SCALE:
        problems.append(f"network: {len(nodes)} nodes, --scale {SCALE}")
    if len(edges) < len(nodes):
        problems.append(f"network: {len(edges)} SBM edges < {len(nodes)} nodes")
    traj = pd.read_csv(os.path.join(out, "seir_trajectories.csv"))
    if traj.empty or not (traj[["S", "E", "I", "R"]].sum(axis=1) == len(nodes)).all():
        problems.append("seir: S+E+I+R != node count")
    rg = pd.read_csv(os.path.join(out, "rg_by_mun.csv"))
    if rg.empty:
        problems.append("rg: empty municipal rollup")

    h = hashlib.sha256()
    for frame in (
        homes[["caid", "home_ageb"]].sort_values("caid"),
        nodes.sort_values(list(nodes.columns)),
        edges.sort_values(list(edges.columns)),
        traj.round(9),
        rg.sort_values(list(rg.columns)).round(9),
    ):
        h.update(pd.util.hash_pandas_object(frame, index=False).values.tobytes())
    h.update(np.loadtxt(os.path.join(out, "probs_matrix.npy")).round(12).tobytes())
    return problems, h.hexdigest()


def mobility_chain(run: Run, seed: int, seconds: float) -> int:
    """Chain iterations over generated pings; returns the input rows."""
    from epiteam_network_etl_functions_spark import cli

    import inputs

    data = run.work / "inputs"
    info = inputs.write_pings(run.spark, str(data), seed)
    in_bytes = sum(os.path.getsize(p) for p in glob.glob(str(data / "*.parquet")))
    rows = info["pings_rows"] + info["dim_rows"]
    print(f"# inputs: {json.dumps(info)}", file=sys.stderr)
    if run.trace:
        run.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    # Only the first chain is timed. Set-up and input generation (a hexgrid
    # UDF job) have started the JVM, the session and the Python workers, so
    # it is what one CLI invocation pays; a warm-up chain would add ~40 s to
    # a run that takes ~60 s on four cores. Later chains, while ``seconds``
    # last, only check that the outputs repeat.
    fingerprint = None
    deadline = time.perf_counter() + seconds
    it = 0
    while it == 0 or time.perf_counter() < deadline:
        run.spark.catalog.clearCache()  # a fresh CLI process holds no cache
        out = str(run.work / f"chain{it}")
        args = cli.build_parser().parse_args(
            [inputs.DAY, "--pings", str(data / "pings.parquet"),
             "--dim", str(data / "dim.parquet"), "--out", out] + CHAIN_FLAGS
        )
        os.makedirs(out)
        sample: dict[str, float] = {}
        state: dict = {}
        steps = {
            "gen_tables": lambda: state.update(tables=cli.gen_tables(run.spark, args)),
            "prob_matrix": lambda: state.update(
                probs=cli.prob_matrix(run.spark, args, state["tables"])),
            "build_network": lambda: state.update(network=cli.build_network(
                run.spark, args, state["tables"], state["probs"])),
            "seir_sweep": lambda: cli.seir_sweep(run.spark, args, *state["network"]),
            "rg_stage": lambda: cli.rg_stage(run.spark, args, state["tables"]),
        }
        ok = True
        t_iter = time.perf_counter()
        for stage in CHAIN_STAGES:
            if run.trace and stage in UDF_STAGES:
                run.spark.profile.clear(type="perf")
            t0 = time.perf_counter()
            run.attempted += 1
            try:
                run.call(f"it{it}:{stage}", steps[stage])
            except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
                run.fail(f"mobility_chain:{stage}", exc)
                ok = False
                break
            sample[f"{stage}.wall_s"] = time.perf_counter() - t0
            if run.trace and stage in UDF_STAGES:
                sample[f"{stage}.python_udf_s"] = _udf_seconds(run, f"udf{it}{stage}")
        wall = time.perf_counter() - t_iter

        if ok:
            run.attempted += 1  # the output check is an operation of its own
            try:
                problems, fp = check_chain(out)
            except Exception as exc:  # noqa: BLE001
                run.fail("mobility_chain:check", exc)
            else:
                if fingerprint is not None and fp != fingerprint:
                    problems.append("fingerprint differs from the first iteration")
                fingerprint = fingerprint or fp
                for p in problems:
                    run.fail(f"mobility_chain:check: {p}")
            out_bytes, files = _dir_stats(out)
            sample["sources.out_bytes_per_in_byte"] = out_bytes / in_bytes
            sample["sources.files_written"] = files
        sample["iteration.wall_s"] = wall
        sample["iteration.other_s"] = wall - sum(
            sample.get(f"{s}.wall_s", 0.0) for s in CHAIN_STAGES)
        shutil.rmtree(out, ignore_errors=True)
        print(f"# iteration {it}: {wall:.3f}s " + " ".join(
            f"{s}={sample.get(f'{s}.wall_s', float('nan')):.2f}" for s in CHAIN_STAGES),
            file=sys.stderr)
        if it == 0:
            run.samples[f"it{it}"] = sample
        it += 1
    print(f"# output fingerprint: {fingerprint}", file=sys.stderr)
    return rows


def _udf_seconds(run: Run, tag: str) -> float:
    import pstats

    path = run.work / "profiles" / tag
    run.spark.profile.dump(str(path), type="perf")
    return sum(pstats.Stats(str(p)).total_tt for p in path.glob("*.pstats"))


# ---- query mix ------------------------------------------------------------------


def oracle_counts(sf_dir: str, names: list[str]) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over the generated files."""
    import duckdb

    import __spark_entry__ as entry
    from epiteam_network_etl_functions_spark.catalog import TABLE_NAMES

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {
            q: con.execute(f"SELECT count(*) FROM ({sql[q].strip().rstrip(';')})").fetchone()[0]
            for q in names
        }
    finally:
        con.close()


def query_mix(run: Run, seed: int, seconds: float) -> int:
    """Passes over the sampled queries; returns the generated input rows."""
    import __spark_entry__ as entry

    import inputs

    sf_dir = str(run.work / "tables")
    table_rows = inputs.write_registry(sf_dir, seed)
    print(f"# inputs: {json.dumps(table_rows)}", file=sys.stderr)
    expected = oracle_counts(sf_dir, MIX_QUERIES)
    registry = entry.queries()
    mismatched: set[str] = set()
    detail: dict[str, tuple] = {}

    deadline = None
    it = 0
    while deadline is None or time.perf_counter() < deadline:
        sample = {"workload.build_s": 0.0, "workload.action_s": 0.0}
        t_iter = time.perf_counter()
        for q in MIX_QUERIES:
            run.spark.catalog.clearCache()
            run.attempted += 1
            try:
                t0 = time.perf_counter()
                df = run.call(f"it{it}:build:{q}", registry[q], run.spark, sf_dir)
                t1 = time.perf_counter()
                n = run.call(f"it{it}:{q}", df.count)
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
                run.fail(f"query_mix:{q}", exc)
                continue
            sample["workload.build_s"] += t1 - t0
            sample["workload.action_s"] += t2 - t1
            detail[q] = (round(t1 - t0, 4), round(t2 - t1, 4), n)
            if n != expected[q]:
                mismatched.add(q)
                run.fail(f"query_mix:{q}: {n} rows, DuckDB oracle {expected[q]}")
        wall = time.perf_counter() - t_iter
        sample["iteration.wall_s"] = wall
        sample["iteration.other_s"] = wall - sample["workload.build_s"] - sample["workload.action_s"]
        print(f"# pass {it}: {wall:.3f}s build={sample['workload.build_s']:.2f}s", file=sys.stderr)
        if it >= MIX_WARMUP_PASSES:
            run.samples[f"it{it}"] = sample
        elif it == MIX_WARMUP_PASSES - 1:
            deadline = time.perf_counter() + seconds
        it += 1
    print(f"# per-query (build_s, action_s, rows), last pass: {json.dumps(detail)}",
          file=sys.stderr)
    if mismatched:
        print(f"# finding: queries disagreeing with their oracle: {sorted(mismatched)}",
              file=sys.stderr)
    if run.trace:
        corpus_stage(run, sf_dir)
    return sum(table_rows.values())


def check_corpus(out: str) -> list[str]:
    """Output checks of one corpus stage: a monotone funnel, readable JSONL
    shards holding the funnel's survivors, and contiguous-fill bins that
    open no document once ``pack_budget`` tokens are reached."""
    import gzip

    import pandas as pd
    import pyarrow.parquet as pq
    from epiteam_network_etl_functions_spark.plans.corpus_pipeline import CorpusConfig

    problems = []
    funnel = pd.read_csv(os.path.join(out, "corpus_funnel.csv")).sort_values("stage_id")
    if not (funnel["docs_out"].is_monotonic_decreasing
            and (funnel["docs_out"] <= funnel["docs_in"]).all()):
        problems.append(f"funnel not monotone: {funnel['docs_out'].tolist()}")
    records = 0
    for shard in glob.glob(os.path.join(out, "corpus_shards", "part-*")):
        with gzip.open(shard, "rt", encoding="utf-8") as f:
            records += sum(1 for line in f if json.loads(line))
    survivors = int(funnel["docs_out"].iloc[-1])
    if records != survivors:
        problems.append(f"shards hold {records} documents, funnel kept {survivors}")
    packed = pq.read_table(os.path.join(out, "corpus_packed.parquet")).to_pandas()
    packed = packed.sort_values("doc_id")
    bins = packed.groupby("bin_id", sort=True)["n_tokens"]
    before_last = bins.sum() - bins.last()
    if len(packed) != survivors or (before_last >= CorpusConfig().pack_budget).any():
        problems.append("packed bins exceed pack_budget or miss documents")
    return problems


def corpus_stage(run: Run, sf_dir: str) -> None:
    """One ``cli.corpus_stage`` over the mix's generated documents (5 % injected
    near-duplicates, and every replica a near-duplicate of replica 0). It
    takes ~15-20 s on four cores, so only traced runs make it; it is timed
    as the ``corpus_stage`` layer, not in the mix's ``wall_s``."""
    from epiteam_network_etl_functions_spark import cli

    out = str(run.work / "corpus")
    args = cli.build_parser().parse_args(["all", "--sf-dir", sf_dir, "--out", out, "--corpus"])
    os.makedirs(out)
    run.spark.catalog.clearCache()
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        run.call("corpus:corpus_stage", cli.corpus_stage, run.spark, args)
    except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
        run.fail("query_mix:corpus_stage", exc)
        return
    wall = time.perf_counter() - t0
    run.samples["corpus"] = {"corpus_stage.wall_s": wall}
    run.attempted += 1
    try:
        problems = check_corpus(out)
    except Exception as exc:  # noqa: BLE001
        run.fail("query_mix:corpus_stage:check", exc)
        return
    for p in problems:
        run.fail(f"query_mix:corpus_stage:check: {p}")
    print(f"# corpus_stage: {wall:.3f}s", file=sys.stderr)


# ---- reporting ------------------------------------------------------------------


def layer_metrics(run: Run, setup: dict) -> dict[str, float]:
    """Per-layer medians over the measured iterations, from spans and the
    event log (read after the session has stopped and flushed it)."""
    log = EventLog.read(event_files(str(run.work / "eventlog")))
    for span in run.spans:
        tag, rest = span.group.split(":", 1)
        sample = run.samples.get(tag)
        if sample is None:  # an untimed iteration
            continue
        layer = rest if rest in CHAIN_STAGES + ("corpus_stage",) else "workload"
        for k, v in log.profile(span).items():
            if layer == "workload" and k == "driver_s":
                continue
            sample[f"{layer}.{k}"] = sample.get(f"{layer}.{k}", 0.0) + v
    out = {}
    for name in per_layer_units():
        if name.startswith(("session.", "process.")):
            out[name] = setup[name]
        else:
            vals = [s[name] for s in run.samples.values() if name in s]
            out[name] = statistics.median(vals) if vals else 0.0
    return out


def stop_jvm(spark) -> None:
    """Stop the session (flushing the event log), then end the JVM: it exits
    when its stdin closes, taking the Python daemon and workers with it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("mobility_chain", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "epiteam_network_etl_functions_spark").is_dir():
        print("perfbench: run from a checkout of the repository", file=sys.stderr)
        return 2
    work = ROOT / ".bench_build" / "perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(work, args.workload, bool(args.trace))
    sys.path.insert(0, str(ROOT))
    os.chdir(work)  # spark-warehouse/ and derby.log stay in the scratch dir

    run = Run(work, bool(args.trace))
    try:
        setup = set_up(run)
        with RssSampler(run.spark.sparkContext._gateway.proc.pid) as rss:
            workload = mobility_chain if args.workload == "mobility_chain" else query_mix
            rows = workload(run, args.seed, args.seconds)
    finally:
        if run.spark is not None:
            stop_jvm(run.spark)
    # G1 sizes the heap adaptively, so peak RSS spread up to 27 % of its
    # median over ten runs: past the 0.25 bound, so it is a per-layer metric.
    setup["process.peak_rss_mb"] = rss.peak_mb
    try:
        wall = statistics.median(
            s["iteration.wall_s"] for tag, s in run.samples.items() if tag.startswith("it"))
        if args.trace:
            metrics = {k: (v, per_layer_units()[k]) for k, v in layer_metrics(run, setup).items()}
        else:
            metrics = {
                "setup_s": (setup["setup_s"], "s"),
                "wall_s": (wall, "s"),
                "rows_per_s": (rows / wall, "1/s"),
            }
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    error_rate = len(run.failures) / max(run.attempted, 1)
    print(f"# {args.workload} seed={args.seed}: setup_s={setup['setup_s']:.4f}s "
          f"wall_s={wall:.4f}s rows_per_s={rows / wall:.1f}/s "
          f"peak_rss_mb={rss.peak_mb:.1f}MB error_rate={error_rate:.4g} "
          f"({len(run.failures)}/{run.attempted}) iterations={sum(t.startswith('it') for t in run.samples)}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
