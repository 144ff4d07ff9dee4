#!/usr/bin/env python
"""Per-query Spark-vs-DuckDB A/B over ``bench.BENCH_QUERIES`` on bench.py's
protocol: one command for the ratio, floor and shuffle tables.

    python tools/ab.py [--sf-dir DIR] [--queries a,b] [--tag TAG] [--out-dir DIR]

``--queries`` takes any registered query names; the default set is
``bench.BENCH_QUERIES``.

Spark side, exactly as bench.py times it: the small profile (AQE off, 4
shuffle partitions) for inputs under 1 GiB, one warm pass over the set,
then per query three reps of ``clearCache()`` + rebuild + timed ``count()``
keeping the minimum; ``colocation_pairs_bucketed`` is built once, outside
the job group. ``build_s`` is the fastest rep's ``fn(spark, sf_dir)`` call
(the one build of a build-once query): queries whose kernel materializes
while the plan is built (the near-dup components rounds, ``dedup_keepers``)
spend their time there, not in ``spark_s``.
The three reps of a query run under one job group, and the Spark event log
attributes jobs, stages, tasks, executor time, shuffle and spill to it
(``perfbench/layers.py``); counters are per-rep means over the three reps.

DuckDB side: views over the same parquet files, ``threads`` = the Spark
core count, one warm pass, then the min of three timed
``SELECT count(*) FROM (<oracle_sql>)`` runs.

Per query: ``data_s = executor_run_s / cores`` is what the executor work
costs at perfect parallelism, ``floor_share = 1 - data_s / spark_s`` is the
share of the wall that is scheduling and dispatch, and ``data_over_duck =
data_s / duck_s`` compares that data work with the whole DuckDB query.
``spark_s`` is the fastest rep and the counters the mean rep, so a slow rep
can push ``floor_share`` below 0.

Writes ``<out-dir>/<tag>.json`` (default ``artifacts/ab/local.json``) and
prints a table sorted by ratio. Exits 1 when the two engines' row counts
differ on any query.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from bench import BENCH_QUERIES, _dir_bytes  # noqa: E402
from layers import COUNTERS, EventLog, Span, event_files  # noqa: E402

REPS = 3
# bench.py's declared build-once query (see its module docstring)
BUILD_ONCE = {"colocation_pairs_bucketed"}
DUCK_STATEMENT = "SELECT count(*) FROM ({oracle_sql})"


def cpu_ticks() -> dict[str, int]:
    """Cumulative steal and total CPU ticks of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return {"steal": fields[7], "total": sum(fields[:8])}


def time_spark(spark, registry, names, sf_dir) -> tuple[dict, dict]:
    """bench.py's timed loop, one job group and span per query."""
    sc = spark.sparkContext
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in names:
        registry[name](spark, sf_dir).count()
    out, spans = {}, {}
    for name in names:
        fn = registry[name]
        df, builds, counts = None, [], []
        if name in BUILD_ONCE:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            builds.append(time.perf_counter() - t0)
        sc.setJobGroup(name, name)
        t_start = time.time()
        for _ in range(REPS):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            run_df = df if df is not None else fn(spark, sf_dir)
            t1 = time.perf_counter()
            n = run_df.count()
            counts.append(time.perf_counter() - t1)
            if df is None:
                builds.append(t1 - t0)
        spans[name] = Span(name, t_start, time.time())
        sc.setJobGroup("ab:idle", "untimed")
        best, build = min(counts), min(builds)
        out[name] = {"spark_s": round(best, 4), "build_s": round(build, 4), "spark_rows": n}
        print(f"# spark {name}: {best:.3f}s count, {build:.3f}s build ({n} rows)",
              file=sys.stderr)
    return out, spans


def time_duck(names, sf_dir, cores) -> dict:
    import duckdb

    import __spark_entry__ as entrymod
    from epiteam_network_etl_functions_spark.catalog import TABLE_NAMES, table_path

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores}")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    sqls = {q: DUCK_STATEMENT.format(oracle_sql=oracles[q]) for q in names if q in oracles}
    for sql in sqls.values():
        con.execute(sql).fetchall()
    out = {}
    for name, sql in sqls.items():
        best = n = None
        for _ in range(REPS):
            t0 = time.perf_counter()
            n = con.execute(sql).fetchone()[0]
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = {"duck_s": round(best, 4), "duck_rows": n}
    con.close()
    return out


def combine(spark_q: dict, duck_q: dict, profiles: dict, cores: int) -> dict:
    """One record per query: walls, ratio, counts, layer counters, floor."""
    rows = {}
    for name, s in spark_q.items():
        r = dict(s)
        r.update(duck_q.get(name, {"duck_s": None, "duck_rows": None}))
        r.update({k: round(profiles[name][k] / REPS, 4) for k in COUNTERS})
        r["data_s"] = round(r["executor_run_s"] / cores, 4)
        r["floor_share"] = round(1 - r["data_s"] / r["spark_s"], 4)
        duck = r["duck_s"]
        r["ratio"] = round(r["spark_s"] / duck, 3) if duck else None
        r["data_over_duck"] = round(r["data_s"] / duck, 3) if duck else None
        r["counts_match"] = None if duck is None else r["spark_rows"] == r["duck_rows"]
        rows[name] = r
    return rows


def main() -> int:
    from epiteam_network_etl_functions_spark.catalog import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--queries", default="",
                    help="comma-separated registered queries (default: BENCH_QUERIES)")
    ap.add_argument("--tag", default="local")
    ap.add_argument("--out-dir", default=os.path.join(ROOT, "artifacts", "ab"))
    args = ap.parse_args()
    import __spark_entry__ as entrymod

    names = [q for q in args.queries.split(",") if q] or list(BENCH_QUERIES)
    unknown = sorted(set(names) - set(entrymod.queries()))
    if unknown:
        ap.error(f"not registered: {', '.join(unknown)}")

    # bench.py's profile rule
    if _dir_bytes(args.sf_dir) < 1 << 30:
        os.environ.setdefault("SPARK_GRAFT_SMALL_PROFILE", "1")
        os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")
    # Python workers import the package (pandas UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    from epiteam_network_etl_functions_spark.session import default_parallelism, get_session

    cores = default_parallelism()
    load_before, ticks_before, t_run = os.getloadavg(), cpu_ticks(), time.time()
    with tempfile.TemporaryDirectory(prefix="ab-eventlog-") as log_dir:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
        spark = get_session("epiteam-etl-spark-ab")
        shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark_q, spans = time_spark(spark, entrymod.queries(), names, args.sf_dir)
        finally:
            spark.stop()  # flushes the event log
        log = EventLog.read(event_files(log_dir))
    profiles = {name: log.profile(span) for name, span in spans.items()}
    duck_q = time_duck(names, args.sf_dir, cores)
    load_after, ticks_after = os.getloadavg(), cpu_ticks()

    queries = combine(spark_q, duck_q, profiles, cores)
    both = [r for r in queries.values() if r["duck_s"] is not None]
    spark_both = sum(r["spark_s"] for r in both)
    duck_total = sum(r["duck_s"] for r in both)
    totals = {k: round(sum(r[k] for r in queries.values()), 4)
              for k in ("spark_s", "data_s") + COUNTERS}
    totals["duck_s"] = round(duck_total, 4)
    totals["ratio"] = round(spark_both / duck_total, 3) if duck_total else None
    mismatches = sorted(q for q, r in queries.items() if r["counts_match"] is False)
    d_steal = ticks_after["steal"] - ticks_before["steal"]
    d_total = ticks_after["total"] - ticks_before["total"]
    result = {
        "tag": args.tag,
        "sf_dir": args.sf_dir,
        "cores": cores,
        "host_cores": os.cpu_count(),
        "small_profile": os.environ.get("SPARK_GRAFT_SMALL_PROFILE") == "1",
        "shuffle_partitions": int(shuffle),
        "reps": REPS,
        "duck_statement": DUCK_STATEMENT,
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(t_run)),
        "run_s": round(time.time() - t_run, 1),
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "steal_before": ticks_before,
        "steal_after": ticks_after,
        "steal_share": round(d_steal / d_total, 4) if d_total else None,
        "totals": totals,
        "mismatches": mismatches,
        "queries": queries,
    }
    os.makedirs(args.out_dir, exist_ok=True)
    path = os.path.join(args.out_dir, f"{args.tag}.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")

    print(f"{'query':32s} {'spark_s':>8s} {'duck_s':>8s} {'ratio':>7s} {'data/duck':>9s} "
          f"{'floor':>6s} {'jobs':>5s} {'shuf_MB':>8s}")
    for name, r in sorted(queries.items(), key=lambda kv: -(kv[1]["ratio"] or 0)):
        print(f"{name:32s} {r['spark_s']:8.3f} {r['duck_s'] or 0:8.4f} {r['ratio'] or 0:7.2f} "
              f"{r['data_over_duck'] or 0:9.2f} {r['floor_share']:6.0%} {r['jobs']:5.1f} "
              f"{r['shuffle_write_mb']:8.2f}")
    print(f"TOTAL spark={totals['spark_s']:.3f}s duck={totals['duck_s']:.3f}s "
          f"ratio={totals['ratio']} -> {path}")
    for name in mismatches:
        r = queries[name]
        print(f"COUNT MISMATCH {name}: spark {r['spark_rows']} vs duckdb {r['duck_rows']}",
              file=sys.stderr)
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
