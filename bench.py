#!/usr/bin/env python
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints exactly ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed as `df.count()` — the same count-wrapping protocol the
DuckDB re-timing uses on its side, so both engines pay optimization +
execution but neither pays result-serialization to the Python driver.
Heavier queries dominate; the set covers the flagship co-location join,
the contact-matrix pipeline, the TPC-H shapes, and the dedup/similarity
extensions as they land.

Protocol rules, and why each holds:

1. No base table is cached before the timed region. Every timed run
   computes from the parquet inputs, exactly like the DuckDB side, which
   re-reads parquet per run; cached columnar batches would time a
   different (warm, pre-partitioned) input than the oracle's.
2. Each timed repetition rebuilds the DataFrame after
   ``spark.catalog.clearCache()``. A query whose plan holds lazy
   ``localCheckpoint`` or ``.cache()`` intermediates materializes them on
   its first count; re-counting one built DataFrame would let later
   repetitions reuse them, and the min of three would report that warm
   tail instead of the query.
3. The rebuild stays outside the timed window. Building a DataFrame is
   Python-side py4j expression construction, which measures the Python
   binding, not the engine; every Spark job a query needs runs inside the
   timed ``count()``.

The one declared exception is ``colocation_pairs_bucketed``: its stated
purpose is the steady-state exchange-free self-join over a presence table
persisted bucketed by the join keys (the layout cost is paid once at
write time, exactly like a production bucketed warehouse table). Its
build — the bucketed write — runs once un-timed, and the timed runs
re-execute the join itself (that plan holds no caches or checkpoints, so a
re-count is a full re-execution). ``colocation_pairs`` right next to it is
the same query with the layout cost inside the timed region.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

BENCH_QUERIES = [
    "colocation_pairs",
    # the same flagship on the bucketed presence layout: the one-time
    # bucketed write happens at plan-build, so the timed runs measure the
    # exchange-free steady-state join (the 100 TB shape when one presence
    # table drives many downstream runs)
    "colocation_pairs_bucketed",
    "colocation_edges",
    "contact_probs",
    "bucket_counts",
    "home_winners",
    "radius_of_gyration",
    "pricing_summary",
    "top_unshipped_orders",
    "region_nation_revenue",
    "late_shipment_orders",
    "top_return_customers",
    # temporal
    "user_sessions",
    "asof_last_signup",
    "asof_next_error",
    "overlap_windows_events",
    "events_quality_report",
    # the reference's §3.2 home-location product over derived pings
    # (imputer stages excluded: their iterative rounds cache internally,
    # so a timed re-count would not re-execute the real work)
    "pings_fact_base",
    "pings_daily_homes",
    "pings_global_home",
    "pings_interactions",
    "pings_device_rg",
    # dedup / text / vectors
    "minhash_signatures",
    "near_dup_pairs",
    "simhash_signatures",
    "knn_bruteforce",
    "label_centroids",
    "doc_token_stats",
    # approx variant (bounded-error verdict oracle since r10) — measured to
    # show the one-pass agg vs bucket_counts' exact two-phase distinct
    "bucket_counts_approx",
    # round-4 additions: map-only language ID, two-shuffle TF-IDF + window
    # limit, dual-role dimension join
    "doc_language_id",
    "tfidf_top_terms",
    "volume_shipping",
    # round-5 additions: widest star join (nation two-role + region + part)
    # and the IN-over-grouped-HAVING semi-join rewrite
    "nation_market_share",
    "large_volume_customers",
    # round-10 additions: the distributed global-rank kernel at fact
    # cardinality and the token-keyed distribution self-join
    "order_price_rank_deciles",
    "source_jsd_matrix",
]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # Size-aware execution profile: under ~1 GiB of input, AQE's per-stage
    # re-optimization costs more than it saves and every dim broadcasts.
    # At real scale the default (AQE + skew-join) profile applies.
    small = _dir_bytes(sf_dir) < 1 << 30
    if small:
        os.environ.setdefault("SPARK_GRAFT_SMALL_PROFILE", "1")
        # Narrow shuffles: at a few hundred MB, task-launch overhead
        # dominates; 4 post-shuffle partitions measured fastest end-to-end.
        os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")

    from epiteam_network_etl_functions_spark.session import get_session

    import __spark_entry__ as entrymod

    spark = get_session("epiteam-etl-spark-bench")
    registry = entrymod.queries()

    # Warm the JVM before timing: classloading, Catalyst, whole-stage
    # codegen AND the C2 JIT only reach steady state after each plan shape
    # has run once — steady-state throughput is what the baseline
    # comparison means (DuckDB's best-of-3 likewise re-runs over a warm OS
    # page cache). One full pass over the bench set. NOTE: no table
    # caching — timed runs below compute from the parquet inputs.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for warm in BENCH_QUERIES:
        fn = registry.get(warm)
        if fn is None:
            continue
        try:
            fn(spark, sf_dir).count()
        except Exception:
            pass

    # Declared build-once queries (see module docstring): the bucketed
    # layout variant pays its write un-timed; its join plan holds no
    # caches/checkpoints, so each timed re-count is a full re-execution.
    build_once = {"colocation_pairs_bucketed"}

    timings: dict[str, float] = {}
    total = 0.0
    for name in BENCH_QUERIES:
        fn = registry.get(name)
        if fn is None:
            continue
        df = fn(spark, sf_dir) if name in build_once else None
        dt, n = None, 0
        for _ in range(3):
            # Drop any CacheManager entries a previous repetition (or the
            # warm pass) materialized: a rebuilt plan would otherwise be
            # served from them (cache lookup is by canonicalized subtree),
            # and the reported time must cover the full computation from
            # the parquet inputs.
            spark.catalog.clearCache()
            run_df = df if df is not None else fn(spark, sf_dir)
            t0 = time.perf_counter()
            n = run_df.count()
            run = time.perf_counter() - t0
            dt = run if dt is None else min(dt, run)
        timings[name] = round(dt, 3)
        total += dt
        print(f"# {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "bench_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
