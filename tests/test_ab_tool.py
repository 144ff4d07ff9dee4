"""tools/ab.py end to end: one run at sf0.001 on two queries writes the
per-query Spark-vs-DuckDB record with event-log attribution."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

import __spark_entry__ as entrymod
from epiteam_network_etl_functions_spark.catalog import TABLE_NAMES, table_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"
QUERIES = ("colocation_pairs", "region_nation_revenue")
PER_QUERY = {
    "spark_s", "build_s", "duck_s", "ratio", "spark_rows", "duck_rows", "counts_match",
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_mb", "spill_mb", "data_s", "floor_share", "data_over_duck",
}
RUN_LEVEL = {
    "totals", "loadavg_before", "loadavg_after", "steal_before", "steal_after",
    "cores", "host_cores", "duck_statement", "mismatches", "queries",
}


@pytest.fixture(scope="module")
def ab(tmp_path_factory):
    out = tmp_path_factory.mktemp("ab")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "ab.py"), "--sf-dir", SF_DIR,
         "--queries", ",".join(QUERIES), "--tag", "smoke", "--out-dir", str(out)],
        cwd=out, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(out / "smoke.json") as f:
        return json.load(f)


def test_ab_record_fields(ab):
    assert RUN_LEVEL <= set(ab)
    assert set(ab["queries"]) == set(QUERIES)
    assert ab["mismatches"] == []
    assert len(ab["loadavg_before"]) == len(ab["loadavg_after"]) == 3
    assert ab["steal_before"]["total"] < ab["steal_after"]["total"]
    for name, r in ab["queries"].items():
        assert PER_QUERY <= set(r), name
        assert r["counts_match"] is True and r["spark_rows"] == r["duck_rows"], name
        assert r["ratio"] == pytest.approx(r["spark_s"] / r["duck_s"], rel=1e-3)
        assert r["data_s"] == pytest.approx(r["executor_run_s"] / ab["cores"], abs=1e-4)
        assert r["build_s"] > 0, name
        # the event log attributed this query's jobs to its job group
        assert r["jobs"] > 0 and r["tasks"] > 0 and r["executor_run_s"] > 0, name


def test_ab_duckdb_side_is_count_wrapped(ab):
    assert ab["duck_statement"].replace(" ", "") == "SELECTcount(*)FROM({oracle_sql})"
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')")
    oracles = entrymod.oracle_sql()
    for name in QUERIES:
        rows = con.execute(oracles[name]).fetchall()
        assert ab["queries"][name]["duck_rows"] == len(rows), name
