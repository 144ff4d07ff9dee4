"""Round-12 regression tests for the ADVICE r11 fixes.

1. ``footer_stats_content_parity`` must be invariant to the number of
   row groups per file (it aggregates per (table, column) over row
   groups; a single-row-group assumption would break at larger SFs).
2. ``l2_norms_arrow`` must handle empty list segments (reduceat returns
   sq[start], not 0, for an empty segment) and sliced ListArray offsets
   (offsets[0] != 0 misaligns against the flattened values buffer).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# footer_stats_content_parity: row-group-count invariance
# ---------------------------------------------------------------------------


def test_footer_parity_rowgroup_invariant(spark, tmp_path):
    import pyarrow.parquet as pq

    from epiteam_network_etl_functions_spark.workload.analytics16 import (
        footer_stats_content_parity,
    )

    # Rewrite the four audited tables into a sibling dir with tiny row
    # groups (many per file) and compare against the original result.
    multi = str(tmp_path / "multi_rg")
    os.makedirs(multi)
    for t in ("customer", "events", "lineitem", "orders"):
        src = pq.read_table(os.path.join(SF_DIR, f"{t}.parquet"))
        pq.write_table(
            src, os.path.join(multi, f"{t}.parquet"), row_group_size=100
        )
        meta = pq.ParquetFile(os.path.join(multi, f"{t}.parquet")).metadata
        assert meta.num_row_groups > 1, t

    base = {
        tuple(r)
        for r in footer_stats_content_parity(spark, SF_DIR).collect()
    }
    rewritten = {
        tuple(r) for r in footer_stats_content_parity(spark, multi).collect()
    }
    assert base == rewritten
    assert len(base) > 0


# ---------------------------------------------------------------------------
# l2_norms_arrow: empty segments and rebased offsets
# ---------------------------------------------------------------------------


def test_arrow_norms_empty_vectors(spark):
    from epiteam_network_etl_functions_spark.operators.arrow_kernels import (
        l2_norms_arrow,
    )

    rows = [
        (1, 0, [3.0, 4.0]),
        (2, 0, []),  # empty segment: norm must be 0, not sq[start]
        (3, 1, [5.0]),
        (4, 1, []),  # second empty segment, mid-batch
        (5, 2, [1.0, 2.0, 2.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).coalesce(1)
    got = {
        r["vec_id"]: (r["dim"], r["l2_norm"])
        for r in l2_norms_arrow(df).collect()
    }
    assert got == {
        1: (2, 5.0),
        2: (0, 0.0),
        3: (1, 5.0),
        4: (0, 0.0),
        5: (3, 3.0),
    }


def test_arrow_norms_trailing_empty_vector(spark):
    # trailing empty list: its reduceat start index == len(values),
    # which would raise without the clip
    from epiteam_network_etl_functions_spark.operators.arrow_kernels import (
        l2_norms_arrow,
    )

    df = spark.createDataFrame(
        [(1, 0, [6.0, 8.0]), (2, 0, [])],
        "vec_id long, label int, embedding array<float>",
    ).coalesce(1)
    got = {
        r["vec_id"]: (r["dim"], r["l2_norm"])
        for r in l2_norms_arrow(df).collect()
    }
    assert got == {1: (2, 10.0), 2: (0, 0.0)}


def test_reduceat_kernel_sliced_offsets():
    # Exercise the rebase directly on a sliced pyarrow ListArray, whose
    # offsets do not start at 0 while flatten() returns only the slice.
    import numpy as np
    import pyarrow as pa

    full = pa.array(
        [[1.0, 1.0], [3.0, 4.0], [], [6.0, 8.0], []],
        type=pa.list_(pa.float32()),
    )
    arr = full.slice(1, 4)  # offsets[0] == 2, not 0; trailing empty
    offsets = np.asarray(arr.offsets, dtype=np.int64)
    assert offsets[0] != 0
    flat = np.asarray(arr.flatten(), dtype=np.float64)
    starts = offsets[:-1] - offsets[0]
    dims = offsets[1:] - offsets[:-1]
    sq = flat * flat
    nonempty = dims > 0
    sums = np.zeros(len(dims))
    if len(flat) and nonempty.any():
        sums[nonempty] = np.add.reduceat(sq, starts[nonempty])
    norms = np.sqrt(sums)
    assert norms.tolist() == [5.0, 0.0, 10.0, 0.0]


def test_arrow_norms_still_match_oracle_table(spark):
    from epiteam_network_etl_functions_spark import catalog
    from epiteam_network_etl_functions_spark.operators.arrow_kernels import (
        l2_norms_arrow,
    )
    from epiteam_network_etl_functions_spark.operators.similarity import (
        as_double,
        l2_norm,
    )

    e = catalog.load(spark, SF_DIR, "embeddings")
    arrow = l2_norms_arrow(e)
    jvm = e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        F.round(l2_norm(as_double(F.col("embedding"))), 6).alias("l2_norm"),
    )
    assert arrow.exceptAll(jvm).count() == 0
    assert jvm.exceptAll(arrow).count() == 0


# ---------------------------------------------------------------------------
# multi-row-group footer audits (round-13 stretch, pytest-differential):
# byte-size and row-group-layout numbers can't be driver rows (DuckDB has no
# SQL content oracle for them), so they differential against DuckDB's
# parquet_metadata() table function instead.
# ---------------------------------------------------------------------------


def _write_multi_rg(tmp_path, table="lineitem", row_group_size=500):
    import os

    import pyarrow.parquet as pq

    out = str(tmp_path / "multi_rg_audit")
    os.makedirs(out, exist_ok=True)
    src = pq.read_table(os.path.join(SF_DIR, f"{table}.parquet"))
    dst = os.path.join(out, f"{table}.parquet")
    pq.write_table(src, dst, row_group_size=row_group_size)
    assert pq.ParquetFile(dst).metadata.num_row_groups > 1
    return out, dst


def test_rowgroup_histogram_matches_duckdb_metadata(spark, tmp_path):
    import duckdb

    from epiteam_network_etl_functions_spark.sources.parquet_meta_datasource import (
        register_parquet_meta,
    )

    out, dst = _write_multi_rg(tmp_path)
    register_parquet_meta(spark)
    meta = spark.read.format("parquet_meta").option("path", out).load()
    # one row per row group: project at column_id 0
    got = {
        (r["row_group"], r["rg_num_rows"], r["rg_total_bytes"])
        for r in meta.where("column_id = 0")
        .select("row_group", "rg_num_rows", "rg_total_bytes")
        .collect()
    }
    con = duckdb.connect()
    want = {
        (rg, nr, tb)
        for rg, nr, tb in con.execute(
            "SELECT row_group_id, row_group_num_rows, row_group_bytes "
            "FROM parquet_metadata(?) WHERE column_id = 0",
            [dst],
        ).fetchall()
    }
    assert got == want
    assert len(got) > 1


def test_rowgroup_zonemap_width_matches_duckdb_metadata(spark, tmp_path):
    """Per-row-group zone-map width (max - min) of a numeric column must
    match DuckDB's parquet_metadata stats exactly — the quantity a
    compaction/Z-order planner reads to estimate pruning benefit."""
    import duckdb

    from epiteam_network_etl_functions_spark.sources.parquet_meta_datasource import (
        register_parquet_meta,
    )

    out, dst = _write_multi_rg(tmp_path)
    register_parquet_meta(spark)
    meta = spark.read.format("parquet_meta").option("path", out).load()
    got = {
        r["row_group"]: (r["min_double"], r["max_double"])
        for r in meta.where("path_in_schema = 'l_extendedprice'")
        .select("row_group", "min_double", "max_double")
        .collect()
    }
    con = duckdb.connect()
    want = {
        rg: (float(lo), float(hi))
        for rg, lo, hi in con.execute(
            "SELECT row_group_id, stats_min_value, stats_max_value "
            "FROM parquet_metadata(?) "
            "WHERE path_in_schema = 'l_extendedprice'",
            [dst],
        ).fetchall()
    }
    assert got == want
    # zone maps overlap-heavy on an unsorted write: widths are positive
    assert all(hi > lo for lo, hi in got.values())


def test_compressed_bytes_census_consistent(spark, tmp_path):
    """Sum of per-chunk compressed bytes must be strictly positive and
    < the file size; per-column sums must match DuckDB's."""
    import os

    import duckdb

    from epiteam_network_etl_functions_spark.sources.parquet_meta_datasource import (
        register_parquet_meta,
    )

    out, dst = _write_multi_rg(tmp_path)
    register_parquet_meta(spark)
    meta = spark.read.format("parquet_meta").option("path", out).load()
    got = {
        r["path_in_schema"]: r["total_comp"]
        for r in meta.groupBy("path_in_schema")
        .agg(F.sum("compressed_bytes").alias("total_comp"))
        .collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT path_in_schema, CAST(sum(total_compressed_size) AS BIGINT)"
            " FROM parquet_metadata(?) GROUP BY path_in_schema",
            [dst],
        ).fetchall()
    )
    assert got == want
    assert 0 < sum(got.values()) < os.path.getsize(dst)


# ---------------------------------------------------------------------------
# global_row_number: lazy in-plan kernel (r14 restructure)
# ---------------------------------------------------------------------------


def test_rank_kernel_total_col_matches_window(spark):
    """Ranks equal the single-partition window reference and total_col
    carries the exact row count on every row (the r14 in-plan replacement
    for the eager _and_total collect)."""
    from pyspark.sql import Window
    from epiteam_network_etl_functions_spark.operators import winners

    df = spark.range(0, 3_000).select(
        (F.col("id") * 37 % 1000).alias("v"), F.col("id").alias("uid")
    )
    ranked = winners.global_row_number(
        df, ["v", "uid"], "r", total_col="n_tot"
    )
    ref = df.withColumn(
        "r_ref", F.row_number().over(Window.orderBy("v", "uid")).cast("long")
    )
    j = ranked.join(ref, ["v", "uid"])
    assert j.where(F.col("r") != F.col("r_ref")).count() == 0
    totals = ranked.select("n_tot").distinct().collect()
    assert [t["n_tot"] for t in totals] == [3_000]


def test_rank_kernel_plan_is_lazy_and_reuses_exchange(spark):
    """The r14 kernel contract: plan construction runs ZERO Spark jobs
    (the pre-r14 form collected partition counts at build), the data is
    range-exchanged exactly once at RUNTIME (AQE's stage cache feeds the
    counts and the rank attach from the same materialized shuffle — the
    pre-execution adaptive plan still prints both exchange subtrees, so
    reuse must be asserted on the final plan after an action), and the
    rank attach is a broadcast hash join against the O(partitions)
    offsets frame."""
    from epiteam_network_etl_functions_spark.operators.winners import (
        global_row_number,
    )

    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup() or [])
    df = spark.range(0, 10_000).select(F.col("id").alias("v"))
    ranked = global_row_number(df, ["v"], "r")
    initial = ranked._jdf.queryExecution().executedPlan().toString()
    after = set(st.getJobIdsForGroup() or [])
    assert before == after, "kernel build or planning ran Spark jobs"
    assert "BroadcastHashJoin" in initial

    ranked.collect()
    final = ranked._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    # the data's range exchange materialized once; the counts subtree
    # reads it back as a ReusedExchange
    reused = [
        line
        for line in final.splitlines()
        if "ReusedExchange" in line and "rangepartitioning" in line
    ]
    assert reused, f"no reused range exchange in final plan:\n{final}"
    assert "BroadcastHashJoin" in final


# ---------------------------------------------------------------------------
# drained end state of the registry rotation, now permanent: no tiers
# remain and every oracle-backed query is driver-certified
# ---------------------------------------------------------------------------


def test_round13_rotation_drained_deferred():
    """The rotation drained its last tier in round 13 and was then
    retired, so its end state is the durable one: every oracle-backed
    name has a green (``hash_match``) row in some ``CORRECTNESS_r*.json``,
    and the only names without an oracle are the rows-only queries.

    Round-state tests assert durable invariants, never the absence of a
    future artifact (DETERMINISM.md, round-14 lesson).
    """
    import glob
    import json

    from epiteam_network_etl_functions_spark import workload

    workload.load_all()
    root = os.path.join(os.path.dirname(__file__), "..")
    certified: set[str] = set()
    for fn in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(fn) as f:
            certified.update(
                n
                for n, r in json.load(f).items()
                if isinstance(r, dict) and r.get("hash_match") is True
            )
    uncertified = sorted(set(workload.ORACLES) - certified)
    assert not uncertified, f"oracle-backed queries never driver-certified: {uncertified}"
    rows_only = set(workload.REGISTRY) - set(workload.ORACLES)
    assert rows_only == {
        "pca_explained_variance",
        "two_hop_reach_sketched",
        "two_hop_reach_sketch_audit",
    }
