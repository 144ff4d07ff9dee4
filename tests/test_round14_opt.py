"""Round-14 optimization-round locks: the plan-shape wins must not decay
and the rewrites must stay value-identical to the forms they replaced.

Each test pins one of the r14 optimizations (OPTIMIZATION_r14.md):
- minhash_signatures: hash-aggregable int-min == the old string-min.
- explode_shingles: per-row array_distinct == the old global DISTINCT.
- device_rg distance_expr: JVM Chebyshev == the square grid's Python reference.
- tfidf_top_terms: the pushed emptiness filter must not re-tokenize.

SPARK-VERSION COUPLING (ADVICE r14): the plan-shape locks assert exact
'Exchange hashpartitioning' / 'Sort [' substring counts from
executedPlan().toString() under the tuned get_session (AQE off in the
small profile). A Spark upgrade, AQE enablement, or plan-string format
change will fail them SPURIOUSLY. On such a failure, re-baseline the
counts against the new planner output (after confirming the shape is
still minimal by reading the plan) — do not revert the optimization
the lock protects.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from epiteam_network_etl_functions_spark.session import get_session

    return get_session("test-round14")


def test_minhash_int_min_equals_string_min(spark):
    """The r14 kernel MINs the slot's integer value and re-formats; it must
    equal the naive lexicographic string-min form byte-for-byte, and the
    aggregation must plan as HashAggregate (the SortAggregate fallback for
    string buffers is the regression this guards against)."""
    from epiteam_network_etl_functions_spark.operators.dedup import (
        HASHES_PER_MD5,
        minhash_signatures,
    )

    rows = [(i % 17, f"sh{i % 53}_{i % 7}") for i in range(800)]
    sh = spark.createDataFrame(rows, "doc_id int, shingle string")
    new = minhash_signatures(sh, "doc_id", n_hashes=16)

    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan

    aggs = []
    for i in range(16):
        d, slot = divmod(i, HASHES_PER_MD5)
        aggs.append(
            F.expr(
                f"min(substring(md5(cast(concat('{d}:', shingle) as binary)),"
                f" {slot * 4 + 1}, 4))"
            ).alias(f"mh{i}")
        )
    old = sh.groupBy("doc_id").agg(*aggs)
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_explode_shingles_equals_global_distinct(spark):
    """array_distinct-before-explode must reproduce the old global
    DISTINCT row set exactly, including for documents with heavily
    repeated shingles, and the exploded stream must not be exchanged."""
    from epiteam_network_etl_functions_spark.operators.text import (
        explode_shingles,
        shingles_col,
        tokens_col,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),       # k=3 shingles repeat
            (2, "x x x x x"),                # single repeated shingle
            (3, ""),                         # empty
            (4, "one two three four five"),  # all distinct
        ],
        "doc_id int, text string",
    )
    new = explode_shingles(docs, "doc_id", "text", k=3)
    old = (
        docs.withColumn("__t", tokens_col("text"))
        .select(F.col("doc_id"), F.explode(shingles_col(F.col("__t"), 3)).alias("shingle"))
        .distinct()
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_sq_grid_distance_matches_udf(spark):
    """The square grid's JVM Chebyshev expression must equal its Python
    reference on square-grid ids, including negative axes and NULLs."""
    from epiteam_network_etl_functions_spark.functions.squaregrid import (
        grid_distance,
        py_grid_distance,
    )

    rows = [
        ("g9:0:0", "g9:0:0"),
        ("g9:3:-4", "g9:-2:7"),
        ("g9:-5094:972", "g9:-5043:1024"),
        ("g9:10:10", None),
        (None, "g9:1:1"),
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    got = [r["jvm"] for r in df.select(grid_distance(F.col("a"), F.col("b")).alias("jvm")).collect()]
    want = [None if None in (a, b) else py_grid_distance(a, b) for a, b in rows]
    assert got == want, got
    assert got[1] == 11  # max(|3-(-2)|, |-4-7|)


def test_device_rg_square_grid_plan_has_no_python(spark):
    """pings_device_rg must stay a pure-codegen plan — no
    ArrowEvalPython/BatchEvalPython node may reappear."""
    import __spark_entry__ as m

    df = m.queries()["pings_device_rg"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_tfidf_tokenizes_once(spark):
    """The pushed emptiness predicate must not duplicate the tokenization
    expression (the r14 fix replaced size(tokens)>0 with trim(text)!='')."""
    from epiteam_network_etl_functions_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "   "), (3, "c d"), (4, None)],
        "doc_id int, text string",
    )
    out = tfidf_top_terms(docs, "doc_id", "text", n_docs=4, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("array_sort") == 1
    # blank/null docs are filtered exactly as size(tokens) > 0 did
    ids = sorted({r["doc_id"] for r in out.collect()})
    assert ids == [1, 3]


def test_pos_spine_single_exchange_and_value_identical(spark):
    """The caid-spine position collapse (r14: one explicit caid
    repartition serves the min-cell aggregate AND every downstream
    caid-clustered window) must (a) keep device_od_matrix at exactly two
    hash exchanges (spine + final pair aggregate — the pre-r14 shape paid
    three) with a single data sort, and (b) stay value-identical to the
    naive groupBy form it replaced."""
    import re

    import __spark_entry__ as m
    from epiteam_network_etl_functions_spark.plans.mobility import with_cells
    from epiteam_network_etl_functions_spark.functions.squaregrid import cell_sql
    from epiteam_network_etl_functions_spark.workload.pings import (
        RES,
        _pings,
        _pos_spine,
    )

    sf = "/root/testdata/sf0.001"
    df = m.queries()["device_od_matrix"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert len(re.findall(r"\bSort \[", plan)) == 1

    new = _pos_spine(spark, sf)
    p = with_cells(_pings(spark, sf), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    old = p.groupBy("caid", "cdmx_datetime").agg(F.min("cell").alias("cell"))
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_commute_winner_branch_single_exchange(spark):
    """Each commute winner branch must run on ONE exchange of its
    filtered ping rows (spine repartition below the branch filters): the
    full commute_matrix plan holds exactly three hash exchanges (two
    branches + final pair aggregate; the pre-r14 shape paid five)."""
    import __spark_entry__ as m

    df = m.queries()["commute_matrix"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 3


def test_no_registered_query_is_a_private_helper():
    """Registry integrity: a module-level helper inserted between a
    @query decorator and its function silently REPLACES the registered
    query with the helper (seen in-round: _pos_spine briefly registered
    as device_od_matrix and returned the wrong frame). The decorated
    callable's __name__ must never be a private name."""
    import __spark_entry__ as m

    qs = m.queries()
    bad = {n: fn.__name__ for n, fn in qs.items() if fn.__name__.startswith("_")}
    assert not bad, f"private helpers captured a @query decorator: {bad}"
    assert len(qs) == 490  # the permanent freeze (VERDICT r11)
