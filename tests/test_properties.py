"""Property-based invariants (SURVEY.md §5: ported reference asserts +
randomized checks via hypothesis)."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

from epiteam_network_etl_functions_spark.calendar_utils import (
    last_n_days,
    trusted_range,
    ymd_parts,
)

# ---- pure-python properties (hypothesis) -----------------------------------

_dates = st.dates(min_value=dt.date(2019, 6, 1), max_value=dt.date(2023, 6, 1))


@given(_dates, st.integers(0, 10))
def test_trusted_range_props(d, radius):
    r = trusted_range(d, radius)
    assert r == sorted(r)
    assert len(r) <= 2 * radius + 1
    assert all(dt.date(2020, 1, 1) <= dt.date.fromisoformat(x) <= dt.date(2022, 12, 31) for x in r)
    if dt.date(2020, 1, 1) <= d <= dt.date(2022, 12, 31):
        assert d.isoformat() in r


@given(_dates, st.integers(1, 30))
def test_last_n_days_props(d, n):
    r = last_n_days(d, n)
    assert r == sorted(r)
    assert len(set(r)) == len(r) <= n


@given(_dates)
def test_ymd_parts_zero_padded(d):
    y, m, dd = ymd_parts(d)
    assert (len(y), len(m), len(dd)) == (4, 2, 2)
    assert dt.date(int(y), int(m), int(dd)) == d


@given(
    st.integers(0, 2**40),
    st.integers(0, 2**40),
    st.integers(1, 10**7),
)
def test_bucket_index_arithmetic(ts_us, origin_delta, period_us):
    """The integer-division bucket index is exactly floor((ts-origin)/p)
    for ts >= origin (the kernel's contract)."""
    origin = ts_us
    ts = ts_us + origin_delta
    idx = (ts - origin) // period_us
    assert idx * period_us <= ts - origin < (idx + 1) * period_us


# ---- Spark invariants (reference assert properties) ------------------------


def test_colocation_pair_symmetry(spark):
    """(a,b) in pairs <=> (b,a) in pairs (J1 output symmetry, SURVEY §5)."""
    from epiteam_network_etl_functions_spark import catalog
    from epiteam_network_etl_functions_spark.operators.colocation import colocation_pairs
    from epiteam_network_etl_functions_spark.operators.timebucket import with_time_bucket
    from tests.conftest import PARITY_SF_DIR

    e = catalog.load(spark, PARITY_SF_DIR, "events")
    b = with_time_bucket(e.select("user_id", "event_type", "ts"), "ts", 600)
    pairs = {
        (r["a_user_id"], r["b_user_id"])
        for r in colocation_pairs(b, "user_id", "event_type", "tw").collect()
    }
    assert pairs == {(b_, a_) for a_, b_ in pairs}
    assert all(a_ != b_ for a_, b_ in pairs)


def test_winner_uniqueness(spark):
    """Exactly one winner row per key (rank-1 uniqueness, SURVEY §5)."""
    from epiteam_network_etl_functions_spark import catalog
    from epiteam_network_etl_functions_spark.operators.winners import category_winner
    from tests.conftest import PARITY_SF_DIR

    e = catalog.load(spark, PARITY_SF_DIR, "events")
    w = category_winner(e, "user_id", "event_type")
    assert w.count() == e.select("user_id").distinct().count()
    assert w.groupBy("user_id").count().where("count > 1").count() == 0


def test_observed_le_total_and_probs_bounded(spark):
    """observed <= total for every block pair; 0 <= prob <= 1
    (NetworkBuilder.py:252 violation check, ported as a hard invariant)."""
    import __spark_entry__ as m
    from tests.conftest import PARITY_SF_DIR

    probs = m.queries()["contact_probs"](spark, PARITY_SF_DIR)
    bad = probs.where(
        (F.col("observed") > F.col("total_pairs"))
        | (F.col("prob") < 0)
        | (F.col("prob") > 1)
    )
    assert bad.count() == 0


def test_contact_matrix_plan_end_to_end(spark):
    """Full §3.1 pipeline on synthetic pings: probabilities land in [0,1]
    and the dense matrix round-trips the long table."""
    from epiteam_network_etl_functions_spark.operators.colocation import (
        colocation_pairs,
    )
    from epiteam_network_etl_functions_spark.operators.timebucket import (
        with_time_bucket,
    )
    from epiteam_network_etl_functions_spark.plans.contact_matrix import (
        contact_prob_table,
        probs_to_matrix,
    )

    rows = []
    base = dt.datetime(2020, 1, 14, 10, 0)
    for minute in range(0, 60, 5):
        for caid, cell in [("A", "c1"), ("B", "c1"), ("C", "c2"), ("D", "c2")]:
            rows.append(
                Row(caid=caid, h3index_15=cell,
                    cdmx_datetime=base + dt.timedelta(minutes=minute))
            )
    pings = spark.createDataFrame(rows)
    homes = spark.createDataFrame(
        [Row(caid="A", home_ageb="X"), Row(caid="B", home_ageb="X"),
         Row(caid="C", home_ageb="Y"), Row(caid="D", home_ageb="Y")]
    )
    pairs = colocation_pairs(
        with_time_bucket(pings, "cdmx_datetime", 600),
        id_col="caid", cell_col="h3index_15", tw_col="tw",
    )
    probs = contact_prob_table(pairs, homes)
    got = {(r["a_home_ageb"], r["b_home_ageb"]): r for r in probs.collect()}
    # A-B co-located (both in c1), C-D co-located (c2); X never meets Y.
    assert got[("X", "X")]["observed"] == 2   # (A,B) and (B,A)
    assert got[("Y", "Y")]["observed"] == 2
    assert got[("X", "Y")]["observed"] == 0
    assert got[("X", "X")]["total_pairs"] == 4  # 2*2 incl self-pairs (reference semantics)
    labels, mat = probs_to_matrix(probs, "a_home_ageb", "b_home_ageb")
    assert labels == ["X", "Y"]
    assert mat.shape == (2, 2) and mat[0, 1] == 0.0 and 0 < mat[0, 0] <= 1


def test_graphml_export(spark, tmp_path):
    """S12: empiric network -> networkx -> GraphML file."""
    import networkx as nx

    from epiteam_network_etl_functions_spark.operators.graphs import to_networkx

    edges = spark.createDataFrame(
        [Row(a_node=0, b_node=1), Row(a_node=1, b_node=2)]
    )
    g = to_networkx(edges)
    path = str(tmp_path / "net.graphml")
    nx.write_graphml(g, path)
    back = nx.read_graphml(path)
    assert back.number_of_edges() == 2


def test_cosine_topk_lit_equals_join_form(spark):
    """The literal-embedded top-k (one job) returns exactly what the
    broadcast-join form returns — same scores, same rounding, same cut."""
    import random

    from epiteam_network_etl_functions_spark.operators.similarity import (
        as_double,
        cosine_topk,
        cosine_topk_lit,
    )
    from pyspark.sql import functions as F

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    corpus = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    qid = 17
    join_form = cosine_topk(
        corpus, corpus.where(F.col("vec_id") == qid), "vec_id", "embedding", k=7
    ).collect()
    qvec = (
        corpus.where(F.col("vec_id") == qid)
        .select(as_double(F.col("embedding")))
        .head()[0]
    )
    lit_form = cosine_topk_lit(
        corpus, qvec, "vec_id", "embedding", exclude_id=qid, k=7
    ).collect()
    assert [tuple(r) for r in join_form] == [tuple(r) for r in lit_form]
