"""Round-12 analytics, fourth tranche.

Families: nation/brand revenue structure (volatility, top-brand
argmax), value-quintile mixes on the rank kernel, weekday interaction
matrices, categorical independence (chi-square), short-series
autocorrelation, session composition (type richness, positional
value), linguistics (Zipf's law of abbreviation on the kernel),
ANN radius calibration, and the mergeable-aggregation consistency
check that makes map-side combine algebra visible as a certified row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..session import prep
from ..utils import drain_available_now
from . import query
from .tpch import _SQL_BP, _SQL_CENTS, _cents


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    prep(spark)
    return catalog.load(spark, sf_dir, table)


_SQL_REV = (
    f"CAST({_SQL_CENTS.format(c='l.l_extendedprice')}"
    f" * (10000 - {_SQL_BP.format(c='l.l_discount')})"
    f" AS DECIMAL(38,0))"
)


def _rev_col() -> F.Column:
    db = F.round(F.col("l_discount") * 10000).cast("long")
    return (
        _cents("l_extendedprice") * (10000 - db)
    ).cast("decimal(38,0)")


@query(
    "nation_revenue_volatility",
    oracle=f"""
    WITH m AS (
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate)
                    AS BIGINT) AS mk,
               CAST(sum({_SQL_CENTS.format(c='o.o_totalprice')}) AS BIGINT)
                   AS rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY nation, mk
    )
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_months,
           round(CAST(sum(rev) AS DOUBLE) / count(*) / 100.0, 2)
               AS mean_monthly_revenue,
           round(sqrt((CAST(sum(CAST(rev AS DECIMAL(38,0)) * rev) AS DOUBLE)
                       - CAST(sum(rev) AS DOUBLE) * sum(rev) / count(*))
                      / (count(*) - 1))
                 / (CAST(sum(rev) AS DOUBLE) / count(*)), 6) + 0.0 AS cv
    FROM m GROUP BY nation
    """,
)
def nation_revenue_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coefficient of variation of monthly revenue per customer nation
    — which markets are steady and which are lumpy. One fact pass to
    the 25 x 80 (nation, month) cells (dims broadcast), then a 25-group
    re-aggregate with exact integer moment sums (DECIMAL(38,0)
    squares)."""
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    m = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("mk"),
        )
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("rev"))
    )
    n = F.count(F.lit(1))
    s = F.sum("rev").cast("double")
    ss = F.sum(F.col("rev").cast("decimal(38,0)") * F.col("rev")).cast(
        "double"
    )
    mean = s / n
    sd = F.sqrt((ss - s * F.sum("rev") / n) / (n - 1))
    return m.groupBy("nation").agg(
        n.cast("long").alias("n_months"),
        F.round(mean / 100.0, 2).alias("mean_monthly_revenue"),
        (F.round(sd / mean, 6) + F.lit(0.0)).alias("cv"),
    )


@query(
    "nation_top_brand",
    oracle=f"""
    WITH nb AS (
        SELECT n.n_name AS nation, p.p_brand AS brand,
               CAST(sum({_SQL_REV}) AS DECIMAL(38,0)) AS rev
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY nation, brand
    ),
    win AS (
        SELECT nation, brand, rev,
               CAST(sum(rev) OVER (PARTITION BY nation) AS DECIMAL(38,0))
                   AS nation_rev,
               row_number() OVER (
                   PARTITION BY nation ORDER BY rev DESC, brand ASC
               ) AS rn
        FROM nb
    )
    SELECT nation, brand AS top_brand,
           CAST(rev AS DOUBLE) / 1000000.0 AS revenue,
           round(CAST(rev AS DOUBLE) / CAST(nation_rev AS DOUBLE), 6) + 0.0
               AS brand_share
    FROM win WHERE rn = 1
    """,
)
def nation_top_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-selling brand per customer nation with its revenue share —
    the assortment-localization argmax (W4 winner kernel PARTITIONED
    by nation over the 25 x 25 summary; total order rev DESC, brand
    ASC). The only wide operation is the lineitem-orders keyed join;
    part/customer/nation broadcast."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    nb = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"), F.col("p_brand").alias("brand")
        )
        .agg(F.sum(_rev_col()).cast("decimal(38,0)").alias("rev"))
    )
    w_tot = Window.partitionBy("nation")
    w_rank = Window.partitionBy("nation").orderBy(
        F.desc("rev"), F.asc("brand")
    )
    win = nb.select(
        "nation",
        "brand",
        "rev",
        F.sum("rev").over(w_tot).cast("decimal(38,0)").alias("nation_rev"),
        F.row_number().over(w_rank).alias("rn"),
    )
    return win.where(F.col("rn") == 1).select(
        "nation",
        F.col("brand").alias("top_brand"),
        (F.col("rev").cast("double") / 1000000.0).alias("revenue"),
        (
            F.round(
                F.col("rev").cast("double")
                / F.col("nation_rev").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("brand_share"),
    )


@query(
    "priority_mix_by_value_quintile",
    oracle=f"""
    WITH r AS (
        SELECT o_orderpriority AS priority,
               row_number() OVER (
                   ORDER BY {_SQL_CENTS.format(c='o.o_totalprice')} ASC,
                            o_orderkey ASC
               ) AS rn,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM orders o
    ),
    q AS (
        SELECT priority,
               CAST(floor((rn - 1) * 5.0 / n) AS BIGINT) AS quintile
        FROM r
    ),
    cells AS (
        SELECT quintile, priority, CAST(count(*) AS BIGINT) AS n_orders
        FROM q GROUP BY quintile, priority
    ),
    qt AS (
        SELECT quintile, CAST(sum(n_orders) AS BIGINT) AS qn
        FROM cells GROUP BY quintile
    )
    SELECT c.quintile AS value_quintile, c.priority, c.n_orders,
           round(CAST(c.n_orders AS DOUBLE) / qt.qn, 6) + 0.0 AS share
    FROM cells c JOIN qt ON c.quintile = qt.quintile
    """,
)
def priority_mix_by_value_quintile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-priority mix within each order-value quintile — do big
    orders get flagged urgent? Quintiles come from the distributed
    global_row_number kernel (cents ASC, orderkey ASC — never a
    fact-wide single-partition window; the oracle's window form is
    rank-identical); the 5 x 5 mix matrix and its marginals are
    summary re-aggregates."""
    from ..operators.winners import global_row_number

    orders = _load(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_orderpriority").alias("priority"),
        _cents("o_totalprice").alias("cents"),
        "o_orderkey",
    )
    ranked = global_row_number(o, ["cents", "o_orderkey"], "rn")
    n = o.agg(F.count(F.lit(1)).cast("long").alias("n"))
    q = ranked.crossJoin(F.broadcast(n)).select(
        "priority",
        F.floor((F.col("rn") - 1) * 5.0 / F.col("n"))
        .cast("long")
        .alias("quintile"),
    )
    cells = q.groupBy("quintile", "priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    ).localCheckpoint(eager=False)
    qt = cells.groupBy("quintile").agg(
        F.sum("n_orders").cast("long").alias("qn")
    )
    return cells.join(F.broadcast(qt), "quintile").select(
        F.col("quintile").alias("value_quintile"),
        "priority",
        "n_orders",
        (
            F.round(F.col("n_orders").cast("double") / F.col("qn"), 6)
            + F.lit(0.0)
        ).alias("share"),
    )


@query(
    "order_ship_weekday_matrix",
    oracle="""
    SELECT CAST(isodow(o.o_orderdate) - 1 AS BIGINT) AS order_weekday,
           CAST(isodow(l.l_shipdate) - 1 AS BIGINT) AS ship_weekday,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(CAST(sum(date_diff('day', CAST(o.o_orderdate AS DATE),
                                    CAST(l.l_shipdate AS DATE))) AS DOUBLE)
                 / count(*), 6) AS avg_lag_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY order_weekday, ship_weekday
    """,
)
def order_ship_weekday_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7 x 7 matrix of order weekday x ship weekday with mean lag —
    does the warehouse batch Monday orders into Friday shipments?
    (Pinned Mon=0 mapping both engines.) One orderkey join feeding a
    49-cell map-side-combined aggregate; integer day lags sum
    exactly."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    j = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return j.groupBy(
        F.expr("weekday(o_orderdate)").cast("long").alias("order_weekday"),
        F.expr("weekday(l_shipdate)").cast("long").alias("ship_weekday"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(
            F.sum(F.datediff("l_shipdate", "o_orderdate")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_lag_days"),
    )


@query(
    "parttype_size_chi2",
    oracle="""
    WITH cells AS (
        SELECT string_split(p_type, ' ')[1] AS th,
               CAST(p_size // 10 AS BIGINT) AS sb,
               CAST(count(*) AS BIGINT) AS o
        FROM part GROUP BY th, sb
    ),
    rt AS (SELECT th, CAST(sum(o) AS BIGINT) AS rn FROM cells GROUP BY th),
    ct AS (SELECT sb, CAST(sum(o) AS BIGINT) AS cn FROM cells GROUP BY sb),
    g AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    grid AS (
        SELECT rt.th, ct.sb, coalesce(c.o, 0) AS o,
               CAST(rt.rn AS DOUBLE) * ct.cn / g.n AS e
        FROM rt CROSS JOIN ct CROSS JOIN g
        LEFT JOIN cells c ON c.th = rt.th AND c.sb = ct.sb
    )
    SELECT CAST(min(g.n) AS BIGINT) AS n_parts,
           CAST((SELECT count(*) - 1 FROM rt)
                * (SELECT count(*) - 1 FROM ct) AS BIGINT) AS dof,
           round(sum((o - e) * (o - e) / e), 6) + 0.0 AS chi2,
           round(sqrt(sum((o - e) * (o - e) / e) / min(g.n)
                      / least((SELECT count(*) - 1 FROM rt),
                              (SELECT count(*) - 1 FROM ct))), 6) + 0.0
               AS cramers_v
    FROM grid CROSS JOIN g
    """,
)
def parttype_size_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of part-type family vs size band
    (6 x 5 contingency) with Cramer's V — is the catalog generator
    correlating attributes it claims are independent? One dim scan to
    the 30-cell table; marginals and expecteds are re-aggregates of
    the summary (the engine's chi2 kernel shape, cf.
    mktsegment_nation_chi2 on the customer dim)."""
    part = _load(spark, sf_dir, "part")
    cells = (
        part.groupBy(
            F.split("p_type", " ").getItem(0).alias("th"),
            F.floor(F.col("p_size") / 10).cast("long").alias("sb"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .localCheckpoint(eager=False)
    )
    rt = cells.groupBy("th").agg(F.sum("o").cast("long").alias("rn"))
    ct = cells.groupBy("sb").agg(F.sum("o").cast("long").alias("cn"))
    g = cells.agg(F.sum("o").cast("long").alias("n"))
    nr = rt.agg(F.count(F.lit(1)).cast("long").alias("nrow"))
    nc = ct.agg(F.count(F.lit(1)).cast("long").alias("ncol"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(g))
        .join(cells, ["th", "sb"], "left")
        .select(
            "th",
            "sb",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            (F.col("rn").cast("double") * F.col("cn") / F.col("n")).alias(
                "e"
            ),
            "n",
        )
    )
    chi2 = F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"))
    out = grid.agg(
        F.min("n").cast("long").alias("n_parts"), chi2.alias("chi2_raw")
    )
    return (
        out.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_parts",
            ((F.col("nrow") - 1) * (F.col("ncol") - 1))
            .cast("long")
            .alias("dof"),
            (F.round(F.col("chi2_raw"), 6) + F.lit(0.0)).alias("chi2"),
            (
                F.round(
                    F.sqrt(
                        F.col("chi2_raw")
                        / F.col("n_parts")
                        / F.least(F.col("nrow") - 1, F.col("ncol") - 1)
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("cramers_v"),
        )
    )


@query(
    "monthly_revenue_autocorr",
    oracle=f"""
    WITH m AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
                   AS mk,
               CAST(sum({_SQL_CENTS.format(c='o.o_totalprice')}) AS BIGINT)
                   AS rev
        FROM orders o GROUP BY mk
    ),
    seq AS (
        SELECT rev,
               lead(rev) OVER (ORDER BY mk ASC) AS rev_next
        FROM m
    ),
    p AS (SELECT rev, rev_next FROM seq WHERE rev_next IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round((count(*) * sum(CAST(rev AS DOUBLE) * rev_next)
                  - sum(CAST(rev AS DOUBLE)) * sum(CAST(rev_next AS DOUBLE)))
                 / (sqrt(count(*) * sum(CAST(rev AS DOUBLE) * rev)
                         - sum(CAST(rev AS DOUBLE)) * sum(CAST(rev AS DOUBLE)))
                    * sqrt(count(*) * sum(CAST(rev_next AS DOUBLE) * rev_next)
                           - sum(CAST(rev_next AS DOUBLE))
                             * sum(CAST(rev_next AS DOUBLE)))), 6) + 0.0
               AS lag1_autocorr
    FROM p
    """,
)
def monthly_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Pearson autocorrelation of the monthly revenue series —
    momentum vs mean-reversion at the finance-report grain. The lead()
    window runs over the 80-row MONTH SUMMARY (summary-sized by
    construction — the one place an unpartitioned window is the right
    plan); products of exact integer cents fold to one Pearson row."""
    orders = _load(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("mk")
    ).agg(F.sum(_cents("o_totalprice")).cast("long").alias("rev"))
    w = Window.orderBy(F.asc("mk"))
    seq = m.select(
        "rev", F.lead("rev").over(w).alias("rev_next")
    ).where(F.col("rev_next").isNotNull())
    n = F.count(F.lit(1))
    x = F.col("rev").cast("double")
    y = F.col("rev_next").cast("double")
    num = n * F.sum(x * y) - F.sum(x) * F.sum(y)
    den = F.sqrt(n * F.sum(x * x) - F.sum(x) * F.sum(x)) * F.sqrt(
        n * F.sum(y * y) - F.sum(y) * F.sum(y)
    )
    return seq.agg(
        n.cast("long").alias("n_pairs"),
        (F.round(num / den, 6) + F.lit(0.0)).alias("lag1_autocorr"),
    )


# ---------------------------------------------------------------------------
# Session composition
# ---------------------------------------------------------------------------

_SESSION_CTE_30M = """
ordered AS (
    SELECT user_id, event_id, ts, event_type,
           CAST(round(value * 100) AS BIGINT) AS cents,
           lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ) AS prev_us
    FROM events
),
sessions AS (
    SELECT user_id, event_id, ts, event_type, cents,
           CAST(sum(CASE WHEN prev_us IS NULL
                              OR (epoch_us(ts) - prev_us) > 1800000000
                         THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS session_id
    FROM ordered
)
"""


@query(
    "session_type_richness",
    oracle=f"""
    WITH {_SESSION_CTE_30M.strip()},
    rich AS (
        SELECT user_id, session_id,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT n_types,
           CAST(count(*) AS BIGINT) AS n_sessions,
           round(CAST(sum(n_events) AS DOUBLE) / count(*), 6)
               AS avg_session_events
    FROM rich GROUP BY n_types
    """,
)
def session_type_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many distinct behaviours does one session mix — histogram
    of per-session type richness (1 = single-purpose visits, 5 = did
    everything). The 30-minute sessionize kernel's one user window,
    then a bounded (<=5) distinct under the (user, session) key and a
    5-row histogram."""
    from ..operators.sessions import sessionize

    e = _load(spark, sf_dir, "events")
    s = sessionize(
        e.select("user_id", "event_id", "ts", "event_type"),
        "user_id",
        "ts",
        "event_id",
        gap_seconds=1800,
    )
    rich = s.groupBy("user_id", "session_id").agg(
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return rich.groupBy("n_types").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_session_events"),
    )


@query(
    "value_by_session_position",
    oracle=f"""
    WITH {_SESSION_CTE_30M.strip()},
    pos AS (
        SELECT cents,
               least(row_number() OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY ts ASC, event_id ASC
               ), 6) AS position_bucket
        FROM sessions
    )
    SELECT CAST(position_bucket AS BIGINT) AS position_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(cents) AS DOUBLE) / 100.0 / count(*), 6)
               AS avg_value
    FROM pos GROUP BY position_bucket
    """,
)
def value_by_session_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average event value by position within the session (1st..5th,
    6 = sixth-and-later) — does value build up or front-load inside a
    visit? Session ids and positions ride the SAME user-partitioned
    window exchange; exact integer cents."""
    from ..operators.sessions import sessionize

    e = _load(spark, sf_dir, "events")
    s = sessionize(
        e.select(
            "user_id",
            "event_id",
            "ts",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ),
        "user_id",
        "ts",
        "event_id",
        gap_seconds=1800,
    )
    w = Window.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    pos = s.select(
        "cents",
        F.least(F.row_number().over(w), F.lit(6))
        .cast("long")
        .alias("position_bucket"),
    )
    return pos.groupBy("position_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(
            F.sum("cents").cast("double") / 100.0 / F.count(F.lit(1)), 6
        ).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Linguistics / ANN calibration / merge algebra
# ---------------------------------------------------------------------------


@query(
    "zipf_abbreviation_curve",
    oracle="""
    WITH tc AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n,
               CAST(len(term) AS BIGINT) AS tl
        FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ) WHERE term <> ''
        GROUP BY term
    ),
    r AS (
        SELECT n, tl,
               row_number() OVER (ORDER BY n DESC, term ASC) AS rn,
               CAST(count(*) OVER () AS BIGINT) AS nt
        FROM tc
    )
    SELECT CAST(floor((rn - 1) * 10.0 / nt) AS BIGINT) AS freq_decile,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(n) AS BIGINT) AS total_occurrences,
           round(CAST(sum(tl) AS DOUBLE) / count(*), 6) AS avg_term_length,
           round(CAST(sum(CAST(tl AS DECIMAL(38,0)) * n) AS DOUBLE)
                 / sum(n), 6) AS occurrence_weighted_length
    FROM r GROUP BY freq_decile
    """,
)
def zipf_abbreviation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's law of abbreviation: average term length by corpus
    frequency decile (decile 0 = most frequent) — frequent words
    should be short, and a corpus that violates this is usually
    machine-generated or mis-tokenized. The vocabulary ranking uses
    the distributed global_row_number kernel (vocabulary cardinality
    is corpus-scale — never a single-partition sort); the oracle's
    window form is rank-identical."""
    from ..operators.winners import global_row_number

    d = _load(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "term", "n", F.length("term").cast("long").alias("tl")
        )
        .localCheckpoint(eager=False)
    )
    ranked = global_row_number(
        tc.withColumn("neg_n", -F.col("n")), ["neg_n", "term"], "rn"
    )
    nt = tc.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    r = ranked.crossJoin(F.broadcast(nt)).select(
        "n",
        "tl",
        F.floor((F.col("rn") - 1) * 10.0 / F.col("nt"))
        .cast("long")
        .alias("freq_decile"),
    )
    return r.groupBy("freq_decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("n").cast("long").alias("total_occurrences"),
        F.round(F.sum("tl").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_term_length"
        ),
        F.round(
            F.sum(F.col("tl").cast("decimal(38,0)") * F.col("n")).cast(
                "double"
            )
            / F.sum("n"),
            6,
        ).alias("occurrence_weighted_length"),
    )


_KNN_ANCHORS = 100
_KNN_K = 10
_DOT15 = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@query(
    "knn_radius_histogram",
    oracle=f"""
    WITH anchors AS (
        SELECT vec_id AS qa, embedding AS qe FROM embeddings
        WHERE vec_id < {_KNN_ANCHORS}
    ),
    scored AS (
        SELECT a.qa, e.vec_id,
               round({_DOT15.format(a='a.qe', b='e.embedding')}
                     / (sqrt({_DOT15.format(a='a.qe', b='a.qe')})
                        * sqrt({_DOT15.format(a='e.embedding', b='e.embedding')})),
                     6) AS cosine
        FROM anchors a JOIN embeddings e ON e.vec_id <> a.qa
    ),
    kth AS (
        SELECT qa, cosine AS r_k FROM (
            SELECT qa, cosine,
                   row_number() OVER (
                       PARTITION BY qa ORDER BY cosine DESC, vec_id ASC
                   ) AS rn
            FROM scored
        ) WHERE rn = {_KNN_K}
    )
    SELECT CAST(floor(r_k / 0.05) AS BIGINT) AS radius_bucket,
           CAST(count(*) AS BIGINT) AS n_anchors,
           round(sum(r_k) / count(*), 6) + 0.0 AS avg_k_cosine
    FROM kth GROUP BY radius_bucket
    """,
)
def knn_radius_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of the cosine similarity at the 10th nearest
    neighbour over 100 sample anchors — the radius calibration an
    LSH/IVF probe needs (pick the bucket threshold so the k-NN ball is
    inside it). The anchor set is O(1) by construction, so the scoring
    join is sample x corpus (the documented audit-arm shape); the kth
    selection is the W4 kernel partitioned by anchor."""
    from ..operators.similarity import as_double

    e = _load(spark, sf_dir, "embeddings")
    anchors = e.where(F.col("vec_id") < _KNN_ANCHORS).select(
        F.col("vec_id").alias("qa"), F.col("embedding").alias("qe")
    )
    dot = F.aggregate(
        F.zip_with(
            as_double(F.col("qe")),
            as_double(F.col("embedding")),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    nq = F.sqrt(
        F.aggregate(
            F.zip_with(
                as_double(F.col("qe")), as_double(F.col("qe")), lambda x, y: x * y
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    ne = F.sqrt(
        F.aggregate(
            F.zip_with(
                as_double(F.col("embedding")),
                as_double(F.col("embedding")),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    # the corpus often arrives as ONE parquet partition at bench scale;
    # without a spread the broadcast join scores all sample x corpus
    # pairs in a single task (the knn_margin_stats BNLJ-width lesson,
    # PLANS.md r10)
    corpus = e.repartition(spark.sparkContext.defaultParallelism)
    scored = (
        corpus.crossJoin(F.broadcast(anchors))
        .where(F.col("vec_id") != F.col("qa"))
        .select(
            "qa",
            "vec_id",
            F.round(dot / (nq * ne), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("qa").orderBy(F.desc("cosine"), F.asc("vec_id"))
    kth = (
        scored.select("qa", "cosine", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == _KNN_K)
        .select("qa", F.col("cosine").alias("r_k"))
    )
    return kth.groupBy(
        F.floor(F.col("r_k") / 0.05).cast("long").alias("radius_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
        (F.round(F.sum("r_k") / F.count(F.lit(1)), 6) + F.lit(0.0)).alias(
            "avg_k_cosine"
        ),
    )


@query(
    "partial_merge_consistency",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS min_cents,
           CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS max_cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def partial_merge_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-aggregation algebra made visible: the engine
    computes per-type stats as TWO independent half-month partial
    aggregates explicitly merged (count: sum, sum: sum, min: min,
    max: max, distinct: re-aggregated from per-half DISTINCT key
    sets), while the oracle aggregates the whole table directly — a
    green row certifies exactly the algebra map-side combine and
    incremental/streaming rollups rely on. Each partial is
    map-side-combined; the merge is a 5-row union."""
    e = _load(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.dayofmonth("ts").alias("dom"),
    # four consumers (two partials, two distinct sets) must not re-scan
    # the fact (plan_audit lead; the checkpoint-on-reuse rule)
    ).localCheckpoint(eager=False)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )

    h1 = base.where(F.col("dom") <= 15)
    h2 = base.where(F.col("dom") > 15)
    merged = (
        partial(h1)
        .unionByName(partial(h2))
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
            F.min("min_cents").cast("long").alias("min_cents"),
            F.max("max_cents").cast("long").alias("max_cents"),
        )
    )
    du = (
        h1.select("event_type", "user_id")
        .distinct()
        .unionByName(h2.select("event_type", "user_id").distinct())
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    return merged.join(du, "event_type")


# ---------------------------------------------------------------------------
# Data-forensics audits
# ---------------------------------------------------------------------------


@query(
    "cents_fraction_bias",
    oracle="""
    WITH f AS (
        SELECT CAST(round(value * 100) AS BIGINT) % 100 AS frac
        FROM events
    ),
    c AS (
        SELECT frac, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY frac
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
    SELECT frac, n,
           round(CAST(n AS DOUBLE) / t.tot, 6) + 0.0 AS share,
           round(CAST(n AS DOUBLE) / t.tot * 100.0, 6) + 0.0 AS lift
    FROM c CROSS JOIN t
    ORDER BY n DESC, frac ASC
    LIMIT 10
    """,
)
def cents_fraction_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cent fractions of the value column with their lift over
    the uniform 1/100 expectation — price-point forensics (human-priced
    data piles up on .00/.99/.50; a lift near 1 everywhere certifies a
    synthetic generator, which is this corpus's finding). Map-side
    modulo + count; the total is a 100-row re-aggregate."""
    e = _load(spark, sf_dir, "events")
    c = e.groupBy(
        (F.round(F.col("value") * 100).cast("long") % 100).alias("frac")
    ).agg(F.count(F.lit(1)).cast("long").alias("n")).localCheckpoint(
        eager=False
    )
    t = c.agg(F.sum("n").cast("long").alias("tot"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "frac",
            "n",
            (
                F.round(F.col("n").cast("double") / F.col("tot"), 6)
                + F.lit(0.0)
            ).alias("share"),
            (
                F.round(F.col("n").cast("double") / F.col("tot") * 100.0, 6)
                + F.lit(0.0)
            ).alias("lift"),
        )
        .orderBy(F.desc("n"), F.asc("frac"))
        .limit(10)
    )


@query(
    "linenumber_density_audit",
    oracle="""
    WITH p AS (
        SELECT l_orderkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(max(l_linenumber) AS BIGINT) AS max_ln
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_lines,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN max_ln = n_lines THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dense,
           round(CAST(sum(CASE WHEN max_ln = n_lines THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) + 0.0 AS dense_share
    FROM p GROUP BY n_lines
    """,
)
def linenumber_density_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are an order's line numbers the dense sequence 1..n, or were
    lines deleted upstream? Share of orders whose max(linenumber)
    equals their line count, by order size — the child-table
    completeness forensic (this corpus is mostly SPARSE, i.e. the
    generator samples line numbers; a real OLTP extract is dense).
    One orderkey aggregate and a 7-row histogram."""
    li = _load(spark, sf_dir, "lineitem")
    p = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.max("l_linenumber").cast("long").alias("max_ln"),
    )
    dense = F.when(F.col("max_ln") == F.col("n_lines"), 1).otherwise(0)
    return p.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(dense).cast("long").alias("n_dense"),
        (
            F.round(F.sum(dense).cast("double") / F.count(F.lit(1)), 6)
            + F.lit(0.0)
        ).alias("dense_share"),
    )


@query(
    "temporal_integrity_audit",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           round(CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate
                               THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
               + 0.0 AS violation_share,
           CAST(min(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE))) AS BIGINT)
               AS min_lag_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY order_year
    """,
)
def temporal_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ship-before-order violations per order year — the causal-order
    integrity check between independently generated parent/child
    facts (this corpus HAS violations, and quantifying them is the
    audit's job; a clean extract shows zeros). One orderkey join into
    a 7-row year rollup, integer day arithmetic."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    j = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    viol = F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
    return j.groupBy(
        F.year("o_orderdate").cast("long").alias("order_year")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(viol).cast("long").alias("n_violations"),
        (
            F.round(F.sum(viol).cast("double") / F.count(F.lit(1)), 6)
            + F.lit(0.0)
        ).alias("violation_share"),
        F.min(F.datediff("l_shipdate", "o_orderdate"))
        .cast("long")
        .alias("min_lag_days"),
    )


_A15_STREAM_COUNTER = [0]


@query(
    "stream_update_mode_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00')
               AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY window_start, event_type
    """,
)
def stream_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING in UPDATE output mode — the re-emission
    path the streaming family had not yet certified (complete-mode
    aggs, stream-stream, stream-static, dedup, and stateful sessions
    are). The source is split into multiple micro-batches
    (maxFilesPerTrigger over a day-partitioned write), so hot
    (window, type) keys are UPDATED several times; the memory sink
    accumulates every emission and the drained result is recovered as
    max(count) per key — counts only grow, so the last update is the
    max, and it must equal the batch rollup exactly. Watermark is set
    wide (40 days) so cross-batch disorder cannot drop rows: the
    certified surface is update-mode re-emission, not eviction
    (eviction is exercised by streaming/windows.py's production
    configuration)."""
    import os
    import tempfile

    prep(spark)
    e = _load(spark, sf_dir, "events").select("event_type", "ts")
    tmp = tempfile.mkdtemp(prefix="graft_stream_upd_")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    # day-partitioned write -> ~30 files -> ~6 micro-batches at 5/trigger
    e.withColumn("d", F.dayofmonth("ts")).repartition(
        30, F.col("d")
    ).drop("d").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 5)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "40 days")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _A15_STREAM_COUNTER[0] += 1
    name = f"graft_stream_upd_{os.getpid()}_{_A15_STREAM_COUNTER[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, tmp)
    return (
        spark.table(name)
        .groupBy(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(F.max("n").cast("bigint").alias("n_events"))
    )
