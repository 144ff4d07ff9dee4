"""Round-10 analytics extensions.

Families: distributed-rank products built on the new
``operators.winners.global_row_number`` kernel (the r9-verdict fix turned
into user-facing queries), sketch-accuracy VERDICT rows (the 100 TB
approximate forms certified by bounded-error assertions the driver can
hash-compare), reduced-TPC-H business analytics, arrival-process and
inequality statistics over the events stream, mobility transition
information measures, corpus divergence/novelty measures, and ANN
margin / probe-cost diagnostics.

Reference lineage: the rank/argmax shapes extend W4
(ntl_queries.py:41-47) to global cardinality; the sketch verdicts are
the A1/A5 aggregates (SURVEY §2.4) in their approximate 100 TB form;
everything else extends certified families (Welch/KS/MW/Theil stats,
OD-matrix mobility, unigram divergence corpus measures, IVF/kNN ANN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..operators.winners import (
    global_row_number,
)
from ..session import prep
from . import query


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    prep(spark)
    return catalog.load(spark, sf_dir, table)


# ---------------------------------------------------------------------------
# Distributed-rank products (global_row_number kernel)
# ---------------------------------------------------------------------------


@query(
    "order_price_rank_deciles",
    oracle="""
    WITH ranked AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                    AS BIGINT) AS rk
        FROM orders
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM ranked)
    SELECT CAST(((rk - 1) * 10) // n_tot AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(cents) AS DOUBLE) / count(*) / 100.0, 6)
               AS avg_price,
           round(CAST(min(cents) AS DOUBLE) / 100.0, 2) AS lo_price,
           round(CAST(max(cents) AS DOUBLE) / 100.0, 2) AS hi_price
    FROM ranked CROSS JOIN n
    GROUP BY decile
    """,
)
def order_price_rank_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-value decile profile via the DISTRIBUTED global rank
    kernel (operators.winners.global_row_number): every order gets its
    exact global row_number under (price, orderkey) with range
    partitioning + broadcast partition offsets — no SinglePartition sort
    at fact cardinality, unlike naive NTILE. Decile boundaries are exact
    integer arithmetic ((rk-1)*10 div n), so both engines bucket
    identically with no float rank math; prices fold as integer cents.
    The scale story IS the query: this is the kernel's fact-sized
    certification surface (the r9 verdict's named fix, promoted to a
    product query)."""
    o = _load(spark, sf_dir, "orders")
    # n_tot rides along as a column from the rank kernel's own
    # per-partition counts (total_col) — zero extra jobs and nothing
    # resolved at plan-build time: the whole query is one lazy plan.
    # Deriving it from the ranked frame instead re-executed the kernel's
    # window subtree twice more (a floor decomposition over cached
    # tables showed executor data time 5.03x the DuckDB wall before;
    # 0.36 s of the 0.73 s wall was those re-passes), and a
    # separate o.count() job was one whole scheduling floor (~0.08 s).
    # rank by (cents, orderkey), not (price, orderkey): round(x*100) is
    # monotone in x, so the cents order equals the price order up to
    # ties, and rows tied in cents carry identical cents — every
    # per-decile aggregate is invariant under their permutation, which
    # keeps the oracle (ranked by raw price) hash-identical while the
    # kernel sorts one long instead of a double + long. keep_cols drops
    # the orderkey tie-break from the checkpoint payload after the sort.
    ranked = global_row_number(
        o.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
        ),
        ["cents", "o_orderkey"],
        "rk",
        keep_cols=["cents"],
        total_col="n_tot",
    )
    return (
        ranked.select(
            F.expr("((rk - 1) * 10) div n_tot")
            .cast("long")
            .alias("decile"),
            "cents",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0, 6
            ).alias("avg_price"),
            F.round(F.min("cents").cast("double") / 100.0, 2).alias("lo_price"),
            F.round(F.max("cents").cast("double") / 100.0, 2).alias("hi_price"),
        )
    )


@query(
    "user_value_pareto",
    oracle="""
    WITH tot AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT v,
               CAST(row_number() OVER (ORDER BY -v, user_id) AS BIGINT) AS rk
        FROM tot
    ),
    n AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(v) AS BIGINT) AS v_all
        FROM ranked
    )
    SELECT pct,
           CAST((n_users * pct + 99) // 100 AS BIGINT) AS top_k_users,
           round(CAST(sum(CASE WHEN rk <= (n_users * pct + 99) // 100
                               THEN v ELSE 0 END) AS DOUBLE)
                 / CAST(min(v_all) AS DOUBLE), 6) AS value_share
    FROM ranked CROSS JOIN n
    CROSS JOIN (SELECT unnest([1, 5, 10, 25]) AS pct)
    GROUP BY pct, n_users
    """,
)
def user_value_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration of event value: the share of total value
    contributed by the top 1/5/10/25% of users — the whale-detection
    rollup behind sampling and capping decisions in a training-data
    pipeline. Ranks come from the distributed global rank kernel over
    the per-user summary (descending via rank on -v with user_id
    tie-break — exact integer cents, no float rank math); top-k cutoffs
    are ceil(n*p/100) in pure integer arithmetic. One fact-sized
    groupBy, then user-cardinality kernel + a 4-row fold."""
    e = _load(spark, sf_dir, "events")
    tot = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 1e6).cast("long"))
        .cast("long")
        .alias("v")
    )
    ranked = global_row_number(
        tot.withColumn("neg_v", -F.col("v")), ["neg_v", "user_id"], "rk"
    ).select("v", "rk")
    n = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("v").cast("long").alias("v_all"),
    )
    pcts = F.explode(F.array(*[F.lit(p) for p in (1, 5, 10, 25)])).alias("pct")
    base = ranked.crossJoin(F.broadcast(n)).select("v", "rk", "n_users", "v_all", pcts)
    k = F.expr("(n_users * pct + 99) div 100")
    return (
        base.groupBy("pct", "n_users")
        .agg(
            F.min(k).cast("long").alias("top_k_users"),
            F.round(
                F.sum(F.when(F.col("rk") <= k, F.col("v")).otherwise(F.lit(0)))
                .cast("double")
                / F.min("v_all").cast("double"),
                6,
            ).alias("value_share"),
        )
        .select("pct", "top_k_users", "value_share")
    )


# ---------------------------------------------------------------------------
# Sketch-accuracy verdict rows (approximate 100 TB forms, hash-comparable)
# ---------------------------------------------------------------------------


@query(
    "approx_distinct_users_verdict",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_users_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A1 aggregate (COUNT DISTINCT by group) in its 100 TB form —
    HLL approx_count_distinct — certified as a BOUNDED-ERROR VERDICT the
    driver can hash-compare (the r9 verdict's design for the one
    historically red rows-only entry): the oracle computes the exact
    distinct count and asserts TRUE; Spark computes BOTH the exact count
    (matching the oracle column) and the HLL estimate, and emits
    within_bound = |hll - exact| <= 0.25*exact + 3 (five relative
    standard deviations at rsd=0.05, plus a small-count floor). A sketch
    regression flips the verdict to FALSE and the row goes red — the
    estimate itself is never hashed, so HLL's platform-defined low-order
    bits can't cause a spurious mismatch."""
    e = _load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", 0.05).cast("double")
                - F.countDistinct("user_id").cast("double")
            )
            <= 0.25 * F.countDistinct("user_id").cast("double") + 3.0
        ).alias("within_bound"),
    )


@query(
    "median_sketch_verdict",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(quantile_cont(value, 0.5), 6) AS p50,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def median_sketch_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A5 quantile in its 100 TB form — approx_percentile (GK
    sketch) — certified as a bounded RANK-ERROR verdict: Spark computes
    the per-type approximate median, joins it back, and asserts that the
    number of values <= the sketch's answer is within 2% of n/2 + 2 of
    the true median rank (the GK guarantee at accuracy=10000 is 200x
    tighter; the slack keeps the verdict robust). The exact p50 column
    (linear-interpolation percentile, the certified value_quantiles
    discipline) is what the driver hash-compares for value; the sketch
    only has to land inside the rank bound."""
    e = _load(spark, sf_dir, "events")
    ap = e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("ap")
    )
    j = e.join(F.broadcast(ap), "event_type")
    n = F.count(F.lit(1))
    n_le = F.sum(F.when(F.col("value") <= F.col("ap"), 1).otherwise(0))
    return j.groupBy("event_type").agg(
        n.cast("long").alias("n_events"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        (
            F.abs(n_le.cast("double") - n.cast("double") / 2.0)
            <= 0.02 * n.cast("double") + 2.0
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# Reduced-TPC-H business analytics
# ---------------------------------------------------------------------------


@query(
    "order_status_priority_matrix",
    oracle="""
    WITH g AS (
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_tot FROM g)
    SELECT o_orderstatus, o_orderpriority, n_orders,
           round(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
           round(CAST(n_orders AS DOUBLE) / CAST(n_tot AS DOUBLE), 6) AS share
    FROM g CROSS JOIN t
    """,
)
def order_status_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order status x priority contingency rollup with revenue and count
    share — the A2/A11 grouped-count family on the orders fact alone
    (returnflag_priority_counts covers the lineitem side). One map-side
    combined groupBy to the 15-cell grid; the total joins back as a
    broadcast scalar (never a global window). Money folds as exact
    integer cents."""
    o = _load(spark, sf_dir, "orders")
    g = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    t = g.agg(F.sum("n_orders").cast("long").alias("n_tot"))
    return g.crossJoin(F.broadcast(t)).select(
        "o_orderstatus",
        "o_orderpriority",
        "n_orders",
        F.round(F.col("cents").cast("double") / 100.0, 2).alias("revenue"),
        F.round(
            F.col("n_orders").cast("double") / F.col("n_tot").cast("double"), 6
        ).alias("share"),
    )


@query(
    "supplier_year_rank_change",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey, year(l_shipdate) AS yr,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem
        WHERE year(l_shipdate) IN (1996, 1997)
        GROUP BY l_suppkey, yr
    ),
    ranked AS (
        SELECT l_suppkey, yr,
               CAST(row_number() OVER (
                   PARTITION BY yr ORDER BY cents DESC, l_suppkey ASC
               ) AS BIGINT) AS rk
        FROM rev
    )
    SELECT a.l_suppkey AS s_suppkey,
           a.rk AS rank_1996,
           b.rk AS rank_1997,
           CAST(a.rk - b.rk AS BIGINT) AS rank_delta
    FROM ranked a JOIN ranked b
      ON a.l_suppkey = b.l_suppkey AND a.yr = 1996 AND b.yr = 1997
    ORDER BY abs(a.rk - b.rk) DESC, a.l_suppkey ASC
    LIMIT 25
    """,
)
def supplier_year_rank_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year supplier revenue rank movement (1996 vs 1997):
    which suppliers climbed or fell hardest — the leaderboard-drift
    analytic. Revenue folds as integer cents; ranks are per-year
    row_number windows PARTITIONED by year over the supplier-cardinality
    summary (dim-sized — the legitimate partitioned-window form, no
    global sort); the movers join is supplier-keyed and the top-25 is
    a TakeOrderedAndProject on (|delta| DESC, suppkey ASC) — a total
    order."""
    li = _load(spark, sf_dir, "lineitem").where(
        F.year("l_shipdate").isin(1996, 1997)
    )
    rev = li.groupBy(
        "l_suppkey", F.year("l_shipdate").alias("yr")
    ).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        )
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("yr").orderBy(F.desc("cents"), F.asc("l_suppkey"))
    ranked = rev.withColumn("rk", F.row_number().over(w).cast("long"))
    a = ranked.where(F.col("yr") == 1996).select(
        F.col("l_suppkey").alias("s_suppkey"), F.col("rk").alias("rank_1996")
    )
    b = ranked.where(F.col("yr") == 1997).select(
        F.col("l_suppkey").alias("s_suppkey"), F.col("rk").alias("rank_1997")
    )
    return (
        a.join(b, "s_suppkey")
        .select(
            "s_suppkey",
            "rank_1996",
            "rank_1997",
            (F.col("rank_1996") - F.col("rank_1997"))
            .cast("long")
            .alias("rank_delta"),
        )
        .orderBy(F.abs(F.col("rank_delta")).desc(), F.asc("s_suppkey"))
        .limit(25)
    )


@query(
    "shipping_sla_by_month",
    oracle="""
    SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate)
                              <= 30 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_within_30d,
           round(CAST(sum(CASE WHEN date_diff('day', o.o_orderdate,
                                              l.l_shipdate) <= 30
                               THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
               AS sla_share
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY order_month
    """,
)
def shipping_sla_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfilment SLA: the share of line items shipped within 30 days of
    their order date, by order month — the J-family big-big equi-join
    (lineitem x orders on orderkey, both fact-sized, shuffle on the join
    key with AQE) feeding a calendar-bounded rollup. Timestamps leave
    the plan as 'yyyy-MM' strings (the no-raw-timestamps output
    discipline); day difference is exact integer calendar arithmetic on
    both engines."""
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    within = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) <= 30, 1
    ).otherwise(0)
    return j.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(within).cast("long").alias("n_within_30d"),
        F.round(
            F.sum(within).cast("double") / F.count(F.lit(1)), 6
        ).alias("sla_share"),
    )


@query(
    "reorder_latency_by_segment",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderdate,
               lag(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
               ) AS prev_date
        FROM orders
    ),
    gaps AS (
        SELECT o_custkey,
               CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT)
                   AS gap_days
        FROM seq WHERE prev_date IS NOT NULL
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_gaps,
           round(CAST(sum(g.gap_days) AS DOUBLE) / count(*), 6) AS avg_gap_days,
           round(quantile_cont(g.gap_days, 0.5), 6) AS p50_gap_days
    FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def reorder_latency_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-order latency (days between a customer's consecutive orders)
    profiled by market segment — purchase-cycle analytics. The lag
    window is PARTITIONED by customer (the scale-safe W-family form,
    never global); the segment dim attaches by broadcast join; gap days
    are exact integers so the interpolated median hits exact half-day
    points on both engines."""
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev_date"),
    )
    gaps = seq.where(F.col("prev_date").isNotNull()).select(
        "o_custkey",
        F.datediff("o_orderdate", "prev_date").cast("long").alias("gap_days"),
    )
    return (
        gaps.join(F.broadcast(c), gaps.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.round(
                F.sum("gap_days").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_gap_days"),
            F.round(F.expr("percentile(gap_days, 0.5)"), 6).alias(
                "p50_gap_days"
            ),
        )
    )


@query(
    "part_brand_price_iqr",
    oracle="""
    WITH cents AS (
        SELECT p_brand,
               CAST(round(p_retailprice * 100) AS BIGINT) AS c
        FROM part
    ),
    q AS (
        SELECT p_brand,
               quantile_cont(c, 0.25) AS q1,
               quantile_cont(c, 0.75) AS q3
        FROM cents GROUP BY p_brand
    )
    SELECT c.p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(q.q1, 6) AS q1_cents,
           round(q.q3, 6) AS q3_cents,
           CAST(sum(CASE WHEN c.c < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR c.c > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM cents c JOIN q ON c.p_brand = q.p_brand
    GROUP BY c.p_brand, q.q1, q.q3
    """,
)
def part_brand_price_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand retail-price IQR and Tukey-fence outlier count — the
    robust-dispersion complement of part_size_price_regression. All
    arithmetic is on integer cents: quartile interpolation lands on
    exact binary quarter-cents and the 1.5*IQR fences on exact eighths,
    so the outlier comparisons are bit-deterministic across engines (the
    float-boundary hazard that plagues naive IQR differentials is
    engineered out). Two passes over the dim-sized part table: a 25-row
    quantile agg, broadcast back, one conditional count."""
    p = _load(spark, sf_dir, "part").select(
        "p_brand",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("c"),
    )
    q = p.groupBy("p_brand").agg(
        F.expr("percentile(c, 0.25)").alias("q1"),
        F.expr("percentile(c, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        p.join(F.broadcast(q), "p_brand")
        .groupBy("p_brand", "q1", "q3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum(
                F.when(
                    (F.col("c") < F.col("q1") - 1.5 * iqr)
                    | (F.col("c") > F.col("q3") + 1.5 * iqr),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            "p_brand",
            "n_parts",
            F.round("q1", 6).alias("q1_cents"),
            F.round("q3", 6).alias("q3_cents"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# Events-stream arrival-process and inequality statistics
# ---------------------------------------------------------------------------


@query(
    "rolling_7d_active_users",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    spine AS (SELECT DISTINCT d FROM du)
    SELECT strftime(s.d, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_active_7d
    FROM spine s JOIN du u
      ON u.d BETWEEN s.d - INTERVAL 6 DAY AND s.d
    GROUP BY s.d
    """,
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users per day (the WAU-style rolling
    distinct that COUNT(DISTINCT) OVER RANGE cannot express). The scale
    plan avoids the range join entirely: each (day, user) activity row
    EXPLODES to the <=7 future days it keeps alive (a bounded fan-out,
    the interval-join-to-equi-join rewrite), then one groupBy(day)
    COUNT(DISTINCT) — equi-shuffle only, no BNLJ, clipped to the
    observed-day spine with a broadcast semi-join. DuckDB mirrors the
    semantics with the direct range join (summary-scale there)."""
    e = _load(spark, sf_dir, "events")
    du = e.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    spine = du.select("d").distinct()
    targets = du.select(
        F.explode(
            F.sequence(
                F.col("d"), F.date_add(F.col("d"), 6)
            )
        ).alias("day_d"),
        "user_id",
    )
    return (
        targets.join(F.broadcast(spine), targets.day_d == spine.d, "left_semi")
        .groupBy("day_d")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active_7d"))
        .select(
            F.date_format("day_d", "yyyy-MM-dd").alias("day"), "n_active_7d"
        )
    )


@query(
    "session_gap_sensitivity",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS gap_us
        FROM events
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM seq)
    SELECT CAST(thr_s AS BIGINT) AS gap_seconds,
           CAST(sum(CASE WHEN gap_us IS NULL
                           OR gap_us > CAST(thr_s AS BIGINT) * 1000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           round(CAST(min(n.n_events) AS DOUBLE)
                 / sum(CASE WHEN gap_us IS NULL
                              OR gap_us > CAST(thr_s AS BIGINT) * 1000000
                            THEN 1 ELSE 0 END), 6) AS avg_events_per_session
    FROM seq CROSS JOIN n
    CROSS JOIN (SELECT unnest([900, 1800, 3600]) AS thr_s)
    GROUP BY thr_s
    """,
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization-parameter sweep: session count and mean session
    size under 15/30/60-minute gap thresholds in ONE pass — the
    hyperparameter-sensitivity report that tells you whether downstream
    session metrics are stable to the gap choice (the
    near_dup_threshold_sweep discipline applied to time). Gaps are
    computed once with a user-partitioned lag window; each threshold is
    a conditional sum over the same gap stream (no per-threshold
    re-scan), then a 3-row unpivot."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = e.select(
        F.unix_micros("ts").alias("us"),
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    for thr in (900, 1800, 3600):
        aggs.append(
            F.sum(
                F.when(
                    F.col("gap_us").isNull()
                    | (F.col("gap_us") > thr * 1_000_000),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"s{thr}")
        )
    one = seq.agg(*aggs)
    return one.select(
        F.expr(
            "stack(3, "
            "900L, s900, 1800L, s1800, 3600L, s3600"
            ") AS (gap_seconds, n_sessions)"
        ),
        "n_events",
    ).select(
        "gap_seconds",
        "n_sessions",
        F.round(
            F.col("n_events").cast("double") / F.col("n_sessions"), 6
        ).alias("avg_events_per_session"),
    )


_CONC_HIST_ORACLE = """
    WITH seq AS (
        SELECT user_id, ts, event_id,
               lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS prev_us
        FROM events
    ),
    marked AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CASE WHEN prev_us IS NULL
                         OR epoch_us(ts) - prev_us > 3600000000
                    THEN 1 ELSE 0 END AS is_start
        FROM seq
    ),
    sess AS (
        SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us
        FROM (
            SELECT user_id, us,
                   sum(is_start) OVER (
                       PARTITION BY user_id
                       ORDER BY us ASC, event_id ASC
                       ROWS UNBOUNDED PRECEDING
                   ) AS sid
            FROM marked
        ) GROUP BY user_id, sid
    ),
    pts AS (
        SELECT s_us AS us, 1 AS delta, user_id, sid FROM sess
        UNION ALL
        SELECT e_us + 1, -1, user_id, sid FROM sess
    ),
    run AS (
        SELECT sum(delta) OVER (
                   ORDER BY us ASC, delta ASC, user_id ASC, sid ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS conc
        FROM pts
    )
    SELECT CAST(conc AS BIGINT) AS concurrency,
           CAST(count(*) AS BIGINT) AS n_endpoints
    FROM run GROUP BY conc
    """


@query("concurrency_histogram", oracle=_CONC_HIST_ORACLE)
def concurrency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL DISTRIBUTION of the session-concurrency sweep line (how many
    endpoint instants saw k concurrent sessions) — the capacity-planning
    histogram behind the certified peak_concurrency scalar: the peak
    tells you the worst instant, this tells you how fat the tail is.
    Runs the day-partitioned carry-forward sweep (the
    peak_concurrency_partitioned 100 TB shape: per-day running sums +
    a calendar-bounded carry table broadcast back — no data-sized
    single-partition window), then one groupBy(conc). Same session
    endpoints, same total order, same oracle CTE family."""
    from .temporal import _session_endpoints

    day_us = 86_400_000_000
    pts = _session_endpoints(spark, sf_dir).withColumn(
        "day", F.expr(f"us div {day_us}")
    )
    day_tot = pts.groupBy("day").agg(F.sum("delta").alias("tot"))
    w_days = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = day_tot.select(
        "day", F.coalesce(F.sum("tot").over(w_days), F.lit(0)).alias("carry")
    )
    w_day_sweep = (
        Window.partitionBy("day")
        .orderBy(
            F.col("us").asc(),
            F.col("delta").asc(),
            F.col("user_id").asc(),
            F.col("sid").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = (
        pts.withColumn("in_day", F.sum("delta").over(w_day_sweep))
        .join(F.broadcast(carry), "day")
        .select((F.col("in_day") + F.col("carry")).alias("conc"))
    )
    return run.groupBy(F.col("conc").cast("long").alias("concurrency")).agg(
        F.count(F.lit(1)).cast("long").alias("n_endpoints")
    )


@query(
    "value_theil_by_type",
    oracle="""
    WITH ux AS (
        SELECT event_type, user_id,
               CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY event_type, user_id
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(x) AS DOUBLE) / count(*) AS mu
        FROM ux GROUP BY event_type
    )
    SELECT u.event_type,
           CAST(min(m.n_users) AS BIGINT) AS n_users,
           round(sum((u.x / m.mu) * ln(u.x / m.mu)) / min(m.n_users), 6)
               AS theil_t
    FROM ux u JOIN m ON u.event_type = m.event_type
    GROUP BY u.event_type
    """,
)
def value_theil_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-user value concentration within
    each event type — the information-theoretic inequality measure next
    to the certified Gini (user_activity_gini counts events; this
    weighs value, and Theil decomposes additively where Gini does not).
    T = mean over users of (x/mu)·ln(x/mu), zero when value is spread
    evenly, ln(n) when one user holds everything. Per-user sums fold as
    exact integer micro-units; one fact-sized groupBy, then
    type-cardinality math (broadcast of the 5-row mean table)."""
    e = _load(spark, sf_dir, "events")
    ux = e.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 1e6).cast("long"))
        .cast("long")
        .alias("x")
    )
    m = ux.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu"),
    )
    r = F.col("x") / F.col("mu")
    return (
        ux.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n_users").cast("long").alias("n_users"),
            F.round(
                F.sum(r * F.log(r)) / F.min("n_users"), 6
            ).alias("theil_t"),
        )
    )


@query(
    "gap_tail_hill",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts ASC, event_id ASC
               ) AS gap_us
        FROM events
    ),
    tail AS (
        SELECT event_type, CAST(gap_us AS DOUBLE) / 1000000.0 AS gap_s
        FROM seq WHERE gap_us > CAST(600 AS BIGINT) * 1000000
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_tail,
           round(count(*) / sum(ln(gap_s / 600.0)), 6) AS hill_alpha
    FROM tail GROUP BY event_type
    """,
)
def gap_tail_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the inter-event-gap tail exponent per event
    type (threshold form: alpha = n / sum ln(gap/u) over gaps above
    u=600 s) — the heavy-tail diagnostic that tells you whether arrival
    gaps are Pareto-like (alpha small: bursts separated by enormous
    silences — reservoir and timeout sizing must plan for it) or
    light-tailed. Complements user_burstiness (a CV-style index) with an
    actual tail-law fit. The tail filter is an exact integer-micros
    comparison, so both engines select identical gap sets; only the log
    fold is float. Lag window partitioned by (user, type) — scale-safe."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = e.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    )
    tail = seq.where(F.col("gap_us") > 600 * 1_000_000).select(
        "event_type",
        (F.col("gap_us").cast("double") / 1_000_000.0).alias("gap_s"),
    )
    return tail.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        F.round(
            F.count(F.lit(1)) / F.sum(F.log(F.col("gap_s") / 600.0)), 6
        ).alias("hill_alpha"),
    )


# ---------------------------------------------------------------------------
# Mobility transition information measures (reuses the pings synth layer)
# ---------------------------------------------------------------------------


def _pings_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-timestamp device positions (caid, ts, cell) —
    the OD-matrix position collapse (min cell per (caid, ts)), built on
    the shared single-exchange caid spine (pings._pos_spine, guide §2.4:
    one repartition serves the collapse and every downstream
    caid-clustered window/aggregate; byte-neutral because the collapse
    key is unique per ping row in this derivation)."""
    from .pings import _pos_spine

    return _pos_spine(spark, sf_dir)


def _pings_prefix_sql() -> str:
    from ..functions.squaregrid import cell_sql
    from .pings import _PINGS_CTE, RES

    return (
        "WITH "
        + _PINGS_CTE.strip().removeprefix("WITH").strip()
        + f""",
    pos AS MATERIALIZED (
        SELECT caid, cdmx_datetime, min({cell_sql(RES)}) AS cell
        FROM pings GROUP BY caid, cdmx_datetime
    )"""
    )


def _transitions_sql() -> str:
    return (
        _pings_prefix_sql()
        + """,
    seq AS (
        SELECT caid, cell,
               lag(cell) OVER (
                   PARTITION BY caid ORDER BY cdmx_datetime ASC
               ) AS prev_cell
        FROM pos
    ),
    trans AS (
        SELECT prev_cell AS from_cell, cell AS to_cell,
               CAST(count(*) AS BIGINT) AS n
        FROM seq
        WHERE prev_cell IS NOT NULL AND prev_cell <> cell
        GROUP BY from_cell, to_cell
    )"""
    )


@query(
    "cell_transition_pmi",
    oracle=_transitions_sql()
    + """,
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM trans),
    fm AS (SELECT from_cell, CAST(sum(n) AS BIGINT) AS nf FROM trans GROUP BY from_cell),
    tm AS (SELECT to_cell, CAST(sum(n) AS BIGINT) AS nt FROM trans GROUP BY to_cell)
    SELECT t.from_cell, t.to_cell, t.n,
           round(ln(CAST(t.n AS DOUBLE) * CAST(tot.n_all AS DOUBLE)
                    / (CAST(fm.nf AS DOUBLE) * CAST(tm.nt AS DOUBLE))), 6)
               AS pmi
    FROM trans t
    JOIN fm ON t.from_cell = fm.from_cell
    JOIN tm ON t.to_cell = tm.to_cell
    CROSS JOIN tot
    WHERE t.n >= 1
    ORDER BY pmi DESC, t.from_cell ASC, t.to_cell ASC
    LIMIT 40
    """,
)
def cell_transition_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of directed cell transitions — which
    trips are over-represented relative to independent origin/destination
    popularity (the mobility analogue of the certified pmi_collocations
    on text bigrams; raw counts alone just re-rank the busiest cells).
    Built on the OD transition stream (device_od_matrix's deterministic
    position collapse + caid-partitioned lag); marginals are
    cell-cardinality aggregates joined back (broadcast-able), PMI is one
    log per realized pair, and the top-40 orders on (rounded pmi DESC,
    from, to) — a total order (support gate kept at n>=1 so the
    smoke tier stays non-degenerate; raise it at scale)."""
    pos = _pings_cells(spark, sf_dir)
    w = Window.partitionBy("caid").orderBy(F.asc("cdmx_datetime"))
    seq = pos.select(
        "caid", "cell", F.lag("cell").over(w).alias("prev_cell")
    )
    trans = (
        seq.where(
            F.col("prev_cell").isNotNull()
            & (F.col("prev_cell") != F.col("cell"))
        )
        .groupBy(
            F.col("prev_cell").alias("from_cell"),
            F.col("cell").alias("to_cell"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # referenced by tot/fm/tm AND the final join — without this the
        # md5 ping derivation + lag window re-execute 4x (plan_audit
        # lead; the repo's checkpoint-on-reuse rule)
        .localCheckpoint(eager=False)
    )
    tot = trans.agg(F.sum("n").cast("long").alias("n_all"))
    fm = trans.groupBy("from_cell").agg(F.sum("n").cast("long").alias("nf"))
    tm = trans.groupBy("to_cell").agg(F.sum("n").cast("long").alias("nt"))
    return (
        trans.where(F.col("n") >= 1)
        .join(fm, "from_cell")
        .join(tm, "to_cell")
        .crossJoin(F.broadcast(tot))
        .select(
            "from_cell",
            "to_cell",
            "n",
            F.round(
                F.log(
                    F.col("n").cast("double")
                    * F.col("n_all").cast("double")
                    / (F.col("nf").cast("double") * F.col("nt").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("from_cell"), F.asc("to_cell"))
        .limit(40)
    )


@query(
    "device_exploration_quantiles",
    oracle=_pings_prefix_sql()
    + """,
    per_dev AS (
        SELECT caid,
               CAST(count(*) AS BIGINT) AS n_pos,
               CAST(count(DISTINCT cell) AS BIGINT) AS n_cells
        FROM pos GROUP BY caid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_devices,
           round(quantile_cont(CAST(n_cells AS DOUBLE) / n_pos, 0.10), 6) AS p10,
           round(quantile_cont(CAST(n_cells AS DOUBLE) / n_pos, 0.25), 6) AS p25,
           round(quantile_cont(CAST(n_cells AS DOUBLE) / n_pos, 0.50), 6) AS p50,
           round(quantile_cont(CAST(n_cells AS DOUBLE) / n_pos, 0.75), 6) AS p75,
           round(quantile_cont(CAST(n_cells AS DOUBLE) / n_pos, 0.90), 6) AS p90
    FROM per_dev
    """,
)
def device_exploration_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of the device exploration ratio (distinct cells
    visited / positions recorded): explorers near 1, returners near 0 —
    the population-level mobility-diversity profile next to the
    per-device entropy (device_mobility_entropy ranks devices; this
    gives the cohort shape planners actually read). One device-keyed
    aggregate (count + count distinct per caid — map-side combined),
    then a 5-point interpolated quantile fold over the device summary."""
    pos = _pings_cells(spark, sf_dir)
    per_dev = pos.groupBy("caid").agg(
        F.count(F.lit(1)).cast("long").alias("n_pos"),
        F.countDistinct("cell").cast("long").alias("n_cells"),
    )
    ratio = (F.col("n_cells").cast("double") / F.col("n_pos")).alias("r")
    rd = per_dev.select(ratio)
    return rd.agg(
        F.count(F.lit(1)).cast("long").alias("n_devices"),
        F.round(F.expr("percentile(r, 0.10)"), 6).alias("p10"),
        F.round(F.expr("percentile(r, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(r, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(r, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(r, 0.90)"), 6).alias("p90"),
    )


@query(
    "cell_peak_hour",
    oracle=_pings_prefix_sql()
    + """,
    ch AS (
        SELECT cell, EXTRACT(hour FROM cdmx_datetime) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM pos GROUP BY cell, hr
    ),
    win AS (
        SELECT cell, hr, n,
               CAST(sum(n) OVER (PARTITION BY cell) AS BIGINT) AS n_total,
               row_number() OVER (
                   PARTITION BY cell ORDER BY n DESC, hr ASC
               ) AS rn
        FROM ch
    )
    SELECT cell,
           CAST(hr AS BIGINT) AS peak_hour,
           n AS n_peak,
           n_total,
           round(CAST(n AS DOUBLE) / n_total, 6) AS peak_share
    FROM win WHERE rn = 1
    ORDER BY n_total DESC, cell ASC
    LIMIT 50
    """,
)
def cell_peak_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell peak hour-of-day with its traffic share — the
    cell-capacity scheduling rollup (when does each hotspot actually
    peak, and how peaked is it). The argmax is the engine's W4 winner
    kernel PARTITIONED by cell (count DESC, hour ASC — total order);
    the per-cell total rides the same partition as a window sum over the
    24-row-per-cell summary, so there is exactly one (cell, hour)
    aggregate shuffle and one cell-partitioned window; top-50 busiest
    cells by (total DESC, cell ASC)."""
    pos = _pings_cells(spark, sf_dir)
    ch = pos.groupBy(
        "cell", F.hour("cdmx_datetime").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_tot = Window.partitionBy("cell")
    w_rank = Window.partitionBy("cell").orderBy(F.desc("n"), F.asc("hr"))
    win = ch.select(
        "cell",
        "hr",
        "n",
        F.sum("n").over(w_tot).cast("long").alias("n_total"),
        F.row_number().over(w_rank).alias("rn"),
    )
    return (
        win.where(F.col("rn") == 1)
        .select(
            "cell",
            F.col("hr").cast("long").alias("peak_hour"),
            F.col("n").alias("n_peak"),
            "n_total",
            F.round(F.col("n").cast("double") / F.col("n_total"), 6).alias(
                "peak_share"
            ),
        )
        .orderBy(F.desc("n_total"), F.asc("cell"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Corpus divergence / novelty measures
# ---------------------------------------------------------------------------


@query(
    "source_jsd_matrix",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    cnt AS (
        SELECT source, t, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY source, t
    ),
    tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source),
    dist AS (
        SELECT c.source, c.t, CAST(c.c AS DOUBLE) / t.n AS p
        FROM cnt c JOIN tot t ON c.source = t.source
    ),
    pairterms AS (
        SELECT a.source AS src_a, b.source AS src_b,
               sum(a.p / 2 * ln(2 * a.p / (a.p + b.p))
                   + b.p / 2 * ln(2 * b.p / (a.p + b.p))) AS shared_term,
               sum(a.p) AS pa_shared,
               sum(b.p) AS pb_shared
        FROM dist a JOIN dist b ON a.t = b.t AND a.source < b.source
        GROUP BY src_a, src_b
    )
    SELECT src_a, src_b,
           round(shared_term
                 + (1 - pa_shared) / 2 * ln(2)
                 + (1 - pb_shared) / 2 * ln(2), 6) + 0.0 AS jsd
    FROM pairterms
    """,
)
def source_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions — the symmetric, bounded divergence matrix behind
    source-mix curation (source_unigram_kl measures drift from the
    corpus mean; JSD says which sources duplicate each other, feeding
    down-weighting decisions). Closed over the shared-vocabulary join:
    JSD(P,Q) = sum_shared[p/2 ln(2p/(p+q)) + q/2 ln(2q/(p+q))]
    + (1-sum p_shared)/2 ln2 + (1-sum q_shared)/2 ln2 — the exclusive
    mass enters in closed form, so one token-keyed inner self-join of
    the per-source distributions (map-side combined counts, never a
    vocab x sources² blow-up) is the whole plan."""
    d = _load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("t"))
    cnt = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    # both sides of the pair self-join read this frame; its exchanges
    # canonicalize identically, so ReuseExchange runs the tokenize+count
    # subtree once. The pre-r14 localCheckpoint achieved the same reuse
    # but converted to an RDD at plan-BUILD time, which kicked off the
    # broadcast of `tot` (and its whole upstream count pipeline, ~0.7 s)
    # before any action — work the r14 bench methodology requires inside
    # the timed region (OPTIMIZATION_r14.md).
    dist = cnt.join(tot, "source").select(
        "source", "t", (F.col("c").cast("double") / F.col("n")).alias("p")
    )
    a = dist.select(
        F.col("source").alias("src_a"), F.col("t").alias("t"), F.col("p").alias("pa")
    )
    b = dist.select(
        F.col("source").alias("src_b"), F.col("t").alias("t"), F.col("p").alias("pb")
    )
    pa, pb = F.col("pa"), F.col("pb")
    terms = a.join(b, "t").where(F.col("src_a") < F.col("src_b"))
    pair = terms.groupBy("src_a", "src_b").agg(
        F.sum(
            pa / 2 * F.log(2 * pa / (pa + pb)) + pb / 2 * F.log(2 * pb / (pa + pb))
        ).alias("shared_term"),
        F.sum(pa).alias("pa_shared"),
        F.sum(pb).alias("pb_shared"),
    )
    ln2 = float(__import__("math").log(2.0))
    return pair.select(
        "src_a",
        "src_b",
        (
            F.round(
                F.col("shared_term")
                + (1 - F.col("pa_shared")) / 2 * ln2
                + (1 - F.col("pb_shared")) / 2 * ln2,
                6,
            )
            + F.lit(0.0)
        ).alias("jsd"),
    )


@query(
    "ttr_by_length_bucket",
    oracle="""
    WITH per_doc AS (
        SELECT n_chars // 100 AS bucket,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_uniq
        FROM documents
    )
    SELECT CAST(bucket AS BIGINT) AS len_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(CAST(n_uniq AS DOUBLE) / n_tok), 6) AS avg_ttr
    FROM per_doc GROUP BY bucket
    """,
)
def ttr_by_length_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio by document-length bucket (100-char bands) —
    the lexical-diversity-vs-length curve every corpus curator checks
    before setting a TTR quality gate, because raw TTR collapses as
    documents grow (Heaps' law) and an unconditioned threshold would
    just delete long documents. Map-only per-doc token stats fused with
    the scan (array size / distinct-array size — no explode), one
    bucket-cardinality groupBy."""
    d = _load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    per_doc = d.select(
        F.expr("n_chars div 100").alias("bucket"),
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    return per_doc.groupBy(
        F.col("bucket").cast("long").alias("len_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.avg(F.col("n_uniq").cast("double") / F.col("n_tok")), 6
        ).alias("avg_ttr"),
    )


@query(
    "doc_positional_novelty",
    oracle="""
    WITH tp AS (
        SELECT doc_id, source,
               unnest(list_transform(
                   range(1, len(string_split(text, ' ')) + 1),
                   i -> struct_pack(pos := i,
                                    tok := string_split(text, ' ')[i]))) AS u,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    per_tok AS (
        SELECT doc_id, source, u.tok,
               min(u.pos) AS min_pos, max(u.pos) AS max_pos,
               min(n_tok) AS n_tok
        FROM tp GROUP BY doc_id, source, u.tok
    ),
    per_doc AS (
        SELECT doc_id, source,
               sum(CASE WHEN min_pos > n_tok // 2 THEN 1 ELSE 0 END) AS novel2,
               sum(CASE WHEN max_pos > n_tok // 2 THEN 1 ELSE 0 END) AS in2
        FROM per_tok GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(CAST(novel2 AS DOUBLE) / in2), 6) AS avg_novelty
    FROM per_doc WHERE in2 > 0 GROUP BY source
    """,
)
def doc_positional_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional novelty: of the distinct tokens appearing in a
    document's second half, what fraction never appeared in the first
    half — near 0 for repetitive/looping text (the doc_repetition
    failure mode seen positionally), higher for documents that keep
    introducing vocabulary. Averaged per source. One posexplode to
    (doc, token) min/max positions (map-side combined), a doc-level
    fold, a source-level fold — integer position arithmetic throughout,
    the only float is the final ratio."""
    d = _load(spark, sf_dir, "documents")
    tp = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    per_tok = tp.groupBy("doc_id", "source", "tok").agg(
        F.min(F.col("pos0") + 1).alias("min_pos"),
        F.max(F.col("pos0") + 1).alias("max_pos"),
        F.min("n_tok").alias("n_tok"),
    )
    h = F.expr("n_tok div 2")
    per_doc = per_tok.groupBy("doc_id", "source").agg(
        F.sum(F.when(F.col("min_pos") > h, 1).otherwise(0)).alias("novel2"),
        F.sum(F.when(F.col("max_pos") > h, 1).otherwise(0)).alias("in2"),
    )
    return (
        per_doc.where(F.col("in2") > 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.avg(F.col("novel2").cast("double") / F.col("in2")), 6
            ).alias("avg_novelty"),
        )
    )


@query(
    "daily_count_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY d
    ),
    cum AS (
        SELECT d, c,
               CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
               CAST(sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_c
        FROM daily
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
        FROM daily
    ),
    stats AS (
        SELECT d,
               CAST(cum_c AS DOUBLE) / k AS mean_before,
               CAST(s - cum_c AS DOUBLE) / (n - k) AS mean_after,
               round(abs(CAST(cum_c AS DOUBLE) / k
                         - CAST(s - cum_c AS DOUBLE) / (n - k))
                     * sqrt(CAST(k AS DOUBLE) * (n - k) / n), 6) AS t_stat
        FROM cum CROSS JOIN tot
        WHERE k < n
    )
    SELECT strftime(d, '%Y-%m-%d') AS split_date,
           t_stat,
           round(mean_before, 6) AS mean_before,
           round(mean_after, 6) AS mean_after
    FROM stats
    ORDER BY t_stat DESC, d ASC
    LIMIT 1
    """,
)
def daily_count_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point scan over the daily event-count series (the
    first step of binary segmentation): the split day maximizing the
    CUSUM-style two-sample statistic |mean_left - mean_right| *
    sqrt(k(n-k)/n) — locates a level shift, where the certified
    value_cusum_range only detects that drift exists and
    hourly_anomaly_zscore flags single points. The fact collapses to a
    calendar-bounded daily series (one groupBy); the scan over split
    candidates is a running-sum window over those ~30 rows (the
    deliberately calendar-bounded unpartitioned window, the
    peak-concurrency carry discipline); argmax picks on the ROUNDED
    statistic with the date as tie-break — a total order."""
    e = _load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).cast("long").alias("k"),
        F.sum("c").over(w).cast("long").alias("cum_c"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    j = cum.crossJoin(F.broadcast(tot)).where(F.col("k") < F.col("n"))
    mean_before = F.col("cum_c").cast("double") / F.col("k")
    mean_after = (F.col("s") - F.col("cum_c")).cast("double") / (
        F.col("n") - F.col("k")
    )
    t_stat = F.round(
        F.abs(mean_before - mean_after)
        * F.sqrt(
            F.col("k").cast("double")
            * (F.col("n") - F.col("k"))
            / F.col("n")
        ),
        6,
    )
    return (
        j.select(
            F.date_format("d", "yyyy-MM-dd").alias("split_date"),
            t_stat.alias("t_stat"),
            F.round(mean_before, 6).alias("mean_before"),
            F.round(mean_after, 6).alias("mean_after"),
            F.col("d").alias("__d"),
        )
        .orderBy(F.desc("t_stat"), F.asc("__d"))
        .limit(1)
        .drop("__d")
    )


# ---------------------------------------------------------------------------
# ANN margin / probe-cost diagnostics
# ---------------------------------------------------------------------------

_A10_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_A10_NORM = f"sqrt({_A10_DOT})"
_N_MARGIN_QUERIES = 50
_N_PROBE_QUERIES = 32
_A10_N_SEEDS = 8


@query(
    "knn_margin_stats",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE vec_id < {_N_MARGIN_QUERIES}
    ),
    scored AS (
        SELECT q.qid, e.vec_id,
               round({_A10_DOT.format(a='e.embedding', b='q.qe')}
                     / ({_A10_NORM.format(a='e.embedding', b='e.embedding')}
                        * {_A10_NORM.format(a='q.qe', b='q.qe')}), 6) AS cosine
        FROM embeddings e, q WHERE e.vec_id <> q.qid
    ),
    top2 AS (
        SELECT qid, cosine,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cosine DESC, vec_id ASC
               ) AS rn
        FROM scored
    ),
    m AS (
        SELECT qid,
               max(CASE WHEN rn = 1 THEN cosine END)
               - max(CASE WHEN rn = 2 THEN cosine END) AS margin
        FROM top2 WHERE rn <= 2 GROUP BY qid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(margin), 6) AS avg_margin,
           round(min(margin), 6) AS min_margin,
           round(max(margin), 6) AS max_margin
    FROM m
    """,
)
def knn_margin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 vs top-2 cosine margin over {_N_MARGIN_QUERIES} probe
    queries — the nearest-neighbor STABILITY diagnostic: a thin margin
    means rank-1 flips under quantization/recall loss, so ANN error
    budgets (rp-lsh probe count, IVF nprobe) must be set tighter. Exact
    brute-force arm, deliberately: this is the calibration oracle next
    to the bucketed production paths (the mutual_knn audit discipline);
    scores round to the 1e-6 grid before ranking so the margin set is
    engine-identical."""
    from ..operators.similarity import as_double, cosine

    e = _load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < _N_MARGIN_QUERIES).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv")
    )
    # crossJoin output partitioning = the streamed side's FILE partitions
    # (one parquet file -> one task scoring every pair); spread the
    # corpus first so the interpreted cosine fold parallelizes (the
    # repo's BNLJ-width rule, PLANS.md r9; 2.4 s -> sub-second at the
    # 10x tier).
    c = e.select(
        F.col("vec_id").alias("cid"), as_double(F.col("embedding")).alias("cv")
    ).repartition(spark.sparkContext.defaultParallelism)
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    top2 = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 2
    )
    m = top2.groupBy("qid").agg(
        (
            F.max(F.when(F.col("rn") == 1, F.col("cosine")))
            - F.max(F.when(F.col("rn") == 2, F.col("cosine")))
        ).alias("margin")
    )
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg("margin"), 6).alias("avg_margin"),
        F.round(F.min("margin"), 6).alias("min_margin"),
        F.round(F.max("margin"), 6).alias("max_margin"),
    )


@query(
    "ivf_probe_sweep",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS centroid_id, embedding AS se
        FROM embeddings WHERE vec_id < {_A10_N_SEEDS}
    ),
    scored AS (
        SELECT e.vec_id, s.centroid_id,
               round({_A10_DOT.format(a='e.embedding', b='s.se')}
                     / ({_A10_NORM.format(a='e.embedding', b='e.embedding')}
                        * {_A10_NORM.format(a='s.se', b='s.se')}), 6) AS cosine
        FROM embeddings e CROSS JOIN seeds s
    ),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cosine DESC, centroid_id ASC
            ) AS rn FROM scored
        ) WHERE rn = 1
    ),
    sizes AS (
        SELECT centroid_id, CAST(count(*) AS BIGINT) AS sz
        FROM assign GROUP BY centroid_id
    ),
    qrank AS (
        SELECT vec_id AS qid, centroid_id,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY cosine DESC, centroid_id ASC
               ) AS rn
        FROM scored WHERE vec_id < {_N_PROBE_QUERIES}
    ),
    joined AS (
        SELECT q.qid, q.rn, s.sz
        FROM qrank q JOIN sizes s ON q.centroid_id = s.centroid_id
        WHERE q.rn <= 4
    ),
    corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings),
    folded AS (
        SELECT CAST(sum(CASE WHEN rn <= 1 THEN sz ELSE 0 END) AS BIGINT) AS t1,
               CAST(sum(CASE WHEN rn <= 2 THEN sz ELSE 0 END) AS BIGINT) AS t2,
               CAST(sum(CASE WHEN rn <= 4 THEN sz ELSE 0 END) AS BIGINT) AS t4,
               CAST(count(DISTINCT qid) AS BIGINT) AS nq
        FROM joined
    )
    SELECT CAST(np AS BIGINT) AS nprobe,
           CAST(CASE np WHEN 1 THEN t1 WHEN 2 THEN t2 ELSE t4 END AS BIGINT)
               AS total_candidates,
           round(CAST(CASE np WHEN 1 THEN t1 WHEN 2 THEN t2 ELSE t4 END
                      AS DOUBLE) / nq, 6) AS avg_per_query,
           round(CAST(CASE np WHEN 1 THEN t1 WHEN 2 THEN t2 ELSE t4 END
                      AS DOUBLE) / (nq * n_vecs), 6) AS corpus_share
    FROM folded CROSS JOIN corpus
    CROSS JOIN (SELECT unnest([1, 2, 4]) AS np)
    """,
)
def ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-cost model: candidate volume at nprobe = 1/2/4 over
    {_N_PROBE_QUERIES} probe queries — the scan-cost side of the
    recall/cost trade-off (ivf_recall_audit measures the recall side;
    together they choose nprobe). Seeds, assignment argmax, and rounding
    all match the certified ivf_assignments exactly; cluster sizes join
    the per-query centroid ranks (an 8-row broadcast), and the three
    probe depths fold as conditional sums in one pass — the corpus is
    scanned once for assignment and never again."""
    from ..operators.similarity import as_double, cosine, ivf_assign

    e = _load(spark, sf_dir, "embeddings")
    seeds = e.where(F.col("vec_id") < _A10_N_SEEDS)
    assign = ivf_assign(e, seeds, "vec_id", "embedding")
    sizes = assign.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    q = e.where(F.col("vec_id") < _N_PROBE_QUERIES).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv")
    )
    sd = seeds.select(
        F.col("vec_id").alias("centroid_id"),
        as_double(F.col("embedding")).alias("sv"),
    )
    qs = q.crossJoin(F.broadcast(sd)).select(
        "qid",
        "centroid_id",
        F.round(cosine(F.col("qv"), F.col("sv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("cosine"), F.asc("centroid_id")
    )
    qrank = qs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 4)
    joined = qrank.join(F.broadcast(sizes), "centroid_id")
    corpus = e.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    folded = joined.agg(
        F.sum(F.when(F.col("rn") <= 1, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("t1"),
        F.sum(F.when(F.col("rn") <= 2, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("t2"),
        F.sum(F.when(F.col("rn") <= 4, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("t4"),
        F.countDistinct("qid").cast("long").alias("nq"),
    ).crossJoin(F.broadcast(corpus))
    stacked = folded.select(
        F.expr(
            "stack(3, 1L, t1, 2L, t2, 4L, t4) AS (nprobe, total_candidates)"
        ),
        "nq",
        "n_vecs",
    )
    return stacked.select(
        "nprobe",
        "total_candidates",
        F.round(
            F.col("total_candidates").cast("double") / F.col("nq"), 6
        ).alias("avg_per_query"),
        F.round(
            F.col("total_candidates").cast("double")
            / (F.col("nq") * F.col("n_vecs")),
            6,
        ).alias("corpus_share"),
    )
