"""Round-12 analytics, second tranche.

Families: distributional finance rollups (per-segment Gini via the
distributed rank kernel, monthly anomaly z-scores, customer value CV),
reconciliation profiling (header-vs-lines coverage ratio), pricing
(return rate by unit-price band), calendar-pressure audits
(quarter-end loading), lifecycle latencies (second-event, error
recovery), habit stability (modal weekday across halves), corpus head
turnover, mobility revisit intervals, and three scale-engineering
audits a 100 TB operator runs before picking a layout: join-key skew
profile, hash-partition balance, and a compaction bin plan.

Exact-arithmetic discipline as everywhere: integer cents/micros for
all sums, doubles only as explicitly rounded terminal ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..session import prep
from . import query
from .tpch import _SQL_CENTS, _cents


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    prep(spark)
    return catalog.load(spark, sf_dir, table)


# ---------------------------------------------------------------------------
# Distributional finance rollups
# ---------------------------------------------------------------------------


@query(
    "order_value_gini_by_segment",
    oracle=f"""
    WITH o AS (
        SELECT c.c_mktsegment AS segment,
               {_SQL_CENTS.format(c='o.o_totalprice')} AS cents,
               o.o_orderkey AS ok
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    r AS (
        SELECT segment, cents,
               row_number() OVER (
                   PARTITION BY segment ORDER BY cents ASC, ok ASC
               ) AS rk,
               CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n
        FROM o
    )
    SELECT segment,
           CAST(min(n) AS BIGINT) AS n_orders,
           round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS total_value,
           round(2.0 * sum(CAST(rk AS DOUBLE) * cents)
                 / (min(n) * CAST(sum(cents) AS DOUBLE))
                 - (min(n) + 1.0) / min(n), 6) + 0.0 AS gini
    FROM r GROUP BY segment
    """,
)
def order_value_gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order values within each market segment —
    the revenue-inequality rollup. Ranks come from ONE distributed
    global_row_number pass ordered by (segment, cents, orderkey) with
    per-segment offsets subtracted (the r9-verdict rank rule: no
    segment-partitioned window over a fact-fraction partition); the
    oracle's per-segment window produces identical rank values, and the
    Gini folds from exact integer rank x cents products."""
    from ..operators.winners import global_row_number

    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    o = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        _cents("o_totalprice").alias("cents"),
        F.col("o_orderkey").alias("ok"),
    ).localCheckpoint(eager=False)
    ranked = global_row_number(o, ["segment", "cents", "ok"], "gr")
    counts = o.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_off = Window.orderBy("segment").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = counts.select(
        "segment",
        "n",
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).cast("long").alias("off"),
    )
    r = ranked.join(F.broadcast(offs), "segment").select(
        "segment", "cents", (F.col("gr") - F.col("off")).alias("rk"), "n"
    )
    return r.groupBy("segment").agg(
        F.min("n").cast("long").alias("n_orders"),
        F.round(F.sum("cents").cast("double") / 100.0, 2).alias("total_value"),
        (
            F.round(
                2.0
                * F.sum(F.col("rk").cast("double") * F.col("cents"))
                / (F.min("n") * F.sum("cents").cast("double"))
                - (F.min("n") + 1.0) / F.min("n"),
                6,
            )
            + F.lit(0.0)
        ).alias("gini"),
    )


@query(
    "monthly_revenue_anomaly",
    oracle=f"""
    WITH m AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
                   AS month_key,
               CAST(sum({_SQL_CENTS.format(c='o.o_totalprice')}) AS BIGINT)
                   AS rev_cents,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o GROUP BY month_key
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS nm,
               CAST(sum(rev_cents) AS BIGINT) AS sm,
               CAST(sum(CAST(rev_cents AS DECIMAL(38,0)) * rev_cents)
                    AS DECIMAL(38,0)) AS ssm
        FROM m
    )
    SELECT m.month_key, m.n_orders,
           round(m.rev_cents / 100.0, 2) AS revenue,
           round((m.rev_cents - CAST(s.sm AS DOUBLE) / s.nm)
                 / sqrt((CAST(s.ssm AS DOUBLE)
                         - CAST(s.sm AS DOUBLE) * s.sm / s.nm)
                        / (s.nm - 1)), 6) + 0.0 AS z_score,
           CASE WHEN abs((m.rev_cents - CAST(s.sm AS DOUBLE) / s.nm)
                 / sqrt((CAST(s.ssm AS DOUBLE)
                         - CAST(s.sm AS DOUBLE) * s.sm / s.nm)
                        / (s.nm - 1))) > 2 THEN 1 ELSE 0 END AS is_anomaly
    FROM m CROSS JOIN s
    """,
)
def monthly_revenue_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue z-scores against the all-months mean — the
    finance anomaly screen (|z| > 2 flags a month worth investigating;
    the truncated final month of TPC-H data flags itself, which is the
    point). Moments from exact integer cent sums (A7 agg + broadcast,
    no global window); one month-keyed map-side aggregate."""
    orders = _load(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("month_key")
    ).agg(
        F.sum(_cents("o_totalprice")).cast("long").alias("rev_cents"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    ).localCheckpoint(eager=False)
    s = m.agg(
        F.count(F.lit(1)).cast("long").alias("nm"),
        F.sum("rev_cents").cast("long").alias("sm"),
        F.sum(
            F.col("rev_cents").cast("decimal(38,0)") * F.col("rev_cents")
        ).cast("decimal(38,0)").alias("ssm"),
    )
    j = m.crossJoin(F.broadcast(s))
    mean = F.col("sm").cast("double") / F.col("nm")
    sd = F.sqrt(
        (
            F.col("ssm").cast("double")
            - F.col("sm").cast("double") * F.col("sm") / F.col("nm")
        )
        / (F.col("nm") - 1)
    )
    z = (F.col("rev_cents") - mean) / sd
    return j.select(
        "month_key",
        "n_orders",
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        (F.round(z, 6) + F.lit(0.0)).alias("z_score"),
        F.when(F.abs(z) > 2, 1).otherwise(0).alias("is_anomaly"),
    )


@query(
    "customer_value_cv_histogram",
    oracle=f"""
    WITH c AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum({_SQL_CENTS.format(c='o.o_totalprice')}) AS BIGINT)
                   AS s,
               CAST(sum(CAST({_SQL_CENTS.format(c='o.o_totalprice')}
                        AS DECIMAL(38,0))
                        * {_SQL_CENTS.format(c='o.o_totalprice')})
                    AS DECIMAL(38,0)) AS ss
        FROM orders o GROUP BY o_custkey
        HAVING count(*) >= 3
    ),
    cv AS (
        SELECT o_custkey, n,
               round(sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                          / (n - 1))
                     / (CAST(s AS DOUBLE) / n), 6) + 0.0 AS cv
        FROM c
    )
    SELECT CAST(floor(cv / 0.1) AS BIGINT) AS cv_bucket,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS avg_orders,
           round(sum(cv) / count(*), 6) + 0.0 AS avg_cv
    FROM cv GROUP BY cv_bucket
    """,
)
def customer_value_cv_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of per-customer order-value coefficient of variation
    (customers with >= 3 orders) — are buyers consistent or erratic?
    One customer-keyed aggregate with exact integer sum / sum-of-squares
    (DECIMAL(38,0) products so no scale overflows); the CV is rounded
    before bucketing so both engines bucket the identical value."""
    orders = _load(spark, sf_dir, "orders")
    pc = _cents("o_totalprice")
    c = (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(pc).cast("long").alias("s"),
            F.sum(
                pc.cast("decimal(38,0)") * pc
            ).cast("decimal(38,0)").alias("ss"),
        )
        .where(F.col("n") >= 3)
    )
    sd = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    mean = F.col("s").cast("double") / F.col("n")
    cv = c.select(
        "n", (F.round(sd / mean, 6) + F.lit(0.0)).alias("cv")
    )
    return cv.groupBy(
        F.floor(F.col("cv") / 0.1).cast("long").alias("cv_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.sum("n").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_orders"
        ),
        (F.round(F.sum("cv") / F.count(F.lit(1)), 6) + F.lit(0.0)).alias(
            "avg_cv"
        ),
    )


@query(
    "order_total_coverage_ratio",
    oracle=f"""
    WITH lsum AS (
        SELECT l_orderkey,
               CAST(sum(CAST({_SQL_CENTS.format(c='l.l_extendedprice')}
                        * (10000 - CAST(round(l.l_discount * 10000) AS BIGINT))
                        * (10000 + CAST(round(l.l_tax * 10000) AS BIGINT))
                        AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS gross
        FROM lineitem l GROUP BY l_orderkey
    ),
    r AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
               round({_SQL_CENTS.format(c='o.o_totalprice')}
                     / (CAST(lsum.gross AS DOUBLE) / 100000000.0), 6) + 0.0
                   AS ratio
        FROM orders o JOIN lsum ON o.o_orderkey = lsum.l_orderkey
    )
    SELECT order_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(quantile_cont(ratio, 0.25), 6) + 0.0 AS p25,
           round(quantile_cont(ratio, 0.50), 6) + 0.0 AS p50,
           round(quantile_cont(ratio, 0.75), 6) + 0.0 AS p75
    FROM r GROUP BY order_year
    """,
)
def order_total_coverage_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-lines reconciliation profile: the ratio of the order
    header's totalprice to the charged lineitem gross (price x (1-disc)
    x (1+tax)), quartiles per year — the value-consistency audit every
    warehouse runs between independently-loaded fact tables (this
    synthetic pair is generated independently, and the profile proves
    it: the ratio spread IS the finding). Gross sums are exact integer
    micro^2-dollar products in DECIMAL(38,0); one orderkey join rides
    the lineitem pre-aggregation's exchange."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    pc = _cents("l_extendedprice")
    db = F.round(F.col("l_discount") * 10000).cast("long")
    tb = F.round(F.col("l_tax") * 10000).cast("long")
    lsum = li.groupBy("l_orderkey").agg(
        F.sum(
            (pc * (10000 - db) * (10000 + tb)).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("gross")
    )
    r = orders.join(lsum, orders.o_orderkey == lsum.l_orderkey).select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        (
            F.round(
                _cents("o_totalprice")
                / (F.col("gross").cast("double") / 100000000.0),
                6,
            )
            + F.lit(0.0)
        ).alias("ratio"),
    )
    return r.groupBy("order_year").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.round(F.expr("percentile(ratio, 0.25)"), 6) + F.lit(0.0)).alias(
            "p25"
        ),
        (F.round(F.expr("percentile(ratio, 0.50)"), 6) + F.lit(0.0)).alias(
            "p50"
        ),
        (F.round(F.expr("percentile(ratio, 0.75)"), 6) + F.lit(0.0)).alias(
            "p75"
        ),
    )


@query(
    "return_rate_by_price_band",
    oracle="""
    WITH b AS (
        SELECT least(CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)
                     // 20000, 9) AS price_band,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
        FROM lineitem WHERE l_quantity > 0
    )
    SELECT CAST(price_band AS BIGINT) AS price_band,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(ret) AS BIGINT) AS n_returned,
           round(CAST(sum(ret) AS DOUBLE) / count(*), 6) + 0.0
               AS return_rate
    FROM b GROUP BY price_band
    """,
)
def return_rate_by_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate by unit-price band ($200-wide, top-coded at band 9)
    — do expensive items come back more? Unit price is quantized to
    integer cents per row before banding (IEEE division + one round =
    deterministic on both engines); single map-side aggregate over 10
    bands."""
    li = _load(spark, sf_dir, "lineitem")
    unit_cents = F.round(
        F.col("l_extendedprice") / F.col("l_quantity") * 100
    ).cast("long")
    band = F.least(F.floor(unit_cents / 20000), F.lit(9)).cast("long")
    ret = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    return (
        li.where(F.col("l_quantity") > 0)
        .groupBy(band.alias("price_band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(ret).cast("long").alias("n_returned"),
            (
                F.round(F.sum(ret).cast("double") / F.count(F.lit(1)), 6)
                + F.lit(0.0)
            ).alias("return_rate"),
        )
    )


@query(
    "quarter_end_load_factor",
    oracle="""
    WITH q AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
               date_trunc('quarter', CAST(o_orderdate AS DATE)) AS qstart,
               CAST(o_orderdate AS DATE) AS od
        FROM orders
    ),
    e AS (
        SELECT yr, qtr,
               date_diff('day', qstart,
                         qstart + INTERVAL 3 MONTH - INTERVAL 1 DAY) + 1
                   AS days_in_q,
               CASE WHEN date_diff('day', od,
                         qstart + INTERVAL 3 MONTH - INTERVAL 1 DAY) < 7
                    THEN 1 ELSE 0 END AS last_week
        FROM q
    )
    SELECT yr AS order_year, qtr AS order_quarter,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(last_week) AS BIGINT) AS n_last_week,
           round((CAST(sum(last_week) AS DOUBLE) / count(*))
                 / (7.0 / min(days_in_q)), 6) + 0.0 AS load_factor
    FROM e GROUP BY order_year, order_quarter
    """,
)
def quarter_end_load_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-end loading: orders landing in the final 7 days of each
    quarter vs the uniform expectation (load_factor 1.0 = no hockey
    stick) — the revenue-recognition pressure audit. Quarter bounds are
    exact date arithmetic (date_trunc + 3 months - 1 day, identical on
    both engines); one map-side (year, quarter) aggregate."""
    orders = _load(spark, sf_dir, "orders")
    qstart = F.date_trunc("quarter", F.col("o_orderdate")).cast("date")
    qend = F.date_sub(F.add_months(qstart, 3), 1)
    days_in_q = F.datediff(qend, qstart) + 1
    last_week = F.when(
        F.datediff(qend, F.col("o_orderdate").cast("date")) < 7, 1
    ).otherwise(0)
    e = orders.select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        days_in_q.alias("days_in_q"),
        last_week.alias("last_week"),
    )
    return e.groupBy("order_year", "order_quarter").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("last_week").cast("long").alias("n_last_week"),
        (
            F.round(
                (F.sum("last_week").cast("double") / F.count(F.lit(1)))
                / (7.0 / F.min("days_in_q")),
                6,
            )
            + F.lit(0.0)
        ).alias("load_factor"),
    )


# ---------------------------------------------------------------------------
# Lifecycle latencies and habit stability
# ---------------------------------------------------------------------------

_LAT_BUCKET_SQL = """
    CASE WHEN {s} < 60 THEN '<1m'
         WHEN {s} < 600 THEN '<10m'
         WHEN {s} < 3600 THEN '<1h'
         WHEN {s} < 86400 THEN '<1d'
         ELSE '>=1d' END
"""


def _lat_bucket(col):
    return (
        F.when(col < 60, "<1m")
        .when(col < 600, "<10m")
        .when(col < 3600, "<1h")
        .when(col < 86400, "<1d")
        .otherwise(">=1d")
    )


@query(
    "second_event_latency_histogram",
    oracle=f"""
    WITH r AS (
        SELECT user_id, epoch_us(ts) AS us,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS rn
        FROM events
    ),
    lat AS (
        SELECT user_id,
               (max(CASE WHEN rn = 2 THEN us END)
                - max(CASE WHEN rn = 1 THEN us END)) // 1000000 AS lat_s
        FROM r WHERE rn <= 2
        GROUP BY user_id
        HAVING count(*) = 2
    )
    SELECT {_LAT_BUCKET_SQL.format(s='lat_s')} AS latency_bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(lat_s) AS DOUBLE) / count(*), 6) AS avg_latency_s
    FROM lat GROUP BY latency_bucket
    """,
)
def second_event_latency_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time from a user's first to second event, log-ish bucket
    histogram — the activation-latency funnel stage (a long first gap
    predicts churn). One user-partitioned window keeps only ranks 1-2;
    the latency is exact integer seconds; single-event users drop out
    via the count()=2 gate."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    r = e.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= 2)
    lat = (
        r.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (
                (
                    F.max(F.when(F.col("rn") == 2, F.col("us")))
                    - F.max(F.when(F.col("rn") == 1, F.col("us")))
                )
                / F.lit(1000000)
            ).cast("long").alias("lat_s"),
        )
        .where(F.col("cnt") == 2)
    )
    return lat.groupBy(
        _lat_bucket(F.col("lat_s")).alias("latency_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(
            F.sum("lat_s").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_latency_s"),
    )


@query(
    "error_recovery_latency",
    oracle=f"""
    WITH w AS (
        SELECT user_id, event_type, epoch_us(ts) AS us,
               min(CASE WHEN event_type <> 'error' THEN epoch_us(ts) END)
                   OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS next_ok_us
        FROM events
    ),
    errs AS (
        SELECT (next_ok_us - us) // 1000000 AS rec_s
        FROM w WHERE event_type = 'error'
    ),
    b AS (
        SELECT CASE WHEN rec_s IS NULL THEN 'unrecovered'
                    ELSE {_LAT_BUCKET_SQL.format(s='rec_s')} END
                   AS recovery_bucket,
               rec_s
        FROM errs
    )
    SELECT recovery_bucket,
           CAST(count(*) AS BIGINT) AS n_errors,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM errs), 6) + 0.0 AS share
    FROM b GROUP BY recovery_bucket
    """,
)
def error_recovery_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time from each error event to the same user's next non-error
    event — the recovery-latency histogram an SRE runbook tracks
    ('unrecovered' = the error was the user's last word). The forward
    scan is a min-over-future-rows frame (ROWS 1 FOLLOWING ->
    UNBOUNDED) on the ONE user-partitioned window both engines share —
    no self-join, no explode; integer-microsecond arithmetic
    throughout."""
    e = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.min(
        F.when(F.col("event_type") != "error", F.unix_micros("ts"))
    ).over(w)
    errs = (
        e.select(
            "event_type",
            F.unix_micros("ts").alias("us"),
            nxt.alias("next_ok_us"),
        )
        .where(F.col("event_type") == "error")
        .select(
            ((F.col("next_ok_us") - F.col("us")) / F.lit(1000000))
            .cast("long")
            .alias("rec_s")
        )
        .localCheckpoint(eager=False)
    )
    tot = errs.agg(F.count(F.lit(1)).cast("long").alias("tot"))
    b = errs.select(
        F.when(F.col("rec_s").isNull(), "unrecovered")
        .otherwise(_lat_bucket(F.col("rec_s")))
        .alias("recovery_bucket")
    )
    return (
        b.groupBy("recovery_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_errors"))
        .crossJoin(F.broadcast(tot))
        .select(
            "recovery_bucket",
            "n_errors",
            (
                F.round(F.col("n_errors").cast("double") / F.col("tot"), 6)
                + F.lit(0.0)
            ).alias("share"),
        )
    )


@query(
    "modal_weekday_stability",
    oracle="""
    WITH cnt AS (
        SELECT user_id,
               CASE WHEN day(ts) <= 15 THEN 1 ELSE 2 END AS half,
               CAST(isodow(ts) - 1 AS BIGINT) AS wd,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, half, wd
    ),
    modal AS (
        SELECT user_id, half, wd FROM (
            SELECT user_id, half, wd,
                   row_number() OVER (
                       PARTITION BY user_id, half ORDER BY n DESC, wd ASC
                   ) AS rn
            FROM cnt
        ) WHERE rn = 1
    )
    SELECT m1.wd AS modal_weekday_first_half,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN m1.wd = m2.wd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_stable,
           round(CAST(sum(CASE WHEN m1.wd = m2.wd THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) + 0.0 AS stability_rate
    FROM (SELECT user_id, wd FROM modal WHERE half = 1) m1
    JOIN (SELECT user_id, wd FROM modal WHERE half = 2) m2
      ON m1.user_id = m2.user_id
    GROUP BY modal_weekday_first_half
    """,
)
def modal_weekday_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does a user's favourite weekday survive from the first half of
    the month to the second — habit persistence per modal weekday
    (pinned Mon=0 mapping). Two W4 winner kernels over one
    (user, half, weekday) aggregate; the halves join on user_id only
    for users active in both."""
    e = _load(spark, sf_dir, "events")
    cnt = e.groupBy(
        "user_id",
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(2).alias("half"),
        F.expr("weekday(ts)").cast("long").alias("wd"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("user_id", "half").orderBy(
        F.desc("n"), F.asc("wd")
    )
    modal = (
        cnt.select("user_id", "half", "wd", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .localCheckpoint(eager=False)
    )
    m1 = modal.where(F.col("half") == 1).select(
        "user_id", F.col("wd").alias("wd1")
    )
    m2 = modal.where(F.col("half") == 2).select(
        "user_id", F.col("wd").alias("wd2")
    )
    j = m1.join(m2, "user_id")
    stable = F.when(F.col("wd1") == F.col("wd2"), 1).otherwise(0)
    return j.groupBy(
        F.col("wd1").alias("modal_weekday_first_half")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(stable).cast("long").alias("n_stable"),
        (
            F.round(F.sum(stable).cast("double") / F.count(F.lit(1)), 6)
            + F.lit(0.0)
        ).alias("stability_rate"),
    )


@query(
    "vocab_head_turnover",
    oracle="""
    WITH cnt AS (
        SELECT source, (((((((((((((strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 5, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 6, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 7, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 8, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 9, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 10, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 11, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5('vhalf:' || CAST(doc_id AS VARCHAR)), 12, 1)) - 1)) % 2) AS parity,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tc AS (
        SELECT source, parity, term, CAST(count(*) AS BIGINT) AS n
        FROM cnt GROUP BY source, parity, term
    ),
    head AS (
        SELECT source, parity, term FROM (
            SELECT source, parity, term,
                   row_number() OVER (
                       PARTITION BY source, parity ORDER BY n DESC, term ASC
                   ) AS rn
            FROM tc
        ) WHERE rn <= 50
    )
    SELECT h0.source,
           CAST(count(*) AS BIGINT) AS n_common,
           round(CAST(count(*) AS DOUBLE) / (100 - count(*)), 6) + 0.0
               AS jaccard
    FROM (SELECT source, term FROM head WHERE parity = 0) h0
    JOIN (SELECT source, term FROM head WHERE parity = 1) h1
      ON h0.source = h1.source AND h0.term = h1.term
    GROUP BY h0.source
    """,
)
def vocab_head_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 vocabulary-head overlap between the even and odd doc-id
    halves of each source — the term-drift stability check between
    ingestion batches (low Jaccard = the source changed under you; the
    deterministic parity split plays the role of batch boundaries).
    One (source, parity, term) aggregate, two W4 head windows, and a
    head-sized (50-row-per-side) equi-join."""
    from ..operators.sampling import hash_bucket

    d = _load(spark, sf_dir, "documents")
    cnt = d.select(
        "source",
        hash_bucket(F.col("doc_id"), 2, "vhalf").alias("parity"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    tc = cnt.groupBy("source", "parity", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("source", "parity").orderBy(
        F.desc("n"), F.asc("term")
    )
    head = (
        tc.select("source", "parity", "term", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 50)
        .localCheckpoint(eager=False)
    )
    h0 = head.where(F.col("parity") == 0).select("source", "term")
    h1 = head.where(F.col("parity") == 1).select("source", "term")
    return (
        h0.join(h1, ["source", "term"])
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .select(
            "source",
            "n_common",
            (
                F.round(
                    F.col("n_common").cast("double")
                    / (100 - F.col("n_common")),
                    6,
                )
                + F.lit(0.0)
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Mobility revisit intervals
# ---------------------------------------------------------------------------


@query(
    "cell_revisit_quantiles",
    oracle=None,  # installed below: needs the pings prefix CTE
)
def cell_revisit_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-time distribution: minutes between a device LEAVING a
    cell and its next ENTRY to the same cell — the recurrence measure
    commute models calibrate on (distinct from dwell: dwell is inside
    one visit, this is between visits). Consecutive same-cell pings
    collapse to visits via the lag + running-sum run kernel on the ONE
    device-ordered window; revisit gaps are a second lag over the
    (device, cell) visit summary; exact integer microseconds until the
    final rounded minutes."""
    from .analytics10 import _pings_cells

    pos = _pings_cells(spark, sf_dir)
    w = Window.partitionBy("caid").orderBy(F.asc("cdmx_datetime"))
    flagged = pos.select(
        "caid",
        "cell",
        F.unix_micros("cdmx_datetime").alias("us"),
        F.when(
            ~F.lag("cell").over(w).eqNullSafe(F.col("cell")), 1
        ).otherwise(0).alias("is_new"),
    )
    wrun = (
        Window.partitionBy("caid")
        .orderBy(F.asc("us"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = flagged.select(
        "caid", "cell", "us", F.sum("is_new").over(wrun).alias("run_id")
    )
    visits = runs.groupBy("caid", "run_id").agg(
        F.min("cell").alias("cell"), F.min("us").alias("start_us")
    )
    wv = Window.partitionBy("caid", "cell").orderBy(F.asc("start_us"))
    gaps = visits.select(
        "caid",
        (F.col("start_us") - F.lag("start_us").over(wv)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_revisits"),
        F.countDistinct("caid").cast("long").alias("n_devices"),
        F.round(
            F.expr("percentile(CAST(gap_us AS DOUBLE), 0.25)") / 60000000.0, 6
        ).alias("p25_minutes"),
        F.round(
            F.expr("percentile(CAST(gap_us AS DOUBLE), 0.50)") / 60000000.0, 6
        ).alias("p50_minutes"),
        F.round(
            F.expr("percentile(CAST(gap_us AS DOUBLE), 0.75)") / 60000000.0, 6
        ).alias("p75_minutes"),
    )


def _install_revisit_oracle() -> None:
    from . import ORACLES
    from .analytics10 import _pings_prefix_sql

    ORACLES["cell_revisit_quantiles"] = (
        _pings_prefix_sql()
        + """,
    flagged AS (
        SELECT caid, cell, epoch_us(cdmx_datetime) AS us,
               CASE WHEN lag(cell) OVER (
                        PARTITION BY caid ORDER BY cdmx_datetime ASC
                    ) IS DISTINCT FROM cell THEN 1 ELSE 0 END AS is_new
        FROM pos
    ),
    runs AS (
        SELECT caid, cell, us,
               sum(is_new) OVER (
                   PARTITION BY caid ORDER BY us ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS run_id
        FROM flagged
    ),
    visits AS (
        SELECT caid, run_id, min(cell) AS cell, min(us) AS start_us
        FROM runs GROUP BY caid, run_id
    ),
    gaps AS (
        SELECT caid,
               start_us - lag(start_us) OVER (
                   PARTITION BY caid, cell ORDER BY start_us ASC
               ) AS gap_us
        FROM visits
    )
    SELECT CAST(count(*) AS BIGINT) AS n_revisits,
           CAST(count(DISTINCT caid) AS BIGINT) AS n_devices,
           round(quantile_cont(CAST(gap_us AS DOUBLE), 0.25) / 60000000.0, 6)
               AS p25_minutes,
           round(quantile_cont(CAST(gap_us AS DOUBLE), 0.50) / 60000000.0, 6)
               AS p50_minutes,
           round(quantile_cont(CAST(gap_us AS DOUBLE), 0.75) / 60000000.0, 6)
               AS p75_minutes
    FROM gaps WHERE gap_us IS NOT NULL
    """
    )


_install_revisit_oracle()


# ---------------------------------------------------------------------------
# Scale-engineering audits
# ---------------------------------------------------------------------------


@query(
    "join_key_skew_profile",
    oracle="""
    WITH ok AS (
        SELECT 'l_orderkey' AS key_name, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_orderkey
    ),
    pk AS (
        SELECT 'l_partkey' AS key_name, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_partkey
    ),
    sk AS (
        SELECT 'l_suppkey' AS key_name, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_suppkey
    ),
    u AS (
        SELECT * FROM ok UNION ALL SELECT * FROM pk UNION ALL SELECT * FROM sk
    )
    SELECT key_name,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(n) AS BIGINT) AS max_rows_per_key,
           round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS mean_rows_per_key,
           round(quantile_cont(CAST(n AS DOUBLE), 0.50), 6) AS p50,
           round(quantile_cont(CAST(n AS DOUBLE), 0.99), 6) AS p99,
           round(max(n) / (CAST(sum(n) AS DOUBLE) / count(*)), 6) + 0.0
               AS skew_factor
    FROM u GROUP BY key_name
    """,
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-per-key distribution for the three lineitem join keys —
    the pre-flight skew check that decides between a plain shuffle
    join, AQE skew splitting, and salting (skew_factor = hottest key
    vs mean; >10 on a fact key means the straggler task is 10x the
    median). Three map-side-combined aggregates unioned into one
    summary rollup."""
    li = _load(spark, sf_dir, "lineitem")

    def prof(col: str) -> DataFrame:
        return li.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).select(F.lit(col).alias("key_name"), "n")

    u = (
        prof("l_orderkey")
        .unionByName(prof("l_partkey"))
        .unionByName(prof("l_suppkey"))
    )
    return u.groupBy("key_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_rows_per_key"),
        F.round(
            F.sum("n").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_rows_per_key"),
        F.round(F.expr("percentile(CAST(n AS DOUBLE), 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(CAST(n AS DOUBLE), 0.99)"), 6).alias("p99"),
        (
            F.round(
                F.max("n") / (F.sum("n").cast("double") / F.count(F.lit(1))),
                6,
            )
            + F.lit(0.0)
        ).alias("skew_factor"),
    )


from .extended import _hash_bucket_sql


@query(
    "hash_partition_balance_audit",
    oracle=f"""
    WITH b AS (
        SELECT {_hash_bucket_sql('l_orderkey', 32, 'shuffle')} AS bucket,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY bucket
    ),
    t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tot FROM b)
    SELECT CAST(b.bucket AS BIGINT) AS bucket, b.n_rows,
           round(b.n_rows / (CAST(t.tot AS DOUBLE) / 32.0), 6) + 0.0
               AS ratio_to_mean
    FROM b CROSS JOIN t
    """,
)
def hash_partition_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row balance across 32 hash partitions of the lineitem order key
    (the same md5-derived bucket the engine's split/sample operators
    use, so the audit is engine-portable) — the shuffle-balance
    pre-check: ratio_to_mean far from 1.0 on a purportedly uniform key
    means the partitioner, not the data, is the problem. One map-side
    bucket aggregate; the mean is a 32-row re-aggregate."""
    from ..operators.sampling import hash_bucket

    li = _load(spark, sf_dir, "lineitem")
    b = li.groupBy(
        hash_bucket(F.col("l_orderkey"), 32, "shuffle").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_rows")).localCheckpoint(
        eager=False
    )
    t = b.agg(F.sum("n_rows").cast("long").alias("tot"))
    return b.crossJoin(F.broadcast(t)).select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_rows",
        (
            F.round(
                F.col("n_rows") / (F.col("tot").cast("double") / 32.0), 6
            )
            + F.lit(0.0)
        ).alias("ratio_to_mean"),
    )


@query(
    "compaction_bin_plan",
    oracle="""
    WITH d AS (
        SELECT CAST(day(ts) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY d
    ),
    t AS (
        SELECT CAST(sum(n) AS BIGINT) AS tot,
               CAST(ceil(sum(n) / 8.0) AS BIGINT) AS target
        FROM d
    ),
    c AS (
        SELECT d.d, d.n, t.target,
               CAST(coalesce(sum(d.n) OVER (
                   ORDER BY d.d ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM d CROSS JOIN t
    )
    SELECT CAST(floor(cum_before * 1.0 / target) AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(min(d) AS BIGINT) AS day_min,
           CAST(max(d) AS BIGINT) AS day_max,
           CAST(sum(n) AS BIGINT) AS n_rows
    FROM c GROUP BY file_id
    """,
)
def compaction_bin_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy small-file compaction plan: pack 30 daily partitions into
    ~8 date-contiguous files of ~total/8 rows each (contiguity keeps
    date-range pruning alive after the rewrite — the reason compaction
    never bin-packs by size alone). The running total is a window over
    the 30-row DAY SUMMARY — summary-sized by construction, the one
    place a single-partition window is the right plan (the fact pass
    itself is one map-side aggregate)."""
    e = _load(spark, sf_dir, "events")
    d = e.groupBy(F.dayofmonth("ts").cast("long").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=False)
    t = d.agg(
        F.sum("n").cast("long").alias("tot"),
        F.ceil(F.sum("n") / 8.0).cast("long").alias("target"),
    )
    w = Window.orderBy(F.asc("d")).rowsBetween(Window.unboundedPreceding, -1)
    c = d.crossJoin(F.broadcast(t)).select(
        "d",
        "n",
        "target",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long").alias(
            "cum_before"
        ),
    )
    return c.groupBy(
        F.floor(F.col("cum_before") * 1.0 / F.col("target"))
        .cast("long")
        .alias("file_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.min("d").cast("long").alias("day_min"),
        F.max("d").cast("long").alias("day_max"),
        F.sum("n").cast("long").alias("n_rows"),
    )


@query(
    "props_variant_k_histogram",
    oracle="""
    WITH k AS (
        SELECT event_type,
               CAST(json_extract(props, '$.k') AS BIGINT) AS kv
        FROM events
    )
    SELECT event_type,
           CAST(kv // 10 AS BIGINT) AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(kv) AS DOUBLE) / count(*), 6) AS avg_k
    FROM k GROUP BY event_type, k_bucket
    """,
)
def props_variant_k_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed histogram of the JSON payload field via Spark 4's
    VARIANT path: parse_json once into the binary semi-structured
    type, then variant_get typed extraction — the modern engine form
    of the reference's JSON round-trips (§2.8 JSON family), staying
    JVM-side and shredding-ready instead of per-row string re-parsing
    (get_json_object re-parses the string per call; a VARIANT parses
    once and serves every extraction). DuckDB oracle uses its native
    json_extract — same values, independently derived."""
    e = _load(spark, sf_dir, "events")
    k = e.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("kv"),
    )
    return k.groupBy(
        "event_type",
        F.floor(F.col("kv") / 10).cast("long").alias("k_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("kv").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_k"
        ),
    )
