"""Round-12 analytics.

Families: merchandising rollups on the reduced TPC-H slice (return
shares, tax x discount grid, counterfactual discount caps, domestic
vs international flows, positional lineitem profiles), balance and
outlier audits (exact integer-cent z-scores), event-stream behaviour
profiles (profile distances, entropy histograms, decile migration,
week-over-week overlap), corpus token diagnostics, embedding-space
audits (nearest-centroid confusion, JL distortion), and two
lakehouse-layout audits (Z-order locality, zone-map pruning yield).

All money/rate arithmetic uses the exact integer quantization
discipline from ``workload.tpch`` (cents / basis points as BIGINT;
DECIMAL(38,0) for product sums) so every oracle hash-matches
bit-for-bit; the only doubles are explicitly rounded terminal ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..session import prep
from . import query
from .tpch import _SQL_CENTS, _SQL_BP, _bp, _cents


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    prep(spark)
    return catalog.load(spark, sf_dir, table)


# Exact discounted revenue in micro-dollars (cents x (10000 - bp) ->
# 1e-6 dollars), summed as DECIMAL(38,0) so no scale overflows: the
# pricing_summary discipline (workload/tpch.py:44).
_SQL_REV = (
    f"CAST({_SQL_CENTS.format(c='l.l_extendedprice')}"
    f" * (10000 - {_SQL_BP.format(c='l.l_discount')}) AS DECIMAL(38,0))"
)


def _rev_col() -> F.Column:
    return (
        _cents("l_extendedprice") * (10000 - _bp("l_discount"))
    ).cast("decimal(38,0)")


# ---------------------------------------------------------------------------
# Merchandising rollups
# ---------------------------------------------------------------------------


@query(
    "returned_share_by_brand",
    oracle=f"""
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           CAST(sum({_SQL_REV}) AS DOUBLE) / 1000000.0 AS revenue_total,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN {_SQL_REV}
                         ELSE 0 END) AS DOUBLE) / 1000000.0
               AS revenue_returned,
           round(CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN {_SQL_REV}
                               ELSE 0 END) AS DOUBLE)
                 / CAST(sum({_SQL_REV}) AS DOUBLE), 6) + 0.0
               AS returned_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def returned_share_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-revenue share per brand — the merchandising QC rollup
    (which brands come back). One broadcast dim join (part is the small
    side at every SF) into a single brand groupBy: the per-row revenue
    is exact integer micro-dollars (cents x basis points) summed as
    DECIMAL(38,0), so the share is bit-deterministic on both engines.
    Map-side partial aggregation leaves a 25-row shuffle."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    rev = _rev_col()
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == F.col("p_partkey"),
    )
    ret = F.when(F.col("l_returnflag") == "R", rev).otherwise(F.lit(0))
    out = j.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n_returned"),
        (F.sum(rev).cast("double") / 1000000.0).alias("revenue_total"),
        (F.sum(ret).cast("double") / 1000000.0).alias("revenue_returned"),
    )
    return out.select(
        "brand",
        "n_lines",
        "n_returned",
        "revenue_total",
        "revenue_returned",
        (
            F.round(F.col("revenue_returned") / F.col("revenue_total"), 6)
            + F.lit(0.0)
        ).alias("returned_share"),
    )


@query(
    "lineitem_tax_discount_grid",
    oracle=f"""
    SELECT {_SQL_BP.format(c='l.l_discount')} AS discount_bp,
           {_SQL_BP.format(c='l.l_tax')} AS tax_bp,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum({_SQL_CENTS.format(c='l.l_quantity')}) AS BIGINT)
               AS qty_cents,
           CAST(sum({_SQL_REV}) AS DOUBLE) / 1000000.0 AS revenue
    FROM lineitem l
    GROUP BY discount_bp, tax_bp
    """,
)
def lineitem_tax_discount_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue / volume over the full tax x discount grid (11 x 9 cells)
    — the pricing-policy exposure matrix. Map-only quantization into a
    two-key groupBy: partial aggregation makes the shuffle 99 rows at
    any scale; no joins, no windows."""
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy(
        _bp("l_discount").alias("discount_bp"),
        _bp("l_tax").alias("tax_bp"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(_cents("l_quantity")).cast("long").alias("qty_cents"),
        (F.sum(_rev_col()).cast("double") / 1000000.0).alias("revenue"),
    )


@query(
    "discount_cap_counterfactual",
    oracle=f"""
    SELECT CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(sum({_SQL_REV}) AS DOUBLE) / 1000000.0 AS revenue_actual,
           CAST(sum(CAST({_SQL_CENTS.format(c='l.l_extendedprice')}
                    * (10000 - least({_SQL_BP.format(c='l.l_discount')}, 500))
                    AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0
               AS revenue_capped,
           round(CAST(sum(CAST({_SQL_CENTS.format(c='l.l_extendedprice')}
                    * ({_SQL_BP.format(c='l.l_discount')}
                       - least({_SQL_BP.format(c='l.l_discount')}, 500))
                    AS DECIMAL(38,0))) AS DOUBLE)
                 / CAST(sum({_SQL_REV}) AS DOUBLE), 6) + 0.0
               AS givenback_share
    FROM lineitem l
    GROUP BY ship_year
    """,
)
def discount_cap_counterfactual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterfactual revenue if discounts were capped at 5%: per ship
    year, actual vs capped revenue and the share of revenue given back
    above the cap — the what-if pricing audit (TPC-H Q6's forecasting
    question generalized to a policy sweep). Exact integer arithmetic
    throughout (the counterfactual is a different basis-point factor on
    the same cents), one year-keyed groupBy, map-side combined."""
    li = _load(spark, sf_dir, "lineitem")
    pc, db = _cents("l_extendedprice"), _bp("l_discount")
    capped = F.least(db, F.lit(500))
    base = li.select(
        F.year("l_shipdate").cast("long").alias("ship_year"),
        (pc * (10000 - db)).cast("decimal(38,0)").alias("rev"),
        (pc * (10000 - capped)).cast("decimal(38,0)").alias("rev_cap"),
        (pc * (db - capped)).cast("decimal(38,0)").alias("giveback"),
    )
    return base.groupBy("ship_year").agg(
        (F.sum("rev").cast("double") / 1000000.0).alias("revenue_actual"),
        (F.sum("rev_cap").cast("double") / 1000000.0).alias("revenue_capped"),
        (
            F.round(
                F.sum("giveback").cast("double") / F.sum("rev").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("givenback_share"),
    )


@query(
    "part_name_term_head",
    oracle="""
    SELECT term, CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT unnest(string_split(p_name, ' ')) AS term FROM part
    )
    WHERE term <> ''
    GROUP BY term
    ORDER BY n DESC, term ASC
    LIMIT 20
    """,
)
def part_name_term_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 vocabulary head of the part-name column — the
    dimension-text profiling pass (catalog names are bounded-vocabulary
    text; the head shows the generator's palette). split + explode +
    count with the (n DESC, term ASC) total order; TakeOrdered keeps
    the top-k driver-side state at 20 rows."""
    part = _load(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split("p_name", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
    )


@query(
    "linenumber_position_profile",
    oracle=f"""
    SELECT CAST(l_linenumber AS BIGINT) AS linenumber,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum({_SQL_CENTS.format(c='l.l_quantity')}) AS DOUBLE)
                 / 100.0 / count(*), 6) AS avg_qty,
           round(CAST(sum({_SQL_CENTS.format(c='l.l_extendedprice')}) AS DOUBLE)
                 / 100.0 / count(*), 6) AS avg_price,
           round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) + 0.0 AS returned_share
    FROM lineitem l
    GROUP BY linenumber
    """,
)
def linenumber_position_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the Nth line of an order look different from the first?
    Per-linenumber volume / price / return profile — the positional
    bias probe a data-quality suite runs on any ordered child table.
    Single map-side-combined groupBy over a 7-value key."""
    li = _load(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    return li.groupBy(
        F.col("l_linenumber").cast("long").alias("linenumber")
    ).agg(
        n.cast("long").alias("n"),
        F.round(F.sum(_cents("l_quantity")).cast("double") / 100.0 / n, 6).alias(
            "avg_qty"
        ),
        F.round(
            F.sum(_cents("l_extendedprice")).cast("double") / 100.0 / n, 6
        ).alias("avg_price"),
        (
            F.round(
                F.sum(
                    F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
                ).cast("double")
                / n,
                6,
            )
            + F.lit(0.0)
        ).alias("returned_share"),
    )


@query(
    "brand_peak_ship_month",
    oracle=f"""
    WITH bm AS (
        SELECT p.p_brand AS brand,
               CAST(month(l.l_shipdate) AS BIGINT) AS ship_month,
               CAST(sum({_SQL_REV}) AS DECIMAL(38,0)) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY brand, ship_month
    ),
    win AS (
        SELECT brand, ship_month, rev,
               CAST(sum(rev) OVER (PARTITION BY brand) AS DECIMAL(38,0))
                   AS rev_total,
               row_number() OVER (
                   PARTITION BY brand ORDER BY rev DESC, ship_month ASC
               ) AS rn
        FROM bm
    )
    SELECT brand, ship_month AS peak_month,
           CAST(rev AS DOUBLE) / 1000000.0 AS peak_revenue,
           round(CAST(rev AS DOUBLE) / CAST(rev_total AS DOUBLE), 6) + 0.0
               AS peak_share
    FROM win WHERE rn = 1
    """,
)
def brand_peak_ship_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand peak shipping month and its share of brand revenue —
    the seasonality argmax (engine W4 winner kernel PARTITIONED by
    brand over the 25 x 12 month summary; total order by rev DESC,
    month ASC). One dim join + one two-key aggregate shuffle; the
    window runs over 300 summary rows."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    bm = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.month("l_shipdate").cast("long").alias("ship_month"),
        )
        .agg(F.sum(_rev_col()).cast("decimal(38,0)").alias("rev"))
    )
    w_tot = Window.partitionBy("brand")
    w_rank = Window.partitionBy("brand").orderBy(
        F.desc("rev"), F.asc("ship_month")
    )
    win = bm.select(
        "brand",
        "ship_month",
        "rev",
        F.sum("rev").over(w_tot).cast("decimal(38,0)").alias("rev_total"),
        F.row_number().over(w_rank).alias("rn"),
    )
    return win.where(F.col("rn") == 1).select(
        "brand",
        F.col("ship_month").alias("peak_month"),
        (F.col("rev").cast("double") / 1000000.0).alias("peak_revenue"),
        (
            F.round(
                F.col("rev").cast("double") / F.col("rev_total").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("peak_share"),
    )


# ---------------------------------------------------------------------------
# Trade-flow and balance audits
# ---------------------------------------------------------------------------


@query(
    "domestic_revenue_share",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum({_SQL_REV}) AS DOUBLE) / 1000000.0 AS revenue_total,
           CAST(sum(CASE WHEN c.c_nationkey = s.s_nationkey
                         THEN {_SQL_REV} ELSE 0 END) AS DOUBLE) / 1000000.0
               AS revenue_domestic,
           round(CAST(sum(CASE WHEN c.c_nationkey = s.s_nationkey
                               THEN {_SQL_REV} ELSE 0 END) AS DOUBLE)
                 / CAST(sum({_SQL_REV}) AS DOUBLE), 6) + 0.0
               AS domestic_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY order_year
    """,
)
def domestic_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of revenue where the customer's nation equals the
    supplier's nation, per order year — the domestic-vs-international
    flow split (TPC-H Q7's question folded to one indicator). Supplier
    and customer are broadcast dims; the only wide operation is the
    lineitem-orders fact join on orderkey, then a year groupBy with
    map-side combine. The indicator is evaluated per row so there is
    no pair-enumeration anywhere."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    supp = _load(spark, sf_dir, "supplier")
    rev = _rev_col()
    j = (
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
    )
    dom = F.when(F.col("c_nationkey") == F.col("s_nationkey"), rev).otherwise(
        F.lit(0)
    )
    out = j.groupBy(
        F.year("o_orderdate").cast("long").alias("order_year")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        (F.sum(rev).cast("double") / 1000000.0).alias("revenue_total"),
        (F.sum(dom).cast("double") / 1000000.0).alias("revenue_domestic"),
    )
    return out.select(
        "order_year",
        "n_lines",
        "revenue_total",
        "revenue_domestic",
        (
            F.round(F.col("revenue_domestic") / F.col("revenue_total"), 6)
            + F.lit(0.0)
        ).alias("domestic_share"),
    )


@query(
    "international_order_share",
    oracle="""
    WITH per_order AS (
        SELECT l.l_orderkey AS orderkey,
               count(DISTINCT s.s_nationkey) AS n_nations
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY orderkey
    )
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o.o_orderdate) AS BIGINT) AS order_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN p.n_nations > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi_nation,
           round(CAST(sum(CASE WHEN p.n_nations > 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) + 0.0 AS multi_share
    FROM per_order p JOIN orders o ON p.orderkey = o.o_orderkey
    GROUP BY order_year, order_month
    """,
)
def international_order_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of orders sourced from more than one supplier nation, per
    order month — the supply-chain complexity trend. supplier is a
    broadcast dim; COUNT(DISTINCT nation) per order is a 25-value
    distinct under a high-cardinality key (map-side partial distinct
    keeps the shuffle at one row per (order, nation) pair max 25);
    the month rollup then rides the orders join on the same orderkey
    partitioning."""
    li = _load(spark, sf_dir, "lineitem")
    supp = _load(spark, sf_dir, "supplier")
    orders = _load(spark, sf_dir, "orders")
    per_order = (
        li.join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(F.countDistinct("s_nationkey").alias("n_nations"))
    )
    j = per_order.join(
        orders.select("o_orderkey", "o_orderdate"),
        per_order.orderkey == F.col("o_orderkey"),
    )
    multi = F.when(F.col("n_nations") > 1, 1).otherwise(0)
    out = j.groupBy(
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(multi).cast("long").alias("n_multi_nation"),
    )
    return out.select(
        "order_year",
        "order_month",
        "n_orders",
        "n_multi_nation",
        (
            F.round(
                F.col("n_multi_nation").cast("double") / F.col("n_orders"), 6
            )
            + F.lit(0.0)
        ).alias("multi_share"),
    )


@query(
    "nation_customer_supplier_balance",
    oracle="""
    WITH cc AS (
        SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS cust_bal_cents
        FROM customer GROUP BY nk
    ),
    ss AS (
        SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_supp,
               CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS supp_bal_cents
        FROM supplier GROUP BY nk
    )
    SELECT n.n_name AS nation,
           coalesce(cc.n_cust, 0) AS n_customers,
           coalesce(ss.n_supp, 0) AS n_suppliers,
           CASE WHEN coalesce(ss.n_supp, 0) = 0 THEN NULL
                ELSE round(CAST(cc.n_cust AS DOUBLE) / ss.n_supp, 6) END
               AS customers_per_supplier,
           round(coalesce(cc.cust_bal_cents, 0) / 100.0, 2)
               AS customer_balance,
           round(coalesce(ss.supp_bal_cents, 0) / 100.0, 2)
               AS supplier_balance
    FROM nation n
    LEFT JOIN cc ON cc.nk = n.n_nationkey
    LEFT JOIN ss ON ss.nk = n.n_nationkey
    """,
)
def nation_customer_supplier_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customers-per-supplier coverage ratio and account-balance totals
    per nation — the market-coverage dimension audit. Two independent
    25-row pre-aggregates (each map-side combined) left-joined onto the
    nation dim so nations with no suppliers still appear (NULL ratio,
    zero balances) — the left-join + zero-fill engine idiom (J5)."""
    cust = _load(spark, sf_dir, "customer")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    cc = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum(_cents("c_acctbal")).cast("long").alias("cust_bal_cents"),
    )
    ss = supp.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).cast("long").alias("n_supp"),
        F.sum(_cents("s_acctbal")).cast("long").alias("supp_bal_cents"),
    )
    j = (
        nation.select("n_nationkey", "n_name")
        .join(cc, F.col("nk") == F.col("n_nationkey"), "left")
        .drop("nk")
        .join(ss, F.col("nk") == F.col("n_nationkey"), "left")
        .drop("nk")
    )
    return j.select(
        F.col("n_name").alias("nation"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_suppliers"),
        F.when(
            F.coalesce(F.col("n_supp"), F.lit(0)) == 0, F.lit(None)
        )
        .otherwise(
            F.round(F.col("n_cust").cast("double") / F.col("n_supp"), 6)
        )
        .alias("customers_per_supplier"),
        F.round(
            F.coalesce(F.col("cust_bal_cents"), F.lit(0)) / 100.0, 2
        ).alias("customer_balance"),
        F.round(
            F.coalesce(F.col("supp_bal_cents"), F.lit(0)) / 100.0, 2
        ).alias("supplier_balance"),
    )


@query(
    "acctbal_outliers_by_nation",
    oracle="""
    WITH c AS (
        SELECT c_nationkey AS nk,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer
    ),
    stats AS (
        SELECT nk, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(bal) AS BIGINT) AS s,
               CAST(sum(bal * bal) AS DECIMAL(38,0)) AS ss
        FROM c GROUP BY nk
    ),
    z AS (
        SELECT c.nk, c.bal, stats.n,
               CAST(stats.s AS DOUBLE) / stats.n AS mean,
               sqrt((CAST(stats.ss AS DOUBLE)
                     - CAST(stats.s AS DOUBLE) * stats.s / stats.n)
                    / (stats.n - 1)) AS sd
        FROM c JOIN stats ON c.nk = stats.nk
        WHERE stats.n > 1
    )
    SELECT n.n_name AS nation,
           CAST(min(z.n) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN abs(z.bal - z.mean) > 2 * z.sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(CAST(sum(CASE WHEN abs(z.bal - z.mean) > 2 * z.sd
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / min(z.n), 6) + 0.0 AS outlier_share
    FROM z JOIN nation n ON z.nk = n.n_nationkey
    GROUP BY nation
    """,
)
def acctbal_outliers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation count of customers whose balance sits more than two
    sample standard deviations from the nation mean — the balance-fraud
    screening pass. Moments are exact integer sums of cents (sum and
    sum-of-squares as BIGINT/DECIMAL so the mean and sd derive from
    exact integers — bit-deterministic across engines); the per-row
    z-test re-joins the 25-row stats table by broadcast, so the fact is
    scanned twice but shuffled only into 25-row aggregates."""
    cust = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    c = cust.select(
        F.col("c_nationkey").alias("nk"), _cents("c_acctbal").alias("bal")
    )
    stats = c.groupBy("nk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("bal").cast("long").alias("s"),
        F.sum((F.col("bal") * F.col("bal")).cast("decimal(38,0)")).alias("ss"),
    )
    z = c.join(F.broadcast(stats.where(F.col("n") > 1)), "nk").select(
        "nk",
        "bal",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean"),
        F.sqrt(
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    is_out = F.when(
        F.abs(F.col("bal") - F.col("mean")) > 2 * F.col("sd"), 1
    ).otherwise(0)
    out = z.groupBy("nk").agg(
        F.min("n").cast("long").alias("n_customers"),
        F.sum(is_out).cast("long").alias("n_outliers"),
    )
    return out.join(
        F.broadcast(_load(spark, sf_dir, "nation")),
        F.col("nk") == F.col("n_nationkey"),
    ).select(
        F.col("n_name").alias("nation"),
        "n_customers",
        "n_outliers",
        (
            F.round(
                F.col("n_outliers").cast("double") / F.col("n_customers"), 6
            )
            + F.lit(0.0)
        ).alias("outlier_share"),
    )


@query(
    "negative_balance_share",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative,
           round(CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) + 0.0 AS negative_share,
           round(coalesce(sum(CASE WHEN c_acctbal < 0
                     THEN CAST(round(c_acctbal * 100) AS BIGINT)
                     ELSE 0 END), 0) / 100.0, 2) AS negative_balance_total
    FROM customer
    GROUP BY segment
    """,
)
def negative_balance_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share and total of negative account balances per market segment
    — the credit-exposure rollup (TPC-H Q22 keeps only positive
    balances; this audits the other side). One segment groupBy with
    conditional integer-cent sums; 5-row shuffle."""
    cust = _load(spark, sf_dir, "customer")
    neg = F.when(F.col("c_acctbal") < 0, 1).otherwise(0)
    neg_cents = F.when(
        F.col("c_acctbal") < 0, _cents("c_acctbal")
    ).otherwise(F.lit(0))
    return cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(neg).cast("long").alias("n_negative"),
        (
            F.round(F.sum(neg).cast("double") / F.count(F.lit(1)), 6)
            + F.lit(0.0)
        ).alias("negative_share"),
        F.round(
            F.coalesce(F.sum(neg_cents), F.lit(0)) / 100.0, 2
        ).alias("negative_balance_total"),
    )


@query(
    "region_parttype_affinity",
    oracle=f"""
    WITH rv AS (
        SELECT r.r_name AS region,
               string_split(p.p_type, ' ')[1] AS type_head,
               CAST(sum({_SQL_REV}) AS DECIMAL(38,0)) AS rev
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY region, type_head
    ),
    tot AS (
        SELECT CAST(sum(rev) AS DECIMAL(38,0)) AS grand FROM rv
    ),
    rt AS (
        SELECT region, CAST(sum(rev) AS DECIMAL(38,0)) AS region_rev
        FROM rv GROUP BY region
    ),
    gt AS (
        SELECT type_head, CAST(sum(rev) AS DECIMAL(38,0)) AS type_rev
        FROM rv GROUP BY type_head
    )
    SELECT rv.region, rv.type_head,
           CAST(rv.rev AS DOUBLE) / 1000000.0 AS revenue,
           round(CAST(rv.rev AS DOUBLE) / CAST(rt.region_rev AS DOUBLE), 6)
               + 0.0 AS region_share,
           round(CAST(gt.type_rev AS DOUBLE) / CAST(tot.grand AS DOUBLE), 6)
               + 0.0 AS global_share,
           round((CAST(rv.rev AS DOUBLE) / CAST(rt.region_rev AS DOUBLE))
                 / (CAST(gt.type_rev AS DOUBLE) / CAST(tot.grand AS DOUBLE)),
                 6) + 0.0 AS lift
    FROM rv
    JOIN rt ON rv.region = rt.region
    JOIN gt ON rv.type_head = gt.type_head
    CROSS JOIN tot
    """,
)
def region_parttype_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue lift of each part-type family within each customer
    region vs its global share — the assortment-affinity matrix (do
    ASIAN customers over-index on PROMO parts?). One fact aggregation
    to the 5 x 6 (region, type-head) grid; the marginals and the grand
    total are re-aggregates of that 30-row summary (no second fact
    pass), joined back broadcast-small. Dim chain is all broadcast;
    the only wide join is lineitem-orders."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    region = _load(spark, sf_dir, "region")
    j = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    rv = (
        j.groupBy(
            F.col("r_name").alias("region"),
            F.split("p_type", " ").getItem(0).alias("type_head"),
        )
        .agg(F.sum(_rev_col()).cast("decimal(38,0)").alias("rev"))
        # four downstream consumers (rv/rt/gt/tot) must not re-run the
        # fact aggregation (the checkpoint-on-reuse rule, PLANS.md r10)
        .localCheckpoint(eager=False)
    )
    rt = rv.groupBy("region").agg(
        F.sum("rev").cast("decimal(38,0)").alias("region_rev")
    )
    gt = rv.groupBy("type_head").agg(
        F.sum("rev").cast("decimal(38,0)").alias("type_rev")
    )
    tot = rv.agg(F.sum("rev").cast("decimal(38,0)").alias("grand"))
    out = (
        rv.join(rt, "region")
        .join(gt, "type_head")
        .crossJoin(F.broadcast(tot))
    )
    region_share = F.col("rev").cast("double") / F.col("region_rev").cast(
        "double"
    )
    global_share = F.col("type_rev").cast("double") / F.col("grand").cast(
        "double"
    )
    return out.select(
        "region",
        "type_head",
        (F.col("rev").cast("double") / 1000000.0).alias("revenue"),
        (F.round(region_share, 6) + F.lit(0.0)).alias("region_share"),
        (F.round(global_share, 6) + F.lit(0.0)).alias("global_share"),
        (F.round(region_share / global_share, 6) + F.lit(0.0)).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Order/supplier shape profiles
# ---------------------------------------------------------------------------


@query(
    "supplier_breadth_histogram",
    oracle="""
    WITH b AS (
        SELECT l_suppkey AS suppkey,
               count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_orderkey) AS n_orders
        FROM lineitem GROUP BY suppkey
    )
    SELECT CAST(floor(n_parts / 5) * 5 AS BIGINT) AS parts_bucket,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(CAST(sum(n_orders) AS DOUBLE) / count(*), 6) AS avg_orders,
           CAST(min(n_parts) AS BIGINT) AS min_parts,
           CAST(max(n_parts) AS BIGINT) AS max_parts
    FROM b GROUP BY parts_bucket
    """,
)
def supplier_breadth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of supplier catalog breadth (distinct parts
    shipped, bucketed by 5) with the order-volume profile per bucket —
    the supply-base segmentation histogram. Two COUNT(DISTINCT) under
    the supplier key collapse in one aggregate (Spark plans a single
    expand + two-phase distinct; the shuffle is (supplier, part/order)
    pairs, then supplier rows); the bucket histogram is a re-aggregate
    of the supplier summary."""
    li = _load(spark, sf_dir, "lineitem")
    b = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    return b.groupBy(
        (F.floor(F.col("n_parts") / 5) * 5).cast("long").alias("parts_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.round(F.sum("n_orders").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_orders"
        ),
        F.min("n_parts").cast("long").alias("min_parts"),
        F.max("n_parts").cast("long").alias("max_parts"),
    )


@query(
    "ship_lag_by_weekday",
    oracle="""
    WITH lag AS (
        SELECT CAST(isodow(o.o_orderdate) - 1 AS BIGINT) AS order_weekday,
               date_diff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS lag_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT order_weekday,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(CAST(sum(lag_days) AS DOUBLE) / count(*), 6) AS avg_lag_days,
           round(quantile_cont(CAST(lag_days AS DOUBLE), 0.50), 6) AS p50,
           round(quantile_cont(CAST(lag_days AS DOUBLE), 0.90), 6) AS p90
    FROM lag GROUP BY order_weekday
    """,
)
def ship_lag_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency profile by order weekday (Mon=0, the
    pinned cross-engine mapping: Spark weekday() vs DuckDB isodow()-1)
    — does a Friday order ship slower? Integer day lags sum exactly;
    the quantiles are the interpolated percentile fold over the 7-group
    aggregate (both engines interpolate identically on integer
    inputs)."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    lag = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.expr("weekday(o_orderdate)").cast("long").alias("order_weekday"),
        F.datediff("l_shipdate", "o_orderdate").alias("lag_days"),
    )
    return lag.groupBy("order_weekday").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(
            F.sum("lag_days").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_lag_days"),
        F.round(
            F.expr("percentile(CAST(lag_days AS DOUBLE), 0.50)"), 6
        ).alias("p50"),
        F.round(
            F.expr("percentile(CAST(lag_days AS DOUBLE), 0.90)"), 6
        ).alias("p90"),
    )


@query(
    "quantity_outlier_orders",
    oracle=f"""
    WITH per_order AS (
        SELECT l_orderkey AS orderkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum({_SQL_CENTS.format(c='l.l_quantity')}) AS BIGINT)
                   AS qty_cents
        FROM lineitem l GROUP BY orderkey
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(qty_cents) AS BIGINT) AS s,
               CAST(sum(qty_cents * qty_cents) AS DECIMAL(38,0)) AS ss
        FROM per_order
    )
    SELECT p.orderkey, p.n_lines,
           round(p.qty_cents / 100.0, 2) AS total_qty,
           round((p.qty_cents - CAST(st.s AS DOUBLE) / st.n)
                 / sqrt((CAST(st.ss AS DOUBLE)
                         - CAST(st.s AS DOUBLE) * st.s / st.n)
                        / (st.n - 1)), 6) + 0.0 AS z_score
    FROM per_order p CROSS JOIN stats st
    WHERE (p.qty_cents - CAST(st.s AS DOUBLE) / st.n)
          > 3 * sqrt((CAST(st.ss AS DOUBLE)
                      - CAST(st.s AS DOUBLE) * st.s / st.n)
                     / (st.n - 1))
    ORDER BY p.qty_cents DESC, p.orderkey ASC
    LIMIT 20
    """,
)
def quantity_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds the global mean by more than
    three sample standard deviations, top-20 by volume — the bulk-order
    anomaly screen. Global moments come from exact integer sums (one
    scalar aggregate broadcast back over the per-order summary: the A7
    agg + broadcast idiom, never a global window); ordering carries the
    orderkey tie-break."""
    li = _load(spark, sf_dir, "lineitem")
    per_order = li.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(_cents("l_quantity")).cast("long").alias("qty_cents"),
    )
    stats = per_order.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qty_cents").cast("long").alias("s"),
        F.sum(
            (F.col("qty_cents") * F.col("qty_cents")).cast("decimal(38,0)")
        ).alias("ss"),
    )
    j = per_order.crossJoin(F.broadcast(stats))
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    return (
        j.where((F.col("qty_cents") - mean) > 3 * sd)
        .select(
            "orderkey",
            "n_lines",
            F.round(F.col("qty_cents") / 100.0, 2).alias("total_qty"),
            (F.round((F.col("qty_cents") - mean) / sd, 6) + F.lit(0.0)).alias(
                "z_score"
            ),
        )
        .orderBy(F.desc("total_qty"), F.asc("orderkey"))
        .limit(20)
    )


@query(
    "unit_price_retail_gap",
    oracle="""
    WITH g AS (
        SELECT p.p_brand AS brand,
               CAST(round((l.l_extendedprice / l.l_quantity
                           - p.p_retailprice) * 100) AS BIGINT) AS gap_cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity > 0
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(CAST(sum(gap_cents) AS DOUBLE) / 100.0 / count(*), 6) + 0.0
               AS avg_gap,
           round(CAST(sum(CASE WHEN gap_cents < 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) + 0.0 AS below_retail_share
    FROM g GROUP BY brand
    """,
)
def unit_price_retail_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized unit price vs catalog retail price per brand — the
    price-realization audit (negative gap = sold below list). The
    per-row gap is quantized to integer cents BEFORE aggregation
    (IEEE division then one deterministic round), so the group sums
    are exact integers on both engines; broadcast part join, one
    25-row groupBy."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    g = (
        li.where(F.col("l_quantity") > 0)
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.round(
                (
                    F.col("l_extendedprice") / F.col("l_quantity")
                    - F.col("p_retailprice")
                )
                * 100
            )
            .cast("bigint")
            .alias("gap_cents"),
        )
    )
    below = F.when(F.col("gap_cents") < 0, 1).otherwise(0)
    return g.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        (
            F.round(
                F.sum("gap_cents").cast("double") / 100.0 / F.count(F.lit(1)),
                6,
            )
            + F.lit(0.0)
        ).alias("avg_gap"),
        (
            F.round(F.sum(below).cast("double") / F.count(F.lit(1)), 6)
            + F.lit(0.0)
        ).alias("below_retail_share"),
    )


# ---------------------------------------------------------------------------
# Event-stream behaviour profiles
# ---------------------------------------------------------------------------


@query(
    "day_hour_profile_distance",
    oracle="""
    WITH cnt AS (
        SELECT CAST(day(ts) AS BIGINT) AS d,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY d, h
    ),
    dt AS (SELECT d, CAST(sum(n) AS BIGINT) AS nd FROM cnt GROUP BY d),
    ht AS (SELECT h, CAST(sum(n) AS BIGINT) AS nh FROM cnt GROUP BY h),
    g AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM cnt),
    grid AS (
        SELECT dt.d, hh.h, coalesce(c.n, 0) AS c, dt.nd,
               coalesce(ht.nh, 0) AS nh, g.grand
        FROM dt
        CROSS JOIN (SELECT unnest(range(24)) AS h) hh
        LEFT JOIN cnt c ON c.d = dt.d AND c.h = hh.h
        LEFT JOIN ht ON ht.h = hh.h
        CROSS JOIN g
    )
    SELECT d AS day, CAST(min(nd) AS BIGINT) AS n_events,
           round(sum(abs(CAST(c AS DOUBLE) / nd
                         - CAST(nh AS DOUBLE) / grand)), 6) + 0.0
               AS l1_distance
    FROM grid GROUP BY day
    """,
)
def day_hour_profile_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 distance between each day's hourly activity profile and the
    global hourly profile — the intraday-shape drift monitor (a spiky
    outage day scores high even when its total volume is normal). One
    fact pass to the 30 x 24 (day, hour) counts (checkpointed: four
    consumers re-aggregate the summary, not the fact); the comparison
    grid is a broadcast 24-row cross join, missing hours contribute the
    global mass exactly."""
    e = _load(spark, sf_dir, "events")
    cnt = (
        e.groupBy(
            F.dayofmonth("ts").cast("long").alias("d"),
            F.hour("ts").cast("long").alias("h"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    dt = cnt.groupBy("d").agg(F.sum("n").cast("long").alias("nd"))
    ht = cnt.groupBy("h").agg(F.sum("n").cast("long").alias("nh"))
    g = cnt.agg(F.sum("n").cast("long").alias("grand"))
    hours = spark.range(24).select(F.col("id").cast("long").alias("h"))
    grid = (
        dt.crossJoin(F.broadcast(hours))
        .join(cnt, ["d", "h"], "left")
        .join(F.broadcast(ht), "h", "left")
        .crossJoin(F.broadcast(g))
        .select(
            "d",
            "h",
            F.coalesce(F.col("n"), F.lit(0)).alias("c"),
            "nd",
            F.coalesce(F.col("nh"), F.lit(0)).alias("nh"),
            "grand",
        )
    )
    term = F.abs(
        F.col("c").cast("double") / F.col("nd")
        - F.col("nh").cast("double") / F.col("grand")
    )
    return grid.groupBy(F.col("d").alias("day")).agg(
        F.min("nd").cast("long").alias("n_events"),
        (F.round(F.sum(term), 6) + F.lit(0.0)).alias("l1_distance"),
    )


@query(
    "user_type_entropy_histogram",
    oracle="""
    WITH cnt AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, event_type
    ),
    tot AS (
        SELECT user_id, CAST(sum(n) AS BIGINT) AS nu FROM cnt GROUP BY user_id
    ),
    ent AS (
        SELECT c.user_id,
               min(t.nu) AS nu,
               round(-sum((CAST(c.n AS DOUBLE) / t.nu)
                          * ln(CAST(c.n AS DOUBLE) / t.nu)), 6) + 0.0 AS e
        FROM cnt c JOIN tot t ON c.user_id = t.user_id
        GROUP BY c.user_id
    )
    SELECT CAST(floor(e / 0.05) AS BIGINT) AS entropy_bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           round(sum(e) / count(*), 6) + 0.0 AS avg_entropy,
           round(CAST(sum(nu) AS DOUBLE) / count(*), 6) AS avg_events
    FROM ent GROUP BY entropy_bucket
    """,
)
def user_type_entropy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of per-user event-type entropy (how specialized is
    each user's behaviour), 0.05-nat buckets — the behavioural-mix
    segmentation. The (user, type) counts and user totals share one
    user-keyed shuffle (ReuseExchange); entropy derives from exact
    integer counts and is rounded BEFORE bucketing so the bucket edge
    is decided on the same value both engines hash."""
    e = _load(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cnt.groupBy("user_id").agg(F.sum("n").cast("long").alias("nu"))
    p = F.col("n").cast("double") / F.col("nu")
    ent = (
        cnt.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("nu").alias("nu"),
            (F.round(-F.sum(p * F.log(p)), 6) + F.lit(0.0)).alias("e"),
        )
    )
    return ent.groupBy(
        F.floor(F.col("e") / 0.05).cast("long").alias("entropy_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (F.round(F.sum("e") / F.count(F.lit(1)), 6) + F.lit(0.0)).alias(
            "avg_entropy"
        ),
        F.round(F.sum("nu").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_events"
        ),
    )


@query(
    "daily_top_decile_share",
    oracle="""
    WITH uv AS (
        SELECT CAST(day(ts) AS BIGINT) AS d, user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY d, user_id
    ),
    r AS (
        SELECT d, user_id, cents,
               row_number() OVER (
                   PARTITION BY d ORDER BY cents DESC, user_id ASC
               ) AS rn,
               CAST(count(*) OVER (PARTITION BY d) AS BIGINT) AS nu
        FROM uv
    )
    SELECT d AS day,
           CAST(min(nu) AS BIGINT) AS n_users,
           CAST(min(CAST(ceil(nu * 0.1) AS BIGINT)) AS BIGINT) AS k_top,
           round(CAST(sum(CASE WHEN rn <= ceil(nu * 0.1) THEN cents
                               ELSE 0 END) AS DOUBLE)
                 / sum(cents), 6) + 0.0 AS top_share
    FROM r GROUP BY day
    """,
)
def daily_top_decile_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily value concentration: the share of each day's total value
    contributed by the top 10% of that day's users — the whale-watch
    metric. Exact integer cents per (day, user); the rank and the
    day-size ride ONE day-partitioned window shuffle (never a global
    sort — the partition key is the day, so width is bounded by daily
    actives at any scale); ceil(n/10) keeps at least one whale."""
    e = _load(spark, sf_dir, "events")
    uv = e.groupBy(
        F.dayofmonth("ts").cast("long").alias("d"), "user_id"
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w_rank = Window.partitionBy("d").orderBy(
        F.desc("cents"), F.asc("user_id")
    )
    w_all = Window.partitionBy("d")
    r = uv.select(
        "d",
        "cents",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("nu"),
    )
    k = F.ceil(F.col("nu") * 0.1).cast("long")
    top = F.when(F.col("rn") <= k, F.col("cents")).otherwise(F.lit(0))
    return r.groupBy(F.col("d").alias("day")).agg(
        F.min("nu").cast("long").alias("n_users"),
        F.min(k).cast("long").alias("k_top"),
        (
            F.round(F.sum(top).cast("double") / F.sum("cents"), 6)
            + F.lit(0.0)
        ).alias("top_share"),
    )


@query(
    "error_rate_by_hour_wilson",
    oracle="""
    WITH h AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ne
        FROM events GROUP BY hour_of_day
    )
    SELECT hour_of_day, n, ne AS n_errors,
           round(CAST(ne AS DOUBLE) / n, 6) + 0.0 AS error_rate,
           round(((CAST(ne AS DOUBLE) / n + 1.96 * 1.96 / (2 * n))
                  - 1.96 * sqrt((CAST(ne AS DOUBLE) / n)
                                * (1 - CAST(ne AS DOUBLE) / n) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1 + 1.96 * 1.96 / n), 6) + 0.0 AS wilson_lo,
           round(((CAST(ne AS DOUBLE) / n + 1.96 * 1.96 / (2 * n))
                  + 1.96 * sqrt((CAST(ne AS DOUBLE) / n)
                                * (1 - CAST(ne AS DOUBLE) / n) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1 + 1.96 * 1.96 / n), 6) + 0.0 AS wilson_hi
    FROM h
    """,
)
def error_rate_by_hour_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day error rate with a Wilson 95% interval — the SLO
    dashboard row that stays honest at low-traffic hours (the interval
    widens instead of the point estimate lying). One 24-group map-side
    aggregate; the interval is closed-form double arithmetic on exact
    integer counts (z = 1.96 pinned as a literal on both engines)."""
    e = _load(spark, sf_dir, "events")
    h = e.groupBy(
        F.hour("ts").cast("long").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("ne"),
    )
    z = F.lit(1.96)
    n = F.col("n").cast("double")
    p = F.col("ne").cast("double") / n
    center = p + z * z / (2 * n)
    rad = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
    denom = 1 + z * z / n
    return h.select(
        "hour_of_day",
        "n",
        F.col("ne").alias("n_errors"),
        (F.round(p, 6) + F.lit(0.0)).alias("error_rate"),
        (F.round((center - rad) / denom, 6) + F.lit(0.0)).alias("wilson_lo"),
        (F.round((center + rad) / denom, 6) + F.lit(0.0)).alias("wilson_hi"),
    )


@query(
    "week_over_week_user_jaccard",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id,
               CAST(floor(date_diff('day', DATE '1970-01-05',
                                    CAST(ts AS DATE)) / 7.0) AS BIGINT) AS wk
        FROM events
    ),
    a AS (SELECT wk, CAST(count(*) AS BIGINT) AS nu FROM d GROUP BY wk),
    inter AS (
        SELECT d1.wk AS wk, CAST(count(*) AS BIGINT) AS n_common
        FROM d d1 JOIN d d2
          ON d1.user_id = d2.user_id AND d2.wk = d1.wk + 1
        GROUP BY d1.wk
    )
    SELECT cur.wk AS week_idx,
           cur.nu AS n_week,
           nxt.nu AS n_next_week,
           coalesce(i.n_common, 0) AS n_common,
           round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
                 / (cur.nu + nxt.nu - coalesce(i.n_common, 0)), 6) + 0.0
               AS jaccard
    FROM a cur
    JOIN a nxt ON nxt.wk = cur.wk + 1
    LEFT JOIN inter i ON i.wk = cur.wk
    """,
)
def week_over_week_user_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard overlap of consecutive weekly active-user sets — the
    churn-vs-stickiness trend at set level (DAU/WAU tells you size;
    this tells you whether it is the SAME users). Weeks are epoch-Monday
    indexed (no engine week-number semantics); the distinct (user, week)
    frame feeds both the per-week sizes and the user-keyed
    self-intersection join, which shuffles once on user_id."""
    e = _load(spark, sf_dir, "events")
    wk = F.floor(
        F.datediff(F.to_date("ts"), F.lit("1970-01-05").cast("date")) / 7.0
    ).cast("long")
    d = e.select("user_id", wk.alias("wk")).distinct().localCheckpoint(
        eager=False
    )
    a = (
        d.groupBy("wk")
        .agg(F.count(F.lit(1)).cast("long").alias("nu"))
        # consumed as cur AND nxt (plan_audit lead)
        .localCheckpoint(eager=False)
    )
    d2 = d.select(
        F.col("user_id").alias("user_id2"), F.col("wk").alias("wk2")
    )
    inter = (
        d.join(
            d2,
            (F.col("user_id") == F.col("user_id2"))
            & (F.col("wk2") == F.col("wk") + 1),
        )
        .groupBy("wk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    cur = a.select(F.col("wk").alias("week_idx"), F.col("nu").alias("n_week"))
    nxt = a.select(
        (F.col("wk") - 1).alias("week_idx"), F.col("nu").alias("n_next_week")
    )
    out = (
        cur.join(nxt, "week_idx")
        .join(
            inter.select(F.col("wk").alias("week_idx"), "n_common"),
            "week_idx",
            "left",
        )
        .select(
            "week_idx",
            "n_week",
            "n_next_week",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
        )
    )
    return out.select(
        "week_idx",
        "n_week",
        "n_next_week",
        "n_common",
        (
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_week") + F.col("n_next_week") - F.col("n_common")),
                6,
            )
            + F.lit(0.0)
        ).alias("jaccard"),
    )


@query(
    "session_entry_exit_matrix",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS prev_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN prev_us IS NULL
                         OR (epoch_us(ts) - prev_us) > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, event_id, ts, event_type,
               CAST(sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS session_id
        FROM flagged
    ),
    ranked AS (
        SELECT user_id, session_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY ts ASC, event_id ASC
               ) AS rn_a,
               row_number() OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY ts DESC, event_id DESC
               ) AS rn_d
        FROM sessions
    ),
    pairs AS (
        SELECT en.entry_type, ex.exit_type
        FROM (SELECT user_id, session_id, event_type AS entry_type
              FROM ranked WHERE rn_a = 1) en
        JOIN (SELECT user_id, session_id, event_type AS exit_type
              FROM ranked WHERE rn_d = 1) ex
          ON en.user_id = ex.user_id AND en.session_id = ex.session_id
    ),
    m AS (
        SELECT entry_type, exit_type, CAST(count(*) AS BIGINT) AS n_sessions
        FROM pairs GROUP BY entry_type, exit_type
    )
    SELECT entry_type, exit_type, n_sessions,
           round(CAST(n_sessions AS DOUBLE)
                 / (SELECT sum(n_sessions) FROM m), 6) + 0.0 AS share
    FROM m
    """,
)
def session_entry_exit_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-type x exit-type matrix over 30-minute-gap sessions — what
    do journeys start and end with (the funnel bookends). Reuses the
    sessionize kernel (lag + running-sum over ONE user-partitioned
    window shuffle); entry/exit winners are W4 row_numbers over the
    same (user, session) partitioning in both directions, so the whole
    query is one wide exchange plus 25-cell aggregates."""
    from ..operators.sessions import sessionize

    e = _load(spark, sf_dir, "events")
    s = sessionize(
        e.select("user_id", "event_id", "ts", "event_type"),
        "user_id",
        "ts",
        "event_id",
        gap_seconds=1800,
    )
    w_a = Window.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    w_d = Window.partitionBy("user_id", "session_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = s.select(
        "user_id",
        "session_id",
        "event_type",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    ).localCheckpoint(eager=False)
    en = ranked.where(F.col("rn_a") == 1).select(
        "user_id", "session_id", F.col("event_type").alias("entry_type")
    )
    ex = ranked.where(F.col("rn_d") == 1).select(
        "user_id", "session_id", F.col("event_type").alias("exit_type")
    )
    m = (
        en.join(ex, ["user_id", "session_id"])
        .groupBy("entry_type", "exit_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .localCheckpoint(eager=False)
    )
    tot = m.agg(F.sum("n_sessions").cast("long").alias("tot"))
    return m.crossJoin(F.broadcast(tot)).select(
        "entry_type",
        "exit_type",
        "n_sessions",
        (
            F.round(F.col("n_sessions").cast("double") / F.col("tot"), 6)
            + F.lit(0.0)
        ).alias("share"),
    )


@query(
    "user_decile_migration",
    oracle="""
    WITH h AS (
        SELECT user_id,
               CASE WHEN day(ts) <= 15 THEN 1 ELSE 2 END AS half,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY user_id, half
    ),
    ranked AS (
        SELECT user_id, half, cents,
               row_number() OVER (
                   PARTITION BY half ORDER BY cents DESC, user_id ASC
               ) AS rn,
               CAST(count(*) OVER (PARTITION BY half) AS BIGINT) AS nh
        FROM h
    ),
    dec AS (
        SELECT user_id, half,
               CAST(floor((rn - 1) * 10.0 / nh) AS BIGINT) AS decile
        FROM ranked
    )
    SELECT coalesce(d1.decile, -1) AS decile_first_half,
           coalesce(d2.decile, -1) AS decile_second_half,
           CAST(count(*) AS BIGINT) AS n_users
    FROM (SELECT user_id, decile FROM dec WHERE half = 1) d1
    FULL OUTER JOIN (SELECT user_id, decile FROM dec WHERE half = 2) d2
      ON d1.user_id = d2.user_id
    GROUP BY decile_first_half, decile_second_half
    """,
)
def user_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-decile migration matrix between the two halves of the
    month (-1 = inactive in that half) — the revenue-cohort churn grid.
    Ranks come from the distributed global_row_number kernel over ONE
    range exchange ordered by (half, -cents, user) with per-half
    offsets subtracted, so no engine-side window ever sees a
    fact-cardinality single partition (the r9-verdict rank rule); the
    oracle's per-half row_number produces identical rank values."""
    from ..operators.winners import global_row_number

    e = _load(spark, sf_dir, "events")
    h = e.groupBy(
        "user_id",
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(2).alias("half"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    # three consumers (kernel input, per-half counts, the n1 scalar)
    # would re-run the fact aggregation (plan_audit lead; the
    # checkpoint-on-reuse rule)
    ).localCheckpoint(eager=False)
    ranked = global_row_number(
        h.withColumn("neg_cents", -F.col("cents")),
        ["half", "neg_cents", "user_id"],
        "r",
    )
    counts = h.groupBy("half").agg(
        F.count(F.lit(1)).cast("long").alias("nh")
    )
    n1 = counts.agg(
        F.sum(F.when(F.col("half") == 1, F.col("nh")).otherwise(0))
        .cast("long")
        .alias("n1")
    )
    offs = counts.crossJoin(F.broadcast(n1)).select(
        "half",
        "nh",
        F.when(F.col("half") == 1, F.lit(0))
        .otherwise(F.col("n1"))
        .cast("long")
        .alias("off"),
    )
    dec = ranked.join(F.broadcast(offs), "half").select(
        "user_id",
        "half",
        F.floor((F.col("r") - F.col("off") - 1) * 10.0 / F.col("nh"))
        .cast("long")
        .alias("decile"),
    )
    # one conditional-aggregate pass instead of the d1/d2 full-outer
    # self-join (each user has at most one row per half, so the pivot
    # is exact and the oracle's join semantics — users present in
    # either half — are the groupBy's domain); kills the audit's
    # duplicated half-exchange pair
    return (
        dec.groupBy("user_id")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("half") == 1, F.col("decile"))),
                F.lit(-1),
            )
            .cast("long")
            .alias("decile_first_half"),
            F.coalesce(
                F.max(F.when(F.col("half") == 2, F.col("decile"))),
                F.lit(-1),
            )
            .cast("long")
            .alias("decile_second_half"),
        )
        .groupBy("decile_first_half", "decile_second_half")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "type_hourly_amplitude",
    oracle="""
    WITH cnt AS (
        SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, h
    ),
    grid AS (
        SELECT t.event_type, hh.h, coalesce(c.n, 0) AS n
        FROM (SELECT DISTINCT event_type FROM cnt) t
        CROSS JOIN (SELECT unnest(range(24)) AS h) hh
        LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = hh.h
    ),
    s AS (
        SELECT event_type,
               CAST(sum(n) AS BIGINT) AS n_total,
               CAST(max(n) AS BIGINT) AS peak_count,
               CAST(min(n) AS BIGINT) AS trough_count
        FROM grid GROUP BY event_type
    ),
    pk AS (
        SELECT event_type, h AS peak_hour
        FROM (
            SELECT event_type, h,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY n DESC, h ASC
                   ) AS rn
            FROM grid
        ) WHERE rn = 1
    )
    SELECT s.event_type, s.n_total,
           CAST(pk.peak_hour AS BIGINT) AS peak_hour,
           s.peak_count, s.trough_count,
           round((s.peak_count - s.trough_count)
                 / (CAST(s.n_total AS DOUBLE) / 24.0), 6) + 0.0
               AS amplitude
    FROM s JOIN pk ON s.event_type = pk.event_type
    """,
)
def type_hourly_amplitude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal amplitude per event type: (peak - trough) / hourly mean
    over the full 24-hour grid (missing hours count as zero), plus the
    peak hour — how tide-like is each behaviour. One fact pass to the
    5 x 24 counts; grid completion is a broadcast cross join; peak is
    the W4 argmax over the 120-row summary."""
    e = _load(spark, sf_dir, "events")
    cnt = (
        e.groupBy(
            "event_type", F.hour("ts").cast("long").alias("h")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    types = cnt.select("event_type").distinct()
    hours = spark.range(24).select(F.col("id").cast("long").alias("h"))
    grid = (
        types.crossJoin(F.broadcast(hours))
        .join(cnt, ["event_type", "h"], "left")
        .select(
            "event_type", "h", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
        .localCheckpoint(eager=False)
    )
    s = grid.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_total"),
        F.max("n").cast("long").alias("peak_count"),
        F.min("n").cast("long").alias("trough_count"),
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("h"))
    pk = (
        grid.select(
            "event_type", "h", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") == 1)
        .select("event_type", F.col("h").alias("peak_hour"))
    )
    return s.join(pk, "event_type").select(
        "event_type",
        "n_total",
        F.col("peak_hour").cast("long").alias("peak_hour"),
        "peak_count",
        "trough_count",
        (
            F.round(
                (F.col("peak_count") - F.col("trough_count"))
                / (F.col("n_total").cast("double") / 24.0),
                6,
            )
            + F.lit(0.0)
        ).alias("amplitude"),
    )


@query(
    "activity_gap_profile",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS gap_us
        FROM events
    ),
    u AS (
        SELECT user_id,
               CAST(count(*) + 1 AS BIGINT) AS n_events,
               round(quantile_cont(CAST(gap_us AS DOUBLE), 0.50)
                     / 1000000.0, 6) AS median_gap_s
        FROM g WHERE gap_us IS NOT NULL
        GROUP BY user_id
    ),
    ranked AS (
        SELECT user_id, n_events, median_gap_s,
               row_number() OVER (
                   ORDER BY n_events DESC, user_id ASC
               ) AS rn,
               CAST(count(*) OVER () AS BIGINT) AS nu
        FROM u
    )
    SELECT CAST(floor((rn - 1) * 4.0 / nu) AS BIGINT) AS activity_quartile,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(n_events) AS DOUBLE) / count(*), 6) AS avg_events,
           round(quantile_cont(median_gap_s, 0.50), 6) AS median_gap_secs
    FROM ranked GROUP BY activity_quartile
    """,
)
def activity_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median inter-event gap by user-activity quartile (quartile 0 =
    most active) — do heavy users also burst faster? Gaps are exact
    integer microseconds from ONE user-partitioned window; the user
    quartile comes from the distributed global_row_number kernel (count
    DESC, user ASC — never a fact-wide single-partition window), and
    the per-quartile median-of-medians is the interpolated percentile
    both engines share. Users with a single event have no gap and are
    excluded (documented)."""
    from ..operators.winners import global_row_number

    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    g = e.select(
        "user_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    )
    u = (
        g.where(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + 1).cast("long").alias("n_events"),
            F.round(
                F.expr("percentile(CAST(gap_us AS DOUBLE), 0.50)")
                / 1000000.0,
                6,
            ).alias("median_gap_s"),
        )
    )
    ranked = global_row_number(
        u.withColumn("neg_n", -F.col("n_events")),
        ["neg_n", "user_id"],
        "rn",
    )
    nu = u.agg(F.count(F.lit(1)).cast("long").alias("nu"))
    q = ranked.crossJoin(F.broadcast(nu)).select(
        "n_events",
        "median_gap_s",
        F.floor((F.col("rn") - 1) * 4.0 / F.col("nu"))
        .cast("long")
        .alias("activity_quartile"),
    )
    return q.groupBy("activity_quartile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_events"),
        F.round(F.expr("percentile(median_gap_s, 0.50)"), 6).alias(
            "median_gap_secs"
        ),
    )


@query(
    "user_weekday_concentration",
    oracle="""
    WITH cnt AS (
        SELECT user_id, CAST(isodow(ts) - 1 AS BIGINT) AS wd,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, wd
    ),
    tot AS (
        SELECT user_id, CAST(sum(n) AS BIGINT) AS nu FROM cnt GROUP BY user_id
    ),
    modal AS (
        SELECT c.user_id, c.n AS n_modal, t.nu
        FROM (
            SELECT user_id, n,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY n DESC, wd ASC
                   ) AS rn
            FROM cnt
        ) c JOIN tot t ON c.user_id = t.user_id
        WHERE c.rn = 1
    )
    SELECT CAST(floor(n_modal * 10.0 / nu) AS BIGINT) AS share_bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(nu) AS DOUBLE) / count(*), 6) AS avg_events,
           round(sum(CAST(n_modal AS DOUBLE) / nu) / count(*), 6) + 0.0
               AS avg_modal_share
    FROM modal GROUP BY share_bucket
    """,
)
def user_weekday_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is each user's activity on their favourite
    weekday — histogram of modal-weekday share (bucket 10 = single-day
    users, ~1.4/10 = uniform). The modal day is the W4 winner kernel
    partitioned BY USER (count DESC, weekday ASC tie-break, pinned
    Mon=0 mapping); the share bucket is integer-exact (n*10/nu floor);
    (user, weekday) counts and user totals share one user-keyed
    exchange."""
    e = _load(spark, sf_dir, "events")
    cnt = e.groupBy(
        "user_id", F.expr("weekday(ts)").cast("long").alias("wd")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cnt.groupBy("user_id").agg(F.sum("n").cast("long").alias("nu"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("wd"))
    modal = (
        cnt.select("user_id", "n", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .join(tot, "user_id")
        .select("user_id", F.col("n").alias("n_modal"), "nu")
    )
    return modal.groupBy(
        F.floor(F.col("n_modal") * 10.0 / F.col("nu"))
        .cast("long")
        .alias("share_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.sum("nu").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_events"
        ),
        (
            F.round(
                F.sum(F.col("n_modal").cast("double") / F.col("nu"))
                / F.count(F.lit(1)),
                6,
            )
            + F.lit(0.0)
        ).alias("avg_modal_share"),
    )


# ---------------------------------------------------------------------------
# Corpus token diagnostics
# ---------------------------------------------------------------------------


@query(
    "lang_char_trigram_head",
    oracle="""
    WITH words AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tri AS (
        SELECT lang, substr(w, CAST(i AS INTEGER), 3) AS trigram
        FROM words, unnest(range(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 3
    ),
    cnt AS (
        SELECT lang, trigram, CAST(count(*) AS BIGINT) AS n
        FROM tri GROUP BY lang, trigram
    )
    SELECT lang, trigram, n FROM (
        SELECT lang, trigram, n,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n DESC, trigram ASC
               ) AS rn
        FROM cnt
    ) WHERE rn <= 15
    """,
)
def lang_char_trigram_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 word-internal character trigrams per language — the
    feature head a character-n-gram language-ID model keys on (the
    engine's doc_language_id consumes these signals; this query exposes
    the ranked head itself). explode(words) -> explode(offsets) is a
    map-only 1->N fan-out that fuses with the scan; the (lang, trigram)
    aggregate combines map-side, and the top-15 is the W4 winner kernel
    over the per-lang summary."""
    d = _load(spark, sf_dir, "documents")
    words = d.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    ).where(F.length("w") >= 3)
    tri = words.select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 2), i -> substr(w, i, 3))")
        ).alias("trigram"),
    )
    cnt = tri.groupBy("lang", "trigram").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("trigram"))
    return (
        cnt.select("lang", "trigram", "n", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 15)
        .select("lang", "trigram", "n")
    )


@query(
    "term_position_profile",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS term,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    top AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n
        FROM toks GROUP BY term
        ORDER BY n DESC, term ASC LIMIT 20
    )
    SELECT t.term, top.n,
           CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
           round(sum((t.pos - 1.0) / (t.n_tok - 1.0)) / count(*), 6) + 0.0
               AS mean_relpos
    FROM toks t JOIN top ON t.term = top.term
    GROUP BY t.term, top.n
    """,
)
def term_position_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean normalized position (0 = document start, 1 = end) of the
    top-20 corpus terms — the positional-bias probe (are boilerplate
    terms front-loaded?). One posexplode feeds both the global head
    (TakeOrdered, 20 rows broadcast back as a semi-filter) and the
    positional aggregate; every doc has >= 10 tokens so the 0/0 edge
    cannot occur (TESTDATA)."""
    d = _load(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos0", "term"),
            F.size(F.split("text", " ")).alias("n_tok"),
        )
        .localCheckpoint(eager=False)
    )
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
    )
    j = toks.join(F.broadcast(top), "term")
    return j.groupBy("term", "n").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        (
            F.round(
                F.sum(
                    F.col("pos0").cast("double") / (F.col("n_tok") - 1.0)
                )
                / F.count(F.lit(1)),
                6,
            )
            + F.lit(0.0)
        ).alias("mean_relpos"),
    )


@query(
    "token_run_length_audit",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS term,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    flagged AS (
        SELECT doc_id, term, pos,
               CASE WHEN lag(term) OVER (
                        PARTITION BY doc_id ORDER BY pos ASC
                    ) IS DISTINCT FROM term THEN 1 ELSE 0 END AS is_new
        FROM toks
    ),
    runs AS (
        SELECT doc_id, term,
               CAST(sum(is_new) OVER (
                   PARTITION BY doc_id ORDER BY pos ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS run_id
        FROM flagged
    ),
    run_len AS (
        SELECT doc_id, run_id, CAST(count(*) AS BIGINT) AS rl
        FROM runs GROUP BY doc_id, run_id
    ),
    doc_max AS (
        SELECT doc_id, CAST(max(rl) AS BIGINT) AS max_run
        FROM run_len GROUP BY doc_id
    )
    SELECT max_run, CAST(count(*) AS BIGINT) AS n_docs
    FROM doc_max GROUP BY max_run
    """,
)
def token_run_length_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of each document's longest identical-adjacent-token
    run — the stutter detector (degenerate generation and scraped
    boilerplate show up as long runs; a corpus gate drops max_run >= 4).
    The lag -> running-sum run construction is the sessionize kernel's
    shape applied to token streams, partitioned by doc (never global);
    three cascaded aggregates all combine map-side."""
    d = _load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    )
    w = Window.partitionBy("doc_id").orderBy(F.asc("pos"))
    flagged = toks.select(
        "doc_id",
        "term",
        "pos",
        F.when(
            ~F.lag("term").over(w).eqNullSafe(F.col("term")), 1
        ).otherwise(0).alias("is_new"),
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy(F.asc("pos"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = flagged.select(
        "doc_id", F.sum("is_new").over(wrun).cast("long").alias("run_id")
    )
    run_len = runs.groupBy("doc_id", "run_id").agg(
        F.count(F.lit(1)).cast("long").alias("rl")
    )
    doc_max = run_len.groupBy("doc_id").agg(
        F.max("rl").cast("long").alias("max_run")
    )
    return doc_max.groupBy("max_run").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Embedding-space audits
# ---------------------------------------------------------------------------

_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@query(
    "nearest_centroid_confusion",
    oracle="""
    WITH ex AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label AS clabel, pos, round(avg(v), 6) + 0.0 AS c
        FROM ex GROUP BY clabel, pos
    ),
    carr AS (
        SELECT clabel, list(c ORDER BY pos ASC) AS cv
        FROM cent GROUP BY clabel
    ),
    dist AS (
        SELECT e.vec_id, e.label, c.clabel,
               round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                          * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]))), 6)
                   AS d2
        FROM embeddings e CROSS JOIN carr c
    ),
    win AS (
        SELECT vec_id, label, clabel,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY d2 ASC, clabel ASC
               ) AS rn
        FROM dist
    )
    SELECT CAST(label AS BIGINT) AS true_label,
           CAST(clabel AS BIGINT) AS predicted_label,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM win WHERE rn = 1
    GROUP BY true_label, predicted_label
    """,
)
def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier confusion matrix: assign every
    vector to the closest per-label mean (L2, centroids rounded to 6
    so both engines score against bit-identical prototypes) and cross-
    tabulate against the true label — the embedding-quality smoke test
    (a separable space is near-diagonal). Centroids come from one
    posexplode aggregate (10 x 64 rows, broadcast back); distances are
    a zip_with index-order fold per (vector, centroid) — 10 rows per
    vector, never a pairwise corpus join; the argmin is the W4 winner
    kernel partitioned by vec_id."""
    from ..operators.similarity import as_double

    e = _load(spark, sf_dir, "embeddings")
    prep(spark)
    ex = e.select(
        "vec_id", "label", F.posexplode(as_double(F.col("embedding")))
    ).select(
        "vec_id", "label", (F.col("pos") + 1).alias("pos"), F.col("col").alias("v")
    )
    cent = ex.groupBy(F.col("label").alias("clabel"), "pos").agg(
        (F.round(F.avg("v"), 6) + F.lit(0.0)).alias("c")
    )
    carr = cent.groupBy("clabel").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .alias("cv")
    )
    dist = e.crossJoin(F.broadcast(carr)).select(
        "vec_id",
        "label",
        "clabel",
        F.round(
            F.aggregate(
                F.zip_with(
                    as_double(F.col("embedding")),
                    F.col("cv"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            6,
        ).alias("d2"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("clabel"))
    return (
        dist.select("vec_id", "label", "clabel", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .groupBy(
            F.col("label").cast("long").alias("true_label"),
            F.col("clabel").cast("long").alias("predicted_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )


@query(
    "cosine_to_mean_histogram",
    oracle="""
    WITH ex AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    mv AS (
        SELECT list(m ORDER BY pos ASC) AS mvec FROM (
            SELECT pos, round(avg(v), 6) + 0.0 AS m FROM ex GROUP BY pos
        )
    ),
    cosd AS (
        SELECT e.vec_id,
               round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                         i -> CAST(e.embedding[i] AS DOUBLE) * m.mvec[i]))
                     / (sqrt(list_sum(list_transform(
                            range(1, len(e.embedding) + 1),
                            i -> CAST(e.embedding[i] AS DOUBLE)
                                 * CAST(e.embedding[i] AS DOUBLE))))
                        * sqrt(list_sum(list_transform(
                            range(1, len(m.mvec) + 1),
                            i -> m.mvec[i] * m.mvec[i])))), 6) + 0.0 AS cos
        FROM embeddings e CROSS JOIN mv m
    )
    SELECT CAST(floor(cos * 10) AS BIGINT) AS cos_bucket,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(sum(cos) / count(*), 6) + 0.0 AS avg_cosine
    FROM cosd GROUP BY cos_bucket
    """,
)
def cosine_to_mean_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of each vector's cosine similarity to the corpus mean
    vector (0.1-wide buckets) — the anisotropy probe (a healthy
    embedding space is centered; a cone-collapsed one piles up near 1).
    The mean is one posexplode aggregate folded back to a single
    64-wide broadcast row (rounded to 6 = bit-identical prototypes);
    the per-vector cosine is an index-order zip fold, map-only after
    the broadcast."""
    from ..operators.similarity import as_double

    e = _load(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode(as_double(F.col("embedding")))
    ).select("vec_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("v"))
    mv = (
        ex.groupBy("pos")
        .agg((F.round(F.avg("v"), 6) + F.lit(0.0)).alias("m"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), s -> s.m)"
            ).alias("mvec")
        )
    )
    dot = F.aggregate(
        F.zip_with(
            as_double(F.col("embedding")),
            F.col("mvec"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    n_v = F.sqrt(
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
    n_m = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("mvec"), F.col("mvec"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    cosd = e.crossJoin(F.broadcast(mv)).select(
        "vec_id",
        (F.round(dot / (n_v * n_m), 6) + F.lit(0.0)).alias("cos"),
    )
    return cosd.groupBy(
        F.floor(F.col("cos") * 10).cast("long").alias("cos_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        (F.round(F.sum("cos") / F.count(F.lit(1)), 6) + F.lit(0.0)).alias(
            "avg_cosine"
        ),
    )


@query(
    "embedding_grid_occupancy",
    oracle="""
    WITH cells AS (
        SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.1) AS BIGINT)
                   AS cell_x,
               CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.1) AS BIGINT)
                   AS cell_y,
               CAST(count(*) AS BIGINT) AS n_vecs
        FROM embeddings GROUP BY cell_x, cell_y
    ),
    tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n FROM cells)
    SELECT cell_x, cell_y, n_vecs,
           round(CAST(n_vecs AS DOUBLE) / tot.n, 6) + 0.0 AS share
    FROM cells CROSS JOIN tot
    ORDER BY n_vecs DESC, cell_x ASC, cell_y ASC
    LIMIT 30
    """,
)
def embedding_grid_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy of a fixed 0.1-wide grid over the first two embedding
    coordinates, top-30 cells — the coarse-quantization density map
    (the 2-D shadow of an IVF cell-size audit: hot cells mean probe
    imbalance). Pure map-side quantize + count; floor of an exact
    float-to-double cast is bit-deterministic on both engines."""
    e = _load(spark, sf_dir, "embeddings")
    cells = e.groupBy(
        F.floor(F.col("embedding").getItem(0).cast("double") / 0.1)
        .cast("long")
        .alias("cell_x"),
        F.floor(F.col("embedding").getItem(1).cast("double") / 0.1)
        .cast("long")
        .alias("cell_y"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    tot = cells.agg(F.sum("n_vecs").cast("long").alias("n"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "cell_x",
            "cell_y",
            "n_vecs",
            (
                F.round(F.col("n_vecs").cast("double") / F.col("n"), 6)
                + F.lit(0.0)
            ).alias("share"),
        )
        .orderBy(F.desc("n_vecs"), F.asc("cell_x"), F.asc("cell_y"))
        .limit(30)
    )


from ..operators.similarity import random_planes

_JL_PLANES = random_planes(64, 16, seed=1212)
_JL_SAMPLE = 40  # 780 pairs: the audit arm is O(sample^2) by design


def _jl_proj_sql() -> str:
    dots = []
    for p in _JL_PLANES:
        lit = "list_value(" + ", ".join(repr(v) for v in p) + ")"
        dots.append(f"round({_DOT.format(a='embedding', b=lit)}, 6)")
    return "list_value(" + ", ".join(dots) + ")"


@query(
    "jl_distortion_audit",
    oracle=f"""
    WITH pr AS (
        SELECT vec_id, embedding, {_jl_proj_sql()} AS proj
        FROM embeddings WHERE vec_id < {_JL_SAMPLE}
    ),
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               round(list_sum(list_transform(range(1, len(a.embedding) + 1),
                     i -> (CAST(a.embedding[i] AS DOUBLE)
                           - CAST(b.embedding[i] AS DOUBLE))
                          * (CAST(a.embedding[i] AS DOUBLE)
                             - CAST(b.embedding[i] AS DOUBLE)))), 6) AS d2o,
               round(list_sum(list_transform(range(1, 17),
                     i -> (a.proj[i] - b.proj[i])
                          * (a.proj[i] - b.proj[i]))), 6) AS d2p
        FROM pr a JOIN pr b ON a.vec_id < b.vec_id
    ),
    r AS (
        SELECT round(sqrt(d2p) / (4.0 * sqrt(d2o)), 6) + 0.0 AS distortion
        FROM pairs WHERE d2o > 0
    )
    SELECT CAST(floor(distortion / 0.05) AS BIGINT) AS distortion_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum(distortion) / count(*), 6) + 0.0 AS avg_distortion,
           round(min(distortion), 6) + 0.0 AS min_distortion,
           round(max(distortion), 6) + 0.0 AS max_distortion
    FROM r GROUP BY distortion_bucket
    """,
)
def jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: project 64-dim vectors
    onto 16 seeded Gaussian planes (the same literal planes inlined in
    both engines, projections rounded to 6 = bit-identical inputs) and
    histogram the pairwise-distance ratio ||Pa-Pb|| / (sqrt(16)·||a-b||)
    over a 40-vector sample (780 pairs) — the dimensionality-reduction
    safety check before shipping a cheaper ANN index. The pair join is
    sample-bounded by construction; at 100 TB the sample stays O(1)
    while the projection itself is the map-only scale path."""
    from ..operators.similarity import as_double

    e = _load(spark, sf_dir, "embeddings")
    dots = [
        F.round(
            F.aggregate(
                F.zip_with(
                    as_double(F.col("embedding")),
                    F.array(*[F.lit(float(v)) for v in p]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            6,
        )
        for p in _JL_PLANES
    ]
    pr = (
        e.where(F.col("vec_id") < _JL_SAMPLE)
        .select("vec_id", "embedding", F.array(*dots).alias("proj"))
        .localCheckpoint(eager=False)
    )
    b = pr.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("emb_b"),
        F.col("proj").alias("proj_b"),
    )
    d2o = F.round(
        F.aggregate(
            F.zip_with(
                as_double(F.col("embedding")),
                as_double(F.col("emb_b")),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        6,
    )
    d2p = F.round(
        F.aggregate(
            F.zip_with(
                F.col("proj"), F.col("proj_b"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        6,
    )
    pairs = (
        pr.join(b, F.col("vec_id") < F.col("vb"))
        .select(d2o.alias("d2o"), d2p.alias("d2p"))
        .where(F.col("d2o") > 0)
    )
    r = pairs.select(
        (
            F.round(F.sqrt("d2p") / (4.0 * F.sqrt("d2o")), 6) + F.lit(0.0)
        ).alias("distortion")
    )
    return r.groupBy(
        F.floor(F.col("distortion") / 0.05).cast("long").alias(
            "distortion_bucket"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (
            F.round(F.sum("distortion") / F.count(F.lit(1)), 6) + F.lit(0.0)
        ).alias("avg_distortion"),
        (F.round(F.min("distortion"), 6) + F.lit(0.0)).alias("min_distortion"),
        (F.round(F.max("distortion"), 6) + F.lit(0.0)).alias("max_distortion"),
    )


# ---------------------------------------------------------------------------
# Lakehouse layout audits
# ---------------------------------------------------------------------------


def _morton_sql(x: str, y: str) -> str:
    """22-bit Morton interleave of two 11-bit coords — identical text
    parses in Spark SQL and DuckDB (>>/& on BIGINT)."""
    terms = []
    for k in range(11):
        terms.append(f"((({x} >> {k}) & 1) * {1 << (2 * k)})")
        terms.append(f"((({y} >> {k}) & 1) * {1 << (2 * k + 1)})")
    return "(" + " + ".join(terms) + ")"


from .extended import _hash_bucket_sql


@query(
    "morton_bucket_extent",
    oracle=f"""
    WITH xy AS (
        SELECT {_hash_bucket_sql('event_id', 2000, 'lat')} AS x,
               {_hash_bucket_sql('event_id', 2000, 'lon')} AS y
        FROM events
    ),
    m AS (
        SELECT x, y, ({_morton_sql('x', 'y')} >> 14) AS zbucket FROM xy
    )
    SELECT CAST(zbucket AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_pings,
           CAST(count(DISTINCT x * 2048 + y) AS BIGINT) AS n_cells,
           CAST(max(x) - min(x) AS BIGINT) AS x_span,
           CAST(max(y) - min(y) AS BIGINT) AS y_span
    FROM m GROUP BY zbucket
    ORDER BY n_pings DESC, zbucket ASC
    LIMIT 40
    """,
)
def morton_bucket_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) file-clustering audit over the synthetic ping
    grid: interleave the 11-bit cell coordinates, bucket by the top 8
    Morton bits (= one file in a Z-ordered layout) and report each
    bucket's spatial extent — the guarantee a Z-ordered writer gives a
    spatial range scan is x_span, y_span <= 127 per bucket, which this
    output exhibits and a pytest invariant locks. Bit interleaving is
    exact integer arithmetic (same >>/& text both engines); one
    map-side aggregate, top-40 hottest buckets."""
    from ..operators.sampling import hash_bucket

    e = _load(spark, sf_dir, "events")
    xy = e.select(
        hash_bucket(F.col("event_id"), 2000, "lat").alias("x"),
        hash_bucket(F.col("event_id"), 2000, "lon").alias("y"),
    )
    m = xy.withColumn(
        "zbucket", F.expr(f"{_morton_sql('x', 'y')} >> 14")
    )
    return (
        m.groupBy(F.col("zbucket").cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pings"),
            F.countDistinct(F.col("x") * 2048 + F.col("y"))
            .cast("long")
            .alias("n_cells"),
            (F.max("x") - F.min("x")).cast("long").alias("x_span"),
            (F.max("y") - F.min("y")).cast("long").alias("y_span"),
        )
        .orderBy(F.desc("n_pings"), F.asc("zbucket"))
        .limit(40)
    )


@query(
    "zonemap_prune_audit",
    oracle="""
    WITH ev AS (
        SELECT CAST(day(ts) AS BIGINT) AS d, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM ev),
    day_files AS (
        SELECT 'day_partitioned' AS scheme, d AS file_id,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(max(cents) AS BIGINT) AS max_cents
        FROM ev GROUP BY d
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents ASC, event_id ASC) AS rn
        FROM ev
    ),
    sort_files AS (
        SELECT 'value_sorted' AS scheme,
               CAST(floor((rn - 1) * 30.0 / n.n_rows) AS BIGINT) AS file_id,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(max(cents) AS BIGINT) AS max_cents
        FROM ranked CROSS JOIN n
        GROUP BY scheme, file_id
    ),
    files AS (
        SELECT * FROM day_files UNION ALL SELECT * FROM sort_files
    ),
    th AS (SELECT unnest(range(1, 10)) * 50 AS threshold)
    SELECT CAST(th.threshold AS BIGINT) AS threshold, f.scheme,
           CAST(sum(CASE WHEN f.max_cents >= th.threshold * 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_files_scanned,
           CAST(sum(CASE WHEN f.max_cents >= th.threshold * 100
                         THEN f.cnt ELSE 0 END) AS BIGINT) AS rows_scanned,
           round(CAST(sum(CASE WHEN f.max_cents >= th.threshold * 100
                               THEN f.cnt ELSE 0 END) AS DOUBLE)
                 / min(n.n_rows), 6) + 0.0 AS scan_fraction
    FROM files f CROSS JOIN th CROSS JOIN n
    GROUP BY threshold, f.scheme
    """,
)
def zonemap_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max footer) pruning yield under two file layouts —
    30 day-partitioned files vs 30 value-sort-clustered files — for the
    predicate value >= t, t in 50..450: the day layout scans everything
    at every threshold (daily max ≈ global max: zone maps on an
    uncorrelated column are dead weight) while the sorted layout's scan
    fraction falls linearly — the measured argument for sort-clustering
    the filter column. The sorted file id comes from the distributed
    global_row_number kernel (never a fact-wide single-partition
    window in the engine; the oracle's window form is value-identical);
    thresholds are a 9-row broadcast grid."""
    from ..operators.winners import global_row_number

    e = _load(spark, sf_dir, "events")
    ev = e.select(
        F.dayofmonth("ts").cast("long").alias("d"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    n = ev.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    day_files = ev.groupBy(F.col("d").alias("file_id")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.max("cents").cast("long").alias("max_cents"),
    ).select(F.lit("day_partitioned").alias("scheme"), "file_id", "cnt", "max_cents")
    ranked = global_row_number(ev, ["cents", "event_id"], "rn")
    sort_files = (
        ranked.crossJoin(F.broadcast(n))
        .groupBy(
            F.floor((F.col("rn") - 1) * 30.0 / F.col("n_rows"))
            .cast("long")
            .alias("file_id")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.max("cents").cast("long").alias("max_cents"),
        )
        .select(
            F.lit("value_sorted").alias("scheme"), "file_id", "cnt", "max_cents"
        )
    )
    files = day_files.unionByName(sort_files)
    th = spark.range(1, 10).select(
        (F.col("id") * 50).cast("long").alias("threshold")
    )
    j = files.crossJoin(F.broadcast(th)).crossJoin(F.broadcast(n))
    hit = F.col("max_cents") >= F.col("threshold") * 100
    return j.groupBy("threshold", "scheme").agg(
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_files_scanned"),
        F.sum(F.when(hit, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        (
            F.round(
                F.sum(F.when(hit, F.col("cnt")).otherwise(0)).cast("double")
                / F.min("n_rows"),
                6,
            )
            + F.lit(0.0)
        ).alias("scan_fraction"),
    )
