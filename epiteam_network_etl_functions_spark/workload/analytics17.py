"""Round-13 analytics — the final tranche.

VERDICT r11 set the minting budget at exactly 36 names so that every
registered query is driver-certified. Families here were vetted against all 454 existing
names (PLANS.md idea bank discipline; the bank's
colocation_neighbor_jaccard_topk was dropped on re-check — it
duplicates the certified neighbor_jaccard_links — and the text-regex
censuses were dropped because the synthetic corpus is punctuation-free,
which would make them degenerate at every SF):

- distribution/hypothesis tests new to the registry: normal QQ
  deviation, Mood's median test, Brown-Forsythe variance test,
  Wald-Wolfowitz runs test, Mann-Kendall trend, Theil-Sen slope,
  Ljung-Box autocorrelation, two-way ANOVA, BH false-discovery control,
  Goodman-Kruskal gamma on binned grids;
- time-series structure: rescaled-range Hurst exponent, circular
  diurnal-profile autocorrelation, seasonal-naive MASE, running-records
  census, permutation entropy, pinball-loss quantile evaluation,
  expected-shortfall (CVaR) tails;
- graph/mobility: rich-club coefficient, per-user-day motif census,
  out-of-order arrival depth (the watermark-sizing audit);
- vectors: two-NN intrinsic dimension, simplified silhouette,
  Davies-Bouldin index, cosine triangle-inequality audit, macro-F1 +
  multiclass MCC over the nearest-centroid confusion;
- pipeline/ops: DataFrame-native Bloom filter with exact cross-engine
  parity, LSH band S-curve planner, join-cardinality estimator audit,
  SCD2 interval integrity, payload magic-byte census, edit-distance
  name blocking, stylometric Burrows' Delta, decision-stump Gini gain,
  type-hour mutual information, Simpson's-paradox sign-flip audit, and
  the TPC-H Q19 disjunctive-bracket pushdown shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..session import prep
from . import query


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    prep(spark)
    return catalog.load(spark, sf_dir, table)


# ---------------------------------------------------------------------------
# shared series builders (events hourly / orders monthly), exact integer cents
# ---------------------------------------------------------------------------

_HOURLY_CTE = """
hourly AS (
    SELECT date_trunc('hour', ts) AS hr,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
    FROM events GROUP BY hr
),
series AS (
    SELECT c, CAST(row_number() OVER (ORDER BY hr ASC) AS BIGINT) - 1 AS t
    FROM hourly
)
"""

_MONTHLY_CTE = """
monthly AS (
    SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mk,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
    FROM orders GROUP BY mk
)
"""


def _hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t, c): hour-index-ordered exact-cents hourly totals over the
    OBSERVED hours (no zero-fill — both engines see the same series).
    One fact pass; the series is O(hours), driver-safe at any SF."""
    e = _load(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("c")
    )
    w = Window.orderBy(F.asc("hr"))
    # O(hours) bounded and multi-consumed by every caller (moments +
    # lag joins / chunk windows): checkpoint so the events fact pass
    # runs once per query instead of once per consumer
    return hourly.select(
        "c", (F.row_number().over(w).cast("long") - 1).alias("t")
    ).localCheckpoint(eager=False)


def _monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(mk, rev): month-keyed exact-cents order revenue (~80 rows)."""
    o = _load(spark, sf_dir, "orders")
    return o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mk")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    ).localCheckpoint(eager=False)
    # (~80 rows, checkpointed: theil-sen/mann-kendall consume it as
    # both self-join sides plus a count — one orders pass, not three)


# ---------------------------------------------------------------------------
# 1. normal QQ deviation (acctbal vs the fitted normal)
# ---------------------------------------------------------------------------

# standard-normal decile quantiles, hardcoded so both engines score the
# sample against bit-identical reference points (no erf needed)
_Z_DECILES = {
    1: -1.281552,
    2: -0.841621,
    3: -0.524401,
    4: -0.253347,
    5: 0.0,
    6: 0.253347,
    7: 0.524401,
    8: 0.841621,
    9: 1.281552,
}

# mean/sd assemble from exact integer cents moments (n, Σv, Σv² with
# the n·Σv² − (Σv)² product in HUGEINT / DECIMAL(38,0)) in ONE double
# expression mirrored on both engines — never the engines' own
# avg/stddev_samp, whose accumulation order (Welford vs two-pass) is
# not specified to agree (DETERMINISM.md products-of-sums rule)
_QQ_ORACLE = (
    """
    WITH vm AS (
        SELECT c_acctbal, CAST(round(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
    ),
    m AS (
        SELECT CAST(sum(v) AS DOUBLE) / count(*) / 100.0 AS mu,
               sqrt(CAST(count(*) * sum(CAST(v AS HUGEINT) * v)
                         - CAST(sum(v) AS HUGEINT) * sum(v) AS DOUBLE)
                    / (count(*) * (count(*) - 1.0))) / 100.0 AS sd,
    """
    + ",\n".join(
        f"           quantile_cont(c_acctbal, {d / 10.0}) AS q{d}"
        for d in _Z_DECILES
    )
    + """
        FROM vm
    )
    """
    + "\nUNION ALL\n".join(
        f"""
    SELECT CAST({d} AS BIGINT) AS decile,
           round((q{d} - mu) / sd, 6) AS sample_z,
           CAST({z} AS DOUBLE) AS normal_z,
           round(abs((q{d} - mu) / sd - ({z})), 6) AS qq_deviation
    FROM m"""
        for d, z in _Z_DECILES.items()
    )
)


@query("normal_qq_deviation", oracle=_QQ_ORACLE)
def normal_qq_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QQ-plot deviation of customer account balances against the
    fitted normal: standardize each sample decile by the sample
    mean/std and compare to the hardcoded standard-normal decile
    quantiles — the distribution-fit family's missing normality member
    (exponential-KS and lognormal-params exist; nothing tests
    normality). One scan, one 9-row aggregate; the z references are
    literals so no engine needs an inverse CDF. Mean/sd assemble from
    exact integer cents moments with the products-of-sums in
    DECIMAL(38,0)/HUGEINT (DETERMINISM.md) — never engine-native
    stddev_samp, whose accumulation order is engine-specific."""
    c = _load(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    base = c.select(
        "c_acctbal",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("v"),
    )
    n = F.count(F.lit(1))
    s1 = F.sum(F.col("v").cast(dec))
    s2 = F.sum((F.col("v").cast(dec) * F.col("v")).cast(dec))
    mu = s1.cast("double") / n / 100.0
    sd = (
        F.sqrt(
            (n.cast(dec) * s2 - s1.cast(dec) * s1).cast("double")
            / (n * (n - F.lit(1.0)))
        )
        / 100.0
    )
    aggs = []
    for d, z in _Z_DECILES.items():
        q = F.expr(f"percentile(c_acctbal, {d / 10.0})")
        sz = (q - mu) / sd
        aggs.append(
            F.struct(
                F.lit(d).cast("long").alias("decile"),
                F.round(sz, 6).alias("sample_z"),
                F.lit(z).alias("normal_z"),
                F.round(F.abs(sz - F.lit(z)), 6).alias("qq_deviation"),
            ).alias(f"_d{d}")
        )
    row = base.agg(*aggs)
    return row.select(
        F.explode(F.array(*[f"_d{d}" for d in _Z_DECILES])).alias("s")
    ).select("s.decile", "s.sample_z", "s.normal_z", "s.qq_deviation")


# ---------------------------------------------------------------------------
# 2. Mood's median test: customer vs supplier acctbal
# ---------------------------------------------------------------------------


@query(
    "median_test_customer_supplier",
    oracle="""
    WITH pooled AS (
        SELECT c_acctbal AS v, 'customer' AS dim FROM customer
        UNION ALL
        SELECT s_acctbal, 'supplier' FROM supplier
    ),
    med AS (SELECT quantile_cont(v, 0.5) AS m FROM pooled),
    cells AS (
        SELECT dim,
               CAST(sum(CASE WHEN v > m THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_above,
               CAST(sum(CASE WHEN v <= m THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_below
        FROM pooled CROSS JOIN med GROUP BY dim
    ),
    wide AS (
        SELECT
            max(CASE WHEN dim = 'customer' THEN n_above END) AS ca,
            max(CASE WHEN dim = 'customer' THEN n_below END) AS cb,
            max(CASE WHEN dim = 'supplier' THEN n_above END) AS sa,
            max(CASE WHEN dim = 'supplier' THEN n_below END) AS sb
        FROM cells
    )
    SELECT ca AS customer_above, cb AS customer_below,
           sa AS supplier_above, sb AS supplier_below,
           round((ca + cb + sa + sb)
                 * power(CAST(ca AS DOUBLE) * sb - CAST(cb AS DOUBLE) * sa, 2)
                 / (CAST(ca + cb AS DOUBLE) * (sa + sb) * (ca + sa)
                    * (cb + sb)), 6)
               AS chi2
    FROM wide
    """,
)
def median_test_customer_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mood's median test across the two account-balance dimensions:
    pool customer and supplier balances, split at the pooled median,
    and chi-square the 2x2 above/below table — a nonparametric
    central-tendency test the Welch/KS/Mann-Whitney family lacks. The
    pooled median is one interpolated quantile; the cells are exact
    integers so the statistic is a deterministic ratio."""
    c = _load(spark, sf_dir, "customer").select(
        F.col("c_acctbal").alias("v"), F.lit("customer").alias("dim")
    )
    s = _load(spark, sf_dir, "supplier").select(
        F.col("s_acctbal").alias("v"), F.lit("supplier").alias("dim")
    )
    pooled = c.unionByName(s)
    med = pooled.agg(F.expr("percentile(v, 0.5)").alias("m"))
    cells = (
        pooled.crossJoin(F.broadcast(med))
        .groupBy("dim")
        .agg(
            F.sum(F.when(F.col("v") > F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("n_above"),
            F.sum(F.when(F.col("v") <= F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("n_below"),
        )
    )
    wide = cells.agg(
        F.max(F.when(F.col("dim") == "customer", F.col("n_above"))).alias("ca"),
        F.max(F.when(F.col("dim") == "customer", F.col("n_below"))).alias("cb"),
        F.max(F.when(F.col("dim") == "supplier", F.col("n_above"))).alias("sa"),
        F.max(F.when(F.col("dim") == "supplier", F.col("n_below"))).alias("sb"),
    )
    ca, cb, sa, sb = (F.col(x) for x in ("ca", "cb", "sa", "sb"))
    # the 4-way product of marginals overflows int64 at TPC-H sf1 sizes
    # (150k * 10k cells -> ~1e19): lead with a double so the chain
    # multiplies as float on BOTH engines (DETERMINISM.md products-of-
    # sums rule); at the certified SFs the product is < 2^53 so the
    # double is still exact and the hash is unchanged
    chi2 = (
        (ca + cb + sa + sb)
        * F.pow(ca.cast("double") * sb - cb.cast("double") * sa, 2)
        / ((ca + cb).cast("double") * (sa + sb) * (ca + sa) * (cb + sb))
    )
    return wide.select(
        ca.alias("customer_above"),
        cb.alias("customer_below"),
        sa.alias("supplier_above"),
        sb.alias("supplier_below"),
        F.round(chi2, 6).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# 3-4. Theil-Sen slope + Mann-Kendall trend on monthly revenue
# ---------------------------------------------------------------------------


@query(
    "monthly_revenue_theil_sen",
    oracle=f"""
    WITH {_MONTHLY_CTE.strip()},
    pairs AS (
        SELECT (CAST(b.rev AS DOUBLE) - a.rev) / (b.mk - a.mk) / 100.0
                   AS slope
        FROM monthly a JOIN monthly b ON a.mk < b.mk
    )
    SELECT CAST((SELECT count(*) FROM monthly) AS BIGINT) AS n_months,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope
    FROM pairs
    """,
)
def monthly_revenue_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator of the monthly-revenue trend: the median of
    all pairwise slopes — the robust (29%-breakdown) alternative to the
    OLS slope the trend family uses. The pairwise join is over the
    ~80-row monthly summary (O(months**2) pairs, never fact rows), so
    the all-pairs form is dimension-sized by construction."""
    m = _monthly_revenue(spark, sf_dir)
    a = m.select(F.col("mk").alias("amk"), F.col("rev").alias("arev"))
    b = m.select(F.col("mk").alias("bmk"), F.col("rev").alias("brev"))
    pairs = a.join(b, F.col("amk") < F.col("bmk")).select(
        (
            (F.col("brev").cast("double") - F.col("arev"))
            / (F.col("bmk") - F.col("amk"))
            / 100.0
        ).alias("slope")
    )
    n_months = m.agg(F.count(F.lit(1)).cast("long").alias("n")).select("n")
    return pairs.crossJoin(F.broadcast(n_months)).agg(
        F.max("n").alias("n_months"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias("theil_sen_slope"),
    )


@query(
    "monthly_revenue_mann_kendall",
    oracle=f"""
    WITH {_MONTHLY_CTE.strip()},
    s AS (
        SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
                             WHEN b.rev < a.rev THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
        FROM monthly a JOIN monthly b ON a.mk < b.mk
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM monthly)
    SELECT n.n_months, s.s_stat,
           round(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1.0)
                      WHEN s.s_stat < 0 THEN (s.s_stat + 1.0)
                      ELSE 0.0 END
                 / sqrt(n.n_months * (n.n_months - 1.0)
                        * (2.0 * n.n_months + 5.0) / 18.0), 6) AS z_stat
    FROM s CROSS JOIN n
    """,
)
def monthly_revenue_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Kendall trend test on monthly revenue: S = the sum of
    pairwise signs, continuity-corrected z against the null variance
    n(n-1)(2n+5)/18 — the nonparametric companion to the Theil-Sen
    slope (autocorrelation queries measure persistence, nothing tests
    monotone trend). Exact integer S over the ~80-row summary."""
    m = _monthly_revenue(spark, sf_dir)
    a = m.select(F.col("mk").alias("amk"), F.col("rev").alias("arev"))
    b = m.select(F.col("mk").alias("bmk"), F.col("rev").alias("brev"))
    s = a.join(b, F.col("amk") < F.col("bmk")).agg(
        F.sum(
            F.when(F.col("brev") > F.col("arev"), 1)
            .when(F.col("brev") < F.col("arev"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat")
    )
    n = m.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    joined = s.crossJoin(F.broadcast(n))
    ss = F.col("s_stat")
    nm = F.col("n_months")
    var = nm * (nm - F.lit(1.0)) * (F.lit(2.0) * nm + 5.0) / 18.0
    z = (
        F.when(ss > 0, ss - F.lit(1.0))
        .when(ss < 0, ss + F.lit(1.0))
        .otherwise(F.lit(0.0))
        / F.sqrt(var)
    )
    return joined.select("n_months", "s_stat", F.round(z, 6).alias("z_stat"))


# ---------------------------------------------------------------------------
# 5. permutation entropy of the value stream per event type
# ---------------------------------------------------------------------------


@query(
    "value_permutation_entropy",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               lag(value, 2) OVER w AS v1,
               lag(value, 1) OVER w AS v2,
               value AS v3
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC)
    ),
    pat AS (
        SELECT event_type,
               CAST(CASE WHEN v1 < v2 THEN 4 ELSE 0 END
                    + CASE WHEN v2 < v3 THEN 2 ELSE 0 END
                    + CASE WHEN v1 < v3 THEN 1 ELSE 0 END AS BIGINT)
                   AS pattern
        FROM seq WHERE v1 IS NOT NULL AND v2 IS NOT NULL
    ),
    cnt AS (
        SELECT event_type, pattern, CAST(count(*) AS BIGINT) AS n
        FROM pat GROUP BY event_type, pattern
    ),
    tot AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS n_t
        FROM cnt GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(max(t.n_t) AS BIGINT) AS n_triples,
           round(-sum((CAST(c.n AS DOUBLE) / t.n_t)
                      * ln(CAST(c.n AS DOUBLE) / t.n_t)), 6) AS perm_entropy
    FROM cnt c JOIN tot t USING (event_type)
    GROUP BY c.event_type
    """,
)
def value_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 permutation entropy of each event type's value stream:
    encode every consecutive triple by its comparison pattern
    ((v1<v2, v2<v3, v1<v3) bits) and take the Shannon entropy of the
    pattern distribution — the standard ordinal-dynamics complexity
    measure (white noise -> ln 6, monotone drift -> 0). Everything is
    a partitioned lag window plus one grouped entropy; no global
    ordering, no Python."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = e.select(
        "event_type",
        F.lag("value", 2).over(w).alias("v1"),
        F.lag("value", 1).over(w).alias("v2"),
        F.col("value").alias("v3"),
    ).where(F.col("v1").isNotNull() & F.col("v2").isNotNull())
    pat = seq.select(
        "event_type",
        (
            F.when(F.col("v1") < F.col("v2"), 4).otherwise(0)
            + F.when(F.col("v2") < F.col("v3"), 2).otherwise(0)
            + F.when(F.col("v1") < F.col("v3"), 1).otherwise(0)
        )
        .cast("long")
        .alias("pattern"),
    )
    cnt = pat.groupBy("event_type", "pattern").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wt = Window.partitionBy("event_type")
    p = F.col("n").cast("double") / F.sum("n").over(wt)
    probs = cnt.select("event_type", "n", (p * F.log(p)).alias("plogp"))
    return probs.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_triples"),
        F.round(-F.sum("plogp"), 6).alias("perm_entropy"),
    )


# ---------------------------------------------------------------------------
# 6. circular autocorrelation of the diurnal profile
# ---------------------------------------------------------------------------


@query(
    "diurnal_profile_autocorr",
    oracle="""
    WITH grid AS (SELECT unnest(range(24)) AS h),
    cnt AS (
        SELECT CAST(hour(ts) AS BIGINT) AS h, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY h
    ),
    prof AS (
        SELECT g.h, COALESCE(cnt.c, 0) AS c
        FROM grid g LEFT JOIN cnt ON cnt.h = g.h
    ),
    lags AS (SELECT unnest([1, 2, 3, 6, 12]) AS lag_h),
    dot AS (
        SELECT l.lag_h,
               CAST(sum(a.c * b.c) AS BIGINT) AS sxy
        FROM lags l
        JOIN prof a ON TRUE
        JOIN prof b ON b.h = (a.h + l.lag_h) % 24
        GROUP BY l.lag_h
    ),
    tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
        FROM prof
    )
    SELECT d.lag_h,
           round((24.0 * d.sxy - CAST(t.s1 AS DOUBLE) * t.s1)
                 / (24.0 * t.s2 - CAST(t.s1 AS DOUBLE) * t.s1), 6)
               AS circ_autocorr
    FROM dot d CROSS JOIN tot t
    """,
)
def diurnal_profile_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular autocorrelation of the 24-bin diurnal event profile at
    lags 1/2/3/6/12 hours: r_l = (24*sum(c_h*c_{h+l mod 24}) - T**2) /
    (24*sum(c**2) - T**2) — the wrap-around Pearson correlation of the
    profile with its own rotation (lag-12 near -1 means a clean
    day/night split; the existing amplitude query measures range, not
    periodicity). All exact integer dot products over a 24-row profile;
    the fact pass is one groupBy(hour)."""
    e = _load(spark, sf_dir, "events")
    spark_ = e.sparkSession
    cnt = e.groupBy(F.hour("ts").cast("long").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grid = spark_.range(24).select(F.col("id").alias("h"))
    # 24-row profile with three consumers (both rotation sides + the
    # moment totals): checkpoint so the hour-groupBy fact pass runs once
    prof = (
        grid.join(cnt, "h", "left")
        .select("h", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    lags = spark_.createDataFrame([(1,), (2,), (3,), (6,), (12,)], "lag_h long")
    a = prof.select(F.col("h").alias("ah"), F.col("c").alias("ac"))
    b = prof.select(F.col("h").alias("bh"), F.col("c").alias("bc"))
    dot = (
        lags.crossJoin(a)
        .join(b, F.col("bh") == (F.col("ah") + F.col("lag_h")) % 24)
        .groupBy("lag_h")
        .agg(F.sum(F.col("ac") * F.col("bc")).cast("long").alias("sxy"))
    )
    tot = prof.agg(
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    s1 = F.col("s1").cast("double")
    r = (F.lit(24.0) * F.col("sxy") - s1 * F.col("s1")) / (
        F.lit(24.0) * F.col("s2") - s1 * F.col("s1")
    )
    return (
        dot.crossJoin(F.broadcast(tot))
        .select("lag_h", F.round(r, 6).alias("circ_autocorr"))
    )


# ---------------------------------------------------------------------------
# 7. Brown-Forsythe (Levene) variance homogeneity test
# ---------------------------------------------------------------------------


@query(
    "value_levene_variance_test",
    oracle="""
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 6) + 0.0 AS m
        FROM events GROUP BY event_type
    ),
    z AS (
        SELECT e.event_type, abs(e.value - med.m) AS zv
        FROM events e JOIN med USING (event_type)
    ),
    grp AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_i,
               avg(zv) AS zbar_i,
               sum(zv * zv) AS zsq_i, sum(zv) AS zsum_i
        FROM z GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(sum(n_i) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               sum(zsum_i) / sum(n_i) AS zbar
        FROM grp
    )
    SELECT t.k AS n_groups, t.n AS n_events,
           round(((t.n - t.k) / (t.k - 1.0))
                 * sum(g.n_i * (g.zbar_i - t.zbar) * (g.zbar_i - t.zbar))
                 / sum(g.zsq_i - g.n_i * g.zbar_i * g.zbar_i), 6)
               AS levene_w
    FROM grp g CROSS JOIN tot t
    GROUP BY t.k, t.n
    """,
)
def value_levene_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene with group medians) for variance
    homogeneity of value across event types — the missing variance
    counterpart to the one-way-ANOVA-on-means family. Group medians
    are rounded to 6 and pinned (+0.0) so both engines compute absolute
    deviations against bit-identical centers; the W statistic is then
    pure grouped-moment algebra."""
    e = _load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        (F.round(F.expr("percentile(value, 0.5)"), 6) + F.lit(0.0)).alias("m")
    )
    z = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("m")).alias("zv")
    )
    # k-row moment table with two consumers (totals + the W algebra):
    # checkpoint so the median + deviation fact passes run once
    grp = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.avg("zv").alias("zbar_i"),
        F.sum(F.col("zv") * F.col("zv")).alias("zsq_i"),
        F.sum("zv").alias("zsum_i"),
    ).localCheckpoint(eager=False)
    tot = grp.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        (F.sum("zsum_i") / F.sum("n_i")).alias("zbar"),
    )
    j = grp.crossJoin(F.broadcast(tot))
    between = F.sum(
        F.col("n_i") * (F.col("zbar_i") - F.col("zbar")) * (F.col("zbar_i") - F.col("zbar"))
    )
    within = F.sum(
        F.col("zsq_i") - F.col("n_i") * F.col("zbar_i") * F.col("zbar_i")
    )
    return (
        j.groupBy(F.col("k").alias("n_groups"), F.col("n").alias("n_events"))
        .agg(
            F.round(
                ((F.col("n_events") - F.col("n_groups")) / (F.col("n_groups") - F.lit(1.0)))
                * between
                / within,
                6,
            ).alias("levene_w")
        )
    )


# ---------------------------------------------------------------------------
# 8. Wald-Wolfowitz runs test per event type
# ---------------------------------------------------------------------------


@query(
    "value_runs_test",
    oracle="""
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 6) + 0.0 AS m
        FROM events GROUP BY event_type
    ),
    seq AS (
        SELECT e.event_type,
               CASE WHEN e.value > med.m THEN 1 ELSE 0 END AS above,
               row_number() OVER (
                   PARTITION BY e.event_type
                   ORDER BY e.ts ASC, e.event_id ASC) AS rn
        FROM events e JOIN med USING (event_type)
    ),
    runs AS (
        SELECT event_type,
               CAST(sum(above) AS BIGINT) AS n1,
               CAST(sum(1 - above) AS BIGINT) AS n2,
               CAST(1 + sum(CASE WHEN above <> prev THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_runs
        FROM (
            SELECT event_type, above,
                   lag(above) OVER (
                       PARTITION BY event_type ORDER BY rn ASC) AS prev
            FROM seq
        ) GROUP BY event_type
    )
    SELECT event_type, n1, n2, n_runs,
           round((n_runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                           * (n1 + n2 - 1.0))), 6)
               AS z_stat
    FROM runs
    """,
)
def value_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of each event type's
    value stream: dichotomize at the (rounded, pinned) per-type median,
    count sign runs in (ts, event_id) order, and z-score against the
    random-sequence null — serial dependence that autocorrelation-lag-1
    sees only linearly shows up here distribution-free. Partitioned
    windows only; the first row's NULL lag counts as no boundary (the
    +1 seeds the first run)."""
    e = _load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        (F.round(F.expr("percentile(value, 0.5)"), 6) + F.lit(0.0)).alias("m")
    )
    w = Window.partitionBy("event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = (
        e.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.when(F.col("value") > F.col("m"), 1).otherwise(0).alias("above"),
            F.row_number().over(w).alias("rn"),
        )
    )
    w2 = Window.partitionBy("event_type").orderBy(F.asc("rn"))
    runs = (
        seq.withColumn("prev", F.lag("above").over(w2))
        .groupBy("event_type")
        .agg(
            F.sum("above").cast("long").alias("n1"),
            F.sum(1 - F.col("above")).cast("long").alias("n2"),
            (
                1
                + F.sum(
                    F.when(F.col("above") != F.col("prev"), 1).otherwise(0)
                )
            )
            .cast("long")
            .alias("n_runs"),
        )
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("n_runs")
    mu = F.lit(2.0) * n1 * n2 / (n1 + n2) + 1
    # (n1+n2)^2 is int64*int64 and wraps silently past ~3e9 rows per
    # type: lead the denominator chain with a double (exact < 2^53, so
    # the certified-SF hash is unchanged)
    sig = F.sqrt(
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - F.lit(1.0)))
    )
    return runs.select(
        "event_type", "n1", "n2", "n_runs",
        F.round((r - mu) / sig, 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# 9. rescaled-range Hurst exponent of the hourly cents series
# ---------------------------------------------------------------------------

_RS_SCALES = (32, 128)


def _rs_oracle_scale(m: int) -> str:
    return f"""
    rs_{m} AS (
        SELECT avg(r / s) AS mean_rs
        FROM (
            SELECT chunk,
                   max(cum) - min(cum) AS r,
                   sqrt(avg(CAST(c AS DOUBLE) * c) - avg(c) * avg(c)) AS s
            FROM (
                SELECT t // {m} AS chunk, c,
                       sum(c) OVER (PARTITION BY t // {m}
                                    ORDER BY t ASC) * 1.0
                       - (row_number() OVER (PARTITION BY t // {m}
                                             ORDER BY t ASC))
                         * (avg(c) OVER (PARTITION BY t // {m})) AS cum
                FROM series
                WHERE t // {m} < (SELECT count(*) FROM series) // {m}
            ) GROUP BY chunk
        ) WHERE s > 0
    )"""


@query(
    "value_hurst_rescaled_range",
    oracle=f"""
    WITH {_HOURLY_CTE.strip()},
    {_rs_oracle_scale(32).strip()},
    {_rs_oracle_scale(128).strip()}
    SELECT CAST((SELECT count(*) FROM series) AS BIGINT) AS n_hours,
           round(a.mean_rs, 6) AS rs_32,
           round(b.mean_rs, 6) AS rs_128,
           round((ln(b.mean_rs) - ln(a.mean_rs)) / (ln(128) - ln(32)), 6)
               AS hurst
    FROM rs_32 a CROSS JOIN rs_128 b
    """,
)
def value_hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis of the hourly-cents
    series: split the series into complete chunks at scales 32 and 128
    hours, compute R/S (range of cumulative mean deviations over the
    population std) per chunk, and read H off the two-point log-log
    slope — long-range dependence, which no existing autocorrelation
    or dispersion query measures (H=0.5 memoryless, H>0.5 persistent).
    The series is O(hours); everything after the one fact pass is
    chunk-partitioned windows."""
    series = _hourly_series(spark, sf_dir)
    n_total = series.agg(F.count(F.lit(1)).alias("n"))

    def rs_at(m: int) -> DataFrame:
        s = series.crossJoin(F.broadcast(n_total)).where(
            (F.col("t") / m).cast("long")
            < (F.col("n") / m).cast("long")
        )
        chunked = s.select(
            (F.col("t") / m).cast("long").alias("chunk"), "c", "t"
        )
        wcum = (
            Window.partitionBy("chunk")
            .orderBy(F.asc("t"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wchunk = Window.partitionBy("chunk")
        wrn = Window.partitionBy("chunk").orderBy(F.asc("t"))
        cum = chunked.select(
            "chunk",
            "c",
            (
                F.sum("c").over(wcum) * F.lit(1.0)
                - F.row_number().over(wrn) * F.avg("c").over(wchunk)
            ).alias("cum"),
        )
        per_chunk = cum.groupBy("chunk").agg(
            (F.max("cum") - F.min("cum")).alias("r"),
            F.sqrt(
                F.avg(F.col("c").cast("double") * F.col("c"))
                - F.avg("c") * F.avg("c")
            ).alias("s"),
        )
        return per_chunk.where(F.col("s") > 0).agg(
            F.avg(F.col("r") / F.col("s")).alias(f"mean_rs_{m}")
        )

    a, b = rs_at(32), rs_at(128)
    joined = a.crossJoin(b).crossJoin(
        F.broadcast(n_total.select(F.col("n").cast("long").alias("n_hours")))
    )
    h = (F.log(F.col("mean_rs_128")) - F.log(F.col("mean_rs_32"))) / (
        F.log(F.lit(128.0)) - F.log(F.lit(32.0))
    )
    return joined.select(
        "n_hours",
        F.round("mean_rs_32", 6).alias("rs_32"),
        F.round("mean_rs_128", 6).alias("rs_128"),
        F.round(h, 6).alias("hurst"),
    )


# ---------------------------------------------------------------------------
# 10. running-records census (extreme-value arrivals)
# ---------------------------------------------------------------------------


@query(
    "value_running_records",
    oracle="""
    WITH rec AS (
        SELECT user_id,
               CASE WHEN value > max(value) OVER (
                        PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    OR row_number() OVER (
                        PARTITION BY user_id ORDER BY ts ASC, event_id ASC) = 1
                    THEN 1 ELSE 0 END AS is_record
        FROM events
    ),
    per_user AS (
        SELECT user_id, CAST(sum(is_record) AS BIGINT) AS n_records
        FROM rec GROUP BY user_id
    )
    SELECT n_records, CAST(count(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY n_records
    """,
)
def value_running_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking census: per user, count events whose value
    strictly exceeds every earlier value in their stream (the first
    event is a record), then histogram users by record count — for an
    i.i.d. stream the expected count is the harmonic number H(n), so
    heavy tails show up as excess records. Extreme-value arrival
    statistics are new to the registry; the window is per-user
    (partitioned, scale-safe), never global."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    rec = e.select(
        "user_id",
        F.when(
            (F.col("value") > F.max("value").over(wprev))
            | (F.row_number().over(w) == 1),
            1,
        )
        .otherwise(0)
        .alias("is_record"),
    )
    per_user = rec.groupBy("user_id").agg(
        F.sum("is_record").cast("long").alias("n_records")
    )
    return per_user.groupBy("n_records").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


# ---------------------------------------------------------------------------
# 11. Ljung-Box portmanteau test on the hourly series
# ---------------------------------------------------------------------------


@query(
    "value_ljung_box",
    oracle=f"""
    WITH {_HOURLY_CTE.strip()},
    mu AS (
        SELECT avg(c * 1.0) AS mu, CAST(count(*) AS BIGINT) AS n
        FROM series
    ),
    stats AS (
        SELECT m.mu, m.n, sum((s.c - m.mu) * (s.c - m.mu)) AS denom
        FROM series s CROSS JOIN mu m GROUP BY m.mu, m.n
    ),
    lagged AS (
        SELECT l.k,
               sum((s.c - st.mu) * (p.c - st.mu)) AS num
        FROM (SELECT unnest(range(1, 7)) AS k) l
        JOIN series s ON TRUE
        JOIN series p ON p.t = s.t - l.k
        CROSS JOIN stats st
        GROUP BY l.k
    ),
    acf AS (
        SELECT l.k AS lag_k,
               round(l.num / st.denom, 6) + 0.0 AS r_k,
               st.n
        FROM lagged l CROSS JOIN stats st
    )
    SELECT lag_k, r_k,
           round(n * (n + 2.0)
                 * sum(r_k * r_k / (n - lag_k))
                   OVER (ORDER BY lag_k ASC), 6) AS q_stat
    FROM acf
    """,
)
def value_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the hourly-cents series: ACF at
    lags 1-6 (pinned at 6 decimals so both engines square identical
    r_k) and the cumulative Q = n(n+2) * sum(r_k^2 / (n-k)) — the joint
    whiteness test the single-lag autocorrelation queries can't give.
    The series is O(hours); lag alignment is an equi-join on the hour
    index, one row per lag out."""
    series = _hourly_series(spark, sf_dir)
    stats = series.agg(
        F.avg(F.col("c") * 1.0).alias("mu"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dev = series.crossJoin(F.broadcast(stats)).select(
        "t", "c", "mu", "n", (F.col("c") - F.col("mu")).alias("d")
    )
    denom = dev.agg(F.sum(F.col("d") * F.col("d")).alias("denom"))
    lags = series.sparkSession.createDataFrame(
        [(k,) for k in range(1, 7)], "k long"
    )
    s = dev.select(F.col("t").alias("st"), F.col("d").alias("sd"))
    p = dev.select(F.col("t").alias("pt"), F.col("d").alias("pd"))
    num = (
        lags.crossJoin(s)
        .join(p, F.col("pt") == F.col("st") - F.col("k"))
        .groupBy("k")
        .agg(F.sum(F.col("sd") * F.col("pd")).alias("num"))
    )
    acf = (
        num.crossJoin(F.broadcast(denom))
        .crossJoin(F.broadcast(stats.select("n")))
        .select(
            F.col("k").alias("lag_k"),
            (F.round(F.col("num") / F.col("denom"), 6) + F.lit(0.0)).alias(
                "r_k"
            ),
            "n",
        )
    )
    wq = Window.orderBy(F.asc("lag_k"))
    q = (
        F.col("n")
        * (F.col("n") + F.lit(2.0))
        * F.sum(
            F.col("r_k") * F.col("r_k") / (F.col("n") - F.col("lag_k"))
        ).over(wq)
    )
    return acf.select("lag_k", "r_k", F.round(q, 6).alias("q_stat"))


# ---------------------------------------------------------------------------
# 12. seasonal-naive MASE on monthly revenue
# ---------------------------------------------------------------------------


@query(
    "seasonal_naive_mase",
    oracle=f"""
    WITH {_MONTHLY_CTE.strip()},
    idx AS (
        SELECT rev,
               lag(rev, 1) OVER (ORDER BY mk ASC) AS prev1,
               lag(rev, 12) OVER (ORDER BY mk ASC) AS prev12
        FROM monthly
    ),
    eval AS (SELECT * FROM idx WHERE prev12 IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_months_eval,
           round(avg(abs(rev - prev1)) / 100.0, 6) AS mae_naive1,
           round(avg(abs(rev - prev12)) / 100.0, 6) AS mae_seasonal12,
           round(avg(abs(rev - prev1) * 1.0) / avg(abs(rev - prev12) * 1.0), 6)
               AS mase
    FROM eval
    """,
)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute scaled error) of the naive last-month
    forecast against the seasonal-naive (lag-12) scale on monthly
    revenue — the standard scale-free forecast-accuracy measure
    (below 1: last-month beats same-month-last-year). The seasonal
    index family describes seasonality; nothing evaluates a forecast.
    Both errors are exact cents differences over the ~80-row summary,
    evaluated on the common lag-12-complete window."""
    m = _monthly_revenue(spark, sf_dir)
    w = Window.orderBy(F.asc("mk"))
    idx = m.select(
        "rev",
        F.lag("rev", 1).over(w).alias("prev1"),
        F.lag("rev", 12).over(w).alias("prev12"),
    ).where(F.col("prev12").isNotNull())
    e1 = F.abs(F.col("rev") - F.col("prev1"))
    e12 = F.abs(F.col("rev") - F.col("prev12"))
    return idx.agg(
        F.count(F.lit(1)).cast("long").alias("n_months_eval"),
        F.round(F.avg(e1) / 100.0, 6).alias("mae_naive1"),
        F.round(F.avg(e12) / 100.0, 6).alias("mae_seasonal12"),
        F.round(F.avg(e1 * 1.0) / F.avg(e12 * 1.0), 6).alias("mase"),
    )


# ---------------------------------------------------------------------------
# 13. rich-club coefficient of the co-location graph
# ---------------------------------------------------------------------------


def _rich_club_oracle() -> str:
    from .mobility import _EDGES_CTE

    return f"""
    WITH {_EDGES_CTE.strip()},
    adj AS (
        SELECT a_user_id AS u FROM edges
        UNION ALL
        SELECT b_user_id FROM edges
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY u),
    rich AS (
        SELECT u FROM deg
        ORDER BY degree DESC, u ASC LIMIT {_RICH_K}
    ),
    rich_edges AS (
        SELECT count(*) AS e_rich
        FROM edges e
        WHERE EXISTS (SELECT 1 FROM rich r WHERE r.u = e.a_user_id)
          AND EXISTS (SELECT 1 FROM rich r WHERE r.u = e.b_user_id)
    )
    SELECT CAST({_RICH_K} AS BIGINT) AS k_rich,
           CAST(e_rich AS BIGINT) AS n_rich_edges,
           round(2.0 * e_rich / ({_RICH_K} * ({_RICH_K} - 1.0)), 6)
               AS rich_club_phi
    FROM rich_edges
    """


_RICH_K = 20


@query("colocation_rich_club", oracle=_rich_club_oracle())
def colocation_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the co-location graph: the edge density
    among the top-{k}-degree nodes (tie-broken by node id so the club is
    total-ordered) — do the hubs preferentially meet each other? The
    degree-structure family (gini, assortativity, k-core) has no
    club-density member. Degrees come from the shared materialized edge
    list; the club is a {k}-row broadcast joined twice against edges."""
    from .mobility import _colocation_edge_list

    edges = _colocation_edge_list(spark, sf_dir)
    adj = edges.select(F.col("a_user_id").alias("u")).unionAll(
        edges.select(F.col("b_user_id").alias("u"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    rich = deg.orderBy(F.desc("degree"), F.asc("u")).limit(_RICH_K)
    ra = rich.select(F.col("u").alias("a_user_id"))
    rb = rich.select(F.col("u").alias("b_user_id"))
    e_rich = (
        edges.join(F.broadcast(ra), "a_user_id", "left_semi")
        .join(F.broadcast(rb), "b_user_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("e_rich"))
    )
    return e_rich.select(
        F.lit(_RICH_K).cast("long").alias("k_rich"),
        F.col("e_rich").alias("n_rich_edges"),
        F.round(
            F.lit(2.0) * F.col("e_rich") / (_RICH_K * (_RICH_K - 1.0)), 6
        ).alias("rich_club_phi"),
    )


# ---------------------------------------------------------------------------
# 14. per-user-day motif census
# ---------------------------------------------------------------------------


@query(
    "user_daily_motifs",
    oracle="""
    WITH seq AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
               first(event_type ORDER BY ts ASC, event_id ASC) AS first_t,
               last(event_type ORDER BY ts ASC, event_id ASC) AS last_t
        FROM events GROUP BY user_id, d
    ),
    cls AS (
        SELECT CASE
            WHEN n_events = 1 THEN 'single'
            WHEN n_types = 1 THEN 'uniform'
            WHEN first_t = last_t THEN 'return'
            WHEN n_types = n_events THEN 'all_distinct'
            ELSE 'mixed' END AS motif
        FROM seq
    )
    SELECT motif, CAST(count(*) AS BIGINT) AS n_user_days
    FROM cls GROUP BY motif
    """,
)
def user_daily_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily activity-motif census: classify every (user, day) by the
    SHAPE of its event-type sequence — single visit, uniform (one type
    repeated), return (opens and closes with the same type, others
    between), all-distinct, or mixed — the sequence-motif taxonomy
    mobility papers use for location diaries, applied to event streams
    (transition matrices count steps; motifs classify whole days).
    First/last are (ts, event_id)-ordered min/max-by structs — one
    grouped pass, no window, no sequence materialization."""
    e = _load(spark, sf_dir, "events")
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    seq = e.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.min_by("event_type", ordkey).alias("first_t"),
        F.max_by("event_type", ordkey).alias("last_t"),
    )
    cls = seq.select(
        F.when(F.col("n_events") == 1, "single")
        .when(F.col("n_types") == 1, "uniform")
        .when(F.col("first_t") == F.col("last_t"), "return")
        .when(F.col("n_types") == F.col("n_events"), "all_distinct")
        .otherwise("mixed")
        .alias("motif")
    )
    return cls.groupBy("motif").agg(
        F.count(F.lit(1)).cast("long").alias("n_user_days")
    )


# ---------------------------------------------------------------------------
# 15. stylometric Burrows' Delta between sources
# ---------------------------------------------------------------------------

_DELTA_TOP_TERMS = 20


@query(
    "source_burrows_delta",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tok_f AS (SELECT source, term FROM tok WHERE term <> ''),
    top_terms AS (
        SELECT term FROM tok_f GROUP BY term
        ORDER BY count(*) DESC, term ASC LIMIT {_DELTA_TOP_TERMS}
    ),
    src_tot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_tok
        FROM tok_f GROUP BY source
    ),
    freq AS (
        SELECT st.source, tt.term,
               CAST(COALESCE(c.n, 0) AS DOUBLE) / st.n_tok AS f
        FROM src_tot st
        CROSS JOIN top_terms tt
        LEFT JOIN (
            SELECT source, term, CAST(count(*) AS BIGINT) AS n
            FROM tok_f GROUP BY source, term
        ) c ON c.source = st.source AND c.term = tt.term
    ),
    fq AS (
        -- frequencies pin to integer NANO-units first so the per-term
        -- mean/sd assemble from exact integer moments (DETERMINISM.md:
        -- never engine-native avg/stddev_samp, whose accumulation
        -- order is engine-specific)
        SELECT source, term, CAST(round(f * 1e9) AS BIGINT) AS f9
        FROM freq
    ),
    tm AS (
        SELECT term,
               CAST(sum(f9) AS DOUBLE) / count(*) AS mu9,
               sqrt(CAST(count(*) * sum(CAST(f9 AS HUGEINT) * f9)
                         - CAST(sum(f9) AS HUGEINT) * sum(f9) AS DOUBLE)
                    / (count(*) * (count(*) - 1.0))) AS sd9
        FROM fq GROUP BY term
    ),
    zs AS (
        SELECT source, term,
               CAST(round((f9 - mu9) / sd9 * 1e6) AS BIGINT) AS z6
        FROM fq JOIN tm USING (term)
    )
    SELECT a.source AS source_a, b.source AS source_b,
           round(avg(abs(a.z6 - b.z6)) / 1e6, 6) AS burrows_delta
    FROM zs a JOIN zs b ON a.term = b.term AND a.source < b.source
    GROUP BY source_a, source_b
    """,
)
def source_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between every source pair:
    z-score each source's relative frequency of the corpus top-{t}
    terms across sources, then Delta = mean |z_a - z_b| — the standard
    authorship-attribution measure (the divergence family compares
    distributions; Delta compares STYLE profiles normalized per term).
    Tokens explode once; the z-matrix is sources x {t} (dimension-
    sized), and the pair join is over that tiny matrix. Z-scores pin at
    6 decimals so both engines difference identical profiles."""
    d = _load(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    # ONE fact pass: the exploded token stream collapses to the
    # vocabulary-sized (source, term) count table, checkpointed once —
    # top terms, per-source totals and the top-term counts all derive
    # from it (the audit showed the previous three independent
    # consumers re-exploding the documents scan three times; at corpus
    # scale the explode is the dominant cost and the (source, term)
    # table is bounded by vocabulary, not corpus)
    grp = (
        tok.groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    top = (
        grp.groupBy("term")
        .agg(F.sum("n").alias("tn"))
        .orderBy(F.desc("tn"), F.asc("term"))
        .limit(_DELTA_TOP_TERMS)
        .select("term")
    )
    src_tot = grp.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tok")
    )
    cnt = grp.join(F.broadcast(top), "term").select("source", "term", "n")
    freq = (
        src_tot.crossJoin(F.broadcast(top))
        .join(cnt, ["source", "term"], "left")
        .select(
            "source",
            "term",
            (
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.col("n_tok")
            ).alias("f"),
        )
    )
    # z-scores pin as exact integer MICRO-units: the per-pair mean of
    # |za - zb| is then an integer ratio, immune to float sum-order
    # (a raw-double mean flipped one pair's 6th decimal between engines).
    # The frequencies themselves pin to integer NANO-units first so the
    # per-term mean/sd assemble from exact integer moments in
    # DECIMAL(38,0)/HUGEINT (DETERMINISM.md) — never engine-native
    # avg/stddev_samp, whose accumulation order is engine-specific.
    dec = "decimal(38,0)"
    # sources x top-20 rows; checkpointed because BOTH the per-term
    # moments aggregate and the z-score join consume it
    fq = freq.select(
        "source", "term", F.round(F.col("f") * 1e9).cast("long").alias("f9")
    ).localCheckpoint(eager=False)
    kk = F.count(F.lit(1))
    s1 = F.sum(F.col("f9").cast(dec))
    s2 = F.sum((F.col("f9").cast(dec) * F.col("f9")).cast(dec))
    tm = fq.groupBy("term").agg(
        (s1.cast("double") / kk).alias("mu9"),
        F.sqrt(
            (kk.cast(dec) * s2 - s1.cast(dec) * s1).cast("double")
            / (kk * (kk - F.lit(1.0)))
        ).alias("sd9"),
    )
    zs = fq.join(F.broadcast(tm), "term").select(
        "source",
        "term",
        F.round((F.col("f9") - F.col("mu9")) / F.col("sd9") * 1e6)
        .cast("long")
        .alias("z6"),
    )
    a = zs.select(
        F.col("source").alias("source_a"), "term", F.col("z6").alias("za")
    )
    b = zs.select(
        F.col("source").alias("source_b"), "term", F.col("z6").alias("zb")
    )
    return (
        a.join(b, "term")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.round(F.avg(F.abs(F.col("za") - F.col("zb"))) / 1e6, 6).alias(
                "burrows_delta"
            )
        )
    )


# ---------------------------------------------------------------------------
# 16. Goodman-Kruskal gamma on the binned quantity x price grid
# ---------------------------------------------------------------------------


@query(
    "quantity_price_gk_gamma",
    oracle="""
    WITH grid AS (
        SELECT least(CAST(floor((l_quantity - 1) / 10) AS BIGINT), 4) AS qbin,
               least(CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT)
                                / 2000000) AS BIGINT), 4) AS pbin,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY qbin, pbin
    ),
    pairs AS (
        SELECT
            CAST(sum(CASE WHEN (a.qbin < b.qbin AND a.pbin < b.pbin)
                            OR (a.qbin > b.qbin AND a.pbin > b.pbin)
                          THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END)
                 // 2 AS BIGINT) AS c_pairs,
            CAST(sum(CASE WHEN (a.qbin < b.qbin AND a.pbin > b.pbin)
                            OR (a.qbin > b.qbin AND a.pbin < b.pbin)
                          THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END)
                 // 2 AS BIGINT) AS d_pairs
        FROM grid a CROSS JOIN grid b
    )
    SELECT c_pairs AS concordant, d_pairs AS discordant,
           round((c_pairs - d_pairs) * 1.0 / (c_pairs + d_pairs), 6)
               AS gk_gamma
    FROM pairs
    """,
)
def quantity_price_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma between binned quantity and extended
    price: concordant minus discordant pairs over their sum, computed
    from the 5x5 contingency grid — ordinal association the Pearson/
    Spearman family can't give (and the O(n^2) Kendall tau the idea
    bank rejected, made tractable: the grid collapses n^2 row pairs
    into 25^2 exact integer cell products). One fact pass to the grid,
    then a 25x25 self-join."""
    li = _load(spark, sf_dir, "lineitem")
    grid = li.groupBy(
        F.least(
            F.floor((F.col("l_quantity") - 1) / 10).cast("long"), F.lit(4)
        ).alias("qbin"),
        F.least(
            F.floor(
                F.round(F.col("l_extendedprice") * 100).cast("long") / 2000000
            ).cast("long"),
            F.lit(4),
        ).alias("pbin"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = grid.select(
        F.col("qbin").alias("aq"), F.col("pbin").alias("ap"),
        F.col("n").alias("an"),
    )
    b = grid.select(
        F.col("qbin").alias("bq"), F.col("pbin").alias("bp"),
        F.col("n").alias("bn"),
    )
    conc = (
        ((F.col("aq") < F.col("bq")) & (F.col("ap") < F.col("bp")))
        | ((F.col("aq") > F.col("bq")) & (F.col("ap") > F.col("bp")))
    )
    disc = (
        ((F.col("aq") < F.col("bq")) & (F.col("ap") > F.col("bp")))
        | ((F.col("aq") > F.col("bq")) & (F.col("ap") < F.col("bp")))
    )
    # cell-count products overflow int64 once a cell holds ~3e9 fact
    # rows: accumulate the exact integer products in DECIMAL(38,0)
    # (DuckDB side: HUGEINT) per the DETERMINISM.md products-of-sums
    # rule; the symmetric cross join double-counts every unordered pair
    # so the sums are always even and the /2 stays exact
    pairs = a.crossJoin(b).agg(
        (
            F.sum(
                F.when(
                    conc, F.col("an").cast("decimal(38,0)") * F.col("bn")
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            / 2
        )
        .cast("long")
        .alias("concordant"),
        (
            F.sum(
                F.when(
                    disc, F.col("an").cast("decimal(38,0)") * F.col("bn")
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            / 2
        )
        .cast("long")
        .alias("discordant"),
    )
    return pairs.select(
        "concordant",
        "discordant",
        F.round(
            (F.col("concordant") - F.col("discordant"))
            * 1.0
            / (F.col("concordant") + F.col("discordant")),
            6,
        ).alias("gk_gamma"),
    )


# ---------------------------------------------------------------------------
# 17. two-NN intrinsic dimension of the embedding cloud
# ---------------------------------------------------------------------------


@query(
    "embedding_intrinsic_dim_2nn",
    oracle="""
    WITH d2 AS (
        SELECT a.vec_id,
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                   i -> (CAST(a.embedding[i] AS DOUBLE)
                         - CAST(b.embedding[i] AS DOUBLE))
                        * (CAST(a.embedding[i] AS DOUBLE)
                           - CAST(b.embedding[i] AS DOUBLE)))) AS dd,
               b.vec_id AS other_id
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT vec_id, dd,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY dd ASC, other_id ASC) AS rn
        FROM d2
    ),
    mu AS (
        SELECT a.vec_id, sqrt(b.dd / a.dd) AS ratio
        FROM (SELECT vec_id, dd FROM ranked WHERE rn = 1) a
        JOIN (SELECT vec_id, dd FROM ranked WHERE rn = 2) b USING (vec_id)
        WHERE a.dd > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_used,
           round(count(*) / sum(ln(ratio)), 6) AS intrinsic_dim
    FROM mu
    """,
)
def embedding_intrinsic_dim_2nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-NN intrinsic-dimension estimate (Facco et al. 2017) of the
    embedding cloud: for each vector the ratio mu = d2/d1 of its two
    nearest-neighbor distances, and the MLE dim = n / sum(ln mu) — the
    manifold dimension the ambient-64 coordinates hide (nothing in the
    registry estimates dimensionality; PCA variance ranks directions).
    The all-pairs distance table is the LABELED BRUTE-FORCE ORACLE form
    (like knn_bruteforce) — the scale path would reuse the IVF
    partition-pruned probe; duplicates (d1 = 0) are excluded exactly on
    both sides."""
    e = _load(spark, sf_dir, "embeddings")
    from ..operators.similarity import as_double

    # the corpus fits one parquet split, so WITHOUT a repartition the
    # broadcast nested-loop join streams ALL n^2 pairs through a single
    # task (measured: one core pegged for 25+ min at the 20k-vector
    # tier) — spread the streamed side so the oracle parallelizes
    a = e.select(
        F.col("vec_id"), as_double(F.col("embedding")).alias("va")
    ).repartition(64, "vec_id")
    b = e.select(
        F.col("vec_id").alias("other_id"), as_double(F.col("embedding")).alias("vb")
    )
    d2 = (
        a.join(F.broadcast(b), F.col("vec_id") != F.col("other_id"))
        .select(
            "vec_id",
            "other_id",
            F.aggregate(
                F.zip_with(
                    F.col("va"), F.col("vb"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias("dd"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dd"), F.asc("other_id"))
    ranked = d2.select(
        "vec_id", "dd", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= 2)
    first = ranked.where(F.col("rn") == 1).select(
        "vec_id", F.col("dd").alias("d1")
    )
    second = ranked.where(F.col("rn") == 2).select(
        "vec_id", F.col("dd").alias("d2")
    )
    mu = (
        first.join(second, "vec_id")
        .where(F.col("d1") > 0)
        .select(F.sqrt(F.col("d2") / F.col("d1")).alias("ratio"))
    )
    return mu.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.round(F.count(F.lit(1)) / F.sum(F.log("ratio")), 6).alias(
            "intrinsic_dim"
        ),
    )



# ---------------------------------------------------------------------------
# 18-19. cluster-validity indices over label centroids
# ---------------------------------------------------------------------------

_CENTROID_CTE = """
    ex AS (
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
               sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                          * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]))))
                   AS d
        FROM embeddings e CROSS JOIN carr c
    )
"""


@query(
    "label_silhouette_simplified",
    oracle=f"""
    WITH {_CENTROID_CTE.strip()},
    ab AS (
        SELECT vec_id, label,
               min(CASE WHEN clabel = label THEN d END) AS a_own,
               min(CASE WHEN clabel <> label THEN d END) AS b_other
        FROM dist GROUP BY vec_id, label
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg((b_other - a_own) / greatest(a_own, b_other)), 6)
               AS avg_silhouette
    FROM ab GROUP BY label
    """,
)
def label_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: a = distance
    to the own-label centroid, b = distance to the nearest other
    centroid, s = (b-a)/max(a,b), averaged per label — the standard
    cluster-validity coefficient (separation queries measure BETWEEN-
    label distance; silhouette scores each point's assignment quality).
    Centroids are the same rounded 10x64 prototype matrix the confusion
    query certifies; distances are k rows per vector, never a pairwise
    corpus join."""
    cent = _label_centroid_arrays(spark, sf_dir)
    dist = _vec_centroid_distances(spark, sf_dir, cent)
    ab = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("d"))).alias(
            "a_own"
        ),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d"))).alias(
            "b_other"
        ),
    )
    s = (F.col("b_other") - F.col("a_own")) / F.greatest(
        F.col("a_own"), F.col("b_other")
    )
    return ab.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.avg(s), 6).alias("avg_silhouette"),
    )


def _label_centroid_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(clabel, cv): per-label mean vectors, rounded to 6 decimals so
    both engines measure against bit-identical prototypes (the
    nearest_centroid_confusion idiom, analytics12.py)."""
    from ..operators.similarity import as_double

    e = _load(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", "label", F.posexplode(as_double(F.col("embedding")))
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("pos"),
        F.col("col").alias("v"),
    )
    cent = ex.groupBy(F.col("label").alias("clabel"), "pos").agg(
        (F.round(F.avg("v"), 6) + F.lit(0.0)).alias("c")
    )
    # k-row prototype matrix, checkpointed: its consumers (the distance
    # broadcast, and in davies_bouldin the i/j self-join sides) would
    # otherwise each re-run the posexplode + centroid aggregate over
    # the whole embeddings table
    return cent.groupBy("clabel").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .alias("cv")
    ).localCheckpoint(eager=False)


def _vec_centroid_distances(
    spark: SparkSession, sf_dir: str, cent: DataFrame
) -> DataFrame:
    """(vec_id, label, clabel, d): L2 distance of every vector to every
    label centroid — k rows per vector via a broadcast of the k x dim
    prototype matrix."""
    from ..operators.similarity import as_double

    e = _load(spark, sf_dir, "embeddings")
    # the corpus fits a couple of parquet splits at probe tiers, so the
    # broadcast cross join would stream all k*n distance rows through
    # 2 tasks (the intrinsic_dim single-task-NLJ lesson) — spread the
    # streamed side
    e = e.repartition(64, "vec_id")
    return e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    as_double(F.col("embedding")),
                    F.col("cv"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        ).alias("d"),
    )


@query(
    "label_davies_bouldin",
    oracle=f"""
    WITH {_CENTROID_CTE.strip()},
    scatter AS (
        SELECT label AS clabel, avg(d) AS s_i
        FROM dist WHERE clabel = label GROUP BY label
    ),
    cd AS (
        SELECT a.clabel AS i, b.clabel AS j,
               sqrt(list_sum(list_transform(range(1, len(a.cv) + 1),
                     k -> (a.cv[k] - b.cv[k]) * (a.cv[k] - b.cv[k])))) AS m_ij
        FROM carr a JOIN carr b ON a.clabel <> b.clabel
    ),
    ratio AS (
        SELECT cd.i, max((si.s_i + sj.s_i) / cd.m_ij) AS r_i
        FROM cd
        JOIN scatter si ON si.clabel = cd.i
        JOIN scatter sj ON sj.clabel = cd.j
        GROUP BY cd.i
    )
    SELECT CAST(count(*) AS BIGINT) AS k_labels,
           round(avg(r_i), 6) AS davies_bouldin
    FROM ratio
    """,
)
def label_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin index over the label clustering: per label the
    worst (max over other labels) ratio of summed within-scatter to
    centroid separation, averaged — lower is better-separated. The
    companion validity index to silhouette (worst-pair structure
    instead of per-point margins). Everything after the centroid
    aggregate is k x k arithmetic on the driver-sized prototype
    matrix."""
    cent = _label_centroid_arrays(spark, sf_dir)
    dist = _vec_centroid_distances(spark, sf_dir, cent)
    scatter = (
        dist.where(F.col("clabel") == F.col("label"))
        .groupBy("clabel")
        .agg(F.avg("d").alias("s_i"))
    )
    a = cent.select(F.col("clabel").alias("i"), F.col("cv").alias("cva"))
    b = cent.select(F.col("clabel").alias("j"), F.col("cv").alias("cvb"))
    cd = a.join(b, F.col("i") != F.col("j")).select(
        "i",
        "j",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("cva"), F.col("cvb"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        ).alias("m_ij"),
    )
    si = scatter.select(F.col("clabel").alias("i"), F.col("s_i").alias("si"))
    sj = scatter.select(F.col("clabel").alias("j"), F.col("s_i").alias("sj"))
    ratio = (
        cd.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .groupBy("i")
        .agg(F.max((F.col("si") + F.col("sj")) / F.col("m_ij")).alias("r_i"))
    )
    return ratio.agg(
        F.count(F.lit(1)).cast("long").alias("k_labels"),
        F.round(F.avg("r_i"), 6).alias("davies_bouldin"),
    )


# ---------------------------------------------------------------------------
# 20. triangle-inequality audit: cosine distance is not a metric
# ---------------------------------------------------------------------------


@query(
    "metric_triangle_audit",
    oracle="""
    WITH ordered AS (
        SELECT vec_id, embedding,
               row_number() OVER (ORDER BY vec_id ASC) AS rn
        FROM embeddings
    ),
    tri AS (
        SELECT a.embedding AS ea, b.embedding AS eb, c.embedding AS ec
        FROM ordered a
        JOIN ordered b ON b.rn = a.rn + 1
        JOIN ordered c ON c.rn = a.rn + 2
    ),
    pairdists AS (
        SELECT
          1 - list_sum(list_transform(range(1, len(ea) + 1),
                i -> CAST(ea[i] AS DOUBLE) * eb[i]))
              / (sqrt(list_sum(list_transform(range(1, len(ea) + 1),
                     i -> CAST(ea[i] AS DOUBLE) * ea[i])))
                 * sqrt(list_sum(list_transform(range(1, len(eb) + 1),
                     i -> CAST(eb[i] AS DOUBLE) * eb[i])))) AS cos_ab,
          1 - list_sum(list_transform(range(1, len(eb) + 1),
                i -> CAST(eb[i] AS DOUBLE) * ec[i]))
              / (sqrt(list_sum(list_transform(range(1, len(eb) + 1),
                     i -> CAST(eb[i] AS DOUBLE) * eb[i])))
                 * sqrt(list_sum(list_transform(range(1, len(ec) + 1),
                     i -> CAST(ec[i] AS DOUBLE) * ec[i])))) AS cos_bc,
          1 - list_sum(list_transform(range(1, len(ea) + 1),
                i -> CAST(ea[i] AS DOUBLE) * ec[i]))
              / (sqrt(list_sum(list_transform(range(1, len(ea) + 1),
                     i -> CAST(ea[i] AS DOUBLE) * ea[i])))
                 * sqrt(list_sum(list_transform(range(1, len(ec) + 1),
                     i -> CAST(ec[i] AS DOUBLE) * ec[i])))) AS cos_ac,
          sqrt(list_sum(list_transform(range(1, len(ea) + 1),
                i -> (CAST(ea[i] AS DOUBLE) - eb[i])
                     * (CAST(ea[i] AS DOUBLE) - eb[i])))) AS l2_ab,
          sqrt(list_sum(list_transform(range(1, len(eb) + 1),
                i -> (CAST(eb[i] AS DOUBLE) - ec[i])
                     * (CAST(eb[i] AS DOUBLE) - ec[i])))) AS l2_bc,
          sqrt(list_sum(list_transform(range(1, len(ea) + 1),
                i -> (CAST(ea[i] AS DOUBLE) - ec[i])
                     * (CAST(ea[i] AS DOUBLE) - ec[i])))) AS l2_ac
        FROM tri
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triples,
           CAST(sum(CASE WHEN round(cos_ac - cos_ab - cos_bc, 9) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS cos_violations,
           CAST(sum(CASE WHEN round(l2_ac - l2_ab - l2_bc, 9) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS l2_violations
    FROM pairdists
    """,
)
def metric_triangle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle-inequality audit over consecutive vec_id triples:
    cosine DISTANCE (1 - cos) is famously NOT a metric, so LSH/IVF
    pruning arguments that assume d(a,c) <= d(a,b)+d(b,c) silently
    break — this counts actual violations on the corpus (and verifies
    L2 shows zero). Comparisons happen on 9-decimal-rounded slack so
    both engines flip on identical values; the triple join is a
    shifted self-join on the rank index, O(n) triples, never all
    pairs — ranks come from the distributed global_row_number kernel
    (range shuffle + offsets), never a SinglePartition window."""
    from ..operators.similarity import as_double
    from ..operators.winners import global_row_number

    e = _load(spark, sf_dir, "embeddings")
    ordered = global_row_number(
        e.select(as_double(F.col("embedding")).alias("v"), "vec_id"),
        ["vec_id"],
        "rn",
    ).select("v", "rn")
    a = ordered.select(F.col("rn").alias("ra"), F.col("v").alias("ea"))
    b = ordered.select(F.col("rn").alias("rb"), F.col("v").alias("eb"))
    c = ordered.select(F.col("rn").alias("rc"), F.col("v").alias("ec"))
    tri = a.join(b, F.col("rb") == F.col("ra") + 1).join(
        c, F.col("rc") == F.col("ra") + 2
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(F.col(x), F.col(y), lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    def cosd(x, y):
        return 1 - dot(x, y) / (F.sqrt(dot(x, x)) * F.sqrt(dot(y, y)))

    def l2(x, y):
        return F.sqrt(
            F.aggregate(
                F.zip_with(F.col(x), F.col(y), lambda p, q: (p - q) * (p - q)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        )

    d = tri.select(
        cosd("ea", "eb").alias("cos_ab"),
        cosd("eb", "ec").alias("cos_bc"),
        cosd("ea", "ec").alias("cos_ac"),
        l2("ea", "eb").alias("l2_ab"),
        l2("eb", "ec").alias("l2_bc"),
        l2("ea", "ec").alias("l2_ac"),
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.sum(
            F.when(
                F.round(
                    F.col("cos_ac") - F.col("cos_ab") - F.col("cos_bc"), 9
                )
                > 0,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("cos_violations"),
        F.sum(
            F.when(
                F.round(F.col("l2_ac") - F.col("l2_ab") - F.col("l2_bc"), 9)
                > 0,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("l2_violations"),
    )


# ---------------------------------------------------------------------------
# 21. join-cardinality estimator audit (optimizer statistics)
# ---------------------------------------------------------------------------


@query(
    "join_cardinality_estimate_audit",
    oracle="""
    WITH stats AS (
        SELECT 'orders_x_customer' AS join_name,
               (SELECT count(*) FROM orders) AS n_left,
               (SELECT count(*) FROM customer) AS n_right,
               (SELECT count(DISTINCT o_custkey) FROM orders) AS ndv_left,
               (SELECT count(DISTINCT c_custkey) FROM customer) AS ndv_right,
               (SELECT count(*) FROM orders o
                JOIN customer c ON o.o_custkey = c.c_custkey) AS actual
        UNION ALL
        SELECT 'lineitem_x_orders',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM orders),
               (SELECT count(DISTINCT l_orderkey) FROM lineitem),
               (SELECT count(DISTINCT o_orderkey) FROM orders),
               (SELECT count(*) FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey)
        UNION ALL
        SELECT 'lineitem_x_part',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM part),
               (SELECT count(DISTINCT l_partkey) FROM lineitem),
               (SELECT count(DISTINCT p_partkey) FROM part),
               (SELECT count(*) FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey)
    )
    SELECT join_name,
           CAST(round(CAST(n_left AS DOUBLE) * n_right
                      / greatest(ndv_left, ndv_right)) AS BIGINT)
               AS estimated_rows,
           CAST(actual AS BIGINT) AS actual_rows,
           round(CAST(n_left AS DOUBLE) * n_right
                 / greatest(ndv_left, ndv_right) / actual, 6) AS est_ratio
    FROM stats
    """,
)
def join_cardinality_estimate_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The textbook join-cardinality estimator |L|*|R|/max(ndv_L,ndv_R)
    audited against the true join sizes for the three fact joins — the
    statistic every cost-based optimizer (including Catalyst CBO) runs
    on, certified as data: an est_ratio far from 1 is exactly where a
    plan picks the wrong join order at 100 TB. Each estimate needs only
    per-side counts and NDVs (one aggregate per table); the actuals are
    the certified equi-joins."""
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    li = _load(spark, sf_dir, "lineitem")
    p = _load(spark, sf_dir, "part")
    spark_ = o.sparkSession

    def stats_row(name, left, lk, right, rk):
        nl = left.count()
        nr = right.count()
        ndl = left.select(lk).distinct().count()
        ndr = right.select(rk).distinct().count()
        actual = left.join(
            right, left[lk] == right[rk]
        ).count()
        return (name, nl, nr, ndl, ndr, actual)

    rows = [
        stats_row("orders_x_customer", o, "o_custkey", c, "c_custkey"),
        stats_row("lineitem_x_orders", li, "l_orderkey", o, "o_orderkey"),
        stats_row("lineitem_x_part", li, "l_partkey", p, "p_partkey"),
    ]
    df = spark_.createDataFrame(
        rows,
        "join_name string, n_left long, n_right long, "
        "ndv_left long, ndv_right long, actual long",
    )
    est = (
        F.col("n_left").cast("double")
        * F.col("n_right")
        / F.greatest("ndv_left", "ndv_right")
    )
    return df.select(
        "join_name",
        F.round(est).cast("long").alias("estimated_rows"),
        F.col("actual").alias("actual_rows"),
        F.round(est / F.col("actual"), 6).alias("est_ratio"),
    )


# ---------------------------------------------------------------------------
# 22. out-of-order arrival depth (the watermark-sizing audit)
# ---------------------------------------------------------------------------


@query(
    "out_of_order_depth_histogram",
    oracle="""
    WITH late AS (
        SELECT greatest(0, COALESCE(epoch_us(max(ts) OVER (
                   PARTITION BY user_id ORDER BY event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
                   epoch_us(ts))
               - epoch_us(ts)) AS late_us
        FROM events
    ),
    bucketed AS (
        SELECT CASE
            WHEN late_us = 0 THEN 'in_order'
            WHEN late_us < 60000000 THEN 'lt_1m'
            WHEN late_us < 600000000 THEN 'lt_10m'
            WHEN late_us < 3600000000 THEN 'lt_1h'
            ELSE 'ge_1h' END AS lateness
        FROM late
    ),
    grid AS (
        SELECT unnest(['in_order', 'lt_1m', 'lt_10m', 'lt_1h', 'ge_1h'])
            AS lateness
    )
    SELECT g.lateness,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
    FROM grid g LEFT JOIN (
        SELECT lateness, count(*) AS n FROM bucketed GROUP BY lateness
    ) c ON c.lateness = g.lateness
    """,
)
def out_of_order_depth_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Out-of-order arrival depth per user stream: treating event_id as
    arrival order, how far behind the running max event-time does each
    event land — THE statistic that sizes a streaming watermark (too
    short drops these events; too long holds state). Bucketed at the
    delay thresholds the streaming surfaces use. The running max is a
    per-user window (partitioned, scale-safe), arrival order never
    needs a global sort."""
    e = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = e.select(
        F.greatest(
            F.lit(0),
            F.coalesce(
                F.unix_micros(F.max("ts").over(w)), F.unix_micros("ts")
            )
            - F.unix_micros("ts"),
        ).alias("late_us")
    )
    bucketed = late.select(
        F.when(F.col("late_us") == 0, "in_order")
        .when(F.col("late_us") < 60_000_000, "lt_1m")
        .when(F.col("late_us") < 600_000_000, "lt_10m")
        .when(F.col("late_us") < 3_600_000_000, "lt_1h")
        .otherwise("ge_1h")
        .alias("lateness")
    )
    counts = bucketed.groupBy("lateness").agg(
        F.count(F.lit(1)).alias("n")
    )
    # zero-fill the fixed bucket grid: an all-in-order stream (this
    # synthetic feed) still reports the full 5-row histogram shape
    grid = e.sparkSession.createDataFrame(
        [(b,) for b in ("in_order", "lt_1m", "lt_10m", "lt_1h", "ge_1h")],
        "lateness string",
    )
    return grid.join(counts, "lateness", "left").select(
        "lateness",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# 23. DataFrame-native Bloom filter with exact cross-engine parity
# ---------------------------------------------------------------------------

_BLOOM_M = 8192
_BLOOM_K = 3


def _bloom_oracle() -> str:
    from .extended import _hash_bucket_sql

    member_pos = " UNION ALL ".join(
        f"SELECT {_hash_bucket_sql('o_orderkey', _BLOOM_M, f'bf{i}')} AS pos "
        f"FROM orders WHERE o_orderkey % 7 = 0"
        for i in range(_BLOOM_K)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT o_orderkey AS probe_key, "
        f"{_hash_bucket_sql('o_orderkey + 1000000000', _BLOOM_M, f'bf{i}')}"
        f" AS pos FROM orders WHERE o_orderkey % 7 <> 0"
        for i in range(_BLOOM_K)
    )
    member_probe = " UNION ALL ".join(
        f"SELECT o_orderkey AS probe_key, "
        f"{_hash_bucket_sql('o_orderkey', _BLOOM_M, f'bf{i}')} AS pos "
        f"FROM orders WHERE o_orderkey % 7 = 0"
        for i in range(_BLOOM_K)
    )
    return f"""
    WITH bits AS (SELECT DISTINCT pos FROM ({member_pos})),
    n_mem AS (
        SELECT CAST(count(*) AS BIGINT) AS n_members
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    probe_hits AS (
        SELECT p.probe_key, count(*) AS n_hit
        FROM ({probe_pos}) p JOIN bits b ON b.pos = p.pos
        GROUP BY p.probe_key
    ),
    fp AS (
        SELECT CAST(count(*) AS BIGINT) AS n_false_positives
        FROM probe_hits WHERE n_hit = {_BLOOM_K}
    ),
    n_probe AS (
        SELECT CAST(count(*) AS BIGINT) AS n_probes
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    member_hits AS (
        SELECT p.probe_key, count(*) AS n_hit
        FROM ({member_probe}) p JOIN bits b ON b.pos = p.pos
        GROUP BY p.probe_key
    ),
    fn AS (
        SELECT CAST(count(*) AS BIGINT) AS n_member_hits
        FROM member_hits WHERE n_hit = {_BLOOM_K}
    )
    SELECT n_mem.n_members,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           n_probe.n_probes,
           fp.n_false_positives,
           round(CAST(fp.n_false_positives AS DOUBLE) / n_probe.n_probes, 6)
               AS fpr,
           CAST(n_mem.n_members - fn.n_member_hits AS BIGINT)
               AS n_false_negatives
    FROM n_mem CROSS JOIN n_probe CROSS JOIN fp CROSS JOIN fn
    """


@query("bloom_membership_audit", oracle=_bloom_oracle())
def bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Bloom filter built entirely from DataFrame operations with
    EXACT cross-engine parity: k={k} portable md5 hash positions over
    m={m} bits, the bit array materialized as a distinct-position table
    (bounded by m regardless of corpus size, so it broadcasts at ANY
    scale — that is the join-pruning deployment shape), members = every
    7th orderkey, probes = the shifted complement. Certified exactly:
    zero false negatives (the Bloom guarantee) and the EXACT measured
    false-positive count — not a bound — because both engines compute
    identical hash positions (operators/sampling.hash_bucket idiom).
    Spark's own stat.bloomFilter is a driver-side sketch with
    engine-private hashing; this form is the one a distributed join
    pruner actually ships."""
    from ..operators.sampling import hash_bucket

    o = _load(spark, sf_dir, "orders")
    members = o.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    probes = o.where(F.col("o_orderkey") % 7 != 0).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("probe_key"),
        F.col("o_orderkey"),
    )

    def positions(df, key_col, out_key):
        return df.select(
            F.col(out_key),
            F.explode(
                F.array(
                    *[
                        hash_bucket(F.col(key_col), _BLOOM_M, f"bf{i}")
                        for i in range(_BLOOM_K)
                    ]
                )
            ).alias("pos"),
        )

    # the bit table is consumed three times (census count, FP probe,
    # FN probe) — cut lineage once so the member-hash subtree doesn't
    # rebuild per branch (the _colocation_edge_list idiom); the table
    # is bounded by m rows regardless of corpus size
    bits = (
        positions(
            members.select(F.col("o_orderkey").alias("k")), "k", "k"
        )
        .select("pos")
        .distinct()
        .localCheckpoint(eager=False)
    )
    probe_pos = positions(
        probes.select(F.col("probe_key"), F.col("probe_key").alias("pk")),
        "probe_key",
        "pk",
    )
    member_pos = positions(
        members.select(
            F.col("o_orderkey").alias("pk"), F.col("o_orderkey").alias("mk")
        ),
        "mk",
        "pk",
    )
    fp = (
        probe_pos.join(F.broadcast(bits), "pos")
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .where(F.col("n_hit") == _BLOOM_K)
        .agg(F.count(F.lit(1)).cast("long").alias("n_false_positives"))
    )
    member_hits = (
        member_pos.join(F.broadcast(bits), "pos")
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .where(F.col("n_hit") == _BLOOM_K)
        .agg(F.count(F.lit(1)).cast("long").alias("n_member_hits"))
    )
    n_mem = members.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    n_probe = probes.agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
    return (
        n_mem.crossJoin(n_bits)
        .crossJoin(n_probe)
        .crossJoin(fp)
        .crossJoin(member_hits)
        .select(
            "n_members",
            "n_bits_set",
            "n_probes",
            "n_false_positives",
            F.round(
                F.col("n_false_positives").cast("double") / F.col("n_probes"),
                6,
            ).alias("fpr"),
            (F.col("n_members") - F.col("n_member_hits"))
            .cast("long")
            .alias("n_false_negatives"),
        )
    )


bloom_membership_audit.__doc__ = bloom_membership_audit.__doc__.format(
    k=_BLOOM_K, m=_BLOOM_M
)


# ---------------------------------------------------------------------------
# 24. LSH band/row S-curve planner
# ---------------------------------------------------------------------------


@query(
    "lsh_band_s_curve_planner",
    oracle="""
    WITH grid AS (
        SELECT b.b, r.r
        FROM (SELECT unnest([4, 8, 16, 32]) AS b) b
        CROSS JOIN (SELECT unnest([2, 4, 8, 16]) AS r) r
        WHERE b.b * r.r <= 128
    )
    SELECT CAST(b AS BIGINT) AS n_bands, CAST(r AS BIGINT) AS rows_per_band,
           CAST(b * r AS BIGINT) AS n_hashes,
           round(power(1.0 / b, 1.0 / r), 6) AS s50_threshold,
           round(1 - power(1 - power(0.3, r), b), 6) AS p_candidate_at_30,
           round(power(1 - power(0.8, r), b), 6) AS p_miss_at_80
    FROM grid
    """,
)
def lsh_band_s_curve_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding planner: for every (bands b, rows r) layout
    with b*r <= 128 hashes, the S-curve operating point — the
    half-capture threshold (1/b)^(1/r), the false-candidate probability
    at Jaccard 0.3, and the miss probability at Jaccard 0.8 — the exact
    table an engineer reads to pick the dedup layout BEFORE paying for
    signatures (the existing calibration queries measure a chosen
    layout after the fact; this plans one). Pure closed-form math over
    a generated grid, no table scan."""
    prep(spark)
    rows = [
        (b, r)
        for b in (4, 8, 16, 32)
        for r in (2, 4, 8, 16)
        if b * r <= 128
    ]
    grid = spark.createDataFrame(rows, "b long, r long")
    b, r = F.col("b").cast("double"), F.col("r").cast("double")
    return grid.select(
        F.col("b").alias("n_bands"),
        F.col("r").alias("rows_per_band"),
        (F.col("b") * F.col("r")).cast("long").alias("n_hashes"),
        F.round(F.pow(1.0 / b, 1.0 / r), 6).alias("s50_threshold"),
        F.round(1 - F.pow(1 - F.pow(F.lit(0.3), r), b), 6).alias(
            "p_candidate_at_30"
        ),
        F.round(F.pow(1 - F.pow(F.lit(0.8), r), b), 6).alias("p_miss_at_80"),
    )


# ---------------------------------------------------------------------------
# 25. payload magic-byte census (binary content sniffing)
# ---------------------------------------------------------------------------


@query(
    "payload_magic_byte_census",
    oracle="""
    WITH pay AS (
        SELECT source, upper(substring(hex(encode(text)), 1, 8)) AS prefix8
        FROM documents
    ),
    cnt AS (
        SELECT source, prefix8, CAST(count(*) AS BIGINT) AS n
        FROM pay GROUP BY source, prefix8
    ),
    top AS (
        SELECT source, prefix8 AS top_prefix, n AS top_n,
               row_number() OVER (
                   PARTITION BY source ORDER BY n DESC, prefix8 ASC) AS rn
        FROM cnt
    )
    SELECT c.source,
           CAST(sum(c.n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_prefixes,
           max(t.top_prefix) AS top_prefix,
           CAST(max(t.top_n) AS BIGINT) AS top_n
    FROM cnt c
    JOIN (SELECT * FROM top WHERE rn = 1) t USING (source)
    GROUP BY c.source
    """,
)
def payload_magic_byte_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-sniffing census over BINARY payloads: the leading 4
    bytes (as 8 hex chars — where real corpora carry format magic like
    FFD8/8950/4F67) counted per source, with the modal prefix — the
    first gate of a multimodal ingest pipeline, and the engine's only
    query that slices and groups raw binary IN SQL (the multimodal
    family decodes via Arrow batches; this certifies the JVM-side
    binary path against DuckDB BLOB slicing). Payloads derive from the
    documents text exactly like operators/multimodal.attach_binary_
    payload (utf-8 encode), so both engines sniff identical bytes."""
    d = _load(spark, sf_dir, "documents")
    pay = d.select(
        "source",
        F.upper(
            F.substring(F.hex(F.encode(F.col("text"), "UTF-8")), 1, 8)
        ).alias("prefix8"),
    )
    cnt = pay.groupBy("source", "prefix8").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("prefix8"))
    top = (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", F.col("prefix8").alias("top_prefix"),
                F.col("n").alias("top_n"))
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_prefixes"),
        )
        .join(top, "source")
        .select("source", "n_docs", "n_prefixes", "top_prefix", "top_n")
    )


# ---------------------------------------------------------------------------
# 26. edit-distance name blocking
# ---------------------------------------------------------------------------


@query(
    "name_edit_distance_pairs",
    oracle="""
    WITH pairs AS (
        SELECT a.p_brand AS brand,
               levenshtein(a.p_name, b.p_name) AS d
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    ),
    close_p AS (SELECT brand, d FROM pairs WHERE d <= 4)
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_close_pairs,
           CAST(min(d) AS BIGINT) AS min_dist,
           round(avg(d * 1.0), 6) AS avg_dist
    FROM close_p GROUP BY brand
    """,
)
def name_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution string-similarity blocking: within each brand
    block, every part-name pair within Levenshtein distance 4 — the
    classic fuzzy-duplicate product-catalog scan (the ER family blocks
    on exact keys; nothing measures EDIT distance, the third string-
    similarity modality after token Jaccard and hash fingerprints).
    The self-join is brand-blocked so pair count is sum of block^2,
    never corpus^2 — the same blocking bound the 100 TB form relies
    on; Spark and DuckDB levenshtein are both the standard DP
    distance."""
    p = _load(spark, sf_dir, "part")
    a = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("ak"),
        F.col("p_name").alias("an"),
    )
    b = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("bk"),
        F.col("p_name").alias("bn"),
    )
    pairs = a.join(b, ["brand"]).where(F.col("ak") < F.col("bk")).select(
        "brand", F.levenshtein("an", "bn").alias("d")
    )
    return (
        pairs.where(F.col("d") <= 4)
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_close_pairs"),
            F.min("d").cast("long").alias("min_dist"),
            F.round(F.avg(F.col("d") * 1.0), 6).alias("avg_dist"),
        )
    )


# ---------------------------------------------------------------------------
# 27. two-way ANOVA: weekday x event type on value
# ---------------------------------------------------------------------------


@query(
    "value_two_way_anova",
    oracle="""
    WITH obs AS (
        SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow, event_type, value
        FROM events
    ),
    g AS (SELECT avg(value) AS gm, CAST(count(*) AS BIGINT) AS n FROM obs),
    a_eff AS (
        SELECT dow, CAST(count(*) AS BIGINT) AS n_a, avg(value) AS m_a
        FROM obs GROUP BY dow
    ),
    b_eff AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_b, avg(value) AS m_b
        FROM obs GROUP BY event_type
    ),
    cells AS (
        SELECT dow, event_type, CAST(count(*) AS BIGINT) AS n_c,
               avg(value) AS m_c,
               sum(value * value) AS ss_c, sum(value) AS s_c
        FROM obs GROUP BY dow, event_type
    ),
    comp AS (
        SELECT
            (SELECT sum(n_a * (m_a - g.gm) * (m_a - g.gm)) FROM a_eff) AS ss_a,
            (SELECT sum(n_b * (m_b - g.gm) * (m_b - g.gm)) FROM b_eff) AS ss_b,
            (SELECT sum(n_c * (m_c - g.gm) * (m_c - g.gm)) FROM cells)
                AS ss_cells,
            (SELECT sum(ss_c - n_c * m_c * m_c) FROM cells) AS ss_w,
            (SELECT count(*) FROM a_eff) AS ka,
            (SELECT count(*) FROM b_eff) AS kb,
            (SELECT count(*) FROM cells) AS kc,
            g.n AS n
        FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_events,
           round((ss_a / (ka - 1.0)) / (ss_w / (n - kc)), 6) AS f_dow,
           round((ss_b / (kb - 1.0)) / (ss_w / (n - kc)), 6) AS f_type,
           round(((ss_cells - ss_a - ss_b)
                  / ((ka - 1.0) * (kb - 1.0)))
                 / (ss_w / (n - kc)), 6) AS f_interaction
    FROM comp
    """,
)
def value_two_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA of value on weekday x event type: main-effect and
    interaction F statistics from the weighted cell-mean decomposition
    (SS_cells - SS_A - SS_B as the interaction, SS within cells as the
    error) — the factorial extension the one-way ANOVA family lacks,
    answering 'does the weekday effect DEPEND on the type'. Three
    grouped aggregates (7, 5, and 35 rows) off one fact pass; weekday
    pins to the Mon=0 cross-engine mapping."""
    e = _load(spark, sf_dir, "events")
    obs = e.select(
        F.expr("weekday(ts)").cast("long").alias("dow"),
        "event_type",
        "value",
    )
    g = obs.agg(
        F.avg("value").alias("gm"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a_eff = obs.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_a"),
        F.avg("value").alias("m_a"),
    )
    b_eff = obs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.avg("value").alias("m_b"),
    )
    cells = obs.groupBy("dow", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_c"),
        F.avg("value").alias("m_c"),
        F.sum(F.col("value") * F.col("value")).alias("ss_c"),
    )
    ss_a = (
        a_eff.crossJoin(F.broadcast(g))
        .agg(
            F.sum(
                F.col("n_a") * (F.col("m_a") - F.col("gm")) * (F.col("m_a") - F.col("gm"))
            ).alias("ss_a"),
            F.count(F.lit(1)).alias("ka"),
        )
    )
    ss_b = (
        b_eff.crossJoin(F.broadcast(g))
        .agg(
            F.sum(
                F.col("n_b") * (F.col("m_b") - F.col("gm")) * (F.col("m_b") - F.col("gm"))
            ).alias("ss_b"),
            F.count(F.lit(1)).alias("kb"),
        )
    )
    ss_c = (
        cells.crossJoin(F.broadcast(g))
        .agg(
            F.sum(
                F.col("n_c") * (F.col("m_c") - F.col("gm")) * (F.col("m_c") - F.col("gm"))
            ).alias("ss_cells"),
            F.sum(
                F.col("ss_c") - F.col("n_c") * F.col("m_c") * F.col("m_c")
            ).alias("ss_w"),
            F.count(F.lit(1)).alias("kc"),
        )
    )
    comp = g.crossJoin(ss_a).crossJoin(ss_b).crossJoin(ss_c)
    err = F.col("ss_w") / (F.col("n") - F.col("kc"))
    return comp.select(
        F.col("n").alias("n_events"),
        F.round((F.col("ss_a") / (F.col("ka") - F.lit(1.0))) / err, 6).alias(
            "f_dow"
        ),
        F.round((F.col("ss_b") / (F.col("kb") - F.lit(1.0))) / err, 6).alias(
            "f_type"
        ),
        F.round(
            (
                (F.col("ss_cells") - F.col("ss_a") - F.col("ss_b"))
                / ((F.col("ka") - F.lit(1.0)) * (F.col("kb") - F.lit(1.0)))
            )
            / err,
            6,
        ).alias("f_interaction"),
    )


# ---------------------------------------------------------------------------
# 28. expected shortfall (CVaR) of order values per segment
# ---------------------------------------------------------------------------


@query(
    "segment_value_cvar",
    oracle="""
    WITH seg AS (
        SELECT c.c_mktsegment AS segment, o.o_totalprice AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    var_q AS (
        SELECT segment, round(quantile_cont(v, 0.95), 6) + 0.0 AS var95
        FROM seg GROUP BY segment
    )
    SELECT s.segment, v.var95,
           round(avg(s.v), 6) AS cvar95,
           CAST(count(*) AS BIGINT) AS n_tail
    FROM seg s JOIN var_q v USING (segment)
    WHERE s.v >= v.var95
    GROUP BY s.segment, v.var95
    """,
)
def segment_value_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall (CVaR at 95%) of order value per market
    segment: the mean of the tail AT AND BEYOND the 95th percentile —
    the coherent tail-risk measure (quantile queries report the cut
    point; nothing reports the conditional tail mean, which is what a
    capacity planner budgets for). The VaR pins at 6 decimals so both
    engines cut the tail at the identical threshold; one fact pass per
    aggregate with the 5-row quantile table broadcast back."""
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    cdim = c.select("c_custkey", "c_mktsegment")
    seg = o.join(
        F.broadcast(cdim), o["o_custkey"] == cdim["c_custkey"]
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("v"),
    )
    var_q = seg.groupBy("segment").agg(
        (F.round(F.expr("percentile(v, 0.95)"), 6) + F.lit(0.0)).alias(
            "var95"
        )
    )
    return (
        seg.join(F.broadcast(var_q), "segment")
        .where(F.col("v") >= F.col("var95"))
        .groupBy("segment", "var95")
        .agg(
            F.round(F.avg("v"), 6).alias("cvar95"),
            F.count(F.lit(1)).cast("long").alias("n_tail"),
        )
        .select("segment", "var95", "cvar95", "n_tail")
    )


# ---------------------------------------------------------------------------
# 29. SCD2 interval integrity over the applied output
# ---------------------------------------------------------------------------


@query(
    "scd2_interval_integrity",
    oracle="""
    WITH ded AS (
        SELECT user_id, event_type, ts FROM (
            SELECT user_id, event_type, ts,
                   row_number() OVER (
                       PARTITION BY user_id, event_type, ts
                       ORDER BY event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    ),
    chain AS (
        SELECT user_id, event_type, ts AS valid_from,
               lead(ts) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts ASC)
                   AS valid_to
        FROM ded
    )
    SELECT CAST((SELECT count(DISTINCT (user_id, event_type)) FROM chain)
               AS BIGINT) AS n_chains,
           CAST(count(*) AS BIGINT) AS n_versions,
           CAST(sum(CASE WHEN valid_to IS NOT NULL
                          AND valid_to <= valid_from
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_inverted,
           CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_open_rows,
           CAST(0 AS BIGINT) AS n_noncontiguous
    FROM chain
    """,
)
def scd2_interval_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-integrity audit of the SCD2 APPLY OUTPUT (the same
    current+updates split scd2_apply certifies): per chain, versions
    must be strictly forward (valid_to > valid_from), contiguous (each
    valid_to equals the next valid_from — counted as n_noncontiguous),
    and exactly one open row per chain. The Spark side audits what the
    OPERATOR actually produced, the oracle derives the invariants from
    the full-window form — a differential on the merge algebra's
    postconditions, not a restatement (a chaining bug shows up as
    nonzero n_noncontiguous here even when row values match)."""
    from ..operators.cdc import scd2_apply
    from ..operators.winners import top1_per_key
    from .cdc import _split

    current, updates = _split(spark, sf_dir)
    ded_cur = top1_per_key(
        current, ["user_id", "event_type", "ts"], [F.desc("event_id")]
    )
    ded_upd = top1_per_key(
        updates, ["user_id", "event_type", "ts"], [F.desc("event_id")]
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("valid_from")
    )
    # same derived-chain checkpoints as scd2_apply_q: the apply consumes
    # history 3x and updates 2x, so the cut runs the dedup + lead window
    # once instead of per consumer
    history = ded_cur.withColumnRenamed("ts", "valid_from").withColumn(
        "valid_to", F.lead("valid_from").over(w)
    ).localCheckpoint(eager=False)
    applied = scd2_apply(history, ded_upd, ["user_id", "event_type"], "ts")
    chain = applied.select(
        "user_id",
        "event_type",
        "valid_from",
        "valid_to",
        F.lead("valid_from")
        .over(
            Window.partitionBy("user_id", "event_type").orderBy(
                F.asc("valid_from")
            )
        )
        .alias("next_from"),
    )
    return chain.agg(
        F.countDistinct("user_id", "event_type").cast("long").alias(
            "n_chains"
        ),
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.sum(
            F.when(
                F.col("valid_to").isNotNull()
                & (F.col("valid_to") <= F.col("valid_from")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_inverted"),
        F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_open_rows"),
        F.sum(
            F.when(
                F.col("next_from").isNotNull()
                & (F.col("valid_to") != F.col("next_from")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_noncontiguous"),
    )


# ---------------------------------------------------------------------------
# 30. Benjamini-Hochberg FDR control over hourly anomaly tests
# ---------------------------------------------------------------------------


@query(
    "hourly_anomaly_fdr_bh",
    oracle="""
    WITH grid AS (
        SELECT t.event_type, h.h
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(range(24)) AS h) h
    ),
    cnt AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, h
    ),
    cells AS (
        SELECT g.event_type, g.h, COALESCE(c.n, 0) AS n
        FROM grid g LEFT JOIN cnt c
          ON c.event_type = g.event_type AND c.h = g.h
    ),
    stats AS (
        -- exact integer moments, never engine-native avg/stddev_samp
        -- (DETERMINISM.md): the 24 cell counts are integers, so the
        -- products-of-sums form is bit-mirrored across engines
        SELECT event_type,
               CAST(sum(n) AS DOUBLE) / count(*) AS mu,
               sqrt(CAST(count(*) * sum(CAST(n AS HUGEINT) * n)
                         - CAST(sum(n) AS HUGEINT) * sum(n) AS DOUBLE)
                    / (count(*) * (count(*) - 1.0))) AS sd
        FROM cells GROUP BY event_type
    ),
    pv AS (
        SELECT c.event_type, c.h,
               round(exp(-((c.n - s.mu) / s.sd) * ((c.n - s.mu) / s.sd)
                         / 2.0), 6) + 0.0 AS p
        FROM cells c JOIN stats s USING (event_type)
    ),
    ranked AS (
        SELECT p,
               CAST(row_number() OVER (
                   ORDER BY p ASC, event_type ASC, h ASC) AS BIGINT) AS i,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM pv
    ),
    k AS (
        SELECT COALESCE(max(CASE WHEN p * m <= i * 0.2 THEN i END), 0)
                   AS k_sig,
               max(m) AS m_tests
        FROM ranked
    )
    SELECT CAST(m_tests AS BIGINT) AS m_tests,
           CAST(k_sig AS BIGINT) AS k_significant,
           round(COALESCE(
               (SELECT max(p) FROM ranked r, k WHERE r.i <= k.k_sig),
               0.0), 6) AS p_threshold
    FROM k
    """,
)
def hourly_anomaly_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery control over the 120
    (type x hour) anomaly tests: z-score every cell count against its
    type's across-hours mean/std, convert to the shared pseudo-p
    exp(-z^2/2) (monotone in |z|; both engines compute the identical
    formula, no erf needed), sort ascending and keep the largest rank i
    with p_i <= (i/m) * 0.2 — multiple-testing correction, which no
    anomaly query applies (each tests in isolation and inflates
    discoveries 120-fold). The BH step function is one ordered window
    over the 120-row test table."""
    e = _load(spark, sf_dir, "events")
    spark_ = e.sparkSession
    # ONE fact pass: the (type, hour) counts are the only events scan;
    # the type dimension derives from the 120-row aggregate (every
    # event has an hour, so the distinct-over-counts set is identical
    # to a second distinct-over-fact scan), and the zero-filled grid is
    # checkpointed once for its two consumers (moments + z-scores)
    cnt = (
        e.groupBy("event_type", F.hour("ts").cast("long").alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    types = cnt.select("event_type").distinct()
    hours = spark_.range(24).select(F.col("id").alias("h"))
    grid = types.crossJoin(hours)
    cells = (
        grid.join(cnt, ["event_type", "h"], "left")
        .select("event_type", "h", F.coalesce("n", F.lit(0)).alias("n"))
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    nn = F.count(F.lit(1))
    s1 = F.sum(F.col("n").cast(dec))
    s2 = F.sum((F.col("n").cast(dec) * F.col("n")).cast(dec))
    stats = cells.groupBy("event_type").agg(
        (s1.cast("double") / nn).alias("mu"),
        F.sqrt(
            (nn.cast(dec) * s2 - s1.cast(dec) * s1).cast("double")
            / (nn * (nn - F.lit(1.0)))
        ).alias("sd"),
    )
    z = (F.col("n") - F.col("mu")) / F.col("sd")
    # 120-row test table, checkpointed: three consumers (the m count,
    # the BH step-function rank scan, and the threshold lookup)
    pv = (
        cells.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "h",
            (F.round(F.exp(-z * z / 2.0), 6) + F.lit(0.0)).alias("p"),
        )
        .localCheckpoint(eager=False)
    )
    wr = Window.orderBy(F.asc("p"), F.asc("event_type"), F.asc("h"))
    m = pv.agg(F.count(F.lit(1)).cast("long").alias("m")).first()["m"]
    ranked = pv.select(
        "p", F.row_number().over(wr).cast("long").alias("i")
    )
    k = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("p") * m <= F.col("i") * 0.2, F.col("i"))),
            F.lit(0),
        )
        .cast("long")
        .alias("k_sig")
    )
    thr = (
        ranked.crossJoin(F.broadcast(k))
        .where(F.col("i") <= F.col("k_sig"))
        .agg(F.max("p").alias("pmax"))
    )
    return (
        k.crossJoin(thr)
        .select(
            F.lit(m).cast("long").alias("m_tests"),
            F.col("k_sig").alias("k_significant"),
            F.round(F.coalesce(F.col("pmax"), F.lit(0.0)), 6).alias(
                "p_threshold"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 31. pinball-loss evaluation of split-trained quantile forecasts
# ---------------------------------------------------------------------------

_PINBALL_QS = (0.1, 0.5, 0.9)


def _pinball_oracle() -> str:
    branches = "\nUNION ALL\n".join(
        f"""
        SELECT e.event_type, CAST({q} AS DOUBLE) AS q_level,
               round(avg(greatest({q} * (e.value - t.qhat),
                                  ({q} - 1) * (e.value - t.qhat))), 6)
                   AS pinball_loss,
               CAST(count(*) AS BIGINT) AS n_eval
        FROM events e
        JOIN (
            SELECT event_type,
                   round(quantile_cont(value, {q}), 6) + 0.0 AS qhat
            FROM events WHERE event_id % 2 = 0 GROUP BY event_type
        ) t USING (event_type)
        WHERE e.event_id % 2 = 1
        GROUP BY e.event_type"""
        for q in _PINBALL_QS
    )
    return branches


@query("pinball_loss_quantiles", oracle=_pinball_oracle())
def pinball_loss_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss evaluation: train per-type value
    quantiles q in {0.1, 0.5, 0.9} on the even-event_id half, score
    them on the odd half with the asymmetric pinball loss — the proper
    scoring rule for quantile forecasts (the quantile queries REPORT
    quantiles; nothing evaluates them out-of-sample, which is the
    train/eval discipline a forecasting pipeline certifies). Trained
    cut points pin at 6 decimals; the split is the deterministic
    event_id parity used by the split family."""
    e = _load(spark, sf_dir, "events")
    train = e.where(F.col("event_id") % 2 == 0)
    ev = e.where(F.col("event_id") % 2 == 1)
    # ONE train pass (all three quantiles in a single aggregate) and
    # ONE eval pass (per-q losses as sibling aggregates, exploded to
    # rows after) — the previous per-q union re-scanned the fact six
    # times for identical row sets
    qhats = train.groupBy("event_type").agg(
        *[
            (F.round(F.expr(f"percentile(value, {q})"), 6) + F.lit(0.0))
            .alias(f"qhat_{i}")
            for i, q in enumerate(_PINBALL_QS)
        ]
    )
    loss_aggs = []
    for i, q in enumerate(_PINBALL_QS):
        err = F.col("value") - F.col(f"qhat_{i}")
        loss_aggs.append(
            F.round(F.avg(F.greatest(q * err, (q - 1) * err)), 6).alias(
                f"loss_{i}"
            )
        )
    per_type = (
        ev.join(F.broadcast(qhats), "event_type")
        .groupBy("event_type")
        .agg(
            *loss_aggs,
            F.count(F.lit(1)).cast("long").alias("n_eval"),
        )
    )
    return per_type.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q_level"),
                        F.col(f"loss_{i}").alias("pinball_loss"),
                    )
                    for i, q in enumerate(_PINBALL_QS)
                ]
            )
        ).alias("s"),
        "n_eval",
    ).select("event_type", "s.q_level", "s.pinball_loss", "n_eval")


# ---------------------------------------------------------------------------
# 32. decision-stump Gini gain over value thresholds
# ---------------------------------------------------------------------------

_GINI_THRESHOLDS = (5, 10, 20, 40, 80, 160, 320)


def _gini_oracle() -> str:
    branches = "\nUNION ALL\n".join(
        f"""
        SELECT CAST({t} AS BIGINT) AS threshold,
               CAST(sum(CASE WHEN value <= {t} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_left,
               round(
                 (1 - power(sum(y) * 1.0 / count(*), 2)
                    - power(1 - sum(y) * 1.0 / count(*), 2))
                 - (sum(CASE WHEN value <= {t} THEN 1 ELSE 0 END) * 1.0
                    / count(*))
                   * (1 - power(sum(CASE WHEN value <= {t} THEN y ELSE 0 END)
                                * 1.0
                                / greatest(sum(CASE WHEN value <= {t}
                                               THEN 1 ELSE 0 END), 1), 2)
                        - power(1 - sum(CASE WHEN value <= {t}
                                        THEN y ELSE 0 END) * 1.0
                                / greatest(sum(CASE WHEN value <= {t}
                                               THEN 1 ELSE 0 END), 1), 2))
                 - (sum(CASE WHEN value > {t} THEN 1 ELSE 0 END) * 1.0
                    / count(*))
                   * (1 - power(sum(CASE WHEN value > {t} THEN y ELSE 0 END)
                                * 1.0
                                / greatest(sum(CASE WHEN value > {t}
                                               THEN 1 ELSE 0 END), 1), 2)
                        - power(1 - sum(CASE WHEN value > {t}
                                        THEN y ELSE 0 END) * 1.0
                                / greatest(sum(CASE WHEN value > {t}
                                               THEN 1 ELSE 0 END), 1), 2)),
                 6) AS gini_gain
        FROM (SELECT value,
                     CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
              FROM events)"""
        for t in _GINI_THRESHOLDS
    )
    return branches


@query("value_split_gini_gain", oracle=_gini_oracle())
def value_split_gini_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump feature audit: Gini impurity gain of splitting
    'is this an error event' on value <= t for a fixed threshold grid —
    the split criterion every tree learner greedily maximizes,
    certified as data (a near-zero gain everywhere means value carries
    no signal for the error label; the correlation family only measures
    LINEAR association). Exact integer cell counts per threshold; each
    threshold is one conditional aggregate over the same single fact
    pass."""
    e = _load(spark, sf_dir, "events")
    base = e.select(
        "value",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("y"),
    )

    def gini(p):
        return 1 - F.pow(p, 2) - F.pow(1 - p, 2)

    aggs = []
    for t in _GINI_THRESHOLDS:
        left = F.when(F.col("value") <= t, 1).otherwise(0)
        nl = F.sum(left)
        nyl = F.sum(F.when(F.col("value") <= t, F.col("y")).otherwise(0))
        nr = F.sum(1 - left)
        nyr = F.sum(F.when(F.col("value") > t, F.col("y")).otherwise(0))
        n = F.count(F.lit(1))
        ny = F.sum("y")
        parent = gini(ny * 1.0 / n)
        gl = gini(nyl * 1.0 / F.greatest(nl, F.lit(1)))
        gr = gini(nyr * 1.0 / F.greatest(nr, F.lit(1)))
        gain = parent - (nl * 1.0 / n) * gl - (nr * 1.0 / n) * gr
        aggs.append(
            F.struct(
                F.lit(t).cast("long").alias("threshold"),
                nl.cast("long").alias("n_left"),
                F.round(gain, 6).alias("gini_gain"),
            ).alias(f"_t{t}")
        )
    row = base.agg(*aggs)
    return row.select(
        F.explode(
            F.array(*[f"_t{t}" for t in _GINI_THRESHOLDS])
        ).alias("s")
    ).select("s.threshold", "s.n_left", "s.gini_gain")


# ---------------------------------------------------------------------------
# 33. mutual information between event type and hour
# ---------------------------------------------------------------------------


@query(
    "type_hour_mutual_information",
    oracle="""
    WITH joint AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, h
    ),
    marg_t AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS n_t
        FROM joint GROUP BY event_type
    ),
    marg_h AS (SELECT h, CAST(sum(n) AS BIGINT) AS n_h FROM joint GROUP BY h),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM joint)
    SELECT CAST(t.n_all AS BIGINT) AS n_events,
           round(sum((j.n * 1.0 / t.n_all)
                     * ln(j.n * 1.0 * t.n_all / (mt.n_t * 1.0 * mh.n_h))), 6)
               AS mutual_information,
           round(-sum_t.h_t, 6) AS h_type,
           round(-sum_h.h_h, 6) AS h_hour
    FROM joint j
    JOIN marg_t mt USING (event_type)
    JOIN marg_h mh USING (h)
    CROSS JOIN tot t
    CROSS JOIN (
        SELECT sum((mt2.n_t * 1.0 / t2.n_all)
                   * ln(mt2.n_t * 1.0 / t2.n_all)) AS h_t
        FROM marg_t mt2 CROSS JOIN tot t2
    ) sum_t
    CROSS JOIN (
        SELECT sum((mh2.n_h * 1.0 / t2.n_all)
                   * ln(mh2.n_h * 1.0 / t2.n_all)) AS h_h
        FROM marg_h mh2 CROSS JOIN tot t2
    ) sum_h
    GROUP BY t.n_all, sum_t.h_t, sum_h.h_h
    """,
)
def type_hour_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information I(type; hour) in nats, with both marginal
    entropies — HOW MUCH knowing the hour tells you about the event
    type, the information-theoretic dependence measure (the lift matrix
    is pairwise ratios; chi2 is a test statistic; MI is the quantity a
    feature-selection pass ranks on). Everything derives from the exact
    5x24 joint count table; one fact pass."""
    e = _load(spark, sf_dir, "events")
    # 5x24 joint table with four direct consumers (both marginals, the
    # total, the MI join): checkpoint so the fact pass runs once
    joint = e.groupBy(
        "event_type", F.hour("ts").cast("long").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n")).localCheckpoint(
        eager=False
    )
    marg_t = joint.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_t")
    )
    marg_h = joint.groupBy("h").agg(F.sum("n").cast("long").alias("n_h"))
    tot = joint.agg(F.sum("n").cast("long").alias("n_all"))
    j = (
        joint.join(F.broadcast(marg_t), "event_type")
        .join(F.broadcast(marg_h), "h")
        .crossJoin(F.broadcast(tot))
    )
    mi = F.sum(
        (F.col("n") * 1.0 / F.col("n_all"))
        * F.log(
            F.col("n")
            * 1.0
            * F.col("n_all")
            / (F.col("n_t") * 1.0 * F.col("n_h"))
        )
    )
    h_t = (
        marg_t.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("n_t") * 1.0 / F.col("n_all"))
                * F.log(F.col("n_t") * 1.0 / F.col("n_all"))
            ).alias("h_t")
        )
    )
    h_h = (
        marg_h.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("n_h") * 1.0 / F.col("n_all"))
                * F.log(F.col("n_h") * 1.0 / F.col("n_all"))
            ).alias("h_h")
        )
    )
    return (
        j.groupBy("n_all")
        .agg(F.round(mi, 6).alias("mutual_information"))
        .crossJoin(h_t)
        .crossJoin(h_h)
        .select(
            F.col("n_all").alias("n_events"),
            "mutual_information",
            F.round(-F.col("h_t"), 6).alias("h_type"),
            F.round(-F.col("h_h"), 6).alias("h_hour"),
        )
    )


# ---------------------------------------------------------------------------
# 34. Simpson's-paradox sign-flip audit
# ---------------------------------------------------------------------------


@query(
    "simpson_paradox_audit",
    oracle="""
    WITH li AS (
        SELECT p.p_brand AS brand, l.l_discount AS x, l.l_quantity AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    overall AS (
        SELECT CAST(round(corr(x, y) * 1e6) AS BIGINT) AS c6 FROM li
    ),
    per_brand AS (
        SELECT brand, CAST(round(corr(x, y) * 1e6) AS BIGINT) AS c6
        FROM li GROUP BY brand HAVING count(*) >= 2
    )
    SELECT round(o.c6 / 1e6, 6) AS overall_corr,
           CAST(count(*) AS BIGINT) AS n_brands,
           CAST(sum(CASE WHEN b.c6 * o.c6 < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sign_flips,
           round(avg(b.c6) / 1e6, 6) AS avg_brand_corr
    FROM per_brand b CROSS JOIN overall o
    GROUP BY o.c6
    """,
)
def simpson_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit on discount vs quantity: the aggregate
    correlation against the per-brand correlations, counting brands
    whose association REVERSES sign — the confounding check every
    observational metric needs before anyone reads the pooled number
    (the regression family fits pooled slopes only). Correlations pin
    as integer micro-units so sign products and the cross-brand mean
    are exact on both engines."""
    li = _load(spark, sf_dir, "lineitem")
    p = _load(spark, sf_dir, "part")
    base = li.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        li["l_partkey"] == p["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        F.col("l_discount").alias("x"),
        F.col("l_quantity").alias("y"),
    )
    overall = base.agg(
        F.round(F.corr("x", "y") * 1e6).cast("long").alias("oc6")
    )
    per_brand = (
        base.groupBy("brand")
        .agg(
            F.round(F.corr("x", "y") * 1e6).cast("long").alias("c6"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") >= 2)
    )
    return (
        per_brand.crossJoin(F.broadcast(overall))
        .groupBy("oc6")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_brands"),
            F.sum(
                F.when(F.col("c6") * F.col("oc6") < 0, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_sign_flips"),
            F.round(F.avg("c6") / 1e6, 6).alias("avg_brand_corr"),
        )
        .select(
            F.round(F.col("oc6") / 1e6, 6).alias("overall_corr"),
            "n_brands",
            "n_sign_flips",
            "avg_brand_corr",
        )
    )


# ---------------------------------------------------------------------------
# 35. TPC-H Q19 shape: disjunctive bracket predicates
# ---------------------------------------------------------------------------


@query(
    "disjunctive_bracket_revenue",
    oracle="""
    WITH labeled AS (
        SELECT CASE
            WHEN p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
                 AND l.l_quantity BETWEEN 1 AND 11 THEN 'bracket_small'
            WHEN p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 20
                 AND l.l_quantity BETWEEN 10 AND 20 THEN 'bracket_medium'
            WHEN p.p_size BETWEEN 1 AND 30
                 AND l.l_quantity BETWEEN 20 AND 30 THEN 'bracket_large'
            END AS bracket,
            CAST(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (10000 - CAST(round(l.l_discount * 10000) AS BIGINT))
                 AS DECIMAL(38,0)) AS rev_c
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT bracket,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(rev_c) AS DOUBLE) / 1000000.0, 2) AS revenue
    FROM labeled WHERE bracket IS NOT NULL
    GROUP BY bracket
    """,
)
def disjunctive_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19's signature shape: revenue under an OR-of-ANDs bracket
    predicate (brand x size-band x quantity-band), the classic test of
    disjunctive predicate handling — a planner that can't distribute
    the OR into the join scans everything; Catalyst pushes the common
    `p_size >= 1` conjunct and prunes with the rest after the broadcast
    join, exactly what Q19 was designed to exercise. Exact integer
    cents x basis points, first-match bracket labeling on both
    engines."""
    li = _load(spark, sf_dir, "lineitem")
    p = _load(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(p.select("p_partkey", "p_brand", "p_size")),
        li["l_partkey"] == p["p_partkey"],
    )
    bracket = (
        F.when(
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 11),
            "bracket_small",
        )
        .when(
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20),
            "bracket_medium",
        )
        .when(
            F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(20, 30),
            "bracket_large",
        )
    )
    rev_c = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (10000 - F.round(F.col("l_discount") * 10000).cast("long"))
    ).cast("decimal(38,0)")
    return (
        j.select(bracket.alias("bracket"), rev_c.alias("rev_c"))
        .where(F.col("bracket").isNotNull())
        .groupBy("bracket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(F.sum("rev_c").cast("double") / 1000000.0, 2).alias(
                "revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 36. macro-F1 + multiclass MCC over the nearest-centroid confusion
# ---------------------------------------------------------------------------


def _f1_mcc_oracle() -> str:
    return f"""
    WITH {_CENTROID_CTE.strip()},
    win AS (
        SELECT vec_id, label AS true_label, clabel AS predicted_label,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY round(d, 6) ASC, clabel ASC
               ) AS rn
        FROM dist
    ),
    conf AS (
        SELECT true_label, predicted_label, CAST(count(*) AS BIGINT) AS n
        FROM win WHERE rn = 1 GROUP BY true_label, predicted_label
    ),
    labels AS (
        SELECT DISTINCT label AS l FROM embeddings
    ),
    per_label AS (
        SELECT l.l,
               COALESCE((SELECT sum(n) FROM conf
                         WHERE true_label = l.l
                           AND predicted_label = l.l), 0) AS tp,
               COALESCE((SELECT sum(n) FROM conf
                         WHERE predicted_label = l.l
                           AND true_label <> l.l), 0) AS fp,
               COALESCE((SELECT sum(n) FROM conf
                         WHERE true_label = l.l
                           AND predicted_label <> l.l), 0) AS fn
        FROM labels l
    ),
    macro AS (
        SELECT avg(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                        ELSE 2.0 * tp / (2 * tp + fp + fn) END) AS macro_f1
        FROM per_label
    ),
    sums AS (
        SELECT (SELECT sum(n) FROM conf WHERE true_label = predicted_label)
                   AS c,
               (SELECT sum(n) FROM conf) AS s,
               (SELECT sum(pk * tk) FROM (
                    SELECT p.pk, t.tk FROM (
                        SELECT predicted_label, sum(n) AS pk
                        FROM conf GROUP BY predicted_label) p
                    JOIN (
                        SELECT true_label, sum(n) AS tk
                        FROM conf GROUP BY true_label) t
                      ON p.predicted_label = t.true_label)) AS spt,
               (SELECT sum(pk * pk) FROM (
                    SELECT sum(n) AS pk FROM conf GROUP BY predicted_label))
                   AS sp2,
               (SELECT sum(tk * tk) FROM (
                    SELECT sum(n) AS tk FROM conf GROUP BY true_label)) AS st2
    )
    SELECT round(m.macro_f1, 6) AS macro_f1,
           round((CAST(c AS DOUBLE) * s - spt)
                 / sqrt((CAST(s AS DOUBLE) * s - sp2)
                        * (CAST(s AS DOUBLE) * s - st2)), 6) AS mcc
    FROM macro m CROSS JOIN sums
    """


@query("nearest_centroid_f1_mcc", oracle=_f1_mcc_oracle())
def nearest_centroid_f1_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-F1 and multiclass Matthews correlation (Gorodkin's R_K)
    of the nearest-centroid classifier — the scalar quality metrics a
    model gate thresholds on, derived from the same confusion counts
    the certified confusion-matrix query produces (which reports the
    matrix; a gate needs the summary). Distances tie-break on the
    6-decimal-rounded d2 so the argmin is engine-identical; everything
    downstream is exact integer confusion algebra."""
    cent = _label_centroid_arrays(spark, sf_dir)
    dist = _vec_centroid_distances(spark, sf_dir, cent)
    w = Window.partitionBy("vec_id").orderBy(
        F.asc(F.round(F.col("d"), 6)), F.asc("clabel")
    )
    conf = (
        dist.select(
            "vec_id",
            F.col("label").alias("true_label"),
            F.col("clabel").alias("predicted_label"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .groupBy("true_label", "predicted_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # labels^2-bounded confusion table with SEVEN consumers (tp/fp/
        # fn/c/s/pk/tk): checkpoint once so the centroid-distance
        # subtree (the fact work) runs exactly once — the audit showed
        # it re-evaluated per consumer (19 scans)
        .localCheckpoint(eager=False)
    )
    # every vector appears in conf under its true label, so the label
    # dimension derives from the checkpointed aggregate — identical to
    # (and cheaper than) a second distinct-over-embeddings scan
    labels = conf.select(F.col("true_label").alias("l")).distinct()
    tp = (
        conf.where(F.col("true_label") == F.col("predicted_label"))
        .groupBy(F.col("true_label").alias("l"))
        .agg(F.sum("n").alias("tp"))
    )
    fp = (
        conf.where(F.col("true_label") != F.col("predicted_label"))
        .groupBy(F.col("predicted_label").alias("l"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        conf.where(F.col("true_label") != F.col("predicted_label"))
        .groupBy(F.col("true_label").alias("l"))
        .agg(F.sum("n").alias("fn"))
    )
    per_label = (
        labels.join(tp, "l", "left")
        .join(fp, "l", "left")
        .join(fn, "l", "left")
        .select(
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("fp", F.lit(0)).alias("fp"),
            F.coalesce("fn", F.lit(0)).alias("fn"),
        )
    )
    macro = per_label.agg(
        F.avg(
            F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, 0.0)
            .otherwise(
                2.0
                * F.col("tp")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
            )
        ).alias("macro_f1")
    )
    c = conf.where(F.col("true_label") == F.col("predicted_label")).agg(
        F.sum("n").alias("c")
    )
    s = conf.agg(F.sum("n").alias("s"))
    pk = conf.groupBy("predicted_label").agg(F.sum("n").alias("pk"))
    tk = conf.groupBy("true_label").agg(F.sum("n").alias("tk"))
    spt = (
        pk.join(tk, pk["predicted_label"] == tk["true_label"])
        .agg(F.sum(F.col("pk") * F.col("tk")).alias("spt"))
    )
    sp2 = pk.agg(F.sum(F.col("pk") * F.col("pk")).alias("sp2"))
    st2 = tk.agg(F.sum(F.col("tk") * F.col("tk")).alias("st2"))
    sums = (
        c.crossJoin(s).crossJoin(spt).crossJoin(sp2).crossJoin(st2)
    )
    mcc = (F.col("c").cast("double") * F.col("s") - F.col("spt")) / F.sqrt(
        (F.col("s").cast("double") * F.col("s") - F.col("sp2"))
        * (F.col("s").cast("double") * F.col("s") - F.col("st2"))
    )
    return macro.crossJoin(sums).select(
        F.round("macro_f1", 6).alias("macro_f1"),
        F.round(mcc, 6).alias("mcc"),
    )
