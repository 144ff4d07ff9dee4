"""Round-9 analytics extensions: rank statistics, control charts,
information-theoretic corpus/source measures, 2-hop graph reach, and a
certified stream-stream join.

Reference lineage: extends the robust-stats family (VERDICT r8 §2.4) and
the graph analytics the reference computes on collected networkx graphs
(NetworkBuilder.py) as distributed plans; the rank tests are the
distribution-free complements of the certified Welch t / KS pair tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..operators.winners import global_row_number
from ..session import prep
from ..utils import drain_available_now
from . import query


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    prep(spark)
    return catalog.load(spark, sf_dir, table)


# ---------------------------------------------------------------------------
# Rank statistics (distribution-free complements of Welch t / KS)
# ---------------------------------------------------------------------------


@query(
    "balance_spend_spearman",
    oracle="""
    WITH spend AS (
        SELECT c.c_custkey,
               c.c_acctbal,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS spend_cents
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ),
    ranked AS (
        SELECT CAST(row_number() OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT)
                   AS r_bal,
               CAST(row_number() OVER (ORDER BY spend_cents, c_custkey) AS BIGINT)
                   AS r_spend
        FROM spend
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           round(1.0 - 6.0 * CAST(sum((r_bal - r_spend) * (r_bal - r_spend))
                                  AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE)
                    * (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)
                       - 1.0)),
                 6) AS spearman_rho
    FROM ranked
    """,
)
def balance_spend_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between account balance and lifetime
    spend — the robust, monotonic complement of the certified Pearson
    `balance_spend_correlation` (outlier spend can't drag it). Ranks are
    row_number over the total orders (value, custkey), so they are exact
    integer permutations and the closed form
    rho = 1 - 6*sum(d^2)/(n(n^2-1)) applies with an ALL-INTEGER d^2 sum:
    the only float op is the final division, so both engines agree
    bit-for-bit before rounding. Plan: one join+groupBy shuffle to build
    per-customer spend, then two DISTRIBUTED global ranks
    (operators.winners.global_row_number: range-partitioned sort +
    broadcast partition offsets — no SinglePartition exchange even at
    customer cardinality, the r9-verdict fix) and a scalar fold; ranks
    are value-identical to the single-partition window, so the oracle is
    unchanged."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("spend_cents")
        )
    )
    ranked = global_row_number(
        global_row_number(spend, ["c_acctbal", "c_custkey"], "r_bal"),
        ["spend_cents", "c_custkey"],
        "r_spend",
    ).select("r_bal", "r_spend")
    d2 = (F.col("r_bal") - F.col("r_spend")) * (
        F.col("r_bal") - F.col("r_spend")
    )
    n = F.count(F.lit(1)).cast("double")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(
            F.lit(1.0)
            - F.lit(6.0) * F.sum(d2).cast("double") / (n * (n * n - F.lit(1.0))),
            6,
        ).alias("spearman_rho"),
    )


@query(
    "priority_price_mannwhitney",
    oracle="""
    WITH both_g AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    ranked AS (
        SELECT g,
               CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                    AS BIGINT) AS rk
        FROM both_g
    ),
    stats AS (
        SELECT CAST(sum(CASE WHEN g = 1 THEN rk ELSE 0 END) AS BIGINT) AS r1,
               CAST(sum(g) AS BIGINT) AS n1,
               CAST(sum(1 - g) AS BIGINT) AS n2
        FROM ranked
    )
    SELECT n1, n2,
           CAST(r1 - n1 * (n1 + 1) / 2 AS BIGINT) AS u_statistic,
           round((CAST(r1 - n1 * (n1 + 1) / 2 AS DOUBLE)
                  - CAST(n1 * n2 AS DOUBLE) / 2.0)
                 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * CAST(n1 + n2 + 1 AS DOUBLE) / 12.0),
                 6) AS z_score
    FROM stats
    """,
)
def priority_price_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between URGENT and LOW order values — the
    distribution-free two-sample location test next to the certified
    Welch t (`event_value_welch_test`). Ranks come from row_number over
    the unique total order (price, orderkey), so U and the rank sum are
    EXACT integers on both engines (classic tie-averaged ranks would put
    a float mid-rank on every tie; the unique tie-break keeps the whole
    pipeline integral until the final z division — the repo's tie-break
    discipline doing statistical work). Plan: one filter, then the
    distributed partition-offset rank
    (operators.winners.global_row_number) over the two-priority slice —
    no SinglePartition sort even when the slice is fact-sized (the
    r9-verdict fix; rank values identical, oracle unchanged). Normal
    approximation z uses the no-ties variance n1*n2*(n+1)/12 (exact here
    because ranks are unique by construction)."""
    o = _load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    g = o.select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("g"),
    )
    ranked = global_row_number(
        g, ["o_totalprice", "o_orderkey"], "rk"
    ).select("g", "rk")
    stats = ranked.agg(
        F.sum(F.when(F.col("g") == 1, F.col("rk")).otherwise(F.lit(0)))
        .cast("long")
        .alias("r1"),
        F.sum("g").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("g")).cast("long").alias("n2"),
    )
    u = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    return stats.select(
        "n1",
        "n2",
        u.cast("long").alias("u_statistic"),
        F.round(
            (u.cast("double") - n1d * n2d / F.lit(2.0))
            / F.sqrt(n1d * n2d * (n1d + n2d + F.lit(1.0)) / F.lit(12.0)),
            6,
        ).alias("z_score"),
    )


@query(
    "mktsegment_nation_chi2",
    oracle="""
    WITH obs AS (
        SELECT c_mktsegment AS seg, c_nationkey AS nat,
               CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY seg, nat
    ),
    segs AS (SELECT seg, CAST(sum(n) AS BIGINT) AS seg_tot FROM obs GROUP BY seg),
    nats AS (SELECT nat, CAST(sum(n) AS BIGINT) AS nat_tot FROM obs GROUP BY nat),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM obs),
    grid AS (
        SELECT s.seg, s.seg_tot, a.nat, a.nat_tot, t.n_tot,
               coalesce(o.n, 0) AS n
        FROM segs s CROSS JOIN nats a CROSS JOIN tot t
        LEFT JOIN obs o ON o.seg = s.seg AND o.nat = a.nat
    )
    SELECT CAST(min(n_tot) AS BIGINT) AS n_customers,
           CAST((count(DISTINCT seg) - 1) * (count(DISTINCT nat) - 1)
                AS BIGINT) AS dof,
           round(sum(
               pow(CAST(n AS DOUBLE)
                   - CAST(seg_tot AS DOUBLE) * CAST(nat_tot AS DOUBLE)
                     / CAST(n_tot AS DOUBLE), 2)
               / (CAST(seg_tot AS DOUBLE) * CAST(nat_tot AS DOUBLE)
                  / CAST(n_tot AS DOUBLE))
           ), 6) AS chi2
    FROM grid
    """,
)
def mktsegment_nation_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test of market segment x nation — the
    categorical-association member of the stats family (Welch/KS/MW cover
    numeric shifts; this covers contingency structure). The grid is the
    FULL 5x25 cross product with zero-fill, because chi2's expected
    counts are positive for empty observed cells and dropping them biases
    the statistic — the same zero-fill contract as the certified
    composite-key join J5. Plan: one fact-sized groupBy to the 125-row
    contingency table, then all margins, the cross join, and the fold
    happen at category cardinality (constant, never data-sized); every
    count is an exact integer and the only floats are the 125 expected
    values and the final sum."""
    c = _load(spark, sf_dir, "customer")
    # obs feeds four consumers (both margins, the total, the grid join);
    # without a cut each re-scans the customer fact. 125 rows — always
    # cheaper to materialize than to re-aggregate (plan-audit lead).
    obs = (
        c.groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    segs = obs.groupBy("seg").agg(F.sum("n").cast("long").alias("seg_tot"))
    nats = obs.groupBy("nat").agg(F.sum("n").cast("long").alias("nat_tot"))
    tot = obs.agg(F.sum("n").cast("long").alias("n_tot"))
    grid = (
        segs.crossJoin(nats)
        .crossJoin(F.broadcast(tot))
        .join(obs, ["seg", "nat"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    )
    exp = (
        F.col("seg_tot").cast("double")
        * F.col("nat_tot").cast("double")
        / F.col("n_tot").cast("double")
    )
    return grid.agg(
        F.min("n_tot").cast("long").alias("n_customers"),
        (
            (F.countDistinct("seg") - 1) * (F.countDistinct("nat") - 1)
        )
        .cast("long")
        .alias("dof"),
        F.round(
            F.sum(F.pow(F.col("n").cast("double") - exp, F.lit(2)) / exp), 6
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Control charts / seasonality
# ---------------------------------------------------------------------------


@query(
    "value_ewma_control",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, d
    ),
    idx AS (
        SELECT event_type, d,
               CAST(s1 AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS day_mean,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY d
               ) AS BIGINT) AS i
        FROM daily
    ),
    sig AS (
        SELECT event_type,
               sqrt(greatest(
                   sum(day_mean * day_mean) / count(*)
                   - pow(sum(day_mean) / count(*), 2), 0.0)) AS sigma
        FROM idx GROUP BY event_type
    ),
    ew AS (
        SELECT t.event_type, t.i, t.day_mean,
               sum(k.day_mean * pow(0.8, t.i - k.i))
                   / sum(pow(0.8, t.i - k.i)) AS ewma
        FROM idx t JOIN idx k
          ON k.event_type = t.event_type
         AND k.i >= t.i - 20 AND k.i <= t.i - 1
        GROUP BY t.event_type, t.i, t.day_mean
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(max(abs(e.day_mean - e.ewma)), 6) AS max_abs_dev,
           CAST(sum(CASE WHEN round(abs(e.day_mean - e.ewma), 6)
                              > round(2.0 * s.sigma, 6)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM ew e JOIN sig s ON s.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def value_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over daily mean event values (alpha=0.2, lag-20
    truncated window, prior-days-only so the tested day never smooths its
    own alarm) — the drift detector next to the certified CUSUM
    (`value_cusum_range`): CUSUM finds sustained level shifts, EWMA flags
    single out-of-band days with exponentially-forgotten history. The
    exact recursive EWMA is not window-expressible without recursion;
    the truncated form is a 20-row weighted window written as a bounded
    range self-join on day INDEX (row_number per type), which both
    engines evaluate identically; weights pow(0.8, lag) have bounded
    integer exponents 1..20 so no magnitude blowup. Determinism: day
    means are exact integer cents ratios; the weighted sum spans <=20
    terms; the flag compares 6dp-rounded values on both sides. Plan: one
    fact-sized groupBy to (type, day), then everything is
    days-per-type-sized; the self-join is a bounded band join. At 100 TB
    the daily rollup is the only fact pass — the chart itself is
    calendar-sized."""
    e = _load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("s1"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # idx feeds three consumers (sigma, both band-join sides); the cut
    # keeps the fact-sized daily rollup single-pass (plan-audit lead) —
    # idx is days x types rows, calendar-bounded at any corpus size.
    idx = daily.select(
        "event_type",
        (
            F.col("s1").cast("double") / F.lit(100.0) / F.col("n").cast("double")
        ).alias("day_mean"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .cast("long")
        .alias("i"),
    ).localCheckpoint(eager=False)
    sig = idx.groupBy("event_type").agg(
        F.sqrt(
            F.greatest(
                F.sum(F.col("day_mean") * F.col("day_mean"))
                / F.count(F.lit(1))
                - F.pow(F.sum("day_mean") / F.count(F.lit(1)), F.lit(2)),
                F.lit(0.0),
            )
        ).alias("sigma")
    )
    t = idx.alias("t")
    k = idx.alias("k")
    ew = (
        t.join(
            k,
            (F.col("k.event_type") == F.col("t.event_type"))
            & (F.col("k.i") >= F.col("t.i") - 20)
            & (F.col("k.i") <= F.col("t.i") - 1),
        )
        .groupBy("t.event_type", "t.i", "t.day_mean")
        .agg(
            (
                F.sum(F.col("k.day_mean") * F.pow(F.lit(0.8), F.col("t.i") - F.col("k.i")))
                / F.sum(F.pow(F.lit(0.8), F.col("t.i") - F.col("k.i")))
            ).alias("ewma")
        )
        .select(
            F.col("t.event_type").alias("event_type"),
            F.col("t.day_mean").alias("day_mean"),
            "ewma",
        )
    )
    dev = F.abs(F.col("day_mean") - F.col("ewma"))
    return (
        ew.join(sig, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.max(dev), 6).alias("max_abs_dev"),
            F.sum(
                F.when(
                    F.round(dev, 6) > F.round(F.lit(2.0) * F.col("sigma"), 6), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_flagged"),
        )
    )


@query(
    "orders_seasonal_index",
    oracle="""
    WITH m AS (
        SELECT CAST(month(o_orderdate) AS INTEGER) AS mon,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders GROUP BY mon
    ),
    tot AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS t FROM m)
    SELECT m.mon, m.revenue_cents,
           round(12.0 * CAST(m.revenue_cents AS DOUBLE) / CAST(tot.t AS DOUBLE),
                 6) AS seasonal_index
    FROM m CROSS JOIN tot
    """,
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal index of order revenue (month share x 12;
    1.0 = flat seasonality) — the classical-decomposition seasonal factor
    the forecasting family (`forecast_revenue`, `orders_monthly_trend`)
    assumes away. Revenue folds as exact integer cents; the index is one
    division against the broadcast scalar total. One fact pass to 12
    rows; everything after is constant-sized at any corpus scale."""
    o = _load(spark, sf_dir, "orders")
    m = o.groupBy(F.month("o_orderdate").cast("int").alias("mon")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents")
    )
    tot = m.agg(F.sum("revenue_cents").cast("long").alias("t"))
    return m.crossJoin(F.broadcast(tot)).select(
        "mon",
        "revenue_cents",
        F.round(
            F.lit(12.0)
            * F.col("revenue_cents").cast("double")
            / F.col("t").cast("double"),
            6,
        ).alias("seasonal_index"),
    )


# ---------------------------------------------------------------------------
# Information-theoretic corpus / behaviour measures
# ---------------------------------------------------------------------------


@query(
    "source_unigram_kl",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tc AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS n
        FROM toks WHERE term <> '' GROUP BY source, term
    ),
    vocab AS (
        SELECT term, CAST(sum(n) AS BIGINT) AS corpus_n
        FROM tc GROUP BY term HAVING sum(n) >= 20
    ),
    corpus_tot AS (SELECT CAST(sum(corpus_n) AS BIGINT) AS ct FROM vocab),
    src AS (
        SELECT tc.source, tc.term, tc.n, v.corpus_n
        FROM tc JOIN vocab v ON v.term = tc.term
    ),
    src_tot AS (
        SELECT source, CAST(sum(n) AS BIGINT) AS st FROM src GROUP BY source
    )
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_vocab_terms,
           round(sum(
               (CAST(s.n AS DOUBLE) / CAST(t.st AS DOUBLE))
               * ln((CAST(s.n AS DOUBLE) / CAST(t.st AS DOUBLE))
                    / (CAST(s.corpus_n AS DOUBLE) / CAST(c.ct AS DOUBLE)))
           ), 6) AS kl_divergence
    FROM src s
    JOIN src_tot t ON t.source = s.source
    CROSS JOIN corpus_tot c
    GROUP BY s.source
    """,
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's unigram distribution from the
    corpus distribution, restricted to the >=20-occurrence shared
    vocabulary and renormalized on both sides — the domain-shift score a
    training-mix designer reads before setting `source_mix_weights`
    (high KL = the source speaks a different language than the mix).
    Restricting to corpus-frequent terms bounds the vocabulary AND keeps
    q(term) > 0, so the sum is finite without smoothing; terms the
    source lacks contribute zero (true KL over the source's support).
    Determinism: every probability is a ratio of exact integer counts;
    the ln sum is the same float fold both engines round to 6dp (the
    certified event_transition_entropy precedent). Plan: one
    explode+groupBy shuffle to (source, term); the vocab gate is a
    term-keyed join; totals are broadcast scalars. At 100 TB the
    (source, term) table is vocabulary-sized per source — the explode is
    the only fact-scale stage, identical to the certified tfidf/BM25
    shape."""
    d = _load(spark, sf_dir, "documents")
    # tc feeds five consumers (vocab, corpus total via vocab, the src
    # join, src_tot, the final rollup) — uncut, the plan re-ran the
    # full-corpus explode FIVE times (plan-audit lead). tc is
    # (source, term)-sized: vocabulary-bounded, never corpus-bounded.
    tc = (
        d.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        tc.groupBy("term")
        .agg(F.sum("n").cast("long").alias("corpus_n"))
        .where(F.col("corpus_n") >= 20)
        .localCheckpoint(eager=False)
    )
    corpus_tot = vocab.agg(F.sum("corpus_n").cast("long").alias("ct"))
    src = tc.join(vocab, "term")
    src_tot = src.groupBy("source").agg(F.sum("n").cast("long").alias("st"))
    p = F.col("n").cast("double") / F.col("st").cast("double")
    q = F.col("corpus_n").cast("double") / F.col("ct").cast("double")
    return (
        src.join(src_tot, "source")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vocab_terms"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_divergence"),
        )
    )


@query(
    "markov_entropy_rate",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    counts AS (
        SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ),
    rows_tot AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS row_n
        FROM counts GROUP BY event_type
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts),
    hs AS (
        SELECT c.event_type, r.row_n,
               -sum((CAST(c.n AS DOUBLE) / CAST(r.row_n AS DOUBLE))
                    * ln(CAST(c.n AS DOUBLE) / CAST(r.row_n AS DOUBLE)))
                   AS h_row
        FROM counts c JOIN rows_tot r ON r.event_type = c.event_type
        GROUP BY c.event_type, r.row_n
    )
    SELECT CAST(min(tot.t) AS BIGINT) AS n_transitions,
           round(sum((CAST(hs.row_n AS DOUBLE) / CAST(tot.t AS DOUBLE))
                     * hs.h_row), 6) AS entropy_rate_nats
    FROM hs CROSS JOIN tot
    """,
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the empirical event-type Markov chain:
    H = sum_s pi(s) * H(next | s) with pi the empirical source-state
    frequency — one number saying how predictable user behaviour is
    (0 = deterministic paths, ln(5) ~ 1.609 = uniform chaos over the 5
    types). Consumes the CERTIFIED transition counts subplan
    (event_type_transitions, the markov_transition_probs contract:
    called, not re-spelled) so the expensive per-user lead + groupBy is
    shared and any fix propagates. Everything after the counts is
    |types|^2-sized arithmetic — constant at any corpus scale."""
    from .temporal import event_type_transitions

    # counts feeds three consumers (row totals, grand total, the join);
    # the cut keeps the per-user lead + transition groupBy single-pass
    # (plan-audit lead) — counts is |types|^2 rows.
    counts = event_type_transitions(spark, sf_dir).localCheckpoint(
        eager=False
    )
    rows_tot = counts.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("row_n")
    )
    tot = counts.agg(F.sum("n").cast("long").alias("t"))
    pr = F.col("n").cast("double") / F.col("row_n").cast("double")
    hs = (
        counts.join(rows_tot, "event_type")
        .groupBy("event_type", "row_n")
        .agg((-F.sum(pr * F.log(pr))).alias("h_row"))
    )
    return (
        hs.crossJoin(F.broadcast(tot))
        .agg(
            F.min("t").cast("long").alias("n_transitions"),
            F.round(
                F.sum(
                    F.col("row_n").cast("double")
                    / F.col("t").cast("double")
                    * F.col("h_row")
                ),
                6,
            ).alias("entropy_rate_nats"),
        )
    )


@query(
    "brand_price_theil",
    oracle="""
    WITH px AS (
        SELECT p_brand,
               CAST(round(p_retailprice * 100) AS BIGINT) AS cents
        FROM part
    ),
    mu AS (
        SELECT p_brand, CAST(sum(cents) AS BIGINT) AS s1,
               CAST(count(*) AS BIGINT) AS n
        FROM px GROUP BY p_brand
    )
    SELECT px.p_brand,
           CAST(min(mu.n) AS BIGINT) AS n_parts,
           round(sum(
               (CAST(px.cents AS DOUBLE) * CAST(mu.n AS DOUBLE)
                / CAST(mu.s1 AS DOUBLE))
               * ln(CAST(px.cents AS DOUBLE) * CAST(mu.n AS DOUBLE)
                    / CAST(mu.s1 AS DOUBLE))
           ) / min(mu.n), 6) AS theil_t
    FROM px JOIN mu ON mu.p_brand = px.p_brand
    GROUP BY px.p_brand
    """,
)
def brand_price_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of retail prices within each brand —
    the decomposable entropy-based concentration measure next to the
    certified Gini (`colocation_degree_gini`) and Herfindahl
    (`supplier_herfindahl`): T = mean(x/mu * ln(x/mu)), 0 = all parts
    equally priced. x/mu is computed as cents*n/s1 — a ratio of exact
    integers, so both engines feed ln identical doubles. Plan: one
    groupBy for the per-brand (sum, count), a brand-keyed broadcast back
    onto parts, one fold; the join key is brand (25 values) so at 100 TB
    the moment table always broadcasts."""
    p = _load(spark, sf_dir, "part").select(
        "p_brand", F.round(F.col("p_retailprice") * 100).cast("long").alias("cents")
    )
    mu = p.groupBy("p_brand").agg(
        F.sum("cents").cast("long").alias("s1"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    ratio = (
        F.col("cents").cast("double")
        * F.col("n").cast("double")
        / F.col("s1").cast("double")
    )
    return (
        p.join(F.broadcast(mu), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.min("n").cast("long").alias("n_parts"),
            F.round(F.sum(ratio * F.log(ratio)) / F.min("n"), 6).alias(
                "theil_t"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Graph: bounded 2-hop reach
# ---------------------------------------------------------------------------


@query(
    "two_hop_reach_histogram",
    oracle=None,  # set below to reuse mobility's edge CTE
)
def two_hop_reach_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of 2-hop neighbourhood sizes over the co-location
    network (how many distinct users are within two meetings of you) —
    the reach statistic epidemiologists read off contact networks before
    seeding SEIR, as a distributed plan instead of the reference's
    collected-networkx BFS. Built on the materialized canonical edge
    list (the round-8 lineage-cut contract). Plan: symmetrize edges,
    build each node's neighbour set as 32768-bit bitmaps keyed by id
    bucket, OR every neighbour's set into the node's own (one adjacency
    join, partially aggregated before its shuffle), popcount, then the
    histogram fold. The node itself is in every neighbour's set, so its
    reach is the popcount minus one — the same count as the distinct
    1-hop ∪ 2-hop pairs the oracle spells out, without materializing
    the sum-of-degree-squared wedge rows (the hub-explosion shape that
    dominates a dense graph; on a 4-core host the wedge form took 115 s
    on sf0.1, this plan 14 s)."""
    from .mobility import _colocation_edge_list

    edges = _colocation_edge_list(spark, sf_dir)
    adj = edges.select(
        F.col("a_user_id").alias("u"), F.col("b_user_id").alias("v")
    ).unionByName(
        edges.select(
            F.col("b_user_id").alias("u"), F.col("a_user_id").alias("v")
        )
    )
    nbr = adj.groupBy(
        "u", F.expr("bitmap_bucket_number(v)").alias("bucket")
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(v))").alias("bm"))
    reach_sets = (
        adj.join(nbr.withColumnRenamed("u", "v"), "v")
        .select("u", "bucket", "bm")
        .unionByName(nbr)
        .groupBy("u", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
    )
    reach = reach_sets.groupBy("u").agg(
        (F.sum(F.expr("bitmap_count(bm)")) - 1).cast("long").alias("reach")
    )
    return reach.groupBy("reach").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


# ---------------------------------------------------------------------------
# Streaming: certified stream-stream join
# ---------------------------------------------------------------------------

_STREAM_JOIN_COUNTER = [0]


@query(
    "stream_purchase_error_pairs",
    oracle="""
    SELECT p.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM events p JOIN events x
      ON x.user_id = p.user_id
     AND x.event_type = 'error'
     AND x.ts >= p.ts
     AND x.ts <= p.ts + INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    GROUP BY p.user_id
    """,
)
def stream_purchase_error_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM JOIN, oracle-certified end-to-end (the second
    streaming surface through the differential gate, after the certified
    windowed aggregation `stream_hourly_event_counts`): purchases and
    errors replayed as two watermarked streams, inner-joined per user
    with the error inside [purchase, purchase + 1 h], availableNow
    trigger, append-mode memory sink, then a BATCH rollup of the sink
    compared against the plain interval-join SQL. The time-range
    predicate is what makes the state store bounded: each side keeps
    only rows within the watermark horizon (1 h + delay), the exact
    eviction contract streaming/joins.py tests assert. Inner-join
    matches emit as they arrive, so availableNow drains ALL pairs
    regardless of final watermark position — the aggregation is done
    batch-side on the sink table precisely so no append-mode
    finalization semantics can drop rows. A production deployment swaps
    the memory sink for foreachBatch/parquet; the pair volume is
    match-sized, never fact-sized."""
    import os
    import tempfile

    e = _load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    tmp = tempfile.mkdtemp(prefix="graft_stream_sj_")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    e.write.parquet(src)
    schema = spark.read.parquet(src).schema

    def side(kind: str, alias: str) -> DataFrame:
        s = (
            spark.readStream.schema(schema)
            .parquet(src)
            .where(F.col("event_type") == kind)
            .withWatermark("ts", "2 hours")
        )
        return s.select(
            F.col("event_id").alias(f"{alias}_id"),
            F.col("user_id").alias(f"{alias}_user"),
            F.col("ts").alias(f"{alias}_ts"),
        )

    p = side("purchase", "p")
    x = side("error", "x")
    joined = p.join(
        x,
        (F.col("x_user") == F.col("p_user"))
        & (F.col("x_ts") >= F.col("p_ts"))
        & (F.col("x_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    _STREAM_JOIN_COUNTER[0] += 1
    name = f"graft_stream_sj_{os.getpid()}_{_STREAM_JOIN_COUNTER[0]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, tmp)
    return (
        spark.table(name)
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def _install_two_hop_oracle() -> None:
    """The 2-hop oracle reuses mobility's canonical edge CTE so the edge
    definition can never drift between the Spark plan and the SQL."""
    from . import ORACLES
    from .mobility import _EDGES_CTE

    ORACLES["two_hop_reach_histogram"] = f"""
    WITH {_EDGES_CTE.strip()},
    adj AS (
        SELECT a_user_id AS u, b_user_id AS v FROM edges
        UNION ALL
        SELECT b_user_id AS u, a_user_id AS v FROM edges
    ),
    hop2 AS (
        SELECT a.u AS u, b.v AS v
        FROM adj a JOIN adj b ON b.u = a.v
        WHERE b.v <> a.u
    ),
    reach AS (
        SELECT u, CAST(count(*) AS BIGINT) AS reach FROM (
            SELECT DISTINCT u, v FROM (
                SELECT u, v FROM adj UNION ALL SELECT u, v FROM hop2
            )
        ) GROUP BY u
    )
    SELECT reach, CAST(count(*) AS BIGINT) AS n_nodes
    FROM reach GROUP BY reach
    """


_install_two_hop_oracle()


@query(
    "two_hop_reach_capped",
    oracle=None,  # installed below from mobility's edge CTE
)
def two_hop_reach_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-capped 2-hop reach — the SCALE-SAFE production variant of
    :func:`two_hop_reach_histogram` (the peak_concurrency_partitioned
    pattern: scale-shaped default + exact calibration baseline). The
    exact variant's wedge join is sum(deg²)-sized: at the 10x DENSITY
    tier (degrees x10, wedges x100) it filled the disk (>80 GB shuffle
    spill, recorded in SCALING.md) — precisely the hub explosion the
    docstring predicted. The capped statistic is the reach over the
    LOW-DEGREE SUBGRAPH (nodes of degree <= TWO_HOP_DEGREE_CAP, both as
    endpoints and as middles), which BOUNDS the wedge join at
    cap x |kept edges| whatever the input: that bound is the point, and
    it has an honest consequence the round-9 density probe made
    explicit — on a graph with NO low-degree region the subgraph is
    EMPTY (the synthetic sf0.1 colocation graph has mean degree ~278,
    a 14% edge density no real contact network approaches, so the
    capped reach there is correctly zero rows). A percentile cap was
    tried and rejected: it never degenerates but stops bounding work
    exactly when the graph is dense (p80 of a dense graph admits
    quadratic wedges — the 10x-tier attempt was killed heading for the
    same disk-fill as the exact variant). Dense graphs take the
    LINEAR-in-edges sketch path instead (two_hop_reach_sketched /
    two_hop_reach_sketch_audit). Deterministic: integer degree
    threshold, identical on both engines; the oracle restates it over
    the same canonical edge CTE."""
    from .mobility import _colocation_edge_list

    edges = _colocation_edge_list(spark, sf_dir)
    adj = edges.select(
        F.col("a_user_id").alias("u"), F.col("b_user_id").alias("v")
    ).unionByName(
        edges.select(
            F.col("b_user_id").alias("u"), F.col("a_user_id").alias("v")
        )
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    kept = deg.where(F.col("degree") <= TWO_HOP_DEGREE_CAP).select("u")
    # keep an edge only if BOTH endpoints survive the cap, then the
    # subgraph's adjacency is closed under the expansion below
    adj_c = (
        adj.join(kept, "u")
        .join(kept.select(F.col("u").alias("v")), "v")
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    a = adj_c.alias("a")
    b = adj_c.alias("b")
    hop2 = (
        a.join(b, F.col("a.v") == F.col("b.u"))
        .where(F.col("b.v") != F.col("a.u"))
        .select(F.col("a.u").alias("u"), F.col("b.v").alias("v"))
    )
    reach = (
        adj_c.unionByName(hop2)
        .distinct()
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("reach"))
    )
    return reach.groupBy("reach").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


TWO_HOP_DEGREE_CAP = 32


def _install_two_hop_capped_oracle() -> None:
    from . import ORACLES
    from .mobility import _EDGES_CTE

    ORACLES["two_hop_reach_capped"] = f"""
    WITH {_EDGES_CTE.strip()},
    adj AS (
        SELECT a_user_id AS u, b_user_id AS v FROM edges
        UNION ALL
        SELECT b_user_id AS u, a_user_id AS v FROM edges
    ),
    deg AS (SELECT u, count(*) AS degree FROM adj GROUP BY u),
    kept AS (SELECT u FROM deg WHERE degree <= {TWO_HOP_DEGREE_CAP}),
    adj_c AS (
        SELECT a.u, a.v FROM adj a
        JOIN kept k1 ON k1.u = a.u
        JOIN kept k2 ON k2.u = a.v
    ),
    hop2 AS (
        SELECT a.u AS u, b.v AS v
        FROM adj_c a JOIN adj_c b ON b.u = a.v
        WHERE b.v <> a.u
    ),
    reach AS (
        SELECT u, CAST(count(*) AS BIGINT) AS reach FROM (
            SELECT DISTINCT u, v FROM (
                SELECT u, v FROM adj_c UNION ALL SELECT u, v FROM hop2
            )
        ) GROUP BY u
    )
    SELECT reach, CAST(count(*) AS BIGINT) AS n_nodes
    FROM reach GROUP BY reach
    """


_install_two_hop_capped_oracle()


def _two_hop_sketch_estimates(spark: SparkSession, sf_dir: str):
    """Shared sketch plan: per-node HLL(12) 1-hop sketches merged along
    edges into 2-hop reach estimates. Returns (adj, two_sk) — the
    symmetrized adjacency and a (u, est) frame. Linear in edges: the
    sketch table is node-sized fixed-width blobs (broadcastable), and
    the per-u union runs as a partial-aggregating groupBy, so the
    exchange carries at most nodes x 4 KB whatever the edge count."""
    from ..utils import sketch_agg_partitions
    from .mobility import _colocation_edge_list

    edges = _colocation_edge_list(spark, sf_dir)
    # hash(u)-partition the adjacency ONCE, at checkpoint time: every
    # sketch aggregate below buffers the ~32 KB UPDATABLE sketch per
    # key, so a task must only ever see its own u's (an unpartitioned
    # partial agg held nodes x 32 KB per task and OOM'd an 8 GB heap at
    # the 10x tier before this). The width is DERIVED from the heap
    # (utils.sketch_agg_partitions — the SCALING r9 memory rule as
    # code): n_nodes x 32 KB of updatable buffers spread so each task's
    # share fits its execution-memory slice; estimated node count comes
    # from one HLL pass over the edge endpoints (exactness is
    # irrelevant — only the buffer-budget order of magnitude matters).
    n_nodes_row = edges.select(
        F.approx_count_distinct("a_user_id", 0.05).alias("n")
    ).head()
    n_nodes = int(2 * (n_nodes_row["n"] if n_nodes_row else 1)) + 1
    width = sketch_agg_partitions(spark, n_nodes)
    adj = (
        edges.select(
            F.col("a_user_id").alias("u"), F.col("b_user_id").alias("v")
        )
        .unionByName(
            edges.select(
                F.col("b_user_id").alias("u"), F.col("a_user_id").alias("v")
            )
        )
        .repartition(width, "u")
        .localCheckpoint(eager=False)
    )
    sk1 = adj.groupBy("u").agg(
        F.expr("hll_sketch_agg(v, 12)").alias("sk"),
    )
    self_sk = adj.select("u").distinct().groupBy("u").agg(
        F.expr("hll_sketch_agg(u, 12)").alias("sk")
    )
    hop1_sk = (
        sk1.unionByName(self_sk)
        .groupBy("u")
        .agg(F.expr("hll_union_agg(sk)").alias("sk"))
    )
    # Two memory rules learned at the 10x tier (20.9M edges), both OOMs
    # before they were applied:
    # 1. BROADCAST the sketch table (nodes x ~4 KB compact blobs, 60 MB
    #    at the tier) — unhinted, the sort-merge join sorted 20.9M
    #    sketch-bearing edge rows (~84 GB) and blew the heap.
    # 2. PRE-PARTITION the edge stream by u BEFORE the join: the union
    #    aggregate's buffer is the UPDATABLE sketch (~32 KB, not the
    #    4 KB compact form), so a map-side partial agg over ALL keys
    #    holds nodes x 32 KB PER TASK (~480 MB x 32 tasks). With
    #    hash(u) partitioning the groupBy reuses the layout, no second
    #    exchange exists, and each task buffers only its own keys.
    # At 100 TB, when the node table outgrows broadcast, bucket both
    # sides by the join key instead. adj arrives hash(u)-partitioned
    # from the checkpoint, so the groupBy below reuses the layout.
    two_sk = (
        adj.join(F.broadcast(hop1_sk.withColumnRenamed("u", "v")), "v")
        .groupBy("u")
        .agg(F.expr("hll_union_agg(sk)").alias("sk2"))
        .select(
            "u",
            (F.expr("hll_sketch_estimate(sk2)") - F.lit(1.0)).alias("est"),
        )
    )
    return adj, two_sk


@query(
    "two_hop_reach_sketched",
    oracle=None,  # rows-only BY DESIGN: Datasketches HLL has no DuckDB twin
)
def two_hop_reach_sketched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION 2-hop reach for graphs too dense for the exact or
    degree-capped forms (the synthetic density tiers, where exact filled
    the disk and the cap correctly empties): per-node reach ESTIMATES
    from the shared HLL sketch plan, rolled into a log2 histogram.
    Linear in edges at any density — the dense-graph escalation the
    capped query's docstring routes to; two_hop_reach_sketch_audit
    holds its error to ~HLL(12) accuracy at audit SFs."""
    _, two_sk = _two_hop_sketch_estimates(spark, sf_dir)
    bucket = F.floor(F.log2(F.greatest(F.col("est"), F.lit(1.0)))).cast(
        "bigint"
    )
    return two_sk.groupBy(bucket.alias("log2_reach_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


@query(
    "two_hop_reach_sketch_audit",
    oracle=None,  # rows-only BY DESIGN: Datasketches HLL has no DuckDB twin
)
def two_hop_reach_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The named 100 TB escalation for 2-hop reach, demonstrated and
    audited: per-node HLL sketches of the 1-hop neighbourhood, merged
    ALONG EDGES (u's 2-hop sketch = union of sketch(v) for v adjacent to
    u, plus u's own) — one linear edge join of fixed-width sketch blobs
    instead of the sum(deg²) wedge explosion that filled the disk at the
    10x density tier. Spark 4's Datasketches functions (hll_sketch_agg /
    hll_union_agg / hll_sketch_estimate) keep the whole thing JVM-side.
    Output is the audit row (the ivf_recall_audit pattern): node count,
    mean/max relative error of the sketch estimate vs the exact 2-hop
    reach. Rows-only by design — DuckDB has no bit-compatible HLL, so
    there is no SQL oracle; the EXACT arm inside this query is the
    ground truth, which also bounds this audit to audit SFs (production
    runs the sketch path alone, where its cost is linear in edges).
    lgConfigK=12 (4096 registers, ~1.6% standard error)."""
    adj, two_sk = _two_hop_sketch_estimates(spark, sf_dir)
    # exact arm (ground truth; audit SFs only)
    a = adj.alias("a")
    b = adj.alias("b")
    hop2 = (
        a.join(b, F.col("a.v") == F.col("b.u"))
        .where(F.col("b.v") != F.col("a.u"))
        .select(F.col("a.u").alias("u"), F.col("b.v").alias("v"))
    )
    exact = (
        adj.unionByName(hop2)
        .distinct()
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("reach"))
    )
    j = exact.join(two_sk, "u")
    rel = F.abs(F.col("est") - F.col("reach")) / F.col("reach")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.round(F.avg(rel), 6).alias("mean_rel_err"),
        F.round(F.max(rel), 6).alias("max_rel_err"),
    )


@query(
    "doc_unigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tt AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    freq AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM tt GROUP BY term),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM freq),
    scored AS (
        SELECT tt.doc_id,
               count(*) AS n_tokens,
               -sum(ln(CAST(f.n AS DOUBLE) / CAST(tot.t AS DOUBLE)))
                   / count(*) AS nll
        FROM tt JOIN freq f ON f.term = tt.term CROSS JOIN tot
        GROUP BY tt.doc_id
    )
    SELECT CAST(least(floor(nll * 2.0), 24.0) AS BIGINT) AS nll_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM scored GROUP BY nll_bucket
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram negative log-likelihood under the
    corpus's own unigram model, bucketed into a histogram — the
    perplexity-proxy quality gate every LLM data pipeline runs before
    the expensive model-based filter (documents whose tokens are
    corpus-typical score low; gibberish and boilerplate-with-rare-tokens
    score high). Every probability is an exact integer ratio (term count
    / corpus total) — the corpus model needs no smoothing because every
    scored term exists in the corpus by construction. The per-doc float
    fold is bucketed (width 0.5 nats over [0, 12]) rather than emitted
    raw, so the output is histogram-bounded and the differential compare
    is stable. Plan: one explode shuffled to (term) for frequencies, a
    term-keyed join back (vocabulary-side is frequency-table-sized — at
    100 TB broadcast the head and shuffle the tail, the tfidf shape),
    one doc-keyed rollup, then the constant-size histogram."""
    d = _load(spark, sf_dir, "documents")
    tt = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    tt = tt.localCheckpoint(eager=False)  # feeds freq AND the scoring join
    freq = tt.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = freq.agg(F.sum("n").cast("long").alias("t"))
    scored = (
        tt.join(freq, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                -F.sum(F.log(F.col("n").cast("double") / F.col("t").cast("double")))
                / F.count(F.lit(1))
            ).alias("nll"),
        )
    )
    # bucket i covers [i*0.5, (i+1)*0.5) nats, capped at 24 (nll >= 0 by
    # construction); spelled as floor arithmetic because DuckDB has no
    # width_bucket
    return scored.select(
        F.least(F.floor(F.col("nll") * 2.0), F.lit(24.0))
        .cast("bigint")
        .alias("nll_bucket"),
        "n_tokens",
    ).groupBy("nll_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


_STREAM_DEDUP_COUNTER = [0]


@query(
    "stream_dedup_event_counts",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique_events
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DEDUP, oracle-certified end-to-end (third streaming
    surface through the differential gate, after the windowed aggregation
    and the stream-stream join): the events feed is DOUBLED (unioned with
    itself — every event arrives exactly twice, the at-least-once
    delivery shape every ingestion pipeline must survive), replayed
    through readStream -> dropDuplicatesWithinWatermark(event_id) ->
    per-type counts, and the drained result must equal the batch
    COUNT(DISTINCT event_id) oracle. Within-watermark dedup is the
    production contract: state holds only event_ids inside the horizon
    (here 2 h — duplicates arrive in the same files, far inside it), so
    state is rate-bounded, not history-bounded, which is the property
    that makes exactly-once-after-dedup viable at 100 TB/day. Counts in
    complete mode are type-cardinality bounded."""
    import os
    import tempfile

    e = _load(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    doubled = e.unionByName(e)
    tmp = tempfile.mkdtemp(prefix="graft_stream_dedup_")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    doubled.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_unique_events")
    )
    _STREAM_DEDUP_COUNTER[0] += 1
    name = f"graft_stream_dedup_{os.getpid()}_{_STREAM_DEDUP_COUNTER[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, tmp)
    return spark.table(name).select("event_type", "n_unique_events")


@query(
    "priority_price_kruskal_wallis",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority AS grp,
               CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                    AS BIGINT) AS rk
        FROM orders
    ),
    n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
    per_g AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(rk) AS BIGINT) AS r_g
        FROM ranked GROUP BY grp
    )
    SELECT CAST(min(t.n) AS BIGINT) AS n_orders,
           CAST(count(*) - 1 AS BIGINT) AS dof,
           round(12.0 / (CAST(min(t.n) AS DOUBLE) * (min(t.n) + 1.0))
                 * sum(CAST(r_g AS DOUBLE) * CAST(r_g AS DOUBLE)
                       / CAST(n_g AS DOUBLE))
                 - 3.0 * (min(t.n) + 1.0), 6) AS h_statistic
    FROM per_g CROSS JOIN n_tot t
    """,
)
def priority_price_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across ALL five order priorities — the k-sample
    extension of priority_price_mannwhitney (one test instead of C(5,2)
    pairwise MW runs). Same integer-rank discipline: row_number over the
    unique (price, orderkey) order keeps every rank sum exact, so
    H = 12/(n(n+1)) * sum(R_g²/n_g) - 3(n+1) is computed from integer
    sums with two float divisions at the end — both engines agree before
    rounding. Plan: one DISTRIBUTED global rank over all orders rows
    (operators.winners.global_row_number — range-partitioned sort +
    broadcast partition offsets; this was the worst of the three
    single-partition sorts the r9 verdict flagged, a full fact sort),
    one 5-row groupBy, constant-size fold."""
    o = _load(spark, sf_dir, "orders")
    ranked = global_row_number(
        o.select(
            F.col("o_orderpriority").alias("grp"),
            "o_totalprice",
            "o_orderkey",
        ),
        ["o_totalprice", "o_orderkey"],
        "rk",
    ).select("grp", "rk")
    per_g = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("rk").cast("long").alias("r_g"),
    )
    n_tot = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    nd = F.min("n").cast("double")
    return per_g.crossJoin(F.broadcast(n_tot)).agg(
        F.min("n").cast("long").alias("n_orders"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
        F.round(
            F.lit(12.0)
            / (nd * (nd + F.lit(1.0)))
            * F.sum(
                F.col("r_g").cast("double")
                * F.col("r_g").cast("double")
                / F.col("n_g").cast("double")
            )
            - F.lit(3.0) * (nd + F.lit(1.0)),
            6,
        ).alias("h_statistic"),
    )


@query(
    "hourly_poisson_dispersion",
    oracle="""
    WITH hc AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, h
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS mean_count,
           round((CAST(sum(c * c) AS DOUBLE)
                  - CAST(sum(c) AS DOUBLE) * sum(c) / count(*))
                 / (count(*) - 1)
                 / (CAST(sum(c) AS DOUBLE) / count(*)), 6)
               AS dispersion_index
    FROM hc GROUP BY event_type HAVING count(*) > 1
    """,
)
def hourly_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio of hourly event counts per type (the
    Poisson dispersion index: 1 = Poisson arrivals, >1 = bursty/
    overdispersed, <1 = regularized) — the arrival-process diagnostic
    next to user_burstiness (which works on inter-event gaps; this works
    on counts, and they disagree exactly when burstiness is cross-user
    synchronized). Occupied-hours only, on both engines identically (an
    all-calendar version would LEFT JOIN a generated hour spine — the
    value_forward_fill shape — and zero-fill). All moments are exact
    integer sums (counts of counts); two float divisions at the end;
    n>1 HAVING gate keeps the sample variance defined (the Welch-test
    discipline). One fact pass to (type, hour), then type-sized."""
    e = _load(spark, sf_dir, "events")
    hc = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = F.count(F.lit(1))
    s1 = F.sum("c").cast("double")
    s2 = F.sum(F.col("c") * F.col("c")).cast("double")
    return (
        hc.groupBy("event_type")
        .agg(
            n.cast("long").alias("n_hours"),
            F.round(s1 / n, 6).alias("mean_count"),
            F.round(
                (s2 - s1 * F.sum("c") / n) / (n - 1) / (s1 / n), 6
            ).alias("dispersion_index"),
        )
        .where(F.col("n_hours") > 1)
    )


_STREAM_SESS_COUNTER = [0]


@query(
    "stream_closed_sessions",
    oracle="""
    WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    marked AS (
        SELECT user_id, us,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 3600000000
                    THEN 1 ELSE 0 END AS is_start
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    sess AS (
        SELECT user_id, us,
               sum(is_start) OVER (
                   PARTITION BY user_id ORDER BY us
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM marked
    ),
    agg AS (
        SELECT user_id, sid,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(us) AS BIGINT) AS last_us,
               CAST(max(sid) OVER (PARTITION BY user_id) AS BIGINT) AS max_sid
        FROM sess GROUP BY user_id, sid
    ),
    wm AS (
        SELECT epoch_us(max(ts)) // 1000 - 600000 AS wm_ms FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_closed_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_closed_events
    FROM agg CROSS JOIN wm
    WHERE sid < max_sid
       OR wm_ms > (last_us + 3600000000) // 1000
    GROUP BY user_id
    """,
)
def stream_closed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL OPERATOR, oracle-certified end-to-end (fourth
    streaming surface through the differential gate, and the first for
    applyInPandasWithState): the events feed replayed through
    streaming/stateful.streaming_session_tracker — typed per-user state,
    1 h gap sessionization, event-time timeout flush — then rolled up to
    per-user closed-session counts and compared against a batch SQL
    model of EXACTLY the operator's close semantics: a session is closed
    when a successor session exists (gap exceeded by a later event) OR
    when the final watermark passed its last event + gap, with the
    tracker's own millisecond-floor timeout arithmetic
    ((last_us + gap) // 1000) and the watermark's (max_ts_ms - delay)
    spelled in integer microseconds on both sides. The replay source is
    coalesced to ONE file so availableNow drains it as a single ordered
    batch (zero watermark drops, deterministic segmentation) followed by
    the no-data timeout batch — the production shape is per-key-ordered
    Kafka partitions, where the same state machine sees the same
    per-user order. State is one fixed-width row per ACTIVE user
    (timeout removes idle users), the property that bounds it at
    100 TB/day."""
    import os
    import tempfile

    from ..streaming.stateful import streaming_session_tracker

    e = _load(spark, sf_dir, "events").select("user_id", "ts")
    tmp = tempfile.mkdtemp(prefix="graft_stream_sess_")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    e.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    closed = streaming_session_tracker(stream, ts_col="ts", watermark="10 minutes")
    _STREAM_SESS_COUNTER[0] += 1
    name = f"graft_stream_sess_{os.getpid()}_{_STREAM_SESS_COUNTER[0]}"
    q = (
        closed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, tmp)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_closed_sessions"),
            F.sum("n_events").cast("long").alias("n_closed_events"),
        )
    )


@query(
    "jsonl_roundtrip_digest",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars,
           CAST(bit_xor(CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT))
                AS BIGINT) AS digest_xor,
           min(md5(text)) AS min_digest,
           max(md5(text)) AS max_digest
    FROM documents GROUP BY lang
    """,
)
def jsonl_roundtrip_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL EXPORT PATH certified by content: the documents table goes
    out through write_jsonl_shards (the gzip-sharded LLM training-data
    layout), comes back through read_jsonl, and the per-lang digest
    rollup of the ROUNDTRIPPED text must equal the oracle computed on the
    ORIGINAL parquet — so JSON string escaping, gzip framing, shard
    round-robin, and the reader's schema inference are all inside the
    differential gate (the export path was previously tests-only). md5
    min/max bound the set and the order-insensitive bit_xor of each
    digest's first 48 bits pins EVERY document's content (a corruption
    anywhere flips the group xor with probability 1-2^-48). The roundtrip i/o is scoped to a
    temp dir per invocation; shard size 500 exercises multi-shard
    round-robin at every SF."""
    import os
    import tempfile

    from ..sources.io import read_jsonl, write_jsonl_shards

    d = _load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    tmp = tempfile.mkdtemp(prefix="graft_jsonl_rt_")
    # the returned frame lazily re-reads the shards, so the dir cannot be
    # removed here; reclaim it at interpreter exit instead of leaking /tmp
    import atexit
    import shutil

    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    out = os.path.join(tmp, "shards")
    write_jsonl_shards(d, out, records_per_shard=500)
    back = read_jsonl(spark, out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).cast("long").alias("n_chars"),
        F.bit_xor(F.conv(F.substring(F.md5(F.col("text")), 1, 12), 16, 10).cast("long"))
        .cast("long")
        .alias("digest_xor"),
        F.min(F.md5(F.col("text"))).alias("min_digest"),
        F.max(F.md5(F.col("text"))).alias("max_digest"),
    )


@query(
    "hard_negative_pairs",
    oracle=None,  # installed below (reuses vectors.py's dot/norm macros)
)
def hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: each vector's
    SINGLE nearest neighbour with a DIFFERENT label — the pairs a
    contrastive or metric-learning loss needs most (closest imposters),
    next to the mutual-kNN positives. Exact n² scoring, so this is the
    audit-SF calibration form (the mutual_knn_pairs pattern); production
    swaps candidate generation for the multi-probe bucketed kernel and
    keeps the identical different-label rank tail. Determinism: cosine
    rounds to 6dp before the rank, rank ties break on neighbour id, and
    the label filter is exact set algebra. The crossJoin repartitions
    its streamed side first (the round-9 BNLJ width rule)."""
    from ..operators.similarity import as_double, cosine
    from .vectors import _emb

    e = _emb(spark, sf_dir)
    v = e.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    a = v.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("v").alias("va"),
    )
    b = v.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("n_label"),
        F.col("v").alias("vb"),
    )
    cands = (
        a.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(b)
        .where(
            (F.col("qid") != F.col("nid"))
            & (F.col("q_label") != F.col("n_label"))
        )
    )
    scored = cands.select(
        "qid",
        "nid",
        "q_label",
        "n_label",
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("q_label").alias("label"),
            F.col("nid").alias("hard_negative_id"),
            F.col("n_label").alias("negative_label"),
            "cosine",
        )
    )


def _install_hard_negative_oracle() -> None:
    from . import ORACLES
    from .vectors import _DOT, _NORM

    dot = _DOT.format(a="a.embedding", b="b.embedding")
    na = _NORM.format(a="a.embedding", b="a.embedding")
    nb = _NORM.format(a="b.embedding", b="b.embedding")
    ORACLES["hard_negative_pairs"] = f"""
    WITH scored AS (
        SELECT a.vec_id AS vec_id, a.label AS label,
               b.vec_id AS hard_negative_id, b.label AS negative_label,
               round({dot} / ({na} * {nb}), 6) AS cosine
        FROM embeddings a JOIN embeddings b
          ON a.vec_id <> b.vec_id AND a.label <> b.label
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, hard_negative_id ASC
        ) AS rn
        FROM scored
    )
    SELECT vec_id, label, hard_negative_id, negative_label, cosine
    FROM ranked WHERE rn = 1
    """


_install_hard_negative_oracle()


@query(
    "part_basket_lift",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM op),
    part_n AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_p
        FROM op GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM op a JOIN op b
          ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
    )
    SELECT p.part_a, p.part_b, p.n_ab,
           round(CAST(p.n_ab AS DOUBLE) * CAST(t.n AS DOUBLE)
                 / (CAST(pa.n_p AS DOUBLE) * CAST(pb.n_p AS DOUBLE)), 6)
               AS lift
    FROM pairs p
    JOIN part_n pa ON pa.l_partkey = p.part_a
    JOIN part_n pb ON pb.l_partkey = p.part_b
    CROSS JOIN n_orders t
    WHERE p.n_ab >= 2
    ORDER BY lift DESC, p.part_a ASC, p.part_b ASC
    LIMIT 20
    """,
)
def part_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule LIFT for co-ordered part pairs — the market-
    basket statistic on top of the certified co-occurrence counts
    (part_basket_pairs counts; lift normalizes by marginal popularity:
    lift = P(a,b)/(P(a)P(b)) = n_ab * n_orders / (n_a * n_b), > 1 means
    genuinely associated, not just both popular). The n_ab >= 2 support
    gate mirrors basket-mining practice and keeps the top-20 stable
    (singleton pairs all share lift families). Every count is an exact
    distinct-pair integer; the one division happens on the 20 surviving
    rows after a TakeOrderedAndProject cut... ordering by lift computed
    pre-cut: the sort key is data-wide but the sort is top-k, never
    global. Basket self-join keys on orderkey (avg ~4 lines/order), so
    pair volume is sum-of-basket-size² — bounded by small baskets, the
    opposite regime from the colocation hub explosion."""
    li = _load(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(
        eager=False
    )
    n_orders = op.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    part_n = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_p")
    )
    a = op.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = op.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "k")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    pa = part_n.select(
        F.col("l_partkey").alias("part_a"), F.col("n_p").alias("n_a")
    )
    pb = part_n.select(
        F.col("l_partkey").alias("part_b"), F.col("n_p").alias("n_b")
    )
    lifted = (
        pairs.join(pa, "part_a")
        .join(pb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )
    return lifted.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)


@query(
    "hard_negative_bucketed",
    oracle=None,  # installed below (Hamming-predicate oracle)
)
def hard_negative_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION form of hard-negative mining: multi-probe RP-LSH
    candidates (the mutual_knn_bucketed kernel — radius-2 XOR-mask
    explode, candidate volume probes x bucket sizes, never corpus²)
    filtered to different-label pairs, then the SAME rounded-cosine /
    id-tie-break / rank-1 tail as the exact :func:`hard_negative_pairs`
    — so the two differ only in candidate generation and the exact
    variant is the recall ground truth (the established trio pattern:
    exact calibration + bucketed default + shared scoring tail). A
    vector with no different-label neighbour inside the probe radius
    emits nothing — the honest sketch behaviour the oracle states with
    the same Hamming predicate."""
    from ..operators.similarity import cosine
    from .vectors import _bucketed_mknn_cands

    cands = _bucketed_mknn_cands(spark, sf_dir).where(
        F.col("q_label") != F.col("n_label")
    )
    scored = cands.select(
        "qid",
        "nid",
        "q_label",
        "n_label",
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("q_label").alias("label"),
            F.col("nid").alias("hard_negative_id"),
            F.col("n_label").alias("negative_label"),
            "cosine",
        )
    )


def _install_hard_negative_bucketed_oracle() -> None:
    from . import ORACLES
    from .vectors import (
        _DOT,
        _MKNN_HAM_SQL,
        _NORM,
        MKNN_PROBE_RADIUS,
        _rp_bucket_sql,
    )

    dot = _DOT.format(a="a.embedding", b="b.embedding")
    na = _NORM.format(a="a.embedding", b="a.embedding")
    nb = _NORM.format(a="b.embedding", b="b.embedding")
    ORACLES["hard_negative_bucketed"] = f"""
    WITH hnb AS (
        SELECT vec_id, label, embedding, {_rp_bucket_sql()} AS bucket
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS vec_id, a.label AS label,
               b.vec_id AS hard_negative_id, b.label AS negative_label,
               round({dot} / ({na} * {nb}), 6) AS cosine
        FROM hnb a JOIN hnb b
          ON {_MKNN_HAM_SQL} <= {MKNN_PROBE_RADIUS}
         AND a.vec_id <> b.vec_id AND a.label <> b.label
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, hard_negative_id ASC
        ) AS rn
        FROM scored
    )
    SELECT vec_id, label, hard_negative_id, negative_label, cosine
    FROM ranked WHERE rn = 1
    """


_install_hard_negative_bucketed_oracle()


@query(
    "hard_negative_recall_audit",
    oracle=None,  # installed below by composing the two installed oracles
)
def hard_negative_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-exact calibration closing the hard-negative trio (the
    ivf/mutual-kNN audit pattern): coverage = how many vectors the
    multi-probe candidate generator found ANY different-label neighbour
    for, and pick agreement = how often its rank-1 choice IS the exact
    rank-1 hard negative. One row; both pair lists are n-bounded so the
    only heavy work is the two candidate generations (the exact arm is
    n² by design — audit SFs only)."""
    from .text import _materialize_release

    ex = _materialize_release(
        hard_negative_pairs(spark, sf_dir).select(
            "vec_id", F.col("hard_negative_id").alias("ex_neg")
        )
    )
    bk = _materialize_release(
        hard_negative_bucketed(spark, sf_dir).select(
            "vec_id", F.col("hard_negative_id").alias("bk_neg")
        )
    )
    n_ex = ex.agg(F.count(F.lit(1)).alias("n_vectors"))
    n_bk = bk.agg(F.count(F.lit(1)).alias("n_bucketed_found"))
    n_same = (
        ex.join(bk, "vec_id")
        .where(F.col("ex_neg") == F.col("bk_neg"))
        .agg(F.count(F.lit(1)).alias("n_same_pick"))
    )
    return (
        n_ex.crossJoin(F.broadcast(n_bk))
        .crossJoin(F.broadcast(n_same))
        .select(
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.col("n_bucketed_found").cast("long").alias("n_bucketed_found"),
            F.col("n_same_pick").cast("long").alias("n_same_pick"),
            F.round(
                F.col("n_same_pick")
                * 1.0
                / F.greatest(F.col("n_vectors"), F.lit(1)),
                6,
            ).alias("pick_agreement"),
        )
    )


def _install_hard_negative_audit_oracle() -> None:
    from . import ORACLES

    ex_sql = ORACLES["hard_negative_pairs"].strip().rstrip()
    bk_sql = ORACLES["hard_negative_bucketed"].strip().rstrip()
    ORACLES["hard_negative_recall_audit"] = f"""
    WITH e AS ({ex_sql}),
    b AS ({bk_sql})
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_vectors,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_bucketed_found,
           (SELECT CAST(count(*) AS BIGINT) FROM e JOIN b USING (vec_id)
             WHERE e.hard_negative_id = b.hard_negative_id) AS n_same_pick,
           round((SELECT count(*) FROM e JOIN b USING (vec_id)
                   WHERE e.hard_negative_id = b.hard_negative_id)
                 * 1.0
                 / greatest((SELECT count(*) FROM e), 1), 6)
               AS pick_agreement
    """


_install_hard_negative_audit_oracle()


@query(
    "supplier_late_rate_wilson",
    oracle="""
    WITH s AS (
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ret
        FROM lineitem GROUP BY l_suppkey HAVING count(*) >= 20
    ),
    wb AS (
        SELECT l_suppkey, n_items, n_ret,
               CAST(n_ret AS DOUBLE) / CAST(n_items AS DOUBLE) AS p_hat,
               ((CAST(n_ret AS DOUBLE) / n_items) + 3.8416 / (2 * n_items)
                - 1.96 * sqrt(((CAST(n_ret AS DOUBLE) / n_items)
                               * (1.0 - CAST(n_ret AS DOUBLE) / n_items)
                               + 3.8416 / (4 * n_items)) / n_items))
               / (1.0 + 3.8416 / n_items) AS wilson_lo
        FROM s
    )
    SELECT l_suppkey, n_items, n_ret,
           round(p_hat, 6) AS p_hat,
           round(wilson_lo, 6) AS wilson_lower
    FROM wb
    ORDER BY wilson_lo DESC, l_suppkey ASC
    LIMIT 15
    """,
)
def supplier_late_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers ranked by the WILSON LOWER BOUND of their return rate —
    ranking-under-uncertainty done right: a supplier with 3/3 returns
    must not outrank one with 80/100, which is exactly what ranking by
    raw p_hat does and the Wilson score interval fixes (z=1.96; the
    idiom every review-ranking system uses). All inputs are exact
    integer counts from one fact pass; the bound is a closed-form float
    on (n_ret, n_items) evaluated identically by both engines, and the
    top-15 cut orders by the bound with a suppkey tie-break. The n>=20
    support gate keeps tiny-sample suppliers out on both sides. One
    groupBy shuffle; everything after is supplier-cardinality."""
    li = _load(spark, sf_dir, "lineitem")
    s = (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("n_ret"),
        )
        .where(F.col("n_items") >= 20)
    )
    n = F.col("n_items").cast("double")
    p = F.col("n_ret").cast("double") / n
    z2 = F.lit(3.8416)
    lo = (
        (p + z2 / (2 * n)
         - F.lit(1.96) * F.sqrt((p * (F.lit(1.0) - p) + z2 / (4 * n)) / n))
        / (F.lit(1.0) + z2 / n)
    )
    wb = s.select(
        "l_suppkey",
        "n_items",
        "n_ret",
        p.alias("__p"),
        lo.alias("__lo"),
    )
    return (
        wb.orderBy(F.desc("__lo"), F.asc("l_suppkey"))
        .limit(15)
        .select(
            "l_suppkey",
            "n_items",
            "n_ret",
            F.round(F.col("__p"), 6).alias("p_hat"),
            F.round(F.col("__lo"), 6).alias("wilson_lower"),
        )
    )


@query(
    "event_type_lift_matrix",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM ut),
    tn AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        FROM ut GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM ut a JOIN ut b
          ON b.user_id = a.user_id AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT p.type_a, p.type_b, p.n_ab,
           round(CAST(p.n_ab AS DOUBLE) * CAST(u.n AS DOUBLE)
                 / (CAST(ta.n_t AS DOUBLE) * CAST(tb.n_t AS DOUBLE)), 6)
               AS lift
    FROM pairs p
    JOIN tn ta ON ta.event_type = p.type_a
    JOIN tn tb ON tb.event_type = p.type_b
    CROSS JOIN n_users u
    """,
)
def event_type_lift_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level co-occurrence LIFT between event types (does doing A
    make a user more likely to also do B?) — the behavioural analog of
    part_basket_lift, on the distinct (user, type) incidence instead of
    raw event counts so heavy users don't dominate. All counts are exact
    distinct integers; output is the |types|-choose-2 upper triangle
    (10 rows at any corpus size). Plan: one distinct shuffle, a
    user-keyed self-join over <=5 rows per user, constant-size fold."""
    e = _load(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct().localCheckpoint(
        eager=False
    )
    n_users = ut.agg(
        F.countDistinct("user_id").cast("long").alias("n")
    )
    tn = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    a = ut.select(F.col("user_id").alias("u"), F.col("event_type").alias("type_a"))
    b = ut.select(F.col("user_id").alias("u"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "u")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    ta = tn.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    tb = tn.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "customer_value_trend_slopes",
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               CAST(epoch_us(o_orderdate) / 86400000000 AS BIGINT) AS d,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    m AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(d) AS BIGINT) AS sx,
               CAST(sum(cents) AS BIGINT) AS sy,
               CAST(sum(d * cents) AS BIGINT) AS sxy,
               CAST(sum(d * d) AS BIGINT) AS sxx
        FROM o GROUP BY o_custkey HAVING count(*) >= 3
    ),
    sl AS (
        SELECT o_custkey,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   AS slope_cents_per_day
        FROM m
        WHERE n * sxx - sx * sx > 0
    )
    SELECT CASE WHEN slope_cents_per_day < -100 THEN 'falling'
                WHEN slope_cents_per_day > 100 THEN 'rising'
                ELSE 'flat' END AS trend,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(slope_cents_per_day), 4) AS mean_slope
    FROM sl GROUP BY trend
    """,
)
def customer_value_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer OLS slope of order value over time, rolled up into
    rising/flat/falling cohorts — per-entity regression AT SCALE as pure
    moment arithmetic (no mapInPandas, no per-group fitting loop): each
    customer's (n, Σx, Σy, Σxy, Σxx) folds in ONE fact pass as exact
    BIGINT sums (day index and cents are integers; magnitudes stay
    under 2^63 at any realistic SF since day ~2e4 and cents ~1e7), and
    the slope is one float division per customer. The n>=3 HAVING gate
    plus the zero-variance guard (all orders same day) are identical on
    both engines. The cohort rollup keeps the output 3-row whatever the
    customer count — a million-customer trend scan with nothing
    data-sized leaving the executors."""
    o = _load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.unix_micros(F.col("o_orderdate")) / F.lit(86400000000))
        .cast("long")
        .alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    m = (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("d").cast("long").alias("sx"),
            F.sum("cents").cast("long").alias("sy"),
            F.sum(F.col("d") * F.col("cents")).cast("long").alias("sxy"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias("sxx"),
        )
        .where(F.col("n") >= 3)
        .where(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
    )
    slope = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    sl = m.select(slope.alias("slope_cents_per_day"))
    trend = (
        F.when(F.col("slope_cents_per_day") < -100, "falling")
        .when(F.col("slope_cents_per_day") > 100, "rising")
        .otherwise("flat")
    )
    return sl.groupBy(trend.alias("trend")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.avg("slope_cents_per_day"), 4).alias("mean_slope"),
    )


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST((SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT)
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           CAST((SELECT count(*) FROM supplier s
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = s.s_nationkey))
                AS BIGINT)
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan census across every FK edge of the star schema
    — the referential-integrity health check an ETL engine runs after
    every load (extends operators/quality's per-table rules to
    CROSS-table contracts). Each edge is one left_anti join (P13's
    certified idiom) counted to a scalar; small dimension sides
    broadcast, the two fact-fact edges (lineitem->orders,
    orders->customer) shuffle on their key — at 100 TB those are the
    same co-partitioned joins the queries themselves run, so the audit
    costs what one pass of the downstream workload costs and the output
    is 6 rows whatever the corpus size."""
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders")
    p = _load(spark, sf_dir, "part")
    s = _load(spark, sf_dir, "supplier")
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")

    def orphans(edge: str, child: DataFrame, ck: str, parent: DataFrame, pk: str) -> DataFrame:
        cnt = (
            child.join(parent, child[ck] == parent[pk], "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        )
        return cnt.select(F.lit(edge).alias("fk_edge"), "n_orphans")

    frames = [
        orphans("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        orphans("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
        orphans("lineitem.l_suppkey->supplier", li, "l_suppkey", s, "s_suppkey"),
        orphans("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        orphans("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        orphans("supplier.s_nationkey->nation", s, "s_nationkey", n, "n_nationkey"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@query(
    "primary_key_audit",
    oracle="""
    SELECT 'orders.o_orderkey' AS pk, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_dups
    FROM orders
    UNION ALL
    SELECT 'customer.c_custkey', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT c_custkey) AS BIGINT),
           CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'part.p_partkey', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT p_partkey) AS BIGINT),
           CAST(count(*) - count(DISTINCT p_partkey) AS BIGINT)
    FROM part
    UNION ALL
    SELECT 'supplier.s_suppkey', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT s_suppkey) AS BIGINT),
           CAST(count(*) - count(DISTINCT s_suppkey) AS BIGINT)
    FROM supplier
    UNION ALL
    SELECT 'events.event_id', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT event_id) AS BIGINT),
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'documents.doc_id', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT doc_id) AS BIGINT),
           CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT l_orderkey * 1000 + l_linenumber) AS BIGINT),
           CAST(count(*) - count(DISTINCT l_orderkey * 1000 + l_linenumber)
                AS BIGINT)
    FROM lineitem
    """,
)
def primary_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness census over every keyed table (plus
    lineitem's composite key packed into one integer — linenumber < 1000
    by the TPC-H spec, so the packing is collision-free) — the other
    half of the load-time contract next to referential_integrity_audit.
    One count-distinct aggregate per table, 7 rows out at any scale; at
    100 TB swap exact count(DISTINCT) for HLL when an approximate dup
    signal suffices (documents_profile's documented trade)."""
    specs = [
        ("orders.o_orderkey", "orders", F.col("o_orderkey")),
        ("customer.c_custkey", "customer", F.col("c_custkey")),
        ("part.p_partkey", "part", F.col("p_partkey")),
        ("supplier.s_suppkey", "supplier", F.col("s_suppkey")),
        ("events.event_id", "events", F.col("event_id")),
        ("documents.doc_id", "documents", F.col("doc_id")),
        (
            "lineitem.(l_orderkey,l_linenumber)",
            "lineitem",
            F.col("l_orderkey") * 1000 + F.col("l_linenumber"),
        ),
    ]
    out = None
    for name, table, key in specs:
        t = _load(spark, sf_dir, table)
        row = t.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(key).cast("long").alias("n_distinct"),
        ).select(
            F.lit(name).alias("pk"),
            "n_rows",
            "n_distinct",
            (F.col("n_rows") - F.col("n_distinct")).cast("long").alias("n_dups"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "value_dow_hour_decomposition",
    oracle="""
    WITH ev AS (
        SELECT CAST(dayofweek(ts) AS INTEGER) AS dow,
               CAST(hour(ts) AS INTEGER) AS hod,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    g AS (SELECT CAST(sum(cents) AS DOUBLE) / count(*) AS mu,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s1,
                 CAST(sum(cents * cents) AS BIGINT) AS s2
          FROM ev),
    de AS (SELECT dow, CAST(sum(cents) AS DOUBLE) / count(*) AS dmean,
                  CAST(count(*) AS BIGINT) AS dn
           FROM ev GROUP BY dow),
    he AS (SELECT hod, CAST(sum(cents) AS DOUBLE) / count(*) AS hmean,
                  CAST(count(*) AS BIGINT) AS hn
           FROM ev GROUP BY hod)
    SELECT g.n AS n_events,
           round((SELECT sum(dn * (dmean - g.mu) * (dmean - g.mu)) FROM de)
                 / (CAST(g.s2 AS DOUBLE) - CAST(g.s1 AS DOUBLE) * g.s1 / g.n),
                 6) AS dow_var_share,
           round((SELECT sum(hn * (hmean - g.mu) * (hmean - g.mu)) FROM he)
                 / (CAST(g.s2 AS DOUBLE) - CAST(g.s1 AS DOUBLE) * g.s1 / g.n),
                 6) AS hour_var_share
    FROM g
    """,
)
def value_dow_hour_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way seasonality decomposition of event values: the share of
    total variance explained by the day-of-week effect and by the
    hour-of-day effect (between-group sum of squares over total SS —
    one-way eta² along each calendar axis). Near-zero shares mean the
    value process has no calendar structure worth modelling; the
    heatmap (events_dow_hour_heatmap) SHOWS the surface, this SCORES it.
    All moments are exact integer cents sums folded in three
    constant-output aggregates (7-row, 24-row, 1-row); the SS ratios
    are the only floats. dayofweek/hour agree across engines under the
    pinned UTC session (the events_dow_hour_heatmap precedent)."""
    e = _load(spark, sf_dir, "events").select(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).localCheckpoint(eager=False)
    g = e.agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    de = e.groupBy("dow").agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("dmean"),
        F.count(F.lit(1)).cast("long").alias("dn"),
    )
    he = e.groupBy("hod").agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("hmean"),
        F.count(F.lit(1)).cast("long").alias("hn"),
    )
    dss = (
        de.crossJoin(F.broadcast(g.select("mu")))
        .agg(
            F.sum(
                F.col("dn") * (F.col("dmean") - F.col("mu")) * (F.col("dmean") - F.col("mu"))
            ).alias("dow_ss")
        )
    )
    hss = (
        he.crossJoin(F.broadcast(g.select("mu")))
        .agg(
            F.sum(
                F.col("hn") * (F.col("hmean") - F.col("mu")) * (F.col("hmean") - F.col("mu"))
            ).alias("hour_ss")
        )
    )
    tot_ss = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    )
    return (
        g.crossJoin(F.broadcast(dss))
        .crossJoin(F.broadcast(hss))
        .select(
            F.col("n").alias("n_events"),
            F.round(F.col("dow_ss") / tot_ss, 6).alias("dow_var_share"),
            F.round(F.col("hour_ss") / tot_ss, 6).alias("hour_var_share"),
        )
    )
