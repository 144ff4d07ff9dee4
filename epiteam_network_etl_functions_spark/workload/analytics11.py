"""Round-11 analytics.

Families: distribution-drift monitoring (PSI), categorical sequence
structure on orders, per-customer cadence burstiness, supply-base
concentration, corpus diversity (Simpson), embedding-coordinate ANOVA,
uniformity goodness-of-fit, and the home/work separation mobility
product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..session import prep
from ..utils import drain_available_now
from . import query


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    prep(spark)
    return catalog.load(spark, sf_dir, table)


_PSI_BUCKETS = 10
_PSI_WIDTH = 50  # value in [0, ~500): 10 fixed 50-wide buckets


@query(
    "value_psi_halves",
    oracle=f"""
    WITH b AS (
        SELECT event_type,
               CASE WHEN day(ts) <= 15 THEN 1 ELSE 2 END AS half,
               least(CAST(floor(value / {_PSI_WIDTH}) AS BIGINT),
                     {_PSI_BUCKETS - 1}) AS bucket
        FROM events
    ),
    cnt AS (
        SELECT event_type, half, bucket, CAST(count(*) AS BIGINT) AS c
        FROM b GROUP BY event_type, half, bucket
    ),
    tot AS (
        SELECT event_type, half, CAST(sum(c) AS BIGINT) AS n
        FROM cnt GROUP BY event_type, half
    ),
    grid AS (
        SELECT t1.event_type, g.bucket,
               coalesce(c1.c, 0) AS c1, t1.n AS n1,
               coalesce(c2.c, 0) AS c2, t2.n AS n2
        FROM (SELECT event_type, n FROM tot WHERE half = 1) t1
        JOIN (SELECT event_type, n FROM tot WHERE half = 2) t2
          ON t1.event_type = t2.event_type
        CROSS JOIN (SELECT unnest(range({_PSI_BUCKETS})) AS bucket) g
        LEFT JOIN cnt c1 ON c1.event_type = t1.event_type
                        AND c1.half = 1 AND c1.bucket = g.bucket
        LEFT JOIN cnt c2 ON c2.event_type = t1.event_type
                        AND c2.half = 2 AND c2.bucket = g.bucket
    )
    SELECT event_type,
           CAST(min(n1) AS BIGINT) AS n_first_half,
           CAST(min(n2) AS BIGINT) AS n_second_half,
           round(sum(
               (CAST(c2 + 1 AS DOUBLE) / (n2 + {_PSI_BUCKETS})
                - CAST(c1 + 1 AS DOUBLE) / (n1 + {_PSI_BUCKETS}))
               * ln((CAST(c2 + 1 AS DOUBLE) / (n2 + {_PSI_BUCKETS}))
                    / (CAST(c1 + 1 AS DOUBLE) / (n1 + {_PSI_BUCKETS})))
           ), 6) + 0.0 AS psi
    FROM grid GROUP BY event_type
    """,
)
def value_psi_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution between the
    first and second half of the month, per event type — the standard
    drift monitor a training-data pipeline runs between ingestion
    batches (PSI < 0.1 stable, > 0.25 action). Fixed-width buckets (no
    data-dependent quantile edges — bucket membership is exact integer
    arithmetic on both engines) with add-one smoothing so empty cells
    contribute finitely. One fact pass to (type, half, bucket) counts;
    everything after is a constant 5x2x10 grid."""
    e = _load(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(2).alias("half"),
        F.least(
            (F.col("value") / _PSI_WIDTH).cast("long"),
            F.lit(_PSI_BUCKETS - 1),
        ).alias("bucket"),
    )
    cnt = b.groupBy("event_type", "half", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    # four consumers (t1/t2/c1/c2) would re-run the fact aggregation
    # four times (plan_audit lead; the checkpoint-on-reuse rule)
    ).localCheckpoint(eager=False)
    tot = cnt.groupBy("event_type", "half").agg(
        F.sum("c").cast("long").alias("n")
    )
    t1 = tot.where(F.col("half") == 1).select("event_type", F.col("n").alias("n1"))
    t2 = tot.where(F.col("half") == 2).select("event_type", F.col("n").alias("n2"))
    buckets = spark.range(_PSI_BUCKETS).select(F.col("id").alias("bucket"))
    c1 = cnt.where(F.col("half") == 1).select(
        "event_type", "bucket", F.col("c").alias("c1")
    )
    c2 = cnt.where(F.col("half") == 2).select(
        "event_type", "bucket", F.col("c").alias("c2")
    )
    grid = (
        t1.join(t2, "event_type")
        .crossJoin(F.broadcast(buckets))
        .join(c1, ["event_type", "bucket"], "left")
        .join(c2, ["event_type", "bucket"], "left")
        .fillna(0, ["c1", "c2"])
    )
    p1 = (F.col("c1") + 1).cast("double") / (F.col("n1") + _PSI_BUCKETS)
    p2 = (F.col("c2") + 1).cast("double") / (F.col("n2") + _PSI_BUCKETS)
    return grid.groupBy("event_type").agg(
        F.min("n1").cast("long").alias("n_first_half"),
        F.min("n2").cast("long").alias("n_second_half"),
        (F.round(F.sum((p2 - p1) * F.log(p2 / p1)), 6) + F.lit(0.0)).alias(
            "psi"
        ),
    )


@query(
    "order_priority_markov",
    oracle="""
    WITH seq AS (
        SELECT o_orderpriority AS cur,
               lag(o_orderpriority) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev
        FROM orders
    ),
    trans AS (
        SELECT prev, cur, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
    ),
    rowtot AS (SELECT prev, CAST(sum(n) AS BIGINT) AS rn FROM trans GROUP BY prev)
    SELECT t.prev AS prev_priority, t.cur AS next_priority, t.n,
           round(CAST(t.n AS DOUBLE) / r.rn, 6) AS prob
    FROM trans t JOIN rowtot r ON t.prev = r.prev
    """,
)
def order_priority_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of a customer's consecutive
    order priorities — do urgent orders beget urgent orders, or is
    priority memoryless? (The orders-side sibling of the certified
    events markov_transition_probs; independence would make every row of
    the matrix equal the priority marginals.) Customer-partitioned lag
    (scale-safe), one 25-cell count, row-normalized."""
    o = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.col("o_orderpriority").alias("cur"),
        F.lag("o_orderpriority").over(w).alias("prev"),
    )
    trans = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rowtot = trans.groupBy("prev").agg(F.sum("n").cast("long").alias("rn"))
    return trans.join(rowtot, "prev").select(
        F.col("prev").alias("prev_priority"),
        F.col("cur").alias("next_priority"),
        "n",
        F.round(F.col("n").cast("double") / F.col("rn"), 6).alias("prob"),
    )


@query(
    "customer_order_burstiness",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderdate,
               lag(o_orderdate) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev
        FROM orders
    ),
    gaps AS (
        SELECT o_custkey,
               CAST(date_diff('day', prev, o_orderdate) AS BIGINT) AS g
        FROM seq WHERE prev IS NOT NULL
    ),
    per_c AS (
        SELECT o_custkey,
               avg(g) AS mu, stddev_samp(g) AS sigma
        FROM gaps GROUP BY o_custkey HAVING count(*) >= 2
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(avg((p.sigma - p.mu) / (p.sigma + p.mu)), 6) + 0.0
               AS avg_burstiness
    FROM per_c p JOIN customer c ON p.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def customer_order_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B = (sigma - mu)/(sigma + mu) of each
    customer's inter-order gaps, averaged by segment: B < 0 regular
    subscription-like cadence, B ~ 0 Poisson, B > 0 bursty — the
    per-entity cadence diagnostic where reorder_latency_by_segment only
    reports central tendency. Gaps are exact integer days; the customer
    window is partitioned (scale-safe); customers need >= 2 gaps for a
    defined sample sigma (the Welch-test gate discipline)."""
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev"),
    )
    gaps = seq.where(F.col("prev").isNotNull()).select(
        "o_custkey",
        F.datediff("o_orderdate", "prev").cast("long").alias("g"),
    )
    per_c = (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("ng"),
            F.avg("g").alias("mu"),
            F.stddev_samp("g").alias("sigma"),
        )
        .where(F.col("ng") >= 2)
    )
    b = (F.col("sigma") - F.col("mu")) / (F.col("sigma") + F.col("mu"))
    return (
        per_c.join(F.broadcast(c), per_c.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.round(F.avg(b), 6) + F.lit(0.0)).alias("avg_burstiness"),
        )
    )


@query(
    "supplier_part_gini",
    oracle="""
    WITH sp AS (
        SELECT l_suppkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
        SELECT n_parts,
               row_number() OVER (ORDER BY n_parts ASC, l_suppkey ASC) AS i
        FROM sp
    )
    SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(n_parts) AS BIGINT) AS total_assignments,
           round((2.0 * sum(i * n_parts)
                  - (count(*) + 1.0) * sum(n_parts))
                 / (count(*) * sum(n_parts)), 6) + 0.0 AS gini
    FROM ranked
    """,
)
def supplier_part_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of catalog breadth across suppliers (distinct
    parts each supplier actually shipped) — the supply-base
    concentration scorecard next to supplier_herfindahl (which weighs
    revenue; this weighs assortment). Same exact-integer rank formula
    as the certified colocation_degree_gini, over the supplier-sized
    summary (the global rank window is dim-bounded by construction)."""
    li = _load(spark, sf_dir, "lineitem")
    sp = li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").cast("long").alias("n_parts")
    )
    w = Window.orderBy(F.asc("n_parts"), F.asc("l_suppkey"))
    ranked = sp.withColumn("i", F.row_number().over(w))
    n = F.count(F.lit(1))
    return ranked.agg(
        n.cast("long").alias("n_suppliers"),
        F.sum("n_parts").cast("long").alias("total_assignments"),
        (
            F.round(
                (
                    2.0 * F.sum(F.col("i") * F.col("n_parts"))
                    - (n + 1.0) * F.sum("n_parts")
                )
                / (n * F.sum("n_parts")),
                6,
            )
            + F.lit(0.0)
        ).alias("gini"),
    )


@query(
    "doc_simpson_diversity",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    cnt AS (
        SELECT source, t, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY source, t
    ),
    tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source)
    SELECT c.source,
           CAST(min(t.n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           round(sum((CAST(c.c AS DOUBLE) / t.n) * (CAST(c.c AS DOUBLE) / t.n)),
                 6) AS simpson,
           round(1.0 / sum((CAST(c.c AS DOUBLE) / t.n)
                           * (CAST(c.c AS DOUBLE) / t.n)), 6)
               AS effective_vocab
    FROM cnt c JOIN tot t ON c.source = t.source
    GROUP BY c.source
    """,
)
def doc_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration (sum p²) and its inverse (effective
    vocabulary size) per source — the collision-probability diversity
    measure next to entropy (doc_char_entropy) and Heaps' growth
    (source_heaps_law): 1/sum p² is how many equally-common words the
    source behaves as having, the corpus analogue of Herfindahl's
    effective-competitor count. Map-side combined unigram counts, one
    source-keyed fold; p = c/N is a ratio of exact integers so both
    engines square identical doubles."""
    d = _load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("t"))
    cnt = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        cnt.join(tot, "source")
        .groupBy("source")
        .agg(
            F.min("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.round(F.sum(p * p), 6).alias("simpson"),
            F.round(1.0 / F.sum(p * p), 6).alias("effective_vocab"),
        )
    )


_A11_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@query(
    "embedding_dim0_anova",
    oracle="""
    WITH norms AS (
        SELECT label, round(CAST(embedding[1] AS DOUBLE), 6) AS x
        FROM embeddings
    ),
    g AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_g, avg(x) AS m_g
        FROM norms GROUP BY label
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(x) AS m FROM norms),
    ssb AS (
        SELECT sum(n_g * (m_g - t.m) * (m_g - t.m)) AS ss_between,
               CAST(count(*) AS BIGINT) AS k
        FROM g CROSS JOIN tot t
    ),
    ssw AS (
        SELECT sum((x - g.m_g) * (x - g.m_g)) AS ss_within
        FROM norms nr JOIN g ON nr.label = g.label
    )
    SELECT CAST(t.n AS BIGINT) AS n_vectors,
           CAST(b.k - 1 AS BIGINT) AS dof_between,
           CAST(t.n - b.k AS BIGINT) AS dof_within,
           round((b.ss_between / (b.k - 1))
                 / (w.ss_within / (t.n - b.k)), 6) AS f_statistic
    FROM ssb b CROSS JOIN ssw w CROSS JOIN tot t
    """,
)
def embedding_dim0_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of the embedding's FIRST coordinate across
    labels — is class information linearly readable off a single
    dimension (the per-coordinate view of what label_cosine_separation
    measures in aggregate, and the significance test behind
    embedding_dim_variance's ranking). The L2 norm would be the classic
    magnitude-leak test, but this corpus is unit-normalized (all norms
    exactly 1 — ss_within = 0, F undefined), which is itself a verified
    property (test_round11). Coordinates are rounded to the 1e-6 grid
    FIRST (the certified embedding_norms discipline), so both engines
    fold identical doubles into the moment sums; one pass for the
    coordinate, label-sized moment tables after."""
    e = _load(spark, sf_dir, "embeddings")
    norms = e.select(
        "label",
        F.round(F.col("embedding")[0].cast("double"), 6).alias("x"),
    )
    g = norms.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.avg("x").alias("m_g"),
    )
    tot = norms.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.avg("x").alias("m")
    )
    ssb = (
        g.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("n_g")
                * (F.col("m_g") - F.col("m"))
                * (F.col("m_g") - F.col("m"))
            ).alias("ss_between"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    ssw = (
        norms.join(F.broadcast(g), "label")
        .agg(
            F.sum(
                (F.col("x") - F.col("m_g")) * (F.col("x") - F.col("m_g"))
            ).alias("ss_within")
        )
    )
    return (
        ssb.crossJoin(ssw)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").cast("long").alias("n_vectors"),
            (F.col("k") - 1).cast("long").alias("dof_between"),
            (F.col("n") - F.col("k")).cast("long").alias("dof_within"),
            F.round(
                (F.col("ss_between") / (F.col("k") - 1))
                / (F.col("ss_within") / (F.col("n") - F.col("k"))),
                6,
            ).alias("f_statistic"),
        )
    )


@query(
    "quantity_uniformity_chi2",
    oracle="""
    WITH obs AS (
        SELECT CAST(l_quantity AS BIGINT) AS q, CAST(count(*) AS BIGINT) AS o
        FROM lineitem GROUP BY q
    ),
    tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
        FROM obs
    )
    SELECT CAST(t.n AS BIGINT) AS n_lines,
           CAST(t.k - 1 AS BIGINT) AS dof,
           round(sum((o - CAST(t.n AS DOUBLE) / t.k)
                     * (o - CAST(t.n AS DOUBLE) / t.k)
                     / (CAST(t.n AS DOUBLE) / t.k)), 6) AS chi2
    FROM obs CROSS JOIN tot t
    GROUP BY t.n, t.k
    """,
)
def quantity_uniformity_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared goodness-of-fit of the order-quantity distribution
    against uniform over its realized support — the data-generator
    sanity check (synthetic pipelines are supposed to draw quantity
    uniformly; a skew here means the generator or an upstream filter
    drifted). Complements mktsegment_nation_chi2 (independence) with
    the one-sample GoF form. One 50-row observed table; every count is
    an exact integer and the expected value n/k is the only float."""
    li = _load(spark, sf_dir, "lineitem")
    obs = li.groupBy(F.col("l_quantity").cast("long").alias("q")).agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    tot = obs.agg(
        F.sum("o").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    exp = F.col("n").cast("double") / F.col("k")
    return (
        obs.crossJoin(F.broadcast(tot))
        .groupBy("n", "k")
        .agg(
            F.round(
                F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp), 6
            ).alias("chi2")
        )
        .select(
            F.col("n").cast("long").alias("n_lines"),
            (F.col("k") - 1).cast("long").alias("dof"),
            "chi2",
        )
    )


@query(
    "home_work_separation",
    oracle=None,  # installed below (needs the pings CTE from workload.pings)
)
def home_work_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance between each device's NIGHT anchor cell (hour >= 22 or
    < 6 — the reference's home-inference window, P7) and its WORKDAY
    anchor cell (9 <= hour < 17), as a Chebyshev-grid-distance
    histogram — the commute-separation product the reference's home
    pipeline stops one step short of. Anchors are the W4 winner kernel
    per (device, regime) (count DESC, cell ASC — total order); the
    grid distance is the square grid's Chebyshev hops (F3,
    functions/squaregrid.grid_distance); devices need both anchors
    (inner join at device cardinality). Distances cap at 10 for a
    bounded histogram."""
    from ..functions.squaregrid import cell_sql, grid_distance
    from ..operators.winners import category_winner
    from .pings import RES, _pings
    from ..plans.mobility import with_cells

    p = with_cells(_pings(spark, sf_dir), out_col="cell", cell_expr=F.expr(cell_sql(RES)))
    hr = F.hour("cdmx_datetime")
    night = p.where((hr >= 22) | (hr < 6))
    work = p.where((hr >= 9) & (hr < 17))

    def anchor(df: DataFrame, name: str) -> DataFrame:
        return category_winner(df, "caid", "cell", out_category=name, out_score="n").select(
            "caid", name
        )

    j = anchor(night, "home_cell").join(anchor(work, "work_cell"), "caid")
    cheb = grid_distance("home_cell", "work_cell")
    return (
        j.select(F.least(cheb, F.lit(10)).cast("long").alias("grid_distance"))
        .groupBy("grid_distance")
        .agg(F.count(F.lit(1)).cast("long").alias("n_devices"))
    )


def _install_home_work_oracle() -> None:
    from . import ORACLES
    from ..functions.squaregrid import cell_sql
    from .pings import _PINGS_CTE, RES

    ORACLES["home_work_separation"] = f"""
    WITH {_PINGS_CTE.strip().removeprefix('WITH').strip()},
    pc AS (
        SELECT caid, {cell_sql(RES)} AS cell,
               EXTRACT(hour FROM cdmx_datetime) AS hr
        FROM pings
    ),
    night AS (
        SELECT caid, cell, count(*) AS n FROM pc
        WHERE hr >= 22 OR hr < 6 GROUP BY caid, cell
    ),
    work AS (
        SELECT caid, cell, count(*) AS n FROM pc
        WHERE hr >= 9 AND hr < 17 GROUP BY caid, cell
    ),
    home_w AS (
        SELECT caid, cell AS home_cell FROM (
            SELECT *, row_number() OVER (
                PARTITION BY caid ORDER BY n DESC, cell ASC
            ) AS rn FROM night
        ) WHERE rn = 1
    ),
    work_w AS (
        SELECT caid, cell AS work_cell FROM (
            SELECT *, row_number() OVER (
                PARTITION BY caid ORDER BY n DESC, cell ASC
            ) AS rn FROM work
        ) WHERE rn = 1
    ),
    j AS (
        SELECT h.caid,
               string_split(h.home_cell, ':') AS hp,
               string_split(w.work_cell, ':') AS wp
        FROM home_w h JOIN work_w w ON h.caid = w.caid
    )
    SELECT CAST(least(greatest(
               abs(CAST(hp[2] AS BIGINT) - CAST(wp[2] AS BIGINT)),
               abs(CAST(hp[3] AS BIGINT) - CAST(wp[3] AS BIGINT))
           ), 10) AS BIGINT) AS grid_distance,
           CAST(count(*) AS BIGINT) AS n_devices
    FROM j GROUP BY grid_distance
    """


_install_home_work_oracle()


_A11_STREAM_COUNTER = [0]


@query(
    "stream_sliding_hour_value",
    oracle="""
    WITH contrib AS (
        SELECT date_trunc('hour', ts) AS ws, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type,
               CAST(round(value * 100) AS BIGINT)
        FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:00') AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(cents) AS BIGINT) AS value_cents
    FROM contrib GROUP BY ws, event_type
    """,
)
def stream_sliding_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING with a SLIDING window (2 h length, 1 h
    slide) — the overlapping-window operator the streaming family did
    not yet certify (tumbling agg, stream-stream join, dedup, and
    stateful sessions are; sliding exercises the one-event-to-many-
    windows state path). Epoch-anchored window(ts, '2 hours', '1 hour')
    assigns each event to exactly the two hourly starts
    {trunc(ts), trunc(ts) - 1h}, which is what the oracle's UNION ALL
    states in batch SQL — so once the availableNow stream drains, the
    state machine must reproduce the batch rollup bit-for-bit (exact
    integer cents, no float order dependence). Complete mode into a
    memory sink is legitimate because the result is calendar x type
    bounded; production swaps update mode + watermark eviction
    (streaming/windows.py)."""
    import os
    import tempfile

    prep(spark)
    e = _load(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="graft_stream_sliding_")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    e.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = stream.groupBy(
        F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("value_cents"),
    )
    _A11_STREAM_COUNTER[0] += 1
    name = f"graft_stream_sliding_{os.getpid()}_{_A11_STREAM_COUNTER[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, tmp)
    return spark.table(name).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias(
            "window_start"
        ),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("value_cents").cast("bigint").alias("value_cents"),
    )


@query(
    "sim_measure_rank_corr",
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
    vocab AS (SELECT source, CAST(count(*) AS BIGINT) AS v FROM cnt GROUP BY source),
    pair AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS inter,
               sum(a.p / 2 * ln(2 * a.p / (a.p + b.p))
                   + b.p / 2 * ln(2 * b.p / (a.p + b.p))) AS shared_term,
               sum(a.p) AS pa, sum(b.p) AS pb
        FROM dist a JOIN dist b ON a.t = b.t AND a.source < b.source
        GROUP BY src_a, src_b
    ),
    m AS (
        SELECT p.src_a, p.src_b,
               round(p.shared_term + (1 - p.pa) / 2 * ln(2)
                     + (1 - p.pb) / 2 * ln(2), 6) + 0.0 AS jsd,
               round(CAST(p.inter AS DOUBLE)
                     / (va.v + vb.v - p.inter), 6) AS jac
        FROM pair p
        JOIN vocab va ON va.source = p.src_a
        JOIN vocab vb ON vb.source = p.src_b
    ),
    ranked AS (
        SELECT CAST(row_number() OVER (ORDER BY jsd, src_a, src_b) AS BIGINT)
                   AS r_jsd,
               CAST(row_number() OVER (ORDER BY -jac, src_a, src_b) AS BIGINT)
                   AS r_jac
        FROM m
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(1.0 - 6.0 * CAST(sum((r_jsd - r_jac) * (r_jsd - r_jac))
                                  AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE)
                    * (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)
                       - 1.0)), 6) AS spearman_rho
    FROM ranked
    """,
)
def sim_measure_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank agreement between the two source-similarity
    measures the engine ships — probabilistic (pairwise JSD, low =
    similar) and set-based (vocabulary Jaccard, high = similar) — the
    measure-consistency audit (the lsh_ppjoin_consistency discipline
    applied to divergence metrics): strong agreement means the cheap
    Jaccard can pre-filter for the expensive JSD at scale. One
    token-keyed distribution self-join computes BOTH measures (count
    for Jaccard, p-weighted terms for JSD — no second pass); ranks over
    the 190-pair summary use the integer-permutation Spearman closed
    form (balance_spend_spearman's discipline; the rank windows are
    pair-cardinality, constant in data size)."""
    d = _load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("t"))
    cnt = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    vocab = cnt.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    dist = cnt.join(tot, "source").select(
        "source", "t", (F.col("c").cast("double") / F.col("n")).alias("p")
    ).localCheckpoint(eager=False)
    a = dist.select(
        F.col("source").alias("src_a"), "t", F.col("p").alias("pa")
    )
    b = dist.select(
        F.col("source").alias("src_b"), "t", F.col("p").alias("pb")
    )
    pa, pb = F.col("pa"), F.col("pb")
    pair = (
        a.join(b, "t")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("inter"),
            F.sum(
                pa / 2 * F.log(2 * pa / (pa + pb))
                + pb / 2 * F.log(2 * pb / (pa + pb))
            ).alias("shared_term"),
            F.sum(pa).alias("pa_s"),
            F.sum(pb).alias("pb_s"),
        )
    )
    import math

    ln2 = math.log(2.0)
    va = vocab.select(F.col("source").alias("src_a"), F.col("v").alias("va"))
    vb = vocab.select(F.col("source").alias("src_b"), F.col("v").alias("vb"))
    m = (
        pair.join(F.broadcast(va), "src_a")
        .join(F.broadcast(vb), "src_b")
        .select(
            "src_a",
            "src_b",
            (
                F.round(
                    F.col("shared_term")
                    + (1 - F.col("pa_s")) / 2 * ln2
                    + (1 - F.col("pb_s")) / 2 * ln2,
                    6,
                )
                + F.lit(0.0)
            ).alias("jsd"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("va") + F.col("vb") - F.col("inter")),
                6,
            ).alias("jac"),
        )
    )
    ranked = m.select(
        F.row_number()
        .over(Window.orderBy("jsd", "src_a", "src_b"))
        .cast("long")
        .alias("r_jsd"),
        F.row_number()
        .over(Window.orderBy(F.col("jac").desc(), "src_a", "src_b"))
        .cast("long")
        .alias("r_jac"),
    )
    d2 = (F.col("r_jsd") - F.col("r_jac")) * (F.col("r_jsd") - F.col("r_jac"))
    n = F.count(F.lit(1)).cast("double")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.lit(1.0)
            - F.lit(6.0) * F.sum(d2).cast("double") / (n * (n * n - 1.0)),
            6,
        ).alias("spearman_rho"),
    )


@query(
    "od_gravity_fit",
    oracle=None,  # installed below (needs the pings CTE from workload.pings)
)
def od_gravity_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity-model fit of the OD matrix: OLS slope/intercept/R² of
    ln(trips_ij) on ln(outflow_i x inflow_j) — the classic spatial-
    interaction law (trips ~ (mass_i x mass_j)^beta), and the model
    audit the raw device_od_matrix product feeds at 100 TB (a bad fit
    flags structurally-coupled cells the certified transition-PMI then
    localizes). Same deterministic transition stream as
    device_od_matrix; marginals join back cell-keyed; the regression is
    the closed-form moment fold (part_size_price_regression's shape) —
    all counts exact integers, the only floats are the two logs and
    the final moments."""
    from .analytics10 import _pings_cells

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
        .localCheckpoint(eager=False)
    )
    fm = trans.groupBy("from_cell").agg(F.sum("n").cast("long").alias("nf"))
    tm = trans.groupBy("to_cell").agg(F.sum("n").cast("long").alias("nt"))
    j = trans.join(fm, "from_cell").join(tm, "to_cell")
    x = F.log(F.col("nf").cast("double") * F.col("nt").cast("double"))
    y = F.log(F.col("n").cast("double"))
    nn = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum(x), F.sum(y)
    sxx, sxy, syy = F.sum(x * x), F.sum(x * y), F.sum(y * y)
    # degenerate-input guard on EXACT INTEGER distinct counts (a float
    # variance==0 test would be summation-order dependent): a defined
    # fit needs >= 2 distinct masses AND >= 2 distinct trip counts —
    # tiny SFs where every OD pair has n=1 report a zero fit instead of
    # dividing by a zero variance.
    defined = (
        F.countDistinct(F.col("nf") * F.col("nt")) >= 2
    ) & (F.countDistinct(F.col("n")) >= 2)
    slope = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
    intercept = (sy - slope * sx) / nn
    r2 = (
        (nn * sxy - sx * sy)
        * (nn * sxy - sx * sy)
        / ((nn * sxx - sx * sx) * (nn * syy - sy * sy))
    )
    zero = F.lit(0.0)
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_od_pairs"),
        (F.round(F.when(defined, slope).otherwise(zero), 6) + zero).alias(
            "beta"
        ),
        (F.round(F.when(defined, intercept).otherwise(zero), 6) + zero).alias(
            "intercept"
        ),
        F.round(F.when(defined, r2).otherwise(zero), 6).alias("r2"),
    )


def _install_od_gravity_oracle() -> None:
    from . import ORACLES
    from ..functions.squaregrid import cell_sql
    from .pings import _PINGS_CTE, RES

    ORACLES["od_gravity_fit"] = f"""
    WITH {_PINGS_CTE.strip().removeprefix('WITH').strip()},
    pos AS MATERIALIZED (
        SELECT caid, cdmx_datetime, min({cell_sql(RES)}) AS cell
        FROM pings GROUP BY caid, cdmx_datetime
    ),
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
    ),
    fm AS (SELECT from_cell, CAST(sum(n) AS BIGINT) AS nf FROM trans GROUP BY from_cell),
    tm AS (SELECT to_cell, CAST(sum(n) AS BIGINT) AS nt FROM trans GROUP BY to_cell),
    pts AS (
        SELECT ln(CAST(t.n AS DOUBLE)) AS y,
               ln(CAST(fm.nf AS DOUBLE) * CAST(tm.nt AS DOUBLE)) AS x,
               fm.nf * tm.nt AS xm,
               t.n AS nn
        FROM trans t
        JOIN fm ON t.from_cell = fm.from_cell
        JOIN tm ON t.to_cell = tm.to_cell
    )
    SELECT CAST(count(*) AS BIGINT) AS n_od_pairs,
           round(CASE WHEN count(DISTINCT xm) >= 2 AND count(DISTINCT nn) >= 2
                 THEN (count(*) * sum(x * y) - sum(x) * sum(y))
                      / (count(*) * sum(x * x) - sum(x) * sum(x))
                 ELSE 0.0 END, 6) + 0.0 AS beta,
           round(CASE WHEN count(DISTINCT xm) >= 2 AND count(DISTINCT nn) >= 2
                 THEN (sum(y) - (count(*) * sum(x * y) - sum(x) * sum(y))
                                / (count(*) * sum(x * x) - sum(x) * sum(x))
                                * sum(x)) / count(*)
                 ELSE 0.0 END, 6) + 0.0 AS intercept,
           round(CASE WHEN count(DISTINCT xm) >= 2 AND count(DISTINCT nn) >= 2
                 THEN (count(*) * sum(x * y) - sum(x) * sum(y))
                      * (count(*) * sum(x * y) - sum(x) * sum(y))
                      / ((count(*) * sum(x * x) - sum(x) * sum(x))
                         * (count(*) * sum(y * y) - sum(y) * sum(y)))
                 ELSE 0.0 END, 6) AS r2
    FROM pts
    """


_install_od_gravity_oracle()


_A11_K = 10
_A11_NQ = 20
_A11_L2 = (
    "sqrt(list_sum(list_transform(range(1, len({a})+1), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
    "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))))"
)


@query(
    "cosine_l2_rank_agreement",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE vec_id < {_A11_NQ}
    ),
    scored AS (
        SELECT q.qid, e.vec_id,
               round({_A11_DOT.format(a='e.embedding', b='q.qe')}
                     / (sqrt({_A11_DOT.format(a='e.embedding', b='e.embedding')})
                        * sqrt({_A11_DOT.format(a='q.qe', b='q.qe')})), 6)
                   AS cosine,
               round({_A11_L2.format(a='e.embedding', b='q.qe')}, 6) AS l2
        FROM embeddings e, q WHERE e.vec_id <> q.qid
    ),
    rc AS (
        SELECT qid, vec_id,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cosine DESC, vec_id ASC
               ) AS r_cos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY l2 ASC, vec_id ASC
               ) AS r_l2
        FROM scored
    ),
    ov AS (
        SELECT qid,
               CAST(sum(CASE WHEN r_cos <= {_A11_K} AND r_l2 <= {_A11_K}
                             THEN 1 ELSE 0 END) AS BIGINT) AS both_k
        FROM rc GROUP BY qid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(CAST(both_k AS DOUBLE)
                     / (2 * {_A11_K} - both_k)), 6) AS mean_jaccard,
           CAST(min(both_k) AS BIGINT) AS min_overlap
    FROM ov
    """,
)
def cosine_l2_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_A11_K} agreement between cosine and Euclidean retrieval
    over {_A11_NQ} probe queries (mean Jaccard of the two top-k sets +
    worst-case overlap) — the metric-choice audit: on unit-normalized
    embeddings L2 is a monotone transform of cosine, so disagreement
    here would mean the corpus is NOT actually normalized and every
    cosine-bucketed ANN structure (rp-lsh, IVF) silently mis-ranks.
    Pairs both certified retrieval arms in one scored pass (cosine and
    L2 from the same join row); per-query ranks are qid-partitioned
    windows (scale-safe); exact brute-force audit arm by design."""
    from ..operators.similarity import as_double, cosine

    e = _load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < _A11_NQ).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("cid"), as_double(F.col("embedding")).alias("cv")
    ).repartition(spark.sparkContext.defaultParallelism)
    diff = F.zip_with(
        F.col("cv"), F.col("qv"), lambda a, b: (a - b) * (a - b)
    )
    l2 = F.sqrt(
        F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("cosine"),
            F.round(l2, 6).alias("l2"),
        )
    )
    w_cos = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    w_l2 = Window.partitionBy("qid").orderBy(F.asc("l2"), F.asc("cid"))
    rc = scored.select(
        "qid",
        F.row_number().over(w_cos).alias("r_cos"),
        F.row_number().over(w_l2).alias("r_l2"),
    )
    ov = rc.groupBy("qid").agg(
        F.sum(
            F.when(
                (F.col("r_cos") <= _A11_K) & (F.col("r_l2") <= _A11_K), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("both_k")
    )
    return ov.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.avg(
                F.col("both_k").cast("double") / (2 * _A11_K - F.col("both_k"))
            ),
            6,
        ).alias("mean_jaccard"),
        F.min("both_k").cast("long").alias("min_overlap"),
    )


@query(
    "heavy_hitters_verdict",
    oracle="""
    WITH pc AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_lines,
               CAST(max(n) AS BIGINT) AS max_n
        FROM pc
    )
    SELECT CAST(min(t.n_lines) AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_flagged,
           TRUE AS all_found
    FROM pc CROSS JOIN tot t
    WHERE pc.n * 2 >= t.max_n
    """,
)
def heavy_hitters_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k frequent-items sketch
    (Datasketches, Spark 4) — the 100 TB hot-key detector (the input to
    salting plans like the certified hot_cell_salt_plan), certified by
    its NO-FALSE-NEGATIVE guarantee over a census that is NON-EMPTY at
    every SF by construction: every part within 2x of the modal line
    count (the max itself always qualifies) must appear in a top-k
    sketch whose capacity (4096) exceeds the whole part domain at test
    SFs and the census size at any SF. The sketch's item order and
    estimates are merge-order dependent (never hashed); the driver
    compares the exact flagged-item census and the guarantee verdict,
    both deterministic. Oracle computes the same census exactly and
    asserts TRUE."""
    li = _load(spark, sf_dir, "lineitem")
    pc = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = pc.agg(
        F.sum("n").cast("long").alias("n_lines"),
        F.max("n").cast("long").alias("max_n"),
    )
    flagged = (
        pc.crossJoin(F.broadcast(tot))
        .where(F.col("n") * 2 >= F.col("max_n"))
        .select("l_partkey", "n", "n_lines")
        .localCheckpoint(eager=False)
    )
    sketch = li.select(
        F.explode(
            F.expr("approx_top_k_estimate(approx_top_k_accumulate(l_partkey, 4096), 4096)")
        ).alias("e")
    ).select(F.col("e.item").alias("l_partkey"))
    found = flagged.join(sketch, "l_partkey", "left_semi")
    n_found = found.agg(F.count(F.lit(1)).alias("nf"))
    return (
        flagged.agg(
            F.min("n_lines").cast("long").alias("n_lines"),
            F.count(F.lit(1)).cast("long").alias("n_flagged"),
        )
        .crossJoin(F.broadcast(n_found))
        .select(
            "n_lines",
            "n_flagged",
            (F.col("nf") == F.col("n_flagged")).alias("all_found"),
        )
    )


@query(
    "theta_set_ops_verdict",
    oracle="""
    WITH a AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ),
    b AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
                AS BIGINT) AS n_intersect,
           CAST((SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
                AS BIGINT) AS n_union,
           TRUE AS within_bound
    """,
)
def theta_set_ops_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap set algebra on THETA sketches (Datasketches,
    Spark 4): |viewers|, |purchasers|, their intersection and union —
    the mergeable set-operation sketch that HLL cannot do (HLL unions
    but never intersects), and the 100 TB form of every overlap/funnel
    census. Certified by the verdict pattern: Spark computes the exact
    counts (hash-compared) AND the four theta estimates, asserting each
    within 5 standard errors (theta default lgK=12 -> ~1.6% rse, bound
    10% + small-count floor); the estimates themselves are never
    hashed. Sketches build in ONE pass over the two slices and combine
    map-side — at scale the exact arm disappears and only the
    fixed-width sketch blobs move."""
    e = _load(spark, sf_dir, "events")
    a = e.where(F.col("event_type") == "view").select("user_id")
    b = e.where(F.col("event_type") == "purchase").select("user_id")
    sk = (
        a.agg(F.expr("theta_sketch_agg(user_id)").alias("ska"))
        .crossJoin(b.agg(F.expr("theta_sketch_agg(user_id)").alias("skb")))
        .select(
            F.expr("theta_sketch_estimate(ska)").alias("est_a"),
            F.expr("theta_sketch_estimate(skb)").alias("est_b"),
            F.expr(
                "theta_sketch_estimate(theta_intersection(ska, skb))"
            ).alias("est_i"),
            F.expr("theta_sketch_estimate(theta_union(ska, skb))").alias(
                "est_u"
            ),
        )
    )
    na = a.distinct().count()
    nb = b.distinct().count()
    ni = a.distinct().intersect(b.distinct()).count()
    nu = a.distinct().union(b.distinct()).distinct().count()
    ok = None
    for est, exact in (("est_a", na), ("est_b", nb), ("est_i", ni), ("est_u", nu)):
        cond = F.abs(F.col(est) - F.lit(float(exact))) <= 0.10 * exact + 3.0
        ok = cond if ok is None else (ok & cond)
    return sk.select(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(nb).cast("long").alias("n_b"),
        F.lit(ni).cast("long").alias("n_intersect"),
        F.lit(nu).cast("long").alias("n_union"),
        ok.alias("within_bound"),
    )


@query(
    "kll_quantile_verdict",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.99), 6) AS p99,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def kll_quantile_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type quantiles via the KLL sketch (Datasketches, Spark 4) —
    the MERGEABLE quantile summary (GK approx_percentile certified in
    median_sketch_verdict is not a mergeable-across-shards sketch in
    the Datasketches sense; KLL is what a 1000-executor pipeline
    aggregates hierarchically). Verdict form: the sketch's value answers
    at ranks 0.5/0.99 (kll_sketch_get_quantile — the rank argument must
    be a literal, so the check runs in value-out direction) are joined
    back and their TRUE ranks measured by counting; each must sit
    within the KLL(200) normalized rank error (~1.65% at one sigma;
    bound 8% + small-count floor) of its target — a rank-space
    assertion, scale-free, and the sketch's value-space output is never
    hashed. Exact quantiles ride along as the hash-compared columns
    (the certified value_quantiles interpolation discipline)."""
    e = _load(spark, sf_dir, "events")
    est = e.groupBy("event_type").agg(
        F.expr(
            "kll_sketch_get_quantile_double("
            "kll_sketch_agg_double(value, 200), 0.5)"
        ).alias("k50"),
        F.expr(
            "kll_sketch_get_quantile_double("
            "kll_sketch_agg_double(value, 200), 0.99)"
        ).alias("k99"),
    )
    j = e.join(F.broadcast(est), "event_type")
    n = F.count(F.lit(1))
    nd = n.cast("double")
    le50 = F.sum(F.when(F.col("value") <= F.col("k50"), 1).otherwise(0))
    le99 = F.sum(F.when(F.col("value") <= F.col("k99"), 1).otherwise(0))
    return j.groupBy("event_type").agg(
        n.cast("long").alias("n_events"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        (
            (F.abs(le50.cast("double") / nd - 0.5) <= 0.08 + 2 / nd)
            & (F.abs(le99.cast("double") / nd - 0.99) <= 0.08 + 2 / nd)
        ).alias("within_bound"),
    )


@query(
    "bitmap_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per type via BITMAP aggregation (Spark 4
    bitmap_construct_agg / bitmap_count) — the third distinct-count
    strategy next to the exact two-phase expansion (bucket_counts) and
    the HLL estimate (approx_distinct_users_verdict): for dense integer
    id domains, per-(group, bucket) fixed-width bitmaps OR together
    map-side and count exactly, so the shuffle carries
    groups x buckets x 4 KB instead of one row per distinct (group,
    user) pair — exactness without the expansion, the warehouse
    bitmap-rollup idiom. Two map-side-combined aggregations (bucket
    level, then group level); hash-compared against plain
    COUNT(DISTINCT), no verdict needed because bitmaps are exact."""
    e = _load(spark, sf_dir, "events")
    per_bucket = e.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("b")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        )
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_users")
    )


@query(
    "count_min_freq_verdict",
    oracle="""
    WITH pc AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_lines,
               CAST(max(n) AS BIGINT) AS max_n
        FROM pc
    )
    SELECT CAST(min(t.n_lines) AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_flagged,
           TRUE AS all_within
    FROM pc CROSS JOIN tot t
    WHERE pc.n * 2 >= t.max_n
    """,
)
def count_min_freq_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency certification (the fourth
    Datasketches-family member: CMS answers "how often did THIS key
    occur" in fixed memory where approx_top_k answers "which keys
    dominate"). Verdict: for every heavy part (>= 1/400 share, the
    heavy_hitters_verdict census), the CMS estimate must satisfy the
    classic guarantee true <= est <= true + eps*N (eps=0.001,
    delta=0.01, fixed seed). The census is the heavy_hitters_verdict
    one — parts within 2x of the modal count, non-empty at every SF by
    construction. Deterministic across any partitioning because CMS
    merge is counter ADDITION — order-free, unlike order-sensitive
    sample-based sketches. The sketch blob and the census are the only
    driver-side state; the verdict fold happens on the census frame."""
    li = _load(spark, sf_dir, "lineitem")
    pc = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot_row = pc.agg(
        F.sum("n").cast("long").alias("n_lines"),
        F.max("n").cast("long").alias("max_n"),
    ).head()
    n_lines = int(tot_row["n_lines"] if tot_row else 0)
    max_n = int(tot_row["max_n"] if tot_row else 0)
    flagged = [
        (int(r["l_partkey"]), int(r["n"]))
        for r in pc.where(F.col("n") * 2 >= F.lit(max_n)).collect()
    ]
    blob = li.agg(
        F.expr("count_min_sketch(l_partkey, 0.001d, 0.99d, 42)").alias("s")
    ).head()["s"]
    cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(blob)
    )
    eps_n = 0.001 * n_lines + 1
    # py4j would box a small Python int as java.lang.Integer, which the
    # sketch hashes differently from the BIGINT column it indexed —
    # force java.lang.Long so estimateCount probes the right cells.
    jlong = spark._jvm.java.lang.Long.valueOf
    ok = all(
        true_n <= cms.estimateCount(jlong(str(key))) <= true_n + eps_n
        for key, true_n in flagged
    )
    return spark.createDataFrame(
        [(n_lines, len(flagged), bool(ok))],
        "n_lines long, n_flagged long, all_within boolean",
    )
