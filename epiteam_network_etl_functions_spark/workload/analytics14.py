"""Round-12 analytics, third tranche.

Four audits a storage/statistics engineer runs before committing a
100 TB layout or a sampling shortcut: bucketed Kolmogorov-Smirnov fit
of inter-arrival gaps against the exponential model, per-source
log-normal length parameters, dictionary-encoding gain estimates for
the low-cardinality string columns, and the deterministic-sample
estimation-error curve that prices approximate aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..session import prep
from ..utils import drain_available_now
from . import query
from .extended import _hash_bucket_sql


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    prep(spark)
    return catalog.load(spark, sf_dir, table)


@query(
    "gap_exponential_ks",
    oracle="""
    WITH g AS (
        SELECT event_type,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY event_type, CAST(ts AS DATE)
                   ORDER BY ts ASC, event_id ASC
               )) AS gap_us
        FROM events
    ),
    gaps AS (
        SELECT event_type, gap_us, gap_us // 1000000 AS sec_bucket
        FROM g WHERE gap_us IS NOT NULL
    ),
    stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(gap_us) AS BIGINT) AS s_us
        FROM gaps GROUP BY event_type
    ),
    bc AS (
        SELECT event_type, sec_bucket, CAST(count(*) AS BIGINT) AS c
        FROM gaps GROUP BY event_type, sec_bucket
    ),
    cum AS (
        SELECT event_type, sec_bucket, c,
               CAST(sum(c) OVER (
                   PARTITION BY event_type ORDER BY sec_bucket ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum_c
        FROM bc
    ),
    d AS (
        SELECT cum.event_type,
               abs(CAST(cum.cum_c AS DOUBLE) / st.n
                   - (1 - exp(-(CAST(st.n AS DOUBLE) * 1000000.0 / st.s_us)
                              * (cum.sec_bucket + 1)))) AS dev
        FROM cum JOIN stats st ON cum.event_type = st.event_type
    )
    SELECT st.event_type, st.n AS n_gaps,
           round(CAST(st.s_us AS DOUBLE) / st.n / 1000000.0, 6)
               AS mean_gap_s,
           round((SELECT max(dev) FROM d WHERE d.event_type = st.event_type),
                 6) + 0.0 AS ks_d
    FROM stats st
    """,
)
def gap_exponential_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed Kolmogorov-Smirnov distance between each type's
    inter-arrival gaps and the exponential fit (rate = 1/mean) — is the
    arrival process Poisson enough to size a stream sink by mean rate?
    Gaps come from a (type, day)-partitioned lag (the scale-honest
    partitioning: each partition is one day of one type; the ~29
    cross-midnight gaps/type are dropped by construction, documented).
    The ECDF is evaluated at integer-second bucket edges, so the
    running sum is a window over the <=86400-row-per-type BUCKET
    SUMMARY, never the fact; the exponential CDF folds from exact
    integer (n, sum_us)."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    g = e.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    ).where(F.col("gap_us").isNotNull())
    gaps = g.select(
        "event_type",
        "gap_us",
        (F.col("gap_us") / F.lit(1000000)).cast("long").alias("sec_bucket"),
    ).localCheckpoint(eager=False)
    stats = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("gap_us").cast("long").alias("s_us"),
    )
    bc = gaps.groupBy("event_type", "sec_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("sec_bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = bc.select(
        "event_type",
        "sec_bucket",
        F.sum("c").over(w_cum).cast("long").alias("cum_c"),
    )
    rate = F.col("n").cast("double") * 1000000.0 / F.col("s_us")
    d = cum.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "n",
        "s_us",
        F.abs(
            F.col("cum_c").cast("double") / F.col("n")
            - (1 - F.exp(-rate * (F.col("sec_bucket") + 1)))
        ).alias("dev"),
    )
    return d.groupBy("event_type").agg(
        F.min("n").cast("long").alias("n_gaps"),
        F.round(
            F.min("s_us").cast("double") / F.min("n") / 1000000.0, 6
        ).alias("mean_gap_s"),
        (F.round(F.max("dev"), 6) + F.lit(0.0)).alias("ks_d"),
    )


@query(
    "doc_length_lognormal_params",
    oracle="""
    WITH l AS (
        SELECT source, CAST(n_chars AS DOUBLE) AS x, ln(CAST(n_chars AS DOUBLE)) AS lx
        FROM documents WHERE n_chars > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(lx), 6) + 0.0 AS mu,
           round(stddev_samp(lx), 6) + 0.0 AS sigma,
           round(quantile_cont(x, 0.50), 6) AS median_actual,
           round(exp(avg(lx)), 6) AS median_fit
    FROM l GROUP BY source
    """,
)
def doc_length_lognormal_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal fit of document length per source (mu/sigma of
    ln(chars)) with the fitted vs actual median — the size model a
    shard packer and a token-budget planner both consume (log-normal
    median = exp(mu); a big gap flags a mixed or truncated source).
    One map-side aggregate; fit quality is read off the two median
    columns."""
    d = _load(spark, sf_dir, "documents")
    l = d.where(F.col("n_chars") > 0).select(
        "source",
        F.col("n_chars").cast("double").alias("x"),
        F.log(F.col("n_chars").cast("double")).alias("lx"),
    )
    return l.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.round(F.avg("lx"), 6) + F.lit(0.0)).alias("mu"),
        (F.round(F.stddev_samp("lx"), 6) + F.lit(0.0)).alias("sigma"),
        F.round(F.expr("percentile(x, 0.50)"), 6).alias("median_actual"),
        F.round(F.exp(F.avg("lx")), 6).alias("median_fit"),
    )


_DICT_COLS = (
    ("documents", "source"),
    ("documents", "lang"),
    ("events", "event_type"),
    ("part", "p_brand"),
    ("part", "p_type"),
    ("orders", "o_orderpriority"),
)


def _dict_gain_sql() -> str:
    parts = []
    for tbl, col in _DICT_COLS:
        parts.append(f"""
    SELECT '{tbl}.{col}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
           CAST(sum(len({col})) AS BIGINT) AS plain_bytes
    FROM {tbl}""")
    u = " UNION ALL ".join(parts)
    return f"""
    WITH u AS ({u}),
    d AS (
        SELECT column_name, n_rows, n_distinct, plain_bytes,
               CASE WHEN n_distinct <= 256 THEN 1
                    WHEN n_distinct <= 65536 THEN 2 ELSE 4 END AS code_bytes
        FROM u
    )
    SELECT column_name, n_rows, n_distinct, plain_bytes,
           CAST(n_rows * code_bytes
                + (plain_bytes // n_rows) * n_distinct AS BIGINT)
               AS dict_bytes_est,
           round(1 - (n_rows * code_bytes
                      + (plain_bytes * 1.0 / n_rows) * n_distinct)
                     / plain_bytes, 6) + 0.0 AS gain
    FROM d
    """


@query("dict_encoding_gain_audit", oracle=_dict_gain_sql())
def dict_encoding_gain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding gain estimate for every low-cardinality
    string column across four tables (code width by cardinality tier +
    one dictionary copy at average value length, vs plain bytes) — the
    storage-format audit behind 'why is this parquet 5x smaller than
    the CSV'. Six independent map-side aggregates unioned; at 100 TB
    each contributes one row."""
    frames = []
    for tbl, col in _DICT_COLS:
        t = _load(spark, sf_dir, tbl)
        frames.append(
            t.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct(col).cast("long").alias("n_distinct"),
                F.sum(F.length(col)).cast("long").alias("plain_bytes"),
            ).select(F.lit(f"{tbl}.{col}").alias("column_name"), "*")
        )
    u = frames[0]
    for fdf in frames[1:]:
        u = u.unionByName(fdf)
    code_bytes = (
        F.when(F.col("n_distinct") <= 256, 1)
        .when(F.col("n_distinct") <= 65536, 2)
        .otherwise(4)
    )
    dict_est_exact = (
        F.col("n_rows") * code_bytes
        + F.floor(F.col("plain_bytes") / F.col("n_rows")).cast("long")
        * F.col("n_distinct")
    ).cast("long")
    dict_est = (
        F.col("n_rows") * code_bytes
        + (F.col("plain_bytes") * 1.0 / F.col("n_rows")) * F.col("n_distinct")
    )
    return u.select(
        "column_name",
        "n_rows",
        "n_distinct",
        "plain_bytes",
        dict_est_exact.alias("dict_bytes_est"),
        (F.round(1 - dict_est / F.col("plain_bytes"), 6) + F.lit(0.0)).alias(
            "gain"
        ),
    )


@query(
    "sample_estimate_error_curve",
    oracle=f"""
    WITH e AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents,
               {_hash_bucket_sql('event_id', 1000, 'samp')} AS b
        FROM events
    ),
    t AS (
        SELECT CAST(sum(cents) AS BIGINT) AS true_cents,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM e
    ),
    th AS (SELECT unnest(list_value(10, 20, 50, 100, 200)) AS thr)
    SELECT CAST(th.thr / 10 AS BIGINT) AS sample_pct,
           CAST(sum(CASE WHEN e.b < th.thr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           round(sum(CASE WHEN e.b < th.thr THEN e.cents ELSE 0 END)
                 * (1000.0 / th.thr) / 100.0, 2) AS est_total,
           round(min(t.true_cents) / 100.0, 2) AS true_total,
           round(abs(sum(CASE WHEN e.b < th.thr THEN e.cents ELSE 0 END)
                     * (1000.0 / th.thr) - min(t.true_cents))
                 / min(t.true_cents), 6) + 0.0 AS rel_error
    FROM e CROSS JOIN th CROSS JOIN t
    GROUP BY sample_pct, th.thr
    """,
)
def sample_estimate_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative error of the Horvitz-Thompson total estimate under
    deterministic md5 sampling at 1/2/5/10/20% — the curve that prices
    'run it on a sample' against exactness (the engine's hash-bucket
    sampling is reproducible, so the same rows are in the sample on
    every engine and every run: the error is a property of the DATA,
    not the RNG). One fact scan fans out over a broadcast 5-row
    threshold grid; all sums are exact integer cents."""
    e = _load(spark, sf_dir, "events")
    from ..operators.sampling import hash_bucket

    base = e.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        hash_bucket(F.col("event_id"), 1000, "samp").alias("b"),
    ).localCheckpoint(eager=False)
    t = base.agg(
        F.sum("cents").cast("long").alias("true_cents"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    th = spark.createDataFrame(
        [(10,), (20,), (50,), (100,), (200,)], "thr int"
    )
    j = base.crossJoin(F.broadcast(th)).crossJoin(F.broadcast(t))
    in_s = F.col("b") < F.col("thr")
    est = F.sum(F.when(in_s, F.col("cents")).otherwise(0)) * (
        1000.0 / F.col("thr")
    )
    return j.groupBy(
        (F.col("thr") / 10).cast("long").alias("sample_pct"), F.col("thr")
    ).agg(
        F.sum(F.when(in_s, 1).otherwise(0)).cast("long").alias("n_sampled"),
        F.round(est / 100.0, 2).alias("est_total"),
        F.round(F.min("true_cents") / 100.0, 2).alias("true_total"),
        (
            F.round(
                F.abs(est - F.min("true_cents")) / F.min("true_cents"), 6
            )
            + F.lit(0.0)
        ).alias("rel_error"),
    ).drop("thr")


_A14_STREAM_COUNTER = [0]


@query(
    "stream_static_enrichment",
    oracle="""
    WITH dim AS (
        SELECT user_id,
               CAST((min(day(ts)) - 1) // 7 + 1 AS BIGINT) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT d.cohort_week, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY d.cohort_week, e.event_type
    """,
)
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING stream-STATIC join — the dimension
    enrichment path (stream fact x broadcast-refreshed batch dim) the
    streaming family had not yet certified (tumbling, sliding,
    stream-stream, dedup, and stateful sessions are). The static side
    is the first-seen cohort-week dim computed batch-side; each
    micro-batch joins it broadcast, so state is dim-sized and the
    drained availableNow stream must reproduce the batch join + rollup
    bit-for-bit (exact integer cents)."""
    import os
    import tempfile

    prep(spark)
    e = _load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    dim = e.groupBy("user_id").agg(
        (
            F.floor((F.min(F.dayofmonth("ts")) - 1) / 7) + 1
        ).cast("long").alias("cohort_week")
    )
    tmp = tempfile.mkdtemp(prefix="graft_stream_dim_")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    e.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    joined = stream.join(F.broadcast(dim), "user_id")
    agg = joined.groupBy("cohort_week", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("value_cents"),
    )
    _A14_STREAM_COUNTER[0] += 1
    name = f"graft_stream_dim_{os.getpid()}_{_A14_STREAM_COUNTER[0]}"
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
        F.col("cohort_week").cast("long").alias("cohort_week"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("value_cents").cast("bigint").alias("value_cents"),
    )
