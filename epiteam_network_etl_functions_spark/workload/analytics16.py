"""Round-12 registrations, fifth tranche: new API surfaces as
driver-certified queries.

The relational idea space over the ten tables is close to mined out
(428 queries); marginal coverage now lives in surfaces the engine
exposes but the driver has never certified:

- the ``parquet_meta`` Python DataSource (footer metadata as a table,
  locked against CONTENT aggregates both engines compute),
- the ``graphml`` reader DataSource (full sink -> source round trip of
  the S12 export format),
- the ``geojson`` DataSource as a driver query (S6 was pytest-only),
- Python UDTFs in both API forms (scalar-args lateral and
  TABLE(... PARTITION BY ... ORDER BY ...) with terminate()),
- two streaming surfaces: append-output-mode WATERMARK EVICTION (the
  one output mode the nine certified streaming rows don't cover) and
  the foreachBatch sink,

plus five rollups in genuinely uncovered analytics territory
(Cramér's V effect size, two-sample KS across tables, sentence
segmentation, char-class census, unionByName schema evolution).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..session import prep
from ..utils import drain_available_now
from . import query


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    prep(spark)
    return catalog.load(spark, sf_dir, table)


def _atexit_rmtree(path: str) -> None:
    import atexit
    import shutil

    atexit.register(shutil.rmtree, path, ignore_errors=True)


# ---------------------------------------------------------------------------
# parquet_meta DataSource surface
# ---------------------------------------------------------------------------

# (table, column) pairs whose footer zone-maps are locked against content
# aggregates — every physically-numeric, logically-plain leaf of the four
# fact/dim tables below (timestamps and strings carry no comparable
# min_double in the source, so they self-exclude on both sides).
_PARITY_TABLES = ("customer", "events", "lineitem", "orders")
_PARITY_COLS = {
    "customer": ("c_custkey", "c_nationkey", "c_acctbal"),
    "events": ("event_id", "user_id", "value"),
    "lineitem": (
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    ),
    "orders": ("o_orderkey", "o_custkey", "o_totalprice"),
}


def _parity_oracle() -> str:
    parts = []
    for t, cols in _PARITY_COLS.items():
        for c in cols:
            parts.append(
                f"""
    SELECT '{t}' AS table_name, '{c}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           round(CAST(min({c}) AS DOUBLE), 6) AS min_v,
           round(CAST(max({c}) AS DOUBLE), 6) AS max_v
    FROM {t}"""
            )
    return "\nUNION ALL\n".join(parts)


def _meta_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    from ..sources.parquet_meta_datasource import register_parquet_meta

    register_parquet_meta(spark)
    return spark.read.format("parquet_meta").option("path", sf_dir).load()


@query("footer_stats_content_parity", oracle=_parity_oracle())
def footer_stats_content_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map integrity audit through the ``parquet_meta`` Python
    DataSource (sources/parquet_meta_datasource.py): per numeric column
    chunk, the footer's num_values / null_count / min / max — which the
    oracle recomputes from the DATA with plain SQL aggregates. Footer
    stats drive predicate pushdown and scan pruning at 100 TB; a footer
    that disagrees with content is silent data corruption, and this
    query is the cross-engine lock that it cannot happen unnoticed.
    One input partition per file, footer-only reads — no data scan.
    Stats are aggregated per (table, column) over row groups —
    sum(num_values)/sum(null_count), min(min)/max(max) — so the result
    is invariant to how many row groups the writer emitted per file
    (a single-row-group assumption would break at any SF where a file
    exceeds the writer's row-group size)."""
    meta = _meta_frame(spark, sf_dir)
    return (
        # filter on the RAW file column: the source's pushFilters hook
        # consumes the IN predicate and fetches exactly these 4 footers
        # (a computed-column predicate would not push)
        meta.where(
            F.col("file").isin(*[f"{t}.parquet" for t in _PARITY_TABLES])
            & F.col("min_double").isNotNull()
        )
        .groupBy(
            F.regexp_replace("file", r"\.parquet$", "").alias("table_name"),
            F.col("path_in_schema").alias("column_name"),
        )
        .agg(
            F.sum("num_values").cast("long").alias("n_values"),
            F.sum("null_count").cast("long").alias("n_nulls"),
            F.round(F.min("min_double"), 6).alias("min_v"),
            F.round(F.max("max_double"), 6).alias("max_v"),
        )
    )


_LEAF_COUNTS = {
    "region": 2,
    "nation": 3,
    "embeddings": 3,  # vec_id, embedding.list.element, label
    "supplier": 4,
    "customer": 5,
    "documents": 5,
    "events": 6,
    "orders": 6,
    "part": 6,
    "lineitem": 11,
}


def _rowcount_oracle() -> str:
    parts = [
        f"""
    SELECT '{t}' AS table_name, CAST({n} AS BIGINT) AS n_leaf_columns,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM {t}"""
        for t, n in _LEAF_COUNTS.items()
    ]
    return "\nUNION ALL\n".join(parts)


@query("footer_rowcount_audit", oracle=_rowcount_oracle())
def footer_rowcount_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-wide footer census: per table, leaf-column count and the
    row count summed over row groups — the numbers a compaction planner
    reads before touching any data, certified against SQL ``count(*)``
    (and the leaf counts against the declared schemas; list columns
    contribute their element leaf, e.g. ``embedding.list.element``)."""
    meta = _meta_frame(spark, sf_dir)
    return (
        meta.groupBy(
            F.regexp_replace("file", r"\.parquet$", "").alias("table_name")
        )
        .agg(
            (F.max("column_id") + 1).cast("long").alias("n_leaf_columns"),
            # row counts sum once per row group, not once per column chunk
            F.sum(
                F.when(F.col("column_id") == 0, F.col("rg_num_rows"))
            )
            .cast("long")
            .alias("n_rows"),
        )
        .select("table_name", "n_leaf_columns", "n_rows")
    )


# ---------------------------------------------------------------------------
# graphml round trip
# ---------------------------------------------------------------------------


@query(
    "graphml_roundtrip_edges",
    oracle=None,  # installed below (reuses mobility's canonical edge CTE)
)
def graphml_roundtrip_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full S12 round trip: the co-location edge list is exported with
    ``operators.graphs.write_graphml`` and re-ingested through the
    ``graphml`` Python DataSource (sources/graphml_datasource.py) — the
    rollup (node/edge counts, endpoint-id checksum, id extremes) is
    computed from the RE-READ frame, so a single byte of drift in
    either the writer or the reader breaks the oracle match against
    the edges computed directly in SQL."""
    from ..operators.graphs import write_graphml
    from ..sources.graphml_datasource import register_graphml_source
    from .mobility import _colocation_edge_list

    edges = _colocation_edge_list(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="graft_graphml_rt_")
    _atexit_rmtree(tmp)  # the returned frame lazily re-reads the file
    path = os.path.join(tmp, "colocation.graphml")
    write_graphml(path, edges, a_col="a_user_id", b_col="b_user_id")
    register_graphml_source(spark)
    g = spark.read.format("graphml").option("path", path).load()
    nodes = g.where(F.col("element") == "node")
    es = g.where(F.col("element") == "edge").select(
        F.col("src").cast("long").alias("a"),
        F.col("dst").cast("long").alias("b"),
    )
    return (
        nodes.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min(F.col("node_id").cast("long")).cast("long").alias("min_node"),
            F.max(F.col("node_id").cast("long")).cast("long").alias("max_node"),
        )
        .crossJoin(
            es.agg(
                F.count(F.lit(1)).cast("long").alias("n_edges"),
                F.sum(F.col("a") + F.col("b")).cast("long").alias("endpoint_sum"),
            )
        )
        .select("n_nodes", "n_edges", "endpoint_sum", "min_node", "max_node")
    )


def _install_graphml_oracle() -> None:
    from . import ORACLES
    from .mobility import _EDGES_CTE

    ORACLES["graphml_roundtrip_edges"] = f"""
    WITH {_EDGES_CTE.strip()},
    nodes AS (
        SELECT DISTINCT node_id FROM (
            SELECT a_user_id AS node_id FROM edges
            UNION ALL
            SELECT b_user_id FROM edges
        )
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
           CAST(count(*) AS BIGINT) AS n_edges,
           CAST(sum(a_user_id + b_user_id) AS BIGINT) AS endpoint_sum,
           (SELECT CAST(min(node_id) AS BIGINT) FROM nodes) AS min_node,
           (SELECT CAST(max(node_id) AS BIGINT) FROM nodes) AS max_node
    FROM edges
    """


_install_graphml_oracle()


# ---------------------------------------------------------------------------
# geojson DataSource as a driver query
# ---------------------------------------------------------------------------


@query(
    "geojson_dim_roundtrip",
    oracle="""
    SELECT CAST(r_regionkey AS BIGINT) AS region_key,
           r_name AS region,
           'Polygon' AS geom_type,
           CAST(5 AS BIGINT) AS n_points,
           round(CAST((r_regionkey + 1) * (r_regionkey + 1) AS DOUBLE), 6)
               AS area
    FROM region
    """,
)
def geojson_dim_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 as a driver-certified surface: a FeatureCollection is BUILT
    from the region dimension (one square polygon per region, side =
    regionkey + 1), re-read through the ``geojson`` Python DataSource,
    and the geometry is recovered JVM-side (``from_json`` +
    shoelace via higher-order ``aggregate``) — the oracle recomputes
    every field from the region view, so the writer literal, the
    DataSource parse, and the JSON geometry math must all agree.
    Dimension-sized by construction (5 features)."""
    import json

    from ..sources.geojson_datasource import GeoJSONDataSource

    regions = (
        _load(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .collect()
    )  # 5-row dimension: driver-side build is the point of the fixture
    feats = []
    for r in sorted(regions, key=lambda r: r["r_regionkey"]):
        s = float(r["r_regionkey"] + 1)
        feats.append(
            {
                "type": "Feature",
                "id": int(r["r_regionkey"]),
                "properties": {"name": r["r_name"]},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[0.0, 0.0], [s, 0.0], [s, s], [0.0, s], [0.0, 0.0]]
                    ],
                },
            }
        )
    tmp = tempfile.mkdtemp(prefix="graft_geojson_dim_")
    _atexit_rmtree(tmp)
    path = os.path.join(tmp, "regions.geojson")
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)
    try:
        spark.dataSource.register(GeoJSONDataSource)
    except Exception:
        pass  # already registered in this session
    g = spark.read.format("geojson").option("path", path).load()
    ring = F.from_json(
        F.col("geometry"), "STRUCT<coordinates: ARRAY<ARRAY<ARRAY<DOUBLE>>>>"
    )["coordinates"][0]
    shoelace = F.expr(
        "abs(aggregate(sequence(0, size(__ring) - 2), 0D, (acc, i) ->"
        " acc + __ring[i][0] * __ring[i + 1][1]"
        " - __ring[i + 1][0] * __ring[i][1])) / 2"
    )
    return (
        g.withColumn("__ring", ring)
        .select(
            F.col("feature_id").cast("long").alias("region_key"),
            F.get_json_object("properties", "$.name").alias("region"),
            F.col("geom_type"),
            F.size("__ring").cast("long").alias("n_points"),
            F.round(shoelace, 6).alias("area"),
        )
    )


# ---------------------------------------------------------------------------
# Python UDTF surfaces
# ---------------------------------------------------------------------------


@query(
    "udtf_session_stats",
    oracle="""
    WITH g AS (
        SELECT user_id, epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts ASC
                    ) IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts ASC
                    ) > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    s AS (
        SELECT user_id, us,
               sum(brk) OVER (
                   PARTITION BY user_id ORDER BY us ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM g
    ),
    sess AS (
        SELECT user_id, sid,
               CAST(count(*) AS BIGINT) AS n_events,
               max(us) - min(us) AS span_us
        FROM s GROUP BY user_id, sid
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(max(n_events) AS BIGINT) AS max_session_events,
           CAST(sum(span_us) AS BIGINT) AS total_span_us
    FROM sess GROUP BY user_id
    """,
)
def udtf_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TABLE-argument Python UDTF surface
    (functions/udtf_sessionize.py): ``sessionize(TABLE(...) PARTITION BY
    user_id ORDER BY ts)`` streams each user's events in order through a
    stateful UDTF instance (terminate() flushes the open session), and
    the per-user rollup is locked against the window-function form the
    oracle spells in SQL. Timestamps cross the Python boundary as
    integer microseconds (unix_micros BEFORE the UDTF), so no timezone
    reinterpretation can occur in the Python worker."""
    from ..functions.udtf_sessionize import register_sessionize_udtf

    e = _load(spark, sf_dir, "events")
    register_sessionize_udtf(spark)
    e.selectExpr("user_id", "unix_micros(ts) AS ts").createOrReplaceTempView(
        "__a16_ev_us"
    )
    sess = spark.sql(
        """
        SELECT * FROM sessionize(
            TABLE(SELECT user_id, ts FROM __a16_ev_us)
            PARTITION BY user_id ORDER BY ts
        )
        """
    )
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.max("n_events").cast("long").alias("max_session_events"),
        F.sum(F.col("session_end_us") - F.col("session_start_us"))
        .cast("long")
        .alias("total_span_us"),
    )


@query(
    "udtf_top_bigrams",
    oracle="""
    WITH t AS (
        SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    g AS (
        SELECT ws[i] || ' ' || ws[i + 1] AS ngram
        FROM t, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
    )
    SELECT ngram, CAST(count(*) AS BIGINT) AS n
    FROM g GROUP BY ngram
    ORDER BY n DESC, ngram ASC LIMIT 20
    """,
)
def udtf_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver certification of the scalar-args lateral UDTF surface:
    the ``word_ngrams`` Python UDTF (functions/udtf_ngrams.py, until now
    pytest-locked only) expands every document into word bigrams via a
    SQL LATERAL join, and the top-20 rollup is matched against DuckDB's
    positional list-pairing. The production path for n-grams remains the
    JVM explode kernel (ngrams_via_kernel) — this row certifies the API
    surface, not a hot path."""
    from ..functions.udtf_ngrams import register_ngram_udtf

    d = _load(spark, sf_dir, "documents")
    register_ngram_udtf(spark)
    d.select("text").createOrReplaceTempView("__a16_docs")
    return spark.sql(
        """
        SELECT g.ngram AS ngram, CAST(count(*) AS BIGINT) AS n
        FROM __a16_docs t, LATERAL word_ngrams(t.text, 2) g
        GROUP BY g.ngram
        ORDER BY n DESC, ngram ASC LIMIT 20
        """
    )


# ---------------------------------------------------------------------------
# streaming surfaces: append-mode eviction + foreachBatch sink
# ---------------------------------------------------------------------------

_A16_STREAM_COUNTER = [0]


@query(
    "stream_append_closed_windows",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00')
               AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY window_start, event_type
    """,
)
def stream_append_closed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING in APPEND output mode with WATERMARK
    EVICTION — the one output-mode/eviction combination the certified
    streaming family does not yet cover (complete, update, dedup,
    stream-stream, stream-static, stateful sessions are). Append mode
    emits a window exactly once, when the watermark passes its end; a
    sentinel '__flush__' row 90 days past the real maximum advances the
    final watermark so every REAL window has closed when the
    availableNow query drains (the sentinel's own window never closes
    and is therefore never emitted — no output filter needed). The
    memory sink must then hold the exact batch rollup the oracle
    computes."""
    prep(spark)
    e = _load(spark, sf_dir, "events").select("event_type", "ts")
    flush = e.agg(
        F.lit("__flush__").alias("event_type"),
        (F.max("ts") + F.expr("INTERVAL 90 DAYS")).alias("ts"),
    )
    tmp = tempfile.mkdtemp(prefix="graft_stream_append_")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    e.unionByName(flush).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _A16_STREAM_COUNTER[0] += 1
    name = f"graft_stream_append_{os.getpid()}_{_A16_STREAM_COUNTER[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
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
        F.col("n").cast("bigint").alias("n_events"),
    )


@query(
    "stream_foreach_batch_totals",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY event_type
    """,
)
def stream_foreach_batch_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch SINK surface: each micro-batch (forced to
    several via day-partitioned files + maxFilesPerTrigger) is appended
    to a parquet directory by the foreachBatch callback — the
    exactly-once-per-batch custom-sink pattern every production
    streaming job that writes to an external system uses. The re-read
    union of all batch outputs must equal the batch rollup regardless
    of how the engine split the files into batches."""
    prep(spark)
    e = _load(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="graft_stream_feb_")
    _atexit_rmtree(tmp)  # the returned frame lazily re-reads `out`
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    out = os.path.join(tmp, "out")
    e.withColumn("d", F.dayofmonth("ts")).repartition(30, F.col("d")).drop(
        "d"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 7)
        .parquet(src)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# new-territory rollups
# ---------------------------------------------------------------------------


@query(
    "returnflag_linestatus_cramers_v",
    oracle="""
    WITH cells AS (
        SELECT l_returnflag AS rf, l_linestatus AS ls,
               CAST(count(*) AS BIGINT) AS o
        FROM lineitem GROUP BY rf, ls
    ),
    rm AS (SELECT rf, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY rf),
    cm AS (SELECT ls, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY ls),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                 CAST(count(DISTINCT rf) AS BIGINT) AS nr,
                 CAST(count(DISTINCT ls) AS BIGINT) AS nc
          FROM cells),
    chi AS (
        SELECT sum(
            (CAST(cells.o AS DOUBLE)
             - CAST(rm.r AS DOUBLE) * cm.c / n.n) ^ 2
            / (CAST(rm.r AS DOUBLE) * cm.c / n.n)
        ) AS chi2
        FROM cells JOIN rm USING (rf) JOIN cm USING (ls) CROSS JOIN n
    )
    SELECT n.n AS n_rows, n.nr AS n_flags, n.nc AS n_statuses,
           round(chi.chi2, 6) AS chi2,
           round(sqrt(chi.chi2 / (n.n * (least(n.nr, n.nc) - 1))), 6)
               AS cramers_v
    FROM chi CROSS JOIN n
    """,
)
def returnflag_linestatus_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the returnflag x linestatus
    association — the chi-square family's missing normalization (the
    certified chi2 rows report the raw statistic, which grows with n;
    V is scale-free, the number an analyst actually compares across
    datasets). Contingency cells + margins are tiny aggregates of one
    fact scan; everything after is broadcast arithmetic."""
    li = _load(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(
            F.col("l_returnflag").alias("rf"),
            F.col("l_linestatus").alias("ls"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .localCheckpoint(eager=False)
    )
    rm = cells.groupBy("rf").agg(F.sum("o").cast("long").alias("r"))
    cm = cells.groupBy("ls").agg(F.sum("o").cast("long").alias("c"))
    n = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("rf").cast("long").alias("nr"),
        F.countDistinct("ls").cast("long").alias("nc"),
    )
    ex = F.col("r").cast("double") * F.col("c") / F.col("n")
    chi = (
        cells.join(F.broadcast(rm), "rf")
        .join(F.broadcast(cm), "ls")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                F.pow(F.col("o").cast("double") - ex, F.lit(2.0)) / ex
            ).alias("chi2")
        )
    )
    return (
        chi.crossJoin(F.broadcast(n))
        .select(
            F.col("n").alias("n_rows"),
            F.col("nr").alias("n_flags"),
            F.col("nc").alias("n_statuses"),
            F.round("chi2", 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n")
                        * (F.least(F.col("nr"), F.col("nc")) - F.lit(1))
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


@query(
    "doc_sentence_length_profile",
    oracle="""
    WITH s AS (
        SELECT lang, trim(sent) AS sent
        FROM documents,
             LATERAL (
                 SELECT unnest(string_split_regex(text, '[.!?]+')) AS sent
             )
        WHERE trim(sent) <> ''
    ),
    w AS (
        SELECT lang,
               CAST(len(list_filter(string_split(sent, ' '),
                                    x -> x <> '')) AS BIGINT) AS n_words
        FROM s
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sentences,
           round(avg(CAST(n_words AS DOUBLE)), 6) AS avg_words,
           CAST(max(n_words) AS BIGINT) AS max_words
    FROM w GROUP BY lang
    """,
)
def doc_sentence_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats per language — the doc-length family
    certified char/token counts but never sentence structure (the unit
    quality filters and pack-by-sentence chunkers operate on). Split on
    terminal punctuation runs, trim, drop empties, count whitespace
    words per sentence — all JVM-side string builtins, one scan."""
    d = _load(spark, sf_dir, "documents")
    sent = (
        d.select(
            "lang",
            F.explode(F.split("text", r"[.!?]+")).alias("sent"),
        )
        .select("lang", F.trim("sent").alias("sent"))
        .where(F.col("sent") != "")
    )
    words = sent.select(
        "lang",
        F.size(
            F.filter(F.split("sent", " "), lambda w: w != "")
        ).cast("long").alias("n_words"),
    )
    return words.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sentences"),
        F.round(F.avg(F.col("n_words").cast("double")), 6).alias("avg_words"),
        F.max("n_words").cast("long").alias("max_words"),
    )


@query(
    "source_char_class_census",
    oracle="""
    SELECT source,
           CAST(sum(len(text)) AS BIGINT) AS n_chars,
           round(CAST(sum(len(regexp_replace(text, '[^0-9]', '', 'g')))
                     AS DOUBLE) / sum(len(text)), 6) AS digit_share,
           round(CAST(sum(len(regexp_replace(text, '[^A-Z]', '', 'g')))
                     AS DOUBLE) / sum(len(text)), 6) AS upper_share,
           round(CAST(sum(len(regexp_replace(text, '[^ ]', '', 'g')))
                     AS DOUBLE) / sum(len(text)), 6) AS space_share
    FROM documents GROUP BY source
    """,
)
def source_char_class_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source: digit, uppercase and
    space shares of all text — the orthographic fingerprint OCR-noise
    and boilerplate detectors threshold on (the certified quality rows
    score tokens and stopwords, never raw char classes). Strip-and-
    measure with regexp_replace: one scan, no Python."""
    d = _load(spark, sf_dir, "documents")

    def _klen(pat: str):
        return F.sum(F.length(F.regexp_replace("text", pat, ""))).cast(
            "double"
        )

    return d.groupBy("source").agg(
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.round(
            _klen("[^0-9]") / F.sum(F.length("text")).cast("double"), 6
        ).alias("digit_share"),
        F.round(
            _klen("[^A-Z]") / F.sum(F.length("text")).cast("double"), 6
        ).alias("upper_share"),
        F.round(
            _klen("[^ ]") / F.sum(F.length("text")).cast("double"), 6
        ).alias("space_share"),
    )


@query(
    "acctbal_ks_customer_supplier",
    oracle="""
    WITH u AS (
        SELECT c_acctbal AS v, 1 AS is_c, 0 AS is_s FROM customer
        UNION ALL
        SELECT s_acctbal AS v, 0, 1 FROM supplier
    ),
    g AS (
        SELECT v, CAST(sum(is_c) AS BIGINT) AS nc,
               CAST(sum(is_s) AS BIGINT) AS ns
        FROM u GROUP BY v
    ),
    tot AS (
        SELECT CAST(sum(nc) AS BIGINT) AS n_customer,
               CAST(sum(ns) AS BIGINT) AS n_supplier
        FROM g
    ),
    cum AS (
        SELECT sum(nc) OVER (ORDER BY v ASC ROWS UNBOUNDED PRECEDING)
                   AS cum_c,
               sum(ns) OVER (ORDER BY v ASC ROWS UNBOUNDED PRECEDING)
                   AS cum_s
        FROM g
    )
    SELECT tot.n_customer, tot.n_supplier,
           round(max(abs(CAST(cum.cum_c AS DOUBLE) / tot.n_customer
                         - CAST(cum.cum_s AS DOUBLE) / tot.n_supplier)), 6)
               AS ks_stat
    FROM cum CROSS JOIN tot
    GROUP BY tot.n_customer, tot.n_supplier
    """,
)
def acctbal_ks_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the
    customer and supplier account-balance distributions — a cross-TABLE
    distribution comparison (the certified KS rows compare event-type
    pairs within one table). Supremum over the merged distinct-value
    grid of |F_c - F_s|. The cumulative window is ordered over the
    merged DISTINCT balance grid — dimension cardinality (customer +
    supplier are dims), which is why a global window is admissible
    here; a fact-sized variant would use the global-rank kernel."""
    c = _load(spark, sf_dir, "customer").select(
        F.col("c_acctbal").alias("v"),
        F.lit(1).alias("is_c"),
        F.lit(0).alias("is_s"),
    )
    s = _load(spark, sf_dir, "supplier").select(
        F.col("s_acctbal").alias("v"),
        F.lit(0).alias("is_c"),
        F.lit(1).alias("is_s"),
    )
    g = (
        c.unionByName(s)
        .groupBy("v")
        .agg(
            F.sum("is_c").cast("long").alias("nc"),
            F.sum("is_s").cast("long").alias("ns"),
        )
        .localCheckpoint(eager=False)
    )
    tot = g.agg(
        F.sum("nc").cast("long").alias("n_customer"),
        F.sum("ns").cast("long").alias("n_supplier"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        F.sum("nc").over(w).alias("cum_c"), F.sum("ns").over(w).alias("cum_s")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_customer", "n_supplier")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cum_c").cast("double") / F.col("n_customer")
                        - F.col("cum_s").cast("double") / F.col("n_supplier")
                    )
                ),
                6,
            ).alias("ks_stat")
        )
    )


@query(
    "schema_evolution_union",
    oracle="""
    WITH unioned AS (
        SELECT doc_id, text, lang, NULL AS source,
               CAST(NULL AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, NULL AS text, lang, source, CAST(n_chars AS BIGINT)
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(text) AS BIGINT) AS n_with_text,
           CAST(count(source) AS BIGINT) AS n_with_source,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM unioned GROUP BY lang
    """,
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True) — the schema-evolution
    union every long-lived lakehouse needs when old and new extractor
    versions coexist: two frames with DIFFERENT column subsets align by
    NAME and the missing columns null-fill (positional UNION would
    silently misalign). The rollup counts the null-fill pattern per
    language so any misalignment flips the oracle match. Split-key
    note (the round-10 vocab_head_turnover lesson): doc_id parity is
    confounded with SOURCE in this generator (each source is pure even
    or pure odd) — here that is the scenario, not a bug (each source
    ingested by exactly one extractor version), and the LANG grouping
    mixes both parities at every sf (checked: en splits 108/110 at
    sf0.01), so no output cell degenerates to empty."""
    d = _load(spark, sf_dir, "documents")
    old_extract = d.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", "lang"
    )
    new_extract = d.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    u = old_extract.unionByName(new_extract, allowMissingColumns=True)
    return u.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("text").cast("long").alias("n_with_text"),
        F.count("source").cast("long").alias("n_with_source"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# Python DataSource streaming reader + writer surfaces
# ---------------------------------------------------------------------------


@query(
    "stream_python_source_counts",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY event_type
    """,
)
def stream_python_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python STREAMING DataSource surface
    (sources/replay_datasource.py, SimpleDataSourceStreamReader): the
    events table replays through a custom offset-tracked source in
    deterministic 2500-row micro-batches, and the complete-mode rollup
    drained from the memory sink must equal the batch rollup — offsets,
    prefetch-cache iteration, and the recovery read path all certified
    by one hash row."""
    import shutil

    prep(spark)
    from ..sources.replay_datasource import register_replay_source

    register_replay_source(spark)
    src = os.path.join(sf_dir, "events.parquet")
    stream = (
        spark.readStream.format("replay")
        .option("path", src)
        .option("rows_per_batch", "2500")
        .load()
    )
    # ts arrives as TIMESTAMP(NANOS)-derived timestamp; the rollup is
    # type-agnostic (counts + integer cents)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    _A16_STREAM_COUNTER[0] += 1
    name = f"graft_stream_replay_{os.getpid()}_{_A16_STREAM_COUNTER[0]}"
    ckpt = tempfile.mkdtemp(prefix="graft_stream_replay_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    from ..utils import process_all_available

    try:
        # the SIMPLE reader under-reads with availableNow (one prefetch
        # batch only), so the bounded watchdog form is the safe drain
        process_all_available(q)
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("cents").cast("bigint").alias("value_cents"),
    )


@query(
    "python_writer_roundtrip",
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang, source
    """,
)
def python_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource WRITER surface
    (sources/jsonl_writer_datasource.py): documents are written through
    the two-phase task-commit JSONL sink (staging -> rename-on-commit +
    manifest) and re-read with the native JSON reader under an explicit
    schema — the per-(lang, source) rollup certifies that every task's
    shard was committed exactly once and the encoding round-trips."""
    prep(spark)
    from ..sources.jsonl_writer_datasource import register_jsonl_writer

    register_jsonl_writer(spark)
    d = _load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    tmp = tempfile.mkdtemp(prefix="graft_pywriter_rt_")
    _atexit_rmtree(tmp)  # the returned frame lazily re-reads the shards
    out = os.path.join(tmp, "docs")
    os.makedirs(out, exist_ok=True)
    d.repartition(8).write.format("jsonl_py").mode("append").save(out)
    back = spark.read.schema(
        "doc_id long, lang string, source string, n_chars long"
    ).json(os.path.join(out, "*.jsonl"))
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@query(
    "stream_python_sink_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY event_type
    """,
)
def stream_python_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Python-DataSource STREAMING PIPE: the replay source
    (SimpleDataSourceStreamReader) feeds micro-batches straight into the
    jsonl_py STREAMING WRITER (DataSourceStreamWriter — per-batch
    staging -> rename commit with a per-batchId manifest), and the
    re-read union of every batch's shards must equal the batch rollup.
    With stream_python_source_counts and python_writer_roundtrip this
    closes the 2x2 batch/stream x read/write matrix of the Python
    DataSource API."""
    import shutil

    prep(spark)
    from ..sources.jsonl_writer_datasource import register_jsonl_writer
    from ..sources.replay_datasource import register_replay_source

    register_replay_source(spark)
    register_jsonl_writer(spark)
    src = os.path.join(sf_dir, "events.parquet")
    tmp = tempfile.mkdtemp(prefix="graft_stream_pysink_")
    _atexit_rmtree(tmp)  # the returned frame lazily re-reads the shards
    out = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(out, exist_ok=True)
    stream = (
        spark.readStream.format("replay")
        .option("path", src)
        .option("rows_per_batch", "2500")
        .load()
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    from ..utils import process_all_available

    q = (
        stream.writeStream.format("jsonl_py")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        process_all_available(q)
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    back = spark.read.schema(
        "event_id long, event_type string, cents long"
    ).json(os.path.join(out, "*.jsonl"))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("value_cents"),
    )


@query(
    "embedding_norms_arrow",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS BIGINT) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow batch API (operators/arrow_kernels.py): per-vector
    L2 norms computed from the ListArray's FLAT VALUES BUFFER with one
    vectorized numpy pass — no pandas object boxing, no per-row Python.
    Locked against the same SQL fold as the JVM-side embedding_norms
    (certified r1), so the Arrow path and the F.aggregate path can never
    drift. This is the engine's third Python batch surface after pandas
    UDFs and mapInPandas — the one multimodal/vector kernels should
    prefer when the data is already columnar."""
    from ..operators.arrow_kernels import l2_norms_arrow

    e = _load(spark, sf_dir, "embeddings")
    return l2_norms_arrow(e)


@query(
    "udtf_dynamic_json_cols",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
               AS k_decade,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN json_extract_string(props, '$.absent')
                           IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_absent_nonnull
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY k_decade
    """,
)
def udtf_dynamic_json_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analyze() UDTF surface (functions/udtf_jsoncols.py): the
    output SCHEMA is computed at plan time from the constant key list —
    ``json_cols(props, 'k,absent')`` yields a ``k`` column and an
    ``absent`` column (all-NULL, proving missing keys degrade to NULL
    rather than erroring). The decade rollup of the extracted value is
    locked against engine-native JSON path extraction on both sides."""
    from ..functions.udtf_jsoncols import register_jsoncols_udtf

    e = _load(spark, sf_dir, "events")
    register_jsoncols_udtf(spark)
    e.select("props").createOrReplaceTempView("__a16_props")
    return spark.sql(
        """
        SELECT CAST(j.k AS BIGINT) DIV 10 AS k_decade,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(j.absent) AS BIGINT) AS n_absent_nonnull
        FROM __a16_props t, LATERAL json_cols(t.props, 'k,absent') j
        WHERE j.k IS NOT NULL
        GROUP BY CAST(j.k AS BIGINT) DIV 10
        """
    )


@query(
    "stream_dist_replay_counts",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def stream_dist_replay_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PARTITION-PLANNED Python streaming reader
    (sources/replay_datasource.py DistReplayStreamReader, the full
    DataSourceStreamReader API): latestOffset exposes the whole file,
    partitions() splits the offset range into 2000-row spans, and every
    span is read ON AN EXECUTOR — the 100 TB fan-out shape, unlike the
    driver-prefetch simple reader certified by
    stream_python_source_counts. The complete-mode rollup (with a
    distinct-user column, exercising multi-column rows through the
    executor read path) must equal the batch oracle."""
    import shutil

    prep(spark)
    from ..sources.replay_datasource import register_replay_source

    register_replay_source(spark)
    src = os.path.join(sf_dir, "events.parquet")
    stream = (
        spark.readStream.format("replay_dist")
        .option("path", src)
        .option("rows_per_partition", "2000")
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_set("user_id").alias("users"),
    )
    _A16_STREAM_COUNTER[0] += 1
    name = f"graft_stream_dist_{os.getpid()}_{_A16_STREAM_COUNTER[0]}"
    ckpt = tempfile.mkdtemp(prefix="graft_stream_dist_")
    # availableNow IS supported by the partition-planned reader (its
    # latestOffset covers the whole file at start), so the bounded
    # drain helper applies — never an unbounded processAllAvailable
    # inside a driver run
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, ckpt)
    return spark.table(name).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.size("users").cast("bigint").alias("n_users"),
    )


@query(
    "arrow_writer_roundtrip",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(vec_id) AS BIGINT) AS sum_vec_id,
           CAST(sum(len(embedding)) AS BIGINT) AS sum_dim
    FROM embeddings GROUP BY label
    """,
)
def arrow_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ARROW-optimized Python writer
    (sources/parquet_py_writer_datasource.py, DataSourceArrowWriter):
    the embeddings table — including its list<float> column, which stays
    a flat Arrow buffer end-to-end — is written as per-task parquet
    shards via pyarrow and re-read with the native reader; integer
    checksums per label certify exact fidelity through the Arrow write
    path and the two-phase commit."""
    prep(spark)
    from ..sources.parquet_py_writer_datasource import (
        register_parquet_py_writer,
    )

    register_parquet_py_writer(spark)
    e = _load(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="graft_arrow_writer_")
    _atexit_rmtree(tmp)  # the returned frame lazily re-reads the shards
    out = os.path.join(tmp, "emb")
    os.makedirs(out, exist_ok=True)
    e.repartition(6).write.format("parquet_py").mode("append").save(out)
    back = spark.read.parquet(os.path.join(out, "*.parquet"))
    return back.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("vec_id").cast("long").alias("sum_vec_id"),
        F.sum(F.size("embedding")).cast("long").alias("sum_dim"),
    )


@query(
    "sql_named_params_filter",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(avg(CAST(p_retailprice AS DOUBLE)), 6) AS avg_price
    FROM part WHERE p_size >= 25 AND p_type LIKE '%DARD'
    GROUP BY p_brand
    """,
)
def sql_named_params_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL (Spark 4 named parameter markers): the query
    text carries ``:minsize`` / ``:typesuffix`` placeholders and the
    values bind via ``spark.sql(..., args=...)`` — the injection-safe
    templating surface every SQL-facing service needs (string-formatted
    literals are the anti-pattern this replaces). The oracle pins the
    same predicate with literals, so binding semantics (typed, not
    textual) are what is certified."""
    prep(spark)
    _load(spark, sf_dir, "part").createOrReplaceTempView("__a16_part")
    return spark.sql(
        """
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_parts,
               round(avg(CAST(p_retailprice AS DOUBLE)), 6) AS avg_price
        FROM __a16_part
        WHERE p_size >= :minsize AND p_type LIKE :typesuffix
        GROUP BY p_brand
        """,
        args={"minsize": 25, "typesuffix": "%DARD"},
    )


@query(
    "observed_scan_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
               AS n_errors
    FROM events
    """,
)
def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df.observe() / Observation METRICS surface: accumulator-style
    aggregates collected DURING a pass over the data, not by a second
    scan — the shape production pipelines use for row-count/quality
    telemetry on every stage without doubling I/O. The observation
    attaches to the events scan, one action drives it, and the observed
    values are surfaced as the result row the oracle recomputes with
    plain SQL. Driver state is one metrics row by construction."""
    from pyspark.sql import Observation

    prep(spark)
    e = _load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    obs = Observation()
    observed = e.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("value_cents"),
        F.count(F.when(F.col("event_type") == "error", F.lit(1)))
        .cast("long")
        .alias("n_errors"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one driving pass
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["value_cents"], m["n_errors"])],
        "n_rows long, value_cents long, n_errors long",
    )


@query(
    "stream_arrow_pipe_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY event_type
    """,
)
def stream_arrow_pipe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULLY ARROW-COLUMNAR Python streaming pipe: replay_dist
    (partition-planned reader yielding RecordBatches on executors) feeds
    the parquet_py STREAMING writer (DataSourceStreamArrowWriter —
    RecordBatches in, parquet shards out, per-batchId manifests). No
    Python row object exists anywhere in the data plane; the re-read
    union of every batch's shards must equal the batch rollup."""
    import shutil

    prep(spark)
    from ..sources.parquet_py_writer_datasource import (
        register_parquet_py_writer,
    )
    from ..sources.replay_datasource import register_replay_source

    register_replay_source(spark)
    register_parquet_py_writer(spark)
    src = os.path.join(sf_dir, "events.parquet")
    tmp = tempfile.mkdtemp(prefix="graft_arrow_pipe_")
    _atexit_rmtree(tmp)  # the returned frame lazily re-reads the shards
    out = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(out, exist_ok=True)
    stream = (
        spark.readStream.format("replay_dist")
        .option("path", src)
        .option("rows_per_partition", "2500")
        .load()
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    q = (
        stream.writeStream.format("parquet_py")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, None)  # tmp cleaned at exit (lazy re-read)
    shutil.rmtree(ckpt, ignore_errors=True)
    back = spark.read.parquet(os.path.join(out, "*.parquet"))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("value_cents"),
    )


@query(
    "applyinarrow_label_stats",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(vec_id) AS BIGINT) AS sum_vec_id,
           CAST(sum(list_sum(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))))
               AS BIGINT) AS sum_q
    FROM embeddings GROUP BY label
    """,
)
def applyinarrow_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupedData.applyInArrow — the grouped-map Arrow batch API (the
    grouped sibling of mapInArrow, completing the Python batch-API
    family next to applyInPandas): each label group arrives as ONE
    pyarrow.Table and the kernel folds its flat embedding buffer into
    integer checksums. Quantization is round-half-away-from-zero to
    match SQL round() on both engines exactly — the sum is then pure
    integer arithmetic, immune to float accumulation order."""
    import pyarrow as pa

    prep(spark)
    e = _load(spark, sf_dir, "embeddings")

    def _per_label(table: "pa.Table") -> "pa.Table":
        import numpy as np

        emb = table.column("embedding")
        if isinstance(emb, pa.ChunkedArray):
            emb = emb.combine_chunks()
        flat = np.asarray(emb.flatten(), dtype=np.float64) * 10000.0
        # round half away from zero == SQL round() in Spark and DuckDB
        q = np.where(
            flat >= 0, np.floor(flat + 0.5), np.ceil(flat - 0.5)
        ).astype(np.int64)
        vec_ids = np.asarray(table.column("vec_id"), dtype=np.int64)
        label = table.column("label")[0].as_py()
        return pa.table(
            {
                "label": pa.array([label], type=pa.int32()),
                "n_vecs": pa.array([table.num_rows], type=pa.int64()),
                "sum_vec_id": pa.array(
                    [int(vec_ids.sum())], type=pa.int64()
                ),
                "sum_q": pa.array([int(q.sum())], type=pa.int64()),
            }
        )

    return e.groupBy("label").applyInArrow(
        _per_label, "label int, n_vecs long, sum_vec_id long, sum_q long"
    )


@query(
    "maxrecords_file_census",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem)
    SELECT n_rows,
           CAST((n_rows + 9999) // 10000 AS BIGINT) AS n_files,
           CAST(least(n_rows, 10000) AS BIGINT) AS max_file_rows,
           CAST(CASE WHEN n_rows % 10000 = 0 THEN least(n_rows, 10000)
                     ELSE n_rows % 10000 END AS BIGINT) AS min_file_rows
    FROM n
    """,
)
def maxrecords_file_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file discipline, write side: the native writer's
    maxRecordsPerFile option splits one task's output into bounded
    files, and the footer census (parquet_meta over the written
    directory) proves the bound held — n_files = ceil(n/10000), every
    file at most 10000 rows, the remainder file exactly n mod 10000.
    The compaction planner's contract, certified from the footers the
    planner would actually read."""
    prep(spark)
    from ..sources.parquet_meta_datasource import register_parquet_meta

    register_parquet_meta(spark)
    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    tmp = tempfile.mkdtemp(prefix="graft_maxrec_")
    _atexit_rmtree(tmp)  # the returned frame lazily re-reads the footers
    out = os.path.join(tmp, "li")
    (
        li.coalesce(1)  # one task -> deterministic ceil(n/10000) split
        .write.option("maxRecordsPerFile", 10000)
        .parquet(out)
    )
    meta = spark.read.format("parquet_meta").option("path", out).load()
    per_file = (
        meta.where(F.col("column_id") == 0)
        .groupBy("file")
        .agg(F.sum("rg_num_rows").cast("long").alias("rows"))
    )
    return per_file.agg(
        F.sum("rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.max("rows").cast("long").alias("max_file_rows"),
        F.min("rows").cast("long").alias("min_file_rows"),
    )


@query(
    "hive_write_footer_census",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files
    FROM documents GROUP BY lang
    """,
)
def hive_write_footer_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write (S9) audited from FOOTERS: documents are
    written partitionBy(lang) with one file per partition dir
    (repartition on the partition column — the small-file discipline
    rule), and the parquet_meta source walks the partition dirs (the
    ``dir`` column carries ``lang=xx``), so per-language row counts are
    recovered WITHOUT reading a data byte and must match content
    counts."""
    prep(spark)
    from ..sources.parquet_meta_datasource import register_parquet_meta

    register_parquet_meta(spark)
    d = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    tmp = tempfile.mkdtemp(prefix="graft_hivecensus_")
    _atexit_rmtree(tmp)  # the returned frame lazily re-reads the footers
    out = os.path.join(tmp, "docs")
    d.repartition("lang").write.partitionBy("lang").parquet(out)
    meta = spark.read.format("parquet_meta").option("path", out).load()
    return (
        meta.where(F.col("column_id") == 0)
        .groupBy(
            F.regexp_replace("dir", r"^lang=", "").alias("lang")
        )
        .agg(
            F.sum("rg_num_rows").cast("long").alias("n_rows"),
            F.countDistinct("file").cast("long").alias("n_files"),
        )
    )
