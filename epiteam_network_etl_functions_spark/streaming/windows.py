"""Structured Streaming variants of the reference's batch windows.

The reference is batch-only (SURVEY.md §2.10); its 10-minute TIME_BUCKET
(W5) is the batch analog of a tumbling window. These operators are the
streaming extension a live ping/event feed would need: watermarked tumbling
window aggregation and a per-window co-location candidate stage.

Streaming semantics vs the batch kernel: `window(ts, "600 seconds")` is
epoch-anchored — a live stream has no dataset-wide MIN(ts) (it isn't known
until the stream ends). That is the correct production semantics; the
batch kernel keeps origin-anchoring only for parity with the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def streaming_bucket_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    cell_col: str = "event_type",
    id_col: str = "user_id",
    width: str = "600 seconds",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-(cell, tumbling-window) event and device counts with late-data
    handling. approx_count_distinct is used for the device count — exact
    distinct per window is unbounded state on a stream."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, width).alias("w"), F.col(cell_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct(id_col).alias("n_devices_approx"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            cell_col,
            "n_events",
            "n_devices_approx",
        )
    )


def streaming_colocation_pairs(
    stream: DataFrame,
    ts_col: str = "ts",
    cell_col: str = "event_type",
    id_col: str = "user_id",
    width: str = "600 seconds",
    watermark: str = "30 minutes",
) -> DataFrame:
    """The flagship co-location join, fully online: presence dedup
    (dropDuplicatesWithinWatermark — the online analog of the batch
    kernel's dedup-before-join, so a chatty device contributes ONE row per
    (cell, window) to the join instead of m×n row multiplicity), then a
    watermarked stream-stream self-join on (cell, tumbling window)
    emitting canonical (a < b) co-presence pairs. Every stateful stage's
    state is watermark-bounded: dedup state expires with the horizon, join
    state buffers only windows that can still match, and the output needs
    no further dedup (each side holds exactly one row per presence).
    Epoch-anchored windows (the streaming-correct semantics; see module
    docstring) — the batch kernel stays origin-anchored for reference
    parity. Raw `ts` is dropped after windowing: the window struct is the
    stream's single event-time column."""
    pres = (
        stream.withWatermark(ts_col, watermark)
        .select(id_col, cell_col, F.window(ts_col, width).alias("w"))
        .dropDuplicatesWithinWatermark([id_col, cell_col, "w"])
    )
    a, b = pres.alias("a"), pres.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{cell_col}") == F.col(f"b.{cell_col}"))
            & (F.col("a.w") == F.col("b.w"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{cell_col}").alias(cell_col),
            F.col("a.w.start").alias("window_start"),
            F.col(f"a.{id_col}").alias(f"a_{id_col}"),
            F.col(f"b.{id_col}").alias(f"b_{id_col}"),
        )
    )


def streaming_colocation_candidates(
    stream: DataFrame,
    ts_col: str = "ts",
    cell_col: str = "event_type",
    id_col: str = "user_id",
    width: str = "600 seconds",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming prefix of the co-location join: distinct per-window presence
    rows (device, cell, window). Downstream either joins stream-stream with
    a watermark-bounded buffer or lands to a sink for the batch pair join —
    the presence dedup is the part that must happen online (it bounds
    state by watermark horizon)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, width).alias("w"),
            F.col(cell_col),
            F.col(id_col),
        )
        .agg(F.count(F.lit(1)).alias("n_pings"))
        .select(
            F.col("w.start").alias("window_start"),
            cell_col,
            id_col,
            "n_pings",
        )
    )


def streaming_colocation_left(
    stream: DataFrame,
    ts_col: str = "ts",
    cell_col: str = "event_type",
    id_col: str = "user_id",
    width: str = "600 seconds",
    watermark: str = "30 minutes",
) -> DataFrame:
    """LEFT OUTER watermarked stream-stream self-join: every presence row
    emits its co-located partners (directed: partner != self), and devices
    ALONE in their (cell, window) emit one row with a NULL partner once the
    watermark passes — the online "isolated device" feed the inner join
    can't produce. Outer results are held in watermark-bounded join state
    and released exactly when the window can no longer receive a partner,
    so state stays bounded at any stream length."""
    pres = (
        stream.withWatermark(ts_col, watermark)
        .select(id_col, cell_col, F.window(ts_col, width).alias("w"))
        .dropDuplicatesWithinWatermark([id_col, cell_col, "w"])
    )
    a, b = pres.alias("a"), pres.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{cell_col}") == F.col(f"b.{cell_col}"))
            & (F.col("a.w") == F.col("b.w"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
            "left_outer",
        )
        .select(
            F.col(f"a.{cell_col}").alias(cell_col),
            F.col("a.w.start").alias("window_start"),
            F.col(f"a.{id_col}").alias(f"a_{id_col}"),
            F.col(f"b.{id_col}").alias(f"partner_{id_col}"),
        )
    )


def streaming_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach a batch dimension (homes,
    device metadata, geo attributes) to a live stream. The static side is
    re-read per micro-batch (picking up dimension updates) and needs no
    watermark — only stream-stream joins buffer state. Broadcast is the
    right physical strategy for a dimension at any scale; left join keeps
    stream rows whose key is missing from the dimension (the sentinel
    fallback is the caller's, as in the batch home attribution of
    cli.gen_tables)."""
    return stream.join(F.broadcast(dim), key, how)
