"""Watermarked, windowed streaming aggregation over extraction results —
the Structured Streaming restatement of the per-conversation rollup
(ProcessOcr.java:185-217) for deployments that consume turns as a stream.

Late turns are tolerated up to the watermark; each emitted row is a
per-conversation per-window status rollup.  State is bounded: the
watermark lets Spark drop window state once event time passes
window_end + delay (the property that matters at 10^12 turns).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from .extract import extract_stage
from .schemas import TRANSCRIPTS_SCHEMA
from .streaming import drain_to_parquet, read_stream
from .streaming_state import EVENTS_STREAM_SCHEMA

# new files per micro-batch for every operator here; window, join and
# session results do not depend on batch boundaries
_MAX_FILES = 8


def run_windowed_rollup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
):
    """readStream(turns) -> extract -> watermark(ts) -> per (conv_id,
    window) status counts with the reference's status ladder, drained
    with an availableNow trigger and appended to parquet (append mode:
    only watermark-closed windows are emitted — exactly-once per
    window).  Returns the query handle (caller awaits)."""
    stream = read_stream(spark, TRANSCRIPTS_SCHEMA, input_path, _MAX_FILES)
    extracted = extract_stage(stream, carry_ts=True)
    agg = (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("total_turns"),
            F.sum(F.when(F.col("status") == "COMPLETED", 1).otherwise(0)).alias(
                "completed"
            ),
            F.sum(F.when(F.col("status") == "FAILED", 1).otherwise(0)).alias("failed"),
        )
    )
    rollup = agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "conv_id",
        "total_turns",
        "completed",
        "failed",
        F.when(F.col("completed") == F.col("total_turns"), F.lit("PROCESSED"))
        .when(
            F.col("completed") + F.col("failed") == F.col("total_turns"),
            F.lit("FAILED_OCR"),
        )
        .otherwise(F.lit("PROCESSING"))
        .alias("collection_status"),
    )
    return drain_to_parquet(rollup, output_path, checkpoint_dir)


# ---------------------------------------------------------------------------
# Stream-stream join: request/completion correlation
# ---------------------------------------------------------------------------

REQUEST_STREAM_SCHEMA = "conv_id string, turn_idx int, req_ts timestamp"
RESULT_STREAM_SCHEMA = "conv_id string, turn_idx int, status string, done_ts timestamp"


def run_stream_correlation(
    spark: SparkSession,
    requests_path: str,
    results_path: str,
    output_path: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    max_lag_minutes: int = 60,
):
    """Watermarked stream-stream INNER join: upload/request events
    correlated with their OCR completion events on (conv_id, turn_idx),
    emitting per-turn processing latency — the reference's async
    request->result lifecycle (ProcessOcr submit vs completion callback)
    restated as two unbounded streams.

    State stays bounded by BOTH requirements Spark imposes on
    stream-stream joins: each side carries an event-time watermark, and
    the join condition bounds done_ts to [req_ts, req_ts + max_lag] — so
    a request buffered in state is dropped once the result-side watermark
    passes req_ts + max_lag, and vice versa.  Without the time-range
    bound the request buffer would grow forever at 10^12 turns.

    Both streams drain with an availableNow trigger, appending matched
    pairs to parquet.  Returns the query handle (caller awaits)."""
    req = read_stream(
        spark, REQUEST_STREAM_SCHEMA, requests_path, _MAX_FILES
    ).withWatermark("req_ts", watermark)
    res = (
        read_stream(spark, RESULT_STREAM_SCHEMA, results_path, _MAX_FILES)
        .withColumnRenamed("conv_id", "r_conv_id")
        .withColumnRenamed("turn_idx", "r_turn_idx")
        .withWatermark("done_ts", watermark)
    )
    joined = req.join(
        res,
        (F.col("conv_id") == F.col("r_conv_id"))
        & (F.col("turn_idx") == F.col("r_turn_idx"))
        & (F.col("done_ts") >= F.col("req_ts"))
        & (
            F.col("done_ts")
            <= F.col("req_ts") + F.expr(f"INTERVAL {max_lag_minutes} MINUTES")
        ),
        "inner",
    )
    pairs = joined.select(
        "conv_id",
        "turn_idx",
        "status",
        "req_ts",
        "done_ts",
        (F.unix_timestamp("done_ts") - F.unix_timestamp("req_ts"))
        .cast("bigint")
        .alias("latency_s"),
    )
    return drain_to_parquet(pairs, output_path, checkpoint_dir)


# ---------------------------------------------------------------------------
# Streaming session windows: the gap-sessionization operator as a stream
# ---------------------------------------------------------------------------


def run_session_rollup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
):
    """readStream(events) -> watermark(ts) -> F.session_window(gap) per
    user: the streaming restatement of the batch `sessionize` query.
    Spark merges events whose gaps are under ``gap`` into one growing
    session window and finalizes it once the watermark passes session_end
    — state per user is ONE open session, not the event history.  Drains
    with availableNow, appending watermark-finalized sessions; returns
    the query handle (caller awaits)."""
    sessions = (
        read_stream(spark, EVENTS_STREAM_SCHEMA, input_path, _MAX_FILES)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("win.start")).alias("start_epoch"),
            "n_events",
        )
    )
    return drain_to_parquet(sessions, output_path, checkpoint_dir)
