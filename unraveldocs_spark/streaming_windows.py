"""Watermarked, windowed streaming aggregation over extraction results —
the Structured Streaming restatement of the per-conversation rollup
(ProcessOcr.java:185-217) for deployments that consume turns as a stream.

Late turns are tolerated up to the watermark; each emitted row is a
per-conversation per-window status rollup.  State is bounded: the
watermark lets Spark drop window state once event time passes
window_end + delay (the property that matters at 10^12 turns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .extract import extract_stage
from .schemas import TRANSCRIPTS_SCHEMA


def _read_stream(spark: SparkSession, schema: str, path: str) -> DataFrame:
    """Parquet file stream over ``path``, at most 8 new files a batch."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 8).parquet(path)


def _drain_to_parquet(df: DataFrame, output_path: str, checkpoint_dir: str):
    """Start an availableNow append of ``df`` into parquet at
    ``output_path``; returns the query handle (caller awaits)."""
    return (
        df.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_rollup_stream(
    spark: SparkSession,
    input_path: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """readStream(turns) -> extract -> watermark(ts) -> per (conv_id,
    window) status counts with the reference's status ladder."""
    stream = _read_stream(spark, TRANSCRIPTS_SCHEMA, input_path)
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
    return agg.select(
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


def run_windowed_rollup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
):
    """Run the windowed rollup with an availableNow trigger, appending
    finalized windows to parquet (append mode: only watermark-closed
    windows are emitted — exactly-once per window)."""
    agg = windowed_rollup_stream(spark, input_path, window, watermark)
    return _drain_to_parquet(agg, output_path, checkpoint_dir)


# ---------------------------------------------------------------------------
# Stream-stream join: request/completion correlation
# ---------------------------------------------------------------------------

REQUEST_STREAM_SCHEMA = "conv_id string, turn_idx int, req_ts timestamp"
RESULT_STREAM_SCHEMA = "conv_id string, turn_idx int, status string, done_ts timestamp"


def correlate_streams(
    spark: SparkSession,
    requests_path: str,
    results_path: str,
    watermark: str = "30 minutes",
    max_lag_minutes: int = 60,
) -> DataFrame:
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
    bound the request buffer would grow forever at 10^12 turns."""
    req = _read_stream(spark, REQUEST_STREAM_SCHEMA, requests_path).withWatermark(
        "req_ts", watermark
    )
    res = (
        _read_stream(spark, RESULT_STREAM_SCHEMA, results_path)
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
    return joined.select(
        "conv_id",
        "turn_idx",
        "status",
        "req_ts",
        "done_ts",
        (F.unix_timestamp("done_ts") - F.unix_timestamp("req_ts"))
        .cast("bigint")
        .alias("latency_s"),
    )


def run_stream_correlation(
    spark: SparkSession,
    requests_path: str,
    results_path: str,
    output_path: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    max_lag_minutes: int = 60,
):
    """Drain both streams with an availableNow trigger, appending matched
    pairs to parquet.  Returns the query handle (caller awaits)."""
    df = correlate_streams(
        spark, requests_path, results_path, watermark, max_lag_minutes
    )
    return _drain_to_parquet(df, output_path, checkpoint_dir)


# ---------------------------------------------------------------------------
# Streaming session windows: the gap-sessionization operator as a stream
# ---------------------------------------------------------------------------

EVENT_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
)


def session_rollup_stream(
    spark: SparkSession,
    input_path: str,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """readStream(events) -> watermark(ts) -> F.session_window(gap) per
    user: the streaming restatement of the batch `sessionize` query.
    Spark merges events whose gaps are under ``gap`` into one growing
    session window and finalizes it once the watermark passes session_end
    — state per user is ONE open session, not the event history."""
    return (
        _read_stream(spark, EVENT_STREAM_SCHEMA, input_path)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("win.start")).alias("start_epoch"),
            "n_events",
        )
    )


def run_session_rollup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
):
    """Drain with availableNow, appending watermark-finalized sessions."""
    df = session_rollup_stream(spark, input_path, gap, watermark)
    return _drain_to_parquet(df, output_path, checkpoint_dir)
