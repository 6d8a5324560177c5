"""Custom stateful streaming operator: incremental per-conversation
rollup via ``applyInPandasWithState``.

The batch pipeline recomputes the conversation status ladder
(ProcessOcr.java:185-217 — rollup.py) from scratch; this operator keeps
running (total, completed, failed) counts PER CONVERSATION in Spark's
managed state store, updating as extraction rows stream in:

- every micro-batch emits the conversation's current ladder row with
  ``is_final = false`` (the analog of the reference recomputing the
  collection status after each document, ProcessOcr.java:146-149);
- with an ``idle_timeout_ms`` (continuous ``processingTime`` triggers
  only), a conversation idle past the timeout emits a terminal
  ``is_final = true`` row and drops its state — bounding state size for
  the 10^12-turn stream.  In drain mode (``availableNow``) pass
  ``idle_timeout_ms=None``: processing-time timers keep an availableNow
  query scheduling empty batches forever (observed: 100+ zero-row
  batches), so drain runs use NoTimeout and leave eviction to the next
  continuous deployment.

State per key is three longs, so memory is O(live conversations), never
O(turns).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .extract import extract_stage
from .schemas import TRANSCRIPTS_SCHEMA
from .semantics import rollup_status
from .streaming import drain_each_batch, read_stream

OUTPUT_SCHEMA = (
    "conv_id string, total_turns long, completed long, failed long, "
    "collection_status string, is_final boolean"
)
STATE_SCHEMA = "total long, completed long, failed long"


def _rollup_row(conv_id, total, completed, failed, is_final) -> pd.DataFrame:
    """One OUTPUT_SCHEMA row for a conversation's running counts."""
    return pd.DataFrame(
        {
            "conv_id": [conv_id],
            "total_turns": [total],
            "completed": [completed],
            "failed": [failed],
            "collection_status": [rollup_status(total, completed, failed)],
            "is_final": [is_final],
        }
    )


def _make_update(idle_timeout_ms: int | None):
    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            total, completed, failed = state.get
            state.remove()
            yield _rollup_row(conv_id, total, completed, failed, True)
            return
        total, completed, failed = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            total += len(pdf)
            completed += int((pdf["status"] == "COMPLETED").sum())
            failed += int((pdf["status"] == "FAILED").sum())
        state.update((total, completed, failed))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield _rollup_row(conv_id, total, completed, failed, False)

    return _update


def _drain_updates(df, out_path: str, checkpoint_dir: str, trigger=None):
    """Append each micro-batch's update rows to parquet at ``out_path``
    (parquet sinks don't accept update mode, so this goes through
    foreachBatch); the latest row per key is its current state."""

    def sink(batch_df, _batch_id: int):
        batch_df.write.mode("append").parquet(out_path)

    return drain_each_batch(df, sink, checkpoint_dir, "update", trigger)


def stateful_rollup_stream(
    spark: Any,
    input_path: str,
    out_path: str,
    checkpoint_dir: str,
    idle_timeout_ms: int | None = None,
    trigger: dict[str, Any] | None = None,
):
    """File stream of transcript turns -> extraction -> stateful
    per-conversation rollup -> parquet sink (update semantics surfaced as
    append of (conv_id, version) rows; the latest row per conv_id is the
    current ladder state).

    ``trigger`` is passed to ``writeStream.trigger`` verbatim; it defaults
    to ``{"availableNow": True}`` (drain mode).  ``idle_timeout_ms``
    selects ProcessingTimeTimeout and REQUIRES a continuous trigger
    (e.g. ``{"processingTime": "1 second"}``): an availableNow query with
    processing-time timers schedules empty batches forever and never
    terminates, so that combination raises instead of hanging."""
    if idle_timeout_ms is not None and (trigger is None or trigger.get("availableNow")):
        raise ValueError(
            "idle_timeout_ms uses ProcessingTimeTimeout, which never lets an "
            "availableNow query terminate; use trigger="
            '{"processingTime": "..."} for eviction, or idle_timeout_ms=None '
            "for drain runs"
        )
    extracted = extract_stage(read_stream(spark, TRANSCRIPTS_SCHEMA, input_path, 4))
    rolled = (
        extracted.groupBy("conv_id")
        .applyInPandasWithState(
            _make_update(idle_timeout_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_timeout_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
    return _drain_updates(rolled, out_path, checkpoint_dir, trigger)


# ---------------------------------------------------------------------------
# Stateful per-user daily quota enforcement — the streaming form of the
# reference's quota counter (OcrQuotaService.java:60-87: per-user daily
# request count vs the tier limit, consumed atomically per request).
# ---------------------------------------------------------------------------

QUOTA_OUTPUT_SCHEMA = (
    "event_id long, user_id long, day string, n_in_day long, allowed boolean"
)
QUOTA_STATE_SCHEMA = "n long"
DAILY_QUOTA = 3  # admitted events per user per day (the tier limit)

EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _make_quota_update(daily_limit: int):
    def _update(key, pdfs, state):
        user_id, day = key
        n = state.get[0] if state.exists else 0
        frames = []
        for pdf in pdfs:
            # deterministic admission order within the micro-batch: the
            # same (ts, event_id) order the batch oracle ranks by
            pdf = pdf.sort_values(["ts", "event_id"])
            seq = range(n + 1, n + len(pdf) + 1)
            frames.append(
                pd.DataFrame(
                    {
                        "event_id": pdf["event_id"].to_numpy(),
                        "user_id": user_id,
                        "day": day,
                        "n_in_day": list(seq),
                        "allowed": [i <= daily_limit for i in seq],
                    }
                )
            )
            n += len(pdf)
        state.update((n,))
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return _update


def quota_enforcer_stream(
    spark: Any,
    input_path: str,
    out_path: str,
    checkpoint_dir: str,
):
    """File stream of events -> per-(user, day) stateful admission:
    each event is ALLOWED while the user's running daily count stays
    within ``DAILY_QUOTA``, DENIED after — the streaming analog of the
    reference's consume-or-reject quota check, with the counter in
    Spark's managed state store instead of a row lock.

    State per key is ONE long (the day's count); keys age out naturally
    with the day rollover in a production deployment (eviction timer
    omitted here for drain-mode determinism, same trade as
    stateful_rollup_stream).  Deterministic given ts-ordered input
    files: within a micro-batch each group admits in (ts, event_id)
    order, so the result equals the batch oracle's
    row_number-over-(user, day) ranking."""
    import pyspark.sql.functions as F

    stream = read_stream(spark, EVENTS_STREAM_SCHEMA, input_path, 1)
    keyed = stream.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    decided = keyed.groupBy("user_id", "day").applyInPandasWithState(
        _make_quota_update(DAILY_QUOTA),
        outputStructType=QUOTA_OUTPUT_SCHEMA,
        stateStructType=QUOTA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_updates(decided, out_path, checkpoint_dir)
