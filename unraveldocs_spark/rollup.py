"""Per-conversation status rollup — the DataFrame restatement of
ProcessOcr.updateCollectionStatus (SRC/ocrprocessing/service/ProcessOcr.java:185-217).

One shuffle on conv_id with map-side partial aggregation (Catalyst emits
partial_count/partial_sum automatically); the when-ladder is evaluated
post-aggregation, JVM-side, inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def status_rollup(grouped, total: str = "total_turns"):
    """Grouped status rows -> (keys, ``total``, completed, failed,
    collection_status) per the reference ladder: all COMPLETED ->
    PROCESSED; COMPLETED+FAILED == total (else-branch reachable only with
    >=1 FAILED) -> FAILED_OCR; otherwise PROCESSING.  The one copy of
    the ladder: the batch, per-window streaming and collection-grain
    rollups all group their rows and call it."""
    agg = grouped.agg(
        F.count(F.lit(1)).alias(total),
        F.sum(F.when(F.col("status") == "COMPLETED", 1).otherwise(0)).alias("completed"),
        F.sum(F.when(F.col("status") == "FAILED", 1).otherwise(0)).alias("failed"),
    )
    return agg.withColumn(
        "collection_status",
        F.when(F.col("completed") == F.col(total), F.lit("PROCESSED"))
        .when(
            F.col("completed") + F.col("failed") == F.col(total),
            F.lit("FAILED_OCR"),
        )
        .otherwise(F.lit("PROCESSING")),
    )


def conversation_rollup(extractions_df):
    """extractions -> (conv_id, total_turns, completed, failed,
    collection_status) by :func:`status_rollup`.  (The zero-file ->
    PROCESSED branch at ProcessOcr.java:190-193 is vacuous at this grain:
    a conversation with no turns has no rows.)"""
    return status_rollup(extractions_df.groupBy("conv_id"))
