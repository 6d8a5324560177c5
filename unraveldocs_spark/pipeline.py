"""End-to-end extraction pipeline (the Spark restatement of the reference's
bulk upload → Kafka → OCR data path, SURVEY.md §3.2):

    read transcripts
      -> resume anti-join vs checkpoint (idempotency, ProcessOcr.java:71-74)
      -> salted repartition on (conv_id, salt(turn_idx))   [skew defusal]
      -> sortWithinPartitions(conv_id, turn_idx)           [stable order]
      -> mapInArrow extraction (Arrow batches)
      -> persist + count (the one extraction job)
      -> append results + per-partition lineage in ONE snapshot
         [results coalesced to scanfan.files(cached bytes)]
      -> conversation rollup (ProcessOcr.java:185-217)

File layout: the results are written as one file per read split
(``scanfan.files`` over the cached bytes, at least one), not one per
Python task.  The coalesce is narrow over the materialized cache, so it
adds no job, no shuffle and no second run of the extraction stage; the
lineage is computed from the uncoalesced frame and keeps one row per
extraction task.

Partitioning rationale (100 TB scale): the reference preserves order per
collection by keying Kafka on collectionId over 6 partitions
(KafkaTopicConfig.java:61-67, OcrEventPublisher.java:40-44).  A pure
``repartition(conv_id)`` would pin a hot conversation (F8: 100x median
turns) to one task; extraction is per-row, so we salt with
``pmod(hash(turn_idx), SALT)`` to spread hot conversations across up to
SALT tasks while keeping same-salt turns of a conversation together, then
restore deterministic order with sortWithinPartitions(conv_id, turn_idx).
Readers needing global order sort on write (Iceberg sort order) or at
query time; per-turn outputs are order-independent so correctness never
depends on task layout.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .extract import extract_stage
from .rollup import conversation_rollup
from .scanfan import files, tasks

DEFAULT_SALT = 16


def salted_repartition(
    transcripts: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """repartition on (conv_id, pmod(hash(turn_idx), salt)) then restore
    (conv_id, turn_idx) order within each partition.  ``num_partitions``
    defaults to the Python-stage width of :func:`scanfan.tasks`: the
    staged frame feeds the extraction stage.

    The salt count is 4x the partition count (at least DEFAULT_SALT): a
    hot conversation then spreads over many more keys than there are
    partitions, so the balls-in-bins collisions of hash partitioning
    can't stack several whole salt-groups of the hot conversation onto
    one task."""
    num_partitions = num_partitions or tasks(transcripts.sparkSession, python=True)
    salt = max(DEFAULT_SALT, 4 * num_partitions)
    return (
        transcripts.repartition(
            num_partitions,
            F.col("conv_id"),
            F.pmod(F.hash(F.col("turn_idx")), F.lit(salt)),
        ).sortWithinPartitions("conv_id", "turn_idx")
    )


def partition_lineage(extractions: DataFrame, run_id: str, wall_ms: int) -> DataFrame:
    """One lineage row per task partition: turns processed, bytes parsed,
    completed/failed counts, rule-hit counts (the analog of OcrMetrics
    counters/histograms, OcrMetrics.java:42-157)."""
    per_rule = (
        extractions.groupBy(F.spark_partition_id().alias("partition_id"), "rule")
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.sum(F.col("n_chars").cast("long")).alias("bytes"),
            F.sum(F.when(F.col("status") == "COMPLETED", 1).otherwise(0)).alias("ok"),
            F.sum(F.when(F.col("status") == "FAILED", 1).otherwise(0)).alias("ko"),
        )
    )
    return (
        per_rule.groupBy("partition_id")
        .agg(
            F.sum("turns").alias("turns_processed"),
            F.sum("bytes").alias("bytes_parsed"),
            F.sum("ok").alias("completed"),
            F.sum("ko").alias("failed"),
            F.to_json(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("rule", "turns")))
                )
            ).alias("rule_hits"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "turns_processed",
            "bytes_parsed",
            "completed",
            "failed",
            "rule_hits",
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        )
    )


def lineage_metrics(store, spark: SparkSession) -> DataFrame:
    """Aggregate the store's per-partition lineage rows into the
    run-level extraction metrics the north rule mandates (turns
    processed, bytes parsed, completed/failed, wall time, heuristic-rule
    hit counts) — the queryable analog of the reference's OcrMetrics
    registry (OcrMetrics.java:42-157), derived from the durable audit
    rows instead of an in-memory meter.

    rule_hits is stored as a JSON map per partition; the rollup explodes
    it and re-sums per rule, emitting one JSON map per run (sorted keys,
    deterministic).  Scale shape: lineage is one row per task partition
    per run — thousands of rows per run at 10^12 turns, trivially
    aggregable."""
    lin = store.lineage(spark)
    hits = lin.select(
        "run_id",
        F.explode(
            F.from_json(F.col("rule_hits"), "map<string,bigint>")
        ).alias("rule", "hits"),
    )
    per_rule = (
        hits.groupBy("run_id", "rule")
        .agg(F.sum("hits").alias("hits"))
        .groupBy("run_id")
        .agg(
            F.to_json(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("rule", "hits")))
                )
            ).alias("rule_hits")
        )
    )
    totals = lin.groupBy("run_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_partitions"),
        F.sum("turns_processed").alias("turns_processed"),
        F.sum("bytes_parsed").alias("bytes_parsed"),
        F.sum("completed").alias("completed"),
        F.sum("failed").alias("failed"),
        F.max("wall_ms").alias("wall_ms"),
    )
    return totals.join(per_rule, "run_id", "left").orderBy("run_id")


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    store=None,
    num_partitions: int | None = None,
) -> dict:
    """Run the pipeline once.  Returns a dict with the snapshot id, run id,
    rollup DataFrame and basic counters.  With a ``store``, previously
    completed (conv_id, turn_idx) keys are skipped (resume) and the new
    results + lineage are committed as one snapshot."""
    from .checkpoint import resume_filter

    run_id = uuid.uuid4().hex[:12]

    todo = transcripts
    if store is not None:
        todo = resume_filter(todo, store, spark)

    staged = salted_repartition(todo, num_partitions)
    extractions = extract_stage(staged)

    t0 = time.monotonic()
    snapshot_id = None
    if store is not None:
        # materialize once; lineage derives from the same computed result
        extractions = extractions.persist()
        n = extractions.count()
        wall_ms = int((time.monotonic() - t0) * 1000)
        if n > 0:
            # lineage keeps one row per extraction task; the results are
            # written split-sized by a narrow coalesce of the cache (after
            # count(), its plan stats are the exact cached bytes)
            lineage = partition_lineage(extractions, run_id, wall_ms)
            stats = extractions._jdf.queryExecution().optimizedPlan().stats()
            snapshot_id = store.append(
                extractions.coalesce(files(spark, stats.sizeInBytes())),
                lineage, run_id=run_id)
        extractions.unpersist()
        result_df = store.results(spark)
    else:
        n = None
        result_df = extractions

    return {
        "run_id": run_id,
        "snapshot_id": snapshot_id,
        "extractions": result_df,
        "new_rows": n,
        "rollup": conversation_rollup(result_df),
    }
