"""Structured Streaming wrapper around the extraction stage, and the
plumbing every streaming operator shares.

The north rule specifies a resumable *batch* pipeline (the reference's
Kafka layer is eventing, not stream computation — SURVEY.md §2.9), so
batch is the primary path.  This module exists for deployments that want
the same extraction semantics applied incrementally: a file/Kafka stream
of transcript turns flows through the identical Arrow-batched extraction
stage, and each micro-batch is committed through the same snapshot store
as the batch pipeline (the streaming analog of the reference's manual-ack
consumer, OcrMessageListener.java:32-59).

Delivery semantics: foreachBatch is at-least-once — a crash after
``store.append`` but before Spark commits the streaming checkpoint
replays the micro-batch.  The sink is made effectively-once by an
idempotent commit: each batch appends under the deterministic run_id
``{prefix}-{batch_id}`` and a replayed batch whose run_id is already
committed is skipped (the standard idempotent-foreachBatch pattern).

Every streaming operator (here, streaming_state.py, streaming_windows.py)
reads through ``read_stream`` and starts through ``drain_to_parquet`` (file
sink, append) or ``drain_each_batch`` (foreachBatch); store commits go
through ``commit_to_store``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .extract import extract_stage
from .schemas import TRANSCRIPTS_SCHEMA


def read_stream(spark: SparkSession, schema, path: str, max_files: int) -> DataFrame:
    """Parquet file stream over the directory ``path``, at most
    ``max_files`` new files a micro-batch.  The file grouping is part of
    an operator's contract where results depend on batch boundaries
    (quota admission, ingest dedup keepers)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def drain_to_parquet(df: DataFrame, out: str, ckpt: str):
    """Start an availableNow append of ``df`` into parquet at ``out``;
    returns the query handle (caller awaits)."""
    return (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def drain_each_batch(df: DataFrame, fn, ckpt: str, mode: str = "append", trigger=None):
    """Start ``fn(batch_df, batch_id)`` over every micro-batch of ``df``;
    ``trigger`` is passed to ``writeStream.trigger`` verbatim and defaults
    to ``{"availableNow": True}`` (drain mode).  Returns the query handle
    (caller awaits)."""
    return (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", ckpt)
        .outputMode(mode)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def commit_to_store(store, prefix: str, transform=None):
    """foreachBatch function appending each micro-batch (through
    ``transform``, if given) to ``store`` under run_id
    ``{prefix}-{batch_id}``.  Idempotent replay guard: a micro-batch that
    crashed between store.append and the streaming-checkpoint commit
    re-runs with the same batch_id and is skipped — before ``transform``
    runs — if its snapshot already committed."""

    def commit(batch_df, batch_id: int):
        run_id = f"{prefix}-{batch_id}"
        if store.has_run(run_id):
            return
        rows = batch_df if transform is None else transform(batch_df)
        store.append(rows, lineage=None, run_id=run_id)

    return commit


def stream_extract(spark: SparkSession, input_path: str, store, checkpoint_dir: str):
    """Incrementally extract from a directory-of-parquet stream of turns.

    Each micro-batch runs the same extract_stage and appends one snapshot
    to ``store``; Spark's streaming checkpoint (source offsets) plus the
    run_id-keyed idempotent append make replayed batches no-ops, so the
    committed results are duplicate-free even though foreachBatch itself
    is at-least-once.
    """
    extracted = extract_stage(read_stream(spark, TRANSCRIPTS_SCHEMA, input_path, 8))
    return drain_each_batch(
        extracted, commit_to_store(store, "stream-batch"), checkpoint_dir
    )


def stream_dedup_ingest(spark: SparkSession, input_path: str, store, checkpoint_dir: str):
    """Incremental exact dedup at ingestion: each micro-batch commits one
    row per content digest that is (a) first within the batch — the
    keeper is the minimum (conv_id, turn_idx), deterministic under
    replay — and (b) unseen in any committed snapshot, via a left-anti
    join against the store's digest column.  The committed corpus stays
    duplicate-free across the stream's life without ever rewriting it.

    Scale shape: the anti-join's right side is a column-pruned scan of
    the committed digests only (32-byte strings, never the text), and
    the within-batch dedup is one window over the digest key.  The same
    run_id-keyed idempotent commit as stream_extract makes replays
    no-ops; construct the store with
    ``DirCheckpointStore(root, results_schema=DEDUP_INGEST_SCHEMA)``."""

    def fresh_digests(batch_df):
        # NULL text would digest to NULL; the left-anti join on digest
        # never matches NULL, so the same row would re-commit every
        # micro-batch (unbounded duplicates in a table whose
        # DEDUP_INGEST_SCHEMA declares digest non-nullable).  Drop
        # NULL-text turns: they carry no content to dedup against.
        batch = batch_df.filter(F.col("text").isNotNull()).withColumn(
            "digest", F.md5(F.col("text").cast("binary"))
        )
        w = Window.partitionBy("digest").orderBy("conv_id", "turn_idx")
        firsts = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("digest", "conv_id", "turn_idx", "text")
        )
        seen = store.results(batch_df.sparkSession).select("digest")
        return firsts.join(seen, "digest", "left_anti")

    return drain_each_batch(
        read_stream(spark, TRANSCRIPTS_SCHEMA, input_path, 1),
        commit_to_store(store, "dedup-batch", fresh_digests),
        checkpoint_dir,
    )
