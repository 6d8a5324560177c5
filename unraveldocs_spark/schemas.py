"""Declared (not inferred) schemas — the reference manages its schema via
Flyway migrations (db/migration/V11__create_ocr_data_table.sql:1-11 etc.);
the graft declares Spark schemas the same way (SURVEY.md §1.4).

Every Python stage crosses the JVM<->Python boundary through
``map_batches``/``map_rows``: Arrow record batches in, and output columns
typed from the stage's declared schema (never inferred from values).
"""

from __future__ import annotations

import itertools

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Input: transcripts table, exactly BASELINE.json input_hint
TRANSCRIPTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), False),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), False),
    ]
)

SPAN_TYPE = StructType(
    [
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("kind", StringType(), False),
    ]
)

# Output: per-turn extraction record — analog of the ocr_data row
# (SRC/ocrprocessing/model/OcrData.java:17-66) at (conv_id, turn_idx) grain.
# edited_content/edited_by mirror OcrData's edit lifecycle: an edit NEVER
# overwrites extracted_text (UpdateOcrContentImpl.java:72-78 sets
# editedContent and leaves extractedText intact).
EXTRACTIONS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("extracted_text", StringType(), True),
        StructField("spans", ArrayType(SPAN_TYPE), True),
        StructField("status", StringType(), False),
        StructField("error_message", StringType(), True),
        StructField("content_format", StringType(), True),
        StructField("rule", StringType(), False),
        StructField("n_chars", IntegerType(), False),
        StructField("n_words", IntegerType(), False),
        StructField("edited_content", StringType(), True),
        StructField("edited_by", StringType(), True),
    ]
)

# Streaming incremental dedup: one committed row per DISTINCT content
# digest across the stream's life (streaming.stream_dedup_ingest)
DEDUP_INGEST_SCHEMA = StructType(
    [
        StructField("digest", StringType(), False),
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("text", StringType(), True),
    ]
)

# Lineage: one row per task partition per run (north rule: per-partition
# lineage + metrics; analog of OcrMetrics counters, OcrMetrics.java:42-157)
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("turns_processed", LongType(), False),
        StructField("bytes_parsed", LongType(), False),
        StructField("completed", LongType(), False),
        StructField("failed", LongType(), False),
        StructField("rule_hits", StringType(), False),  # JSON {rule: count}
        StructField("wall_ms", LongType(), False),
    ]
)

# Corpus-build export shards (jobs/run_corpus_build.py over
# trainingdata.q_corpus_export_shards): one row per (lang, shard)
CORPUS_SHARDS_SCHEMA = StructType(
    [
        StructField("lang", StringType(), False),
        StructField("shard_id", IntegerType(), False),
        StructField("n_docs", IntegerType(), False),
        StructField("shard_tokens", LongType(), False),
    ]
)

# Corpus-build lineage: one row per language (the corpus pipeline's
# partition-of-record is the language shard group, not a task partition)
CORPUS_LINEAGE_SCHEMA = StructType(
    [
        StructField("lang", StringType(), False),
        StructField("n_shards", LongType(), False),
        StructField("lang_tokens", LongType(), False),
        StructField("lang_docs", LongType(), False),
    ]
)


def map_batches(df, fn, schema):
    """Arrow-batched Python stage: ``fn(batch)`` maps each input
    ``pyarrow.RecordBatch`` to the output columns in ``schema`` order
    (lists, tuples, numpy or Arrow arrays).  Each column is built with the
    Arrow type of its declared field, so a 56-bit digest stays an exact
    int64 and a NULL stays NULL (schema: StructType or DDL string)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    out = to_arrow_schema(schema)

    def run(batches):
        for batch in batches:
            cols = [pa.array(c, f.type) for c, f in zip(fn(batch), out)]
            yield pa.RecordBatch.from_arrays(cols, schema=out)

    return df.mapInArrow(run, schema)


def map_rows(df, fn, schema):
    """Row-wise Python stage over Arrow batches: ``fn`` takes one input
    row as plain Python values (positional, in ``df`` column order; NULL
    is ``None``, bigints are exact ints) and yields 0..n output tuples in
    ``schema`` order — filtering and pass-through stages alike."""

    def columns(batch):
        rows = zip(*(c.to_pylist() for c in batch.columns))
        out = [r for row in rows for r in fn(*row)]
        return zip(*out) if out else itertools.repeat(())

    return map_batches(df, columns, schema)
