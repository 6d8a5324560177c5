"""The vectorized extraction stage — one Arrow-batched Python map
(``schemas.map_rows`` over ``mapInArrow``) implementing the payload-kind
dispatch (the column-level analog of OcrProviderFactory,
SRC/ocrprocessing/provider/OcrProviderFactory.java:19-188) with row-level
error capture (ProcessOcr.java:129-139: a poisoned payload becomes a
FAILED row, never a failed task).

Data crosses the JVM<->Python boundary once, in Arrow batches
(spark.sql.execution.arrow.maxRecordsPerBatch); all row work happens in
CPython on already-materialized batch columns — no per-row Python UDF
round trips (BASELINE.json input_hint).
"""

from __future__ import annotations

from .oracle import extract_turn
from .schemas import EXTRACTIONS_SCHEMA, map_rows


def _extract_row(conv_id, turn_idx, role, text, tool, *ts):
    """One extractions row; ``ts`` (event time) rides through when carried."""
    r = extract_turn(role, tool, text)
    # edit lifecycle fields (edited_content, edited_by) are always null at
    # extraction time (populated only by edits.apply_edits + store.upsert)
    yield (
        conv_id, turn_idx, r.extracted_text, r.spans, r.status,
        r.error_message, r.content_format, r.rule, r.n_chars, r.n_words,
        None, None, *ts,
    )


def encrypt_stage(transcripts_df):
    """Upload-side AES-256-GCM encryption over a transcripts frame — the
    distributed analog of the reference's encrypt-at-upload gate
    (DocumentUploadImpl.java:55-63): a deterministic subset of turns
    (crypto.should_encrypt) has its payload replaced by the encrypted
    JSON envelope, with ``is_encrypted``/``iv_b64`` riding alongside
    (FileEntry.isEncrypted/encryptionIv).  Zero shuffles — one Arrow
    stage, narrow dependency on the input partitioning."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from .crypto import encrypt_turn
    from .schemas import TRANSCRIPTS_SCHEMA

    schema = StructType(
        TRANSCRIPTS_SCHEMA.fields
        + [
            StructField("is_encrypted", IntegerType(), False),
            StructField("iv_b64", StringType(), True),
        ]
    )

    def run(conv_id, turn_idx, role, text, tool, ts):
        text, is_encrypted, iv_b64 = encrypt_turn(conv_id, turn_idx, text)
        yield conv_id, turn_idx, role, text, tool, ts, is_encrypted, iv_b64

    cols = [f.name for f in TRANSCRIPTS_SCHEMA.fields]
    return map_rows(transcripts_df.select(*cols), run, schema)


def extract_stage(transcripts_df, carry_ts: bool = False):
    """transcripts (conv_id, turn_idx, role, text, tool, ts) ->
    extractions (EXTRACTIONS_SCHEMA).  With ``carry_ts`` the event time
    rides through the stage (needed by watermarked streaming consumers)."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    schema = EXTRACTIONS_SCHEMA
    if carry_ts:
        from pyspark.sql.types import StructField, StructType, TimestampType

        cols.append("ts")
        schema = StructType(schema.fields + [StructField("ts", TimestampType(), False)])
    return map_rows(transcripts_df.select(*cols), _extract_row, schema)


def vision_metrics_stage(transcripts_df):
    """Per-turn confidence + detected language for vision payloads — the
    OcrResult.confidence / languageDetected fields (OcrResult.java:16-127)
    shaped per GoogleVisionOcrProvider.java:272-332.  Emits one row per
    vision turn; other payload kinds produce no row."""
    from .semantics import extract_vision, try_parse_envelope

    def run(conv_id, turn_idx, text):
        env = try_parse_envelope(text) if isinstance(text, str) else None
        if env is not None and env.kind == "vision":
            _, conf, lang = extract_vision(env.obj)
            yield conv_id, turn_idx, conf, lang

    return map_rows(
        transcripts_df.select("conv_id", "turn_idx", "text"),
        run,
        "conv_id string, turn_idx int, confidence double, language_detected string",
    )
