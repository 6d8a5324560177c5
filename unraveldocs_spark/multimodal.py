"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed via Arrow-batched ``schemas.map_rows``.

The decode step is STUBBED: the real codec libraries (Pillow, ffmpeg,
torchaudio, ...) are not in this container.  The Spark-side plumbing —
schema, dispatch, batch shape, partitioning — is real and tested; the stub
produces a deterministic fake decode so the pipeline is end-to-end
exercisable.  The fake codec's arithmetic, the resize target, the feature
histogram and the frame stride are the module constants below; the
DuckDB oracles of the multimodal queries render the same constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .schemas import map_rows

# fake codec: width from a checksum of the first DECODE_PREFIX payload
# bytes, height from the byte length, each DECODE_BASE_PX plus whole
# DECODE_STEP_PX steps; audio/video carry 1..DECODE_MAX_FRAMES frames
DECODE_PREFIX = 64
DECODE_BASE_PX = 64
DECODE_STEP_PX = 32
DECODE_WIDTH_STEPS = 16
DECODE_HEIGHT_STEPS = 12
DECODE_MAX_FRAMES = 240
RESIZE_TARGET = 224  # resize box side (px)
FEATURE_BINS = 8  # byte-class histogram bins
FEATURE_PREFIX = 64  # payload bytes the histogram reads
FRAME_STRIDE = 30  # sample every FRAME_STRIDE-th video frame
# a document's media type is MEDIA_TYPES[doc_id % len(MEDIA_TYPES)]
MEDIA_TYPES = ("image/png", "image/jpeg", "audio/wav", "video/mp4")

DECODED_SCHEMA = (
    "doc_id long, media_type string, payload_bytes int, "
    "width int, height int, n_frames int, decode_status string"
)


def _arms(family: str = "") -> list[tuple[int, str]]:
    """(doc_id residue, media type) of the MEDIA_TYPES whose name starts
    with ``family`` ("image/", "video/"; all of them by default)."""
    return [(r, t) for r, t in enumerate(MEDIA_TYPES) if t.startswith(family)]


def media_type_col():
    """The media type of each ``doc_id`` as a Spark column: MEDIA_TYPES
    by ``doc_id`` residue, one WHEN arm per type, the last an otherwise."""
    n, doc_id = len(MEDIA_TYPES), F.col("doc_id")
    kind = F.when(doc_id % n == 0, F.lit(MEDIA_TYPES[0]))
    for r, t in _arms()[1:-1]:
        kind = kind.when(doc_id % n == r, F.lit(t))
    return kind.otherwise(F.lit(MEDIA_TYPES[-1]))


def media_type_sql(family: str = "", sep: str = " ") -> str:
    """The same rule as a SQL CASE over the documents of ``family``
    (those :func:`media_filter_sql` keeps): a WHEN arm per type, the last
    an ELSE, arms joined by ``sep``."""
    arms = _arms(family)
    whens = sep.join(
        f"WHEN doc_id % {len(MEDIA_TYPES)} = {r} THEN '{t}'" for r, t in arms[:-1]
    )
    return f"CASE {whens}{sep}ELSE '{arms[-1][1]}' END"


def media_filter_sql(family: str) -> str:
    """A SQL predicate keeping the documents of ``family``."""
    rs = [str(r) for r, _ in _arms(family)]
    n = len(MEDIA_TYPES)
    if len(rs) == 1:
        return f"doc_id % {n} = {rs[0]}"
    return f"doc_id % {n} IN ({', '.join(rs)})"


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Derive an opaque binary payload + media_type from the documents
    table (stand-in for a real multimodal ingest; at scale the payload
    column comes from the lake as BinaryType with typed metadata)."""
    return docs.select(
        "doc_id",
        media_type_col().alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def _fake_decode(payload: bytes, media_type: str) -> tuple[int, int, int]:
    """Deterministic stand-in for a codec: dimensions derive from payload
    length and a byte checksum, so results are stable across runs."""
    n = len(payload)
    checksum = sum(payload[:DECODE_PREFIX]) if n else 0
    width = DECODE_BASE_PX + (checksum % DECODE_WIDTH_STEPS) * DECODE_STEP_PX
    height = DECODE_BASE_PX + (n % DECODE_HEIGHT_STEPS) * DECODE_STEP_PX
    n_frames = 1 if media_type.startswith("image/") else 1 + (n % DECODE_MAX_FRAMES)
    return width, height, n_frames


def decode_stage(payloads: DataFrame) -> DataFrame:
    """Vectorized decode / feature-extract over binary payloads.

    Per-row failures become decode_status='FAILED' rows, mirroring the
    pipeline-wide row-level error policy (ProcessOcr.java:129-139)."""

    def run(doc_id, mt, payload):
        data = payload or b""
        try:
            w, h, nf = _fake_decode(data, mt)
            status = "COMPLETED"
        except Exception:
            w, h, nf, status = 0, 0, 0, "FAILED"
        yield doc_id, mt, len(data), w, h, nf, status

    return map_rows(
        payloads.select("doc_id", "media_type", "payload"), run, DECODED_SCHEMA
    )


def resize_plan_stage(decoded: DataFrame) -> DataFrame:
    """Aspect-preserving resize plan: fit (width, height) into a
    RESIZE_TARGET-square box with integer arithmetic (exact on any engine).
    The pixel resample itself is the stubbed codec step; the scale
    arithmetic, schema and dispatch are the real Spark-side plumbing —
    all JVM built-ins, no Python."""
    long_side = F.greatest(F.col("width"), F.col("height"))
    out_w = F.greatest(F.lit(1), (F.col("width") * RESIZE_TARGET) / long_side).cast("int")
    out_h = F.greatest(F.lit(1), (F.col("height") * RESIZE_TARGET) / long_side).cast("int")
    return (
        decoded.filter(F.col("decode_status") == "COMPLETED")
        .filter(F.col("media_type").startswith("image/"))
        .select(
            "doc_id",
            "media_type",
            "width",
            "height",
            F.floor(out_w).cast("int").alias("out_width"),
            F.floor(out_h).cast("int").alias("out_height"),
        )
    )


def feature_stage(payloads: DataFrame) -> DataFrame:
    """Deterministic fake feature extraction over binary payloads: an
    ``FEATURE_BINS``-bin byte-class histogram of the first
    ``FEATURE_PREFIX`` payload bytes (byte % bins), Arrow-batched.
    Stands in for a real encoder the same way _fake_decode stands in for
    a codec: batch shape, schema and partitioning are real; the features
    are reproducible arithmetic.  Emitted as a joined string so the
    oracle hash never depends on list canonicalization."""

    def run(doc_id, payload):
        bins = [0] * FEATURE_BINS
        for b in (payload or b"")[:FEATURE_PREFIX]:
            bins[b % FEATURE_BINS] += 1
        yield doc_id, "|".join(str(v) for v in bins)

    return map_rows(
        payloads.select("doc_id", "payload"), run, "doc_id long, features string"
    )


def frame_sample_stage(decoded: DataFrame) -> DataFrame:
    """Frame sampling plan for video payloads: every ``FRAME_STRIDE``-th
    frame as (doc_id, frame_no) rows via sequence+explode — pure JVM, no
    Python."""
    return (
        decoded.filter(F.col("media_type").isin(*(t for _, t in _arms("video/"))))
        .filter(F.col("n_frames") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("n_frames") - 1, F.lit(FRAME_STRIDE)
                )
            ).alias("frame_no"),
        )
    )
