"""Edited-content lifecycle — the batch analog of UpdateOcrContentImpl
(SRC/ocrprocessing/impl/UpdateOcrContentImpl.java:52-116):

- only a COMPLETED extraction may be edited (line 66-70; the reference
  throws BadRequestException with the exact message reproduced below —
  here the edit is emitted as a rejected row instead, per the pipeline's
  row-level error policy);
- HTML edits are safelist-sanitized (Jsoup.clean with the relaxed+extras
  safelist — sanitizer.clean_html mirrors it); MARKDOWN is stored as-is
  (sanitizeContent, lines 97-102);
- the edit sets edited_content / content_format / edited_by and NEVER
  touches extracted_text (lines 72-78) — the original stays queryable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .schemas import map_rows

EDIT_KEYS = ["conv_id", "turn_idx"]

# BadRequestException text, UpdateOcrContentImpl.java:67-69
ERR_NOT_COMPLETED = (
    "Cannot edit content for a document that has not completed OCR "
    "processing. Current status: {status}"
)


def _sanitize_html_edits(edits: DataFrame) -> DataFrame:
    """Safelist-sanitize HTML-format edits in one Arrow pass; MARKDOWN
    passes through untouched (sanitizeContent semantics)."""
    from .sanitizer import clean_html

    content = edits.columns.index("edited_content")
    fmt = edits.columns.index("content_format")

    def run(*row):
        if row[fmt] == "HTML":
            row = list(row)
            row[content] = clean_html(row[content])
        yield row

    return map_rows(edits, run, edits.schema)


def apply_edits(
    results: DataFrame, edits: DataFrame, sanitize: bool = True
) -> tuple[DataFrame, DataFrame]:
    """MERGE the edits into the extraction results.

    ``edits`` columns: conv_id, turn_idx, edited_content, content_format,
    edited_by.  Returns (updated_rows, rejected_edits):

    - updated_rows: full-schema rows for keys whose current status is
      COMPLETED, with edited_content/content_format/edited_by set and
      every other column — extracted_text included — preserved.  Feed
      these to ``store.upsert`` to publish.
    - rejected_edits: edits whose target row is missing or not COMPLETED,
      with the reference's error message in ``edit_error``.
    """
    if sanitize:
        edits = _sanitize_html_edits(edits)
    e = edits.select(
        *EDIT_KEYS,
        F.col("edited_content").alias("_new_content"),
        F.col("content_format").alias("_new_format"),
        F.col("edited_by").alias("_new_editor"),
    )
    joined = results.join(e, EDIT_KEYS, "inner")
    updatable = joined.filter(F.col("status") == "COMPLETED")
    updated = updatable.select(
        *[
            c
            for c in results.columns
            if c not in ("edited_content", "content_format", "edited_by")
        ],
        F.col("_new_format").alias("content_format"),
        F.col("_new_content").alias("edited_content"),
        F.col("_new_editor").alias("edited_by"),
    ).select(*results.columns)

    found_status = results.select(*EDIT_KEYS, "status")
    rejected = (
        edits.join(found_status, EDIT_KEYS, "left")
        .filter((F.col("status").isNull()) | (F.col("status") != "COMPLETED"))
        .select(
            *EDIT_KEYS,
            "edited_by",
            F.when(
                F.col("status").isNull(),
                F.lit("OCR data not found for document ID"),
            )
            .otherwise(
                F.concat(
                    F.lit(ERR_NOT_COMPLETED.split("{status}")[0]),
                    F.col("status"),
                )
            )
            .alias("edit_error"),
        )
    )
    return updated, rejected
