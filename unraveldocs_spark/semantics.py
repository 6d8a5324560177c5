"""Pure-Python re-implementation of the UnravelDocs extraction semantics.

This module is the single source of truth for the per-payload extraction
rules.  The fixture oracle (``oracle.py``) calls it row-by-row; the Spark
stage (``extract.py``) calls it from inside Arrow-batched ``mapInArrow``.
Every function documents the reference file:line it mirrors (paths relative
to /root/reference, SRC = src/main/java/com/extractor/unraveldocs).

No Spark imports here — this file must be importable on executors and in
plain CPython for the oracle/tests.
"""

from __future__ import annotations

import hashlib
import json
import re
from dataclasses import dataclass, field


def md5_56(data: bytes) -> int:
    """md5-56 of ``data``: the first 14 hex digits of its md5 as an int
    (fits a BIGINT) — the Python twin of ``trainingdata.digest56`` and
    of the oracles' ``('0x' || substr(md5(x), 1, 14))::BIGINT``."""
    return int(hashlib.md5(data).hexdigest()[:14], 16)


# ---------------------------------------------------------------------------
# Java whitespace semantics (Character.isWhitespace / String.strip / trim)
#
# Java Character.isWhitespace differs from Python str.isspace: it EXCLUDES
# the non-breaking spaces (U+00A0, U+2007, U+202F) and NEL (U+0085), all of
# which Python treats as whitespace.  String.isBlank()/strip() are built on
# isWhitespace; String.trim() strips chars <= U+0020 only.  The reference
# uses all three, so extraction must too.
# ---------------------------------------------------------------------------

# Character.isWhitespace: \\t \\n \\x0B \\f \\r \\x1C-\\x20, space
# separators (Zs) except the non-breaking ones (U+00A0, U+2007, U+202F),
# plus the line/paragraph separators (U+2028, U+2029)
_JAVA_WS_CLASS = (
    "\\t\\n\\x0b\\f\\r\\x1c-\\x20"
    "\\u1680\\u2000-\\u2006\\u2008-\\u200a\\u2028\\u2029\\u205f\\u3000"
)
_JAVA_BLANK_RE = re.compile(f"[{_JAVA_WS_CLASS}]*\\Z")
_JAVA_STRIP_RE = re.compile(f"^[{_JAVA_WS_CLASS}]+|[{_JAVA_WS_CLASS}]+$")
_JAVA_TRIM_CHARS = "".join(chr(c) for c in range(0x21))


def java_is_blank(text: str) -> bool:
    """Java String.isBlank(): every char is Character.isWhitespace."""
    return _JAVA_BLANK_RE.match(text) is not None


def java_strip(text: str) -> str:
    """Java String.strip(): strip Character.isWhitespace from both ends."""
    return _JAVA_STRIP_RE.sub("", text)


def java_trim(text: str) -> str:
    """Java String.trim(): strip chars <= U+0020 from both ends."""
    return text.strip(_JAVA_TRIM_CHARS)

# ---------------------------------------------------------------------------
# Page selection — mirrors SRC/ocrprocessing/dto/request/PdfPageRange.java
# ---------------------------------------------------------------------------


class PageSelectionError(ValueError):
    """Mirrors the IllegalArgumentException raised by
    PdfPageRange.validate (PdfPageRange.java:77-110)."""


def has_selection(start_page, end_page, pages) -> bool:
    """PdfPageRange.hasSelection (PdfPageRange.java:60-62)."""
    return start_page is not None or end_page is not None or bool(pages)


def validate_page_selection(start_page, end_page, pages, total_pages: int) -> None:
    """PdfPageRange.validate (PdfPageRange.java:77-110).

    Discrete mode (non-empty ``pages``) is checked first and *only* its
    rules apply; message strings match the reference exactly.
    """
    if pages:
        for page in pages:
            if page < 1:
                raise PageSelectionError(f"Page numbers must be >= 1, got: {page}")
            if page > total_pages:
                raise PageSelectionError(
                    f"Page {page} exceeds total pages ({total_pages})"
                )
        return
    if start_page is not None and start_page < 1:
        raise PageSelectionError(f"startPage must be >= 1, got: {start_page}")
    if end_page is not None and end_page < 1:
        raise PageSelectionError(f"endPage must be >= 1, got: {end_page}")
    if start_page is not None and end_page is not None and start_page > end_page:
        raise PageSelectionError(
            f"startPage ({start_page}) must be <= endPage ({end_page})"
        )
    if start_page is not None and start_page > total_pages:
        raise PageSelectionError(
            f"startPage ({start_page}) exceeds total pages ({total_pages})"
        )
    if end_page is not None and end_page > total_pages:
        raise PageSelectionError(
            f"endPage ({end_page}) exceeds total pages ({total_pages})"
        )


def effective_pages(start_page, end_page, pages, total_pages: int) -> list[int]:
    """PdfPageRange.getEffectivePages (PdfPageRange.java:118-132), composed
    with PdfTextExtractor.resolvePages (PdfTextExtractor.java:84-90).

    Returns the 0-indexed page list: discrete pages (priority) are
    converted to 0-indexed, deduplicated and sorted ascending; range mode
    is the inclusive 1-indexed [start..end] (defaults 1..total); no
    selection at all means every page.
    """
    if not has_selection(start_page, end_page, pages):
        return list(range(total_pages))
    if pages:
        return sorted({p - 1 for p in pages})
    start = (start_page if start_page is not None else 1) - 1
    end = end_page if end_page is not None else total_pages
    return list(range(start, end))


# ---------------------------------------------------------------------------
# Multi-page assembly — mirrors SRC/ocrprocessing/utils/PdfTextExtractor.java
# ---------------------------------------------------------------------------


def _join_page_segments(
    segments: list[tuple[int, str]],
) -> tuple[str, list[tuple[int, int, str]]]:
    """Join (1-indexed page number, stripped page text) segments with the
    reference's ``\\n--- Page {n} ---\\n`` separator placed *before* every
    segment except the first, and compute (start, end, "page") spans over
    each segment's content."""
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for i, (page_no, content) in enumerate(segments):
        if i > 0:
            sep = f"\n--- Page {page_no} ---\n"
            parts.append(sep)
            pos += len(sep)
        spans.append((pos, pos + len(content), "page"))
        parts.append(content)
        pos += len(content)
    return "".join(parts), spans


def direct_page_segments(page_texts: list, pages_to_process: list[int]) -> list[tuple[int, str]]:
    """PdfTextExtractor.extractDirectText (PdfTextExtractor.java:95-114).

    Pages processed in the given (ascending) 0-indexed order.  A page that
    is None or Java-blank contributes nothing — not even a separator (the
    header at line 107 is only appended when the page passed the
    ``isBlank`` check at 105 and the accumulator is non-empty at 106).
    Each contributing page's text is Java-``strip()``-ed (line 109;
    Character.isWhitespace-based, so NBSP survives).
    """
    segments: list[tuple[int, str]] = []
    for page_index in pages_to_process:
        page_text = page_texts[page_index]
        if page_text is not None and not java_is_blank(page_text):
            segments.append((page_index + 1, java_strip(page_text)))
    return segments


def ocr_page_segments(ocr_page_texts: list, pages_to_process: list[int]) -> list[tuple[int, str]]:
    """PdfTextExtractor.extractTextViaOcr (PdfTextExtractor.java:119-143).

    Unlike the direct path, the OCR path does NOT skip blank pages: the
    separator is appended whenever the accumulator is non-empty and the
    stripped page text is appended unconditionally (lines 136-139).  A
    blank page *before* the first contributor leaves the accumulator empty
    (so no header for it, and none for the next page either); a blank page
    *after* a contributor still gets a header.  OCR of a None page is the
    empty string (deterministic stand-in for rendering an empty image).
    """
    segments: list[tuple[int, str]] = []
    accumulated = False
    for page_index in pages_to_process:
        page_text = ocr_page_texts[page_index]
        stripped = "" if page_text is None else java_strip(page_text)
        if not accumulated and stripped == "":
            # appends "" with no header: accumulator stays empty
            continue
        segments.append((page_index + 1, stripped))
        accumulated = True
    return segments


def assemble_direct_text(page_texts: list, pages_to_process: list[int]) -> str:
    """Text-only view of :func:`direct_page_segments`; the test oracle
    for the text extract_pdf_like assembles with spans."""
    return _join_page_segments(direct_page_segments(page_texts, pages_to_process))[0]


def assemble_ocr_text(ocr_page_texts: list, pages_to_process: list[int]) -> str:
    """Text-only view of :func:`ocr_page_segments`; the test oracle
    for the text extract_pdf_like assembles with spans."""
    return _join_page_segments(ocr_page_segments(ocr_page_texts, pages_to_process))[0]


def extract_pdf_like(
    pages: list,
    ocr_pages: list | None,
    start_page,
    end_page,
    select_pages,
) -> tuple[str, list[tuple[int, int, str]], bool]:
    """PdfTextExtractor.extractTextFromBytes (PdfTextExtractor.java:53-79).

    Validate selection if present (lines 60-62), resolve pages, try direct
    assembly; if the combined direct text is blank fall back to OCR
    assembly over the SAME selected pages (never mixed per-page,
    lines 68-77).  ``ocr_pages`` is the deterministic stand-in for
    Tesseract output at 300 DPI (line 34).

    Returns (text, page spans, used_ocr_fallback).
    """
    total_pages = len(pages)
    if has_selection(start_page, end_page, select_pages):
        validate_page_selection(start_page, end_page, select_pages, total_pages)
    pages_to_process = effective_pages(start_page, end_page, select_pages, total_pages)
    direct_segments = direct_page_segments(pages, pages_to_process)
    direct, spans = _join_page_segments(direct_segments)
    if not java_is_blank(direct):  # !directText.isBlank(), line 68
        return direct, spans, False
    if ocr_pages is None:
        ocr_pages = [None] * total_pages
    text, spans = _join_page_segments(ocr_page_segments(ocr_pages, pages_to_process))
    return text, spans, True


# ---------------------------------------------------------------------------
# Fence strip + JSON parse with defaults
# mirrors SRC/ai/service/AiClassificationService.java:152-186
# ---------------------------------------------------------------------------

# Java \s in the reference's replaceAll is ASCII-only
_FENCE_OPEN_RE = re.compile(r"^```(?:json)?[ \t\n\x0B\f\r]*")
_FENCE_CLOSE_RE = re.compile(r"[ \t\n\x0B\f\r]*```$")

CLASSIFY_DEFAULTS = ("other", ["unclassified"], 0.0)


def strip_code_fences(text: str) -> str:
    """The fence-strip step of parseClassificationResponse
    (AiClassificationService.java:155-159): Java ``strip()`` the whole
    string; if it startswith ``` remove a leading ```` ```/```json ````
    fence and a trailing ```` ``` ```` fence (single replacement each,
    mirroring Java replaceAll on an anchored ASCII-``\\s`` pattern)."""
    cleaned = java_strip(text)
    if cleaned.startswith("```"):
        cleaned = _FENCE_OPEN_RE.sub("", cleaned, count=1)
        cleaned = _FENCE_CLOSE_RE.sub("", cleaned, count=1)
    return cleaned


def parse_classification(text: str) -> tuple[str, list[str], float]:
    """parseClassificationResponse (AiClassificationService.java:152-186):
    fence-strip, JSON-parse; fields with per-field defaults
    (document_type -> "other", tags -> [], confidence -> 0.5); any parse
    failure -> ("other", ["unclassified"], 0.0).  The reference rule,
    pinned by tests, that the ``classify_parse`` column query implements."""
    try:
        cleaned = strip_code_fences(text)
        root = json.loads(cleaned)
        if not isinstance(root, dict):
            raise ValueError("not an object")
        # document_type: asText("other") — default only for JSON null
        dt = root.get("document_type") if "document_type" in root else None
        if dt is None:
            document_type = "other"
        elif isinstance(dt, bool):
            document_type = "true" if dt else "false"
        else:
            document_type = str(dt)
        tags: list[str] = []
        if isinstance(root.get("tags"), list):
            tags = [str(t) for t in root["tags"]]
        # confidence: asDouble(0.5) — Jackson coerces numbers and numeric
        # strings, anything else falls back to the 0.5 default
        conf = root.get("confidence")
        confidence = 0.5
        if isinstance(conf, (int, float)) and not isinstance(conf, bool):
            confidence = float(conf)
        elif isinstance(conf, str):
            try:
                confidence = float(conf)
            except ValueError:
                confidence = 0.5
        return (document_type, tags, confidence)
    except Exception:
        return CLASSIFY_DEFAULTS


# ---------------------------------------------------------------------------
# Input truncation — SRC/ai/config/AiProperties.java:46 (default 30000) and
# AiSummarizationService.java:165-171 / AiClassificationService.java:191-198
# ---------------------------------------------------------------------------

MAX_INPUT_LENGTH = 30_000


def truncate_text(text: str, max_length: int = MAX_INPUT_LENGTH) -> str:
    """truncateText: substring(0, maxLength) only when longer."""
    return text[:max_length] if len(text) > max_length else text


# ---------------------------------------------------------------------------
# Small string operators (SURVEY.md §2.5)
# ---------------------------------------------------------------------------

SINGLE_FILE_BYTE_CAP = 10 * 1024 * 1024  # FileSize.java:7 (10 MB single file)

# error messages (F7) — analogs of the reference's exception texts
ERR_NO_DATA = "Invalid OCR request: no image data provided"  # TesseractOcrProvider.java:64-69
ERR_OVERSIZED = "File size exceeds maximum allowed size of 10MB"  # FileUploadValidationUtil/FileSize analog
ERR_UNSUPPORTED = "Unsupported payload kind"  # FileType.java allowlist analog


def split_tags(tags: str | None) -> list[str]:
    """aiTags comma-join inverse (GetOcrDataImpl.java:65-71 /
    UpdateOcrContentImpl.buildFileResultData:137-143):
    isBlank guard -> split(',') -> String::trim -> drop empties.  The reference
    rule, pinned by tests, that the ``tag_split`` column query implements."""
    if tags is None or java_is_blank(tags):
        return []
    return [t for t in (java_trim(p) for p in tags.split(",")) if t != ""]


def text_preview(text: str | None, limit: int = 200) -> str | None:
    """DocumentSearchService.createPreview (DocumentSearchService.java:188-194):
    text[:200] + "..." when longer."""
    if text is None:
        return None
    return text[:limit] + "..." if len(text) > limit else text


def sanitize_logging(value: str | None) -> str | None:
    """SRC/documents/utils/SanitizeLogging.java: strip CR/LF.  The reference
    rule, pinned by tests, that the ``log_sanitize`` column query implements."""
    if value is None:
        return None
    return value.replace("\r", "").replace("\n", "")


def sanitize_error_type(error: str | None, cap: int = 50) -> str:
    """OcrMetrics.sanitizeErrorType (OcrMetrics.java:162-170): lowercase,
    non-[a-z0-9_] -> '_', truncate to 50 chars.  The reference rule,
    pinned by tests, that the ``error_type_sanitize`` column query
    implements."""
    if error is None or error == "":
        return "unknown"
    out = re.sub(r"[^a-z0-9_]", "_", error.lower())
    return out[:cap]


# Java regex \s is ASCII-only: [ \t\n\x0B\f\r]
_JAVA_RE_WS_SPLIT = re.compile(r"[ \t\n\x0B\f\r]+")


def word_count(text: str | None) -> int:
    """OcrResult.getWordCount (OcrResult.java:83-88): isBlank() guard,
    then ``text.split("\\s+").length`` on the UNTRIMMED text — a leading
    whitespace run contributes one empty token (' a b' -> 3), trailing
    empty tokens are removed (Java split limit 0), and Java ``\\s`` is
    ASCII-only so NBSP does NOT split words."""
    if text is None or java_is_blank(text):
        return 0
    tokens = _JAVA_RE_WS_SPLIT.split(text)
    while tokens and tokens[-1] == "":
        tokens.pop()
    return len(tokens)


def char_count(text: str | None) -> int:
    """OcrResult.getCharacterCount (OcrResult.java:76-78)."""
    return len(text) if text is not None else 0


# ---------------------------------------------------------------------------
# Conversation rollup ladder
# mirrors ProcessOcr.updateCollectionStatus (ProcessOcr.java:185-217)
# ---------------------------------------------------------------------------

STATUS_COMPLETED = "COMPLETED"
STATUS_FAILED = "FAILED"

ROLLUP_PROCESSED = "PROCESSED"
ROLLUP_FAILED_OCR = "FAILED_OCR"
ROLLUP_PROCESSING = "PROCESSING"


def rollup_status(total: int, completed: int, failed: int) -> str:
    """ProcessOcr.java:185-217: empty -> PROCESSED; all completed ->
    PROCESSED; completed+failed == total -> FAILED_OCR; else PROCESSING."""
    if total == 0:
        return ROLLUP_PROCESSED
    if completed == total:
        return ROLLUP_PROCESSED
    if completed + failed == total:
        return ROLLUP_FAILED_OCR
    return ROLLUP_PROCESSING


# ---------------------------------------------------------------------------
# Payload envelope — the graft's canonical encoding of structured payloads
# inside the transcripts `text` column (FIXTURES.md §3 F1-F3).
# ---------------------------------------------------------------------------

ENVELOPE_PREFIX = '{"kind":'


@dataclass
class Envelope:
    kind: str
    pages: list = field(default_factory=list)
    ocr_pages: list | None = None
    start_page: int | None = None
    end_page: int | None = None
    select_pages: list | None = None
    runs: list | None = None  # F10 positioned text runs (pdflayout.py)
    iv: str | None = None  # encrypted family (crypto.py): base64 IV
    data: str | None = None  # encrypted family: base64 ct||tag
    # the whole parsed payload (the vision family shapes it directly), so
    # no consumer parses the JSON a second time
    obj: dict = field(default_factory=dict, repr=False, compare=False)


def try_parse_envelope(text: str):
    """Parse the JSON payload envelope if `text` looks like one.

    Returns an Envelope, or None when the text is not an envelope.  A text
    that *looks* like an envelope but fails to parse is treated as not an
    envelope (falls through to the plain-text path) — malformed structured
    payloads never fail the row, mirroring the defaults-not-failure policy
    of AiClassificationService.java:180-185.
    """
    if text is None or not text.startswith(ENVELOPE_PREFIX):
        return None
    try:
        obj = json.loads(text)
        if not isinstance(obj, dict) or "kind" not in obj:
            return None
        return Envelope(
            kind=str(obj["kind"]),
            pages=obj.get("pages") or [],
            ocr_pages=obj.get("ocr_pages"),
            start_page=obj.get("start_page"),
            end_page=obj.get("end_page"),
            select_pages=obj.get("select_pages"),
            runs=obj.get("runs"),
            iv=obj.get("iv"),
            data=obj.get("data"),
            obj=obj,
        )
    except (ValueError, TypeError):
        return None


# ---------------------------------------------------------------------------
# Vision response shaping — mirrors SRC/googlevision/service/
# GoogleVisionOcrProvider.java:250-332 (extractFullText / extractConfidence /
# extractLanguage); the external API is replaced by a deterministic payload
# (FIXTURES F9), but the selection logic is the reference's.
# ---------------------------------------------------------------------------


def extract_vision(obj: dict) -> tuple[str, float | None, str | None]:
    """(text, confidence, language) from a vision-style response object.

    - text: full_text.text if a full-text annotation exists, else the
      FIRST annotation's description, else "" (lines 253-267);
    - confidence: mean of full_text page-0 block confidences when pages
      and blocks are non-empty; else first annotation's score when > 0;
      else None (lines 272-303);
    - language: full_text page-0 first detected language; else first
      annotation's locale when non-empty; else None (lines 308-331).
    """
    full_text = obj.get("full_text")
    annotations = obj.get("annotations") or []

    if full_text is not None and "text" in full_text:
        text = str(full_text["text"])
    elif annotations:
        text = str(annotations[0].get("description", ""))
    else:
        text = ""

    confidence = None
    if full_text is not None:
        blocks = full_text.get("blocks") or []
        if blocks:
            confs = [float(b.get("confidence", 0.0)) for b in blocks]
            confidence = sum(confs) / len(confs)
    if confidence is None and annotations:
        score = float(annotations[0].get("score", 0.0))
        if score > 0:
            confidence = score

    language = None
    if full_text is not None:
        langs = full_text.get("languages") or []
        if langs:
            language = str(langs[0])
    if language is None and annotations:
        locale = str(annotations[0].get("locale", ""))
        if locale != "":
            language = locale

    return text, confidence, language
