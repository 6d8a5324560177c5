"""Single-threaded, row-by-row extraction oracle.

This is the fixture oracle of SURVEY.md §7 step 1: it evaluates the
reference extraction semantics for ONE transcript turn at a time, in pure
Python, with no Spark.  The Spark stage (``extract.py``) reuses the same
per-row function inside Arrow-batched ``mapInArrow``; pytest asserts
per-turn exact text equality between the distributed pipeline and this
oracle (BASELINE.json "input_hint").

Dispatch per turn (mirrors OcrProviderFactory's payload-kind strategy,
SRC/ocrprocessing/provider/OcrProviderFactory.java:19-188, and the
row-level error capture of ProcessOcr.java:129-139):

1. null/blank ``text``          -> FAILED "Invalid OCR request: no image
                                   data provided" (TesseractOcrProvider.java:64-69)
2. payload > 10 MB (UTF-8)      -> FAILED oversize (FileSize.java:7)
3. role == 'tool' with a tool   -> fence-strip path (AiClassificationService
                                   .java:152-186) after the 30k truncation
                                   (AiProperties.java:46)
4. JSON page envelope           -> PDF-like multi-page assembly with page
                                   selection and direct->OCR fallback
                                   (PdfTextExtractor.java:53-143,
                                   PdfPageRange.java:77-132); selection
                                   errors -> FAILED with the reference's
                                   message text
5. HTML (detection heuristic)   -> safelist sanitize (UpdateOcrContentImpl
                                   .java:45-51) then block/inline DOM walk
                                   (DocxExportServiceImpl.java:22-159) with
                                   link-density boilerplate stripping
6. anything else                -> plain-text paragraph split on \\r?\\n
                                   (DocxExportServiceImpl.java:28-33)

Exceptions never fail the job: they become status=FAILED rows with the
exception message (ProcessOcr.java:129-139).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import semantics as S
from .domwalk import html_blocks_from_body, is_html, join_blocks, plain_blocks
from .sanitizer import clean_tree

# rule-hit keys (metrics; analog of OcrMetrics counters, OcrMetrics.java:42-157)
RULE_ERROR_NO_DATA = "error_no_data"
RULE_ERROR_OVERSIZE = "error_oversize"
RULE_ERROR_PAGE_SELECTION = "error_page_selection"
RULE_ERROR_UNSUPPORTED = "error_unsupported_kind"
RULE_ERROR_DECRYPT = "error_decrypt"
RULE_ERROR_OTHER = "error_other"
RULE_TOOL_FENCE = "tool_fence"
RULE_PAGES_DIRECT = "pages_direct"
RULE_PAGES_OCR_FALLBACK = "pages_ocr_fallback"
RULE_HTML = "html"
RULE_PLAIN = "plain"
RULE_VISION = "vision"
RULE_LAYOUT = "layout"

ALL_RULES = (
    RULE_LAYOUT,
    RULE_ERROR_NO_DATA,
    RULE_ERROR_OVERSIZE,
    RULE_ERROR_PAGE_SELECTION,
    RULE_ERROR_UNSUPPORTED,
    RULE_ERROR_DECRYPT,
    RULE_ERROR_OTHER,
    RULE_TOOL_FENCE,
    RULE_PAGES_DIRECT,
    RULE_PAGES_OCR_FALLBACK,
    RULE_HTML,
    RULE_PLAIN,
    RULE_VISION,
)

FORMAT_HTML = "HTML"
FORMAT_MARKDOWN = "MARKDOWN"  # ContentFormat.java:6-9 (plain text maps here)


@dataclass
class ExtractionResult:
    extracted_text: str | None
    spans: list[tuple[int, int, str]] = field(default_factory=list)
    status: str = S.STATUS_COMPLETED
    error_message: str | None = None
    content_format: str | None = None
    rule: str = RULE_PLAIN

    @property
    def n_chars(self) -> int:
        return S.char_count(self.extracted_text)

    @property
    def n_words(self) -> int:
        return S.word_count(self.extracted_text)


def _failed(message: str, rule: str) -> ExtractionResult:
    return ExtractionResult(
        extracted_text=None,
        spans=[],
        status=S.STATUS_FAILED,
        error_message=message,
        content_format=None,
        rule=rule,
    )


def extract_turn(role: str | None, tool: str | None, text: str | None) -> ExtractionResult:
    """Extract cleaned main-content text (+spans, status, metrics rule)
    for one transcript turn."""
    try:
        # 1. validity — OcrRequest.isValid (OcrRequest.java:132-134) via
        #    TesseractOcrProvider.java:64-69; blank per Java isBlank()
        if text is None or S.java_is_blank(text):
            return _failed(S.ERR_NO_DATA, RULE_ERROR_NO_DATA)

        # 2. size cap — FileSize.java:7 / OcrProperties.java:47 (10 MB);
        #    cheap precheck: UTF-8 is at most 4 bytes/char, so only texts
        #    longer than CAP/4 chars need the exact byte count
        if len(text) * 4 > S.SINGLE_FILE_BYTE_CAP and (
            len(text) > S.SINGLE_FILE_BYTE_CAP
            or len(text.encode("utf-8", errors="surrogatepass")) > S.SINGLE_FILE_BYTE_CAP
        ):
            return _failed(S.ERR_OVERSIZED, RULE_ERROR_OVERSIZE)

        # 2.5. encrypted-at-rest payload — decrypt-then-extract.  Runs
        #    BEFORE the tool/envelope dispatch because the reference
        #    decrypts stored bytes at fetch time, before any OCR routing
        #    (AesEncryptionServiceImpl.java:53-112, upload gating at
        #    DocumentUploadImpl.java:55-63; FileEntry.isEncrypted/
        #    encryptionIv).  Tag/base64 failures become row-level FAILED
        #    with the reference's decrypt-failure message.
        env = S.try_parse_envelope(text)
        if env is not None and env.kind == "encrypted":
            from .crypto import decrypt_envelope_fields

            try:
                plaintext = decrypt_envelope_fields(env.iv, env.data)
            except ValueError as e:
                return _failed(str(e), RULE_ERROR_DECRYPT)
            return extract_turn(role, tool, plaintext)

        # 3. tool-output markup — fence strip after 30k truncation
        if role == "tool" and tool is not None and tool != "":
            truncated = S.truncate_text(text)
            stripped = S.strip_code_fences(truncated)
            return ExtractionResult(
                extracted_text=stripped,
                spans=[(0, len(stripped), "other")],
                status=S.STATUS_COMPLETED,
                content_format=FORMAT_MARKDOWN,
                rule=RULE_TOOL_FENCE,
            )

        # 4. structured page envelope (parsed once, in step 2.5)
        if env is not None:
            if env.kind == "vision":
                # vision response shaping (GoogleVisionOcrProvider.java:250-332)
                extracted, _conf, _lang = S.extract_vision(env.obj)
                return ExtractionResult(
                    extracted_text=extracted,
                    spans=[(0, len(extracted), "other")] if extracted else [],
                    status=S.STATUS_COMPLETED,
                    content_format=FORMAT_MARKDOWN,
                    rule=RULE_VISION,
                )
            if env.kind == "layout":
                # positioned-run layout parse (pdfminer-style line/span
                # clustering — pdflayout.py; north-star layout half of
                # PdfTextExtractor.java:53-143's extraction). Malformed
                # runs raise and become row-level FAILED below.
                from .pdflayout import extract_layout

                extracted, spans = extract_layout(env.runs or [])
                return ExtractionResult(
                    extracted_text=extracted,
                    spans=spans,
                    status=S.STATUS_COMPLETED,
                    content_format=FORMAT_MARKDOWN,
                    rule=RULE_LAYOUT,
                )
            if env.kind != "pages":
                return _failed(
                    f"{S.ERR_UNSUPPORTED}: {env.kind}", RULE_ERROR_UNSUPPORTED
                )
            try:
                assembled, spans, used_ocr = S.extract_pdf_like(
                    env.pages,
                    env.ocr_pages,
                    env.start_page,
                    env.end_page,
                    env.select_pages,
                )
            except S.PageSelectionError as e:
                return _failed(str(e), RULE_ERROR_PAGE_SELECTION)
            return ExtractionResult(
                extracted_text=assembled,
                spans=spans,
                status=S.STATUS_COMPLETED,
                content_format=FORMAT_MARKDOWN,
                rule=RULE_PAGES_OCR_FALLBACK if used_ocr else RULE_PAGES_DIRECT,
            )

        # 5./6. HTML vs plain text
        if is_html(text):
            # single parse: safelist-clean the tree, walk it directly
            # (identical to serializing + re-parsing, minus the round trip)
            extracted, spans = join_blocks(html_blocks_from_body(clean_tree(text)))
            return ExtractionResult(
                extracted_text=extracted,
                spans=spans,
                status=S.STATUS_COMPLETED,
                content_format=FORMAT_HTML,
                rule=RULE_HTML,
            )
        extracted, spans = join_blocks(plain_blocks(text))
        return ExtractionResult(
            extracted_text=extracted,
            spans=spans,
            status=S.STATUS_COMPLETED,
            content_format=FORMAT_MARKDOWN,
            rule=RULE_PLAIN,
        )
    except Exception as e:  # row-level capture — ProcessOcr.java:129-139
        return _failed(str(e), RULE_ERROR_OTHER)


def oracle_rows(rows) -> list[dict]:
    """Evaluate the oracle over an iterable of (conv_id, turn_idx, role,
    text, tool) tuples; returns plain dicts (the expected_extractions
    fixture table, FIXTURES.md §2).  Test oracle the Spark stage's rows
    are compared against."""
    out = []
    for conv_id, turn_idx, role, text, tool in rows:
        r = extract_turn(role, tool, text)
        out.append(
            {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "extracted_text": r.extracted_text,
                "spans": [
                    {"start": s, "end": e, "kind": k} for (s, e, k) in r.spans
                ],
                "status": r.status,
                "error_message": r.error_message,
                "content_format": r.content_format,
                "rule": r.rule,
                "n_chars": r.n_chars,
                "n_words": r.n_words,
            }
        )
    return out
