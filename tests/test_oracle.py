"""Oracle dispatch tests (FIXTURES.md §3 families F1-F7)."""

import json

from unraveldocs_spark import oracle as O
from unraveldocs_spark import semantics as S


def env(**kw):
    return json.dumps({"kind": "pages", **kw}, separators=(",", ":"))


class TestErrorRows:
    def test_null_text(self):
        r = O.extract_turn("user", None, None)
        assert r.status == "FAILED"
        assert r.error_message == S.ERR_NO_DATA
        assert r.extracted_text is None
        assert r.rule == O.RULE_ERROR_NO_DATA

    def test_blank_text(self):
        assert O.extract_turn("user", None, "   ").status == "FAILED"

    def test_oversized(self):
        r = O.extract_turn("user", None, "x" * (S.SINGLE_FILE_BYTE_CAP + 1))
        assert r.status == "FAILED" and r.error_message == S.ERR_OVERSIZED

    def test_unsupported_kind(self):
        r = O.extract_turn("user", None, '{"kind":"audio","pages":[]}')
        assert r.status == "FAILED"
        assert r.rule == O.RULE_ERROR_UNSUPPORTED
        assert "audio" in r.error_message

    def test_invalid_page_selection_message(self):
        payload = env(pages=["a", "b"], select_pages=[5])
        r = O.extract_turn("user", None, payload)
        assert r.status == "FAILED"
        assert r.error_message == "Page 5 exceeds total pages (2)"
        assert r.rule == O.RULE_ERROR_PAGE_SELECTION


class TestPagesFamily:
    def test_direct_assembly(self):
        r = O.extract_turn("assistant", None, env(pages=["a", "b"]))
        assert r.status == "COMPLETED"
        assert r.extracted_text == "a\n--- Page 2 ---\nb"
        assert r.rule == O.RULE_PAGES_DIRECT
        assert [s[2] for s in r.spans] == ["page", "page"]

    def test_ocr_fallback(self):
        r = O.extract_turn("assistant", None, env(pages=["", ""], ocr_pages=["o1", "o2"]))
        assert r.extracted_text == "o1\n--- Page 2 ---\no2"
        assert r.rule == O.RULE_PAGES_OCR_FALLBACK

    def test_discrete_selection(self):
        r = O.extract_turn("user", None, env(pages=["a", "b", "c"], select_pages=[3, 1, 3]))
        assert r.extracted_text == "a\n--- Page 3 ---\nc"

    def test_range_selection(self):
        r = O.extract_turn("user", None, env(pages=["a", "b", "c"], start_page=2, end_page=3))
        assert r.extracted_text == "b\n--- Page 3 ---\nc"


class TestToolFamily:
    def test_fence_strip(self):
        r = O.extract_turn("tool", "bash", '```json\n{"out": 1}\n```')
        assert r.extracted_text == '{"out": 1}'
        assert r.rule == O.RULE_TOOL_FENCE
        assert r.spans == [(0, 10, "other")]

    def test_truncation_before_strip(self):
        body = "y" * 40_000
        r = O.extract_turn("tool", "search", body)
        assert len(r.extracted_text) == 30_000

    def test_tool_role_without_tool_name_not_tool_path(self):
        r = O.extract_turn("tool", None, "plain output")
        assert r.rule == O.RULE_PLAIN

    def test_unfenced_tool_output_stripped_only(self):
        r = O.extract_turn("tool", "grep", "  result lines \n")
        assert r.extracted_text == "result lines"


class TestHtmlPlainFamilies:
    def test_html_sanitize_then_walk(self):
        r = O.extract_turn("assistant", None, "<p>Hi <b>there</b></p><script>x()</script>")
        assert r.extracted_text == "Hi there"
        assert r.content_format == "HTML"
        assert r.rule == O.RULE_HTML

    def test_plain_crlf_paragraphs(self):
        r = O.extract_turn("user", None, "line1\r\nline2")
        assert r.extracted_text == "line1\nline2"
        assert r.content_format == "MARKDOWN"
        assert r.rule == O.RULE_PLAIN

    def test_markdown_passthrough_modulo_crlf(self):
        md = "# Title\n\nSome **bold** text"
        r = O.extract_turn("user", None, md)
        assert r.extracted_text == md

    def test_metrics(self):
        r = O.extract_turn("user", None, "one two three")
        assert r.n_words == 3 and r.n_chars == 13


class TestOracleRows:
    def test_shape(self):
        rows = [
            ("c1", 0, "user", "hello", None),
            ("c1", 1, "assistant", None, None),
        ]
        out = O.oracle_rows(rows)
        assert out[0]["extracted_text"] == "hello"
        assert out[0]["status"] == "COMPLETED"
        assert out[1]["status"] == "FAILED"
        assert out[1]["spans"] == []
        assert set(out[0]) == {
            "conv_id", "turn_idx", "extracted_text", "spans", "status",
            "error_message", "content_format", "rule", "n_chars", "n_words",
        }


class TestVisionFamily:
    def test_vision_dispatch(self):
        payload = '{"kind":"vision","full_text":{"text":"hello vision","blocks":[{"confidence":0.9}]}}'
        r = O.extract_turn("assistant", None, payload)
        assert r.status == "COMPLETED"
        assert r.extracted_text == "hello vision"
        assert r.rule == O.RULE_VISION
        assert r.spans == [(0, 12, "other")]

    def test_vision_empty_response_completed_empty(self):
        r = O.extract_turn("user", None, '{"kind":"vision"}')
        assert r.status == "COMPLETED" and r.extracted_text == "" and r.spans == []

    def test_vision_turn_parses_its_json_once(self, monkeypatch):
        """The envelope parse hands its object to the vision shaping;
        the payload is not decoded a second time."""
        parsed = []
        loads = json.loads
        monkeypatch.setattr(
            json, "loads", lambda s, *a, **k: parsed.append(s) or loads(s, *a, **k)
        )
        payload = '{"kind":"vision","annotations":[{"description":"one parse"}]}'
        r = O.extract_turn("user", None, payload)
        assert r.rule == O.RULE_VISION and r.extracted_text == "one parse"
        assert parsed == [payload]
