"""Minimal HTML DOM used by the sanitizer and the main-content walk.

Built on the stdlib ``html.parser`` (C-accelerated tokenizer) with a small
set of html5-ish auto-close rules, enough for the fragment HTML the
reference deals with (jsoup ``parseBodyFragment`` in
SRC/wordexport/impl/DocxExportServiceImpl.java:47 and ``Jsoup.clean`` in
SRC/ocrprocessing/impl/UpdateOcrContentImpl.java:100).

No Spark imports — runs inside Arrow batches on executors.
"""

from __future__ import annotations

import re
from html import escape, unescape
from html.parser import HTMLParser

from .semantics import java_trim

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# content of these is raw data (jsoup DataNode), discarded by text walks
DATA_ELEMENTS = frozenset(("script", "style"))

# simplified html5 auto-close: opening key closes an open element in value
_AUTO_CLOSE = {
    "p": {"p"},
    "li": {"li"},
    "dt": {"dt", "dd"},
    "dd": {"dt", "dd"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "option": {"option"},
}

# block-level elements close an open <p> (html5 behaviour)
_BLOCK_CLOSES_P = frozenset(
    "address article aside blockquote div dl fieldset figure footer form "
    "h1 h2 h3 h4 h5 h6 header hr main nav ol p pre section table ul".split()
)

BLOCK_ELEMENTS = _BLOCK_CLOSES_P | frozenset(("li", "dt", "dd", "tr", "td", "th", "caption"))


class Node:
    __slots__ = ("parent",)


class TextNode(Node):
    __slots__ = ("whole_text",)

    def __init__(self, text: str):
        self.parent = None
        self.whole_text = text

    def text(self) -> str:
        """jsoup TextNode.text(): whitespace-normalised whole text
        (runs of whitespace collapse to a single space)."""
        return normalize_whitespace(self.whole_text)


class Element(Node):
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs=None):
        self.parent = None
        self.tag = tag
        self.attrs: list[tuple[str, str]] = attrs or []
        self.children: list[Node] = []

    def append(self, node: Node) -> None:
        node.parent = self
        self.children.append(node)

    def child_elements(self) -> list["Element"]:
        return [c for c in self.children if isinstance(c, Element)]

    def text(self) -> str:
        """jsoup Element.text(): normalised, trimmed text of all descendant
        text nodes, with a single space at block/br boundaries."""
        parts: list[str] = []

        def walk(el: Element) -> None:
            if el.tag in DATA_ELEMENTS:
                return
            for child in el.children:
                if isinstance(child, TextNode):
                    t = child.text()
                    if t:
                        if t == " " and (not parts or parts[-1].endswith(" ")):
                            continue
                        parts.append(t)
                else:
                    if child.tag == "br" or child.tag in BLOCK_ELEMENTS:
                        if parts and not parts[-1].endswith(" "):
                            parts.append(" ")
                    walk(child)

        walk(self)
        return java_trim(normalize_whitespace("".join(parts)))


# jsoup StringUtil.isWhitespace: exactly space/tab/LF/FF/CR — NBSP
# (U+00A0, produced by &nbsp; after entity unescape) is NOT collapsible
# and must survive into extracted text, unlike Python's Unicode-aware \s
_WS_RUN_RE = re.compile(r"[ \t\n\f\r]+")


def normalize_whitespace(text: str) -> str:
    """jsoup StringUtil.normaliseWhitespace: collapse whitespace runs
    (space, tab, newline, form feed, CR — ASCII only) to single spaces."""
    return _WS_RUN_RE.sub(" ", text)


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Element("body")
        self.stack: list[Element] = [self.root]

    # -- helpers -------------------------------------------------------
    def _open_tags(self) -> list[str]:
        return [el.tag for el in self.stack]

    def _close_until(self, tags: set[str]) -> None:
        """Pop the nearest open element whose tag is in ``tags`` (if any
        above body), closing everything inside it."""
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag in tags:
                del self.stack[i:]
                return

    # -- parser hooks ---------------------------------------------------
    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if tag in _AUTO_CLOSE:
            self._close_until(_AUTO_CLOSE[tag])
        if tag in _BLOCK_CLOSES_P and "p" in self._open_tags():
            self._close_until({"p"})
        el = Element(tag, [(k.lower(), v if v is not None else "") for k, v in attrs])
        self.stack[-1].append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        el = Element(tag, [(k.lower(), v if v is not None else "") for k, v in attrs])
        self.stack[-1].append(el)

    def handle_endtag(self, tag):
        tag = tag.lower()
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # unmatched close tag: ignored (html5 behaviour for most tags)

    def handle_data(self, data):
        if data:
            # merge adjacent text (jsoup produces one TextNode per run;
            # html.parser may call handle_data multiple times per run)
            top = self.stack[-1]
            if top.children and isinstance(top.children[-1], TextNode):
                top.children[-1].whole_text += data
            else:
                top.append(TextNode(data))


def parse_body_fragment_stdlib(html: str) -> Element:
    """Reference tree builder on stdlib html.parser (kept as the
    differential-test oracle for the fast scanner below)."""
    builder = _TreeBuilder()
    builder.feed(html or "")
    builder.close()
    return builder.root


# ---------------------------------------------------------------------------
# Fast scanner: a regex tokenizer feeding the same tree-building rules.
# html.parser's per-token dispatch + line tracking dominates extraction
# time; this scanner produces the identical tree (property-tested against
# parse_body_fragment_stdlib on arbitrary tag soup) at ~3x the speed.
# ---------------------------------------------------------------------------

# reuse html.parser's tolerant regexes so tag/attr scanning agrees with
# the stdlib reference exactly
from html.parser import (  # noqa: E402
    attrfind_tolerant as _ATTRFIND,
    locatestarttagend_tolerant as _STARTTAGEND,
    tagfind_tolerant as _TAGFIND,
)

_NONTAG_RE = re.compile(
    r"""<(?:
        !--(?P<comment>.*?)-->
      | !\[(?i:cdata|ignore|include|temp|rcdata)(?P<marked>.*?)\]\s*\]\s*>
      | !\[(?i:if|else|endif)(?P<msif>.*?)\]\s*>
      | !(?!--|\[)(?P<decl>[^>]*)>
      | \?(?P<pi>[^>]*)>
      | /\s*(?P<endtag>[a-zA-Z][^\s>]*)\s*>
      | /(?P<bogusend>[^>]*)>
    )""",
    re.VERBOSE | re.DOTALL,
)

# stdlib set_cdata_mode (html/parser.py:122-124) only stops raw text at a
# COMPLETE matching end tag r'</\s*{tag}\s*>' — '</scripty>', '</script
# extra>' and an unterminated '</script' all stay INSIDE the raw text
_CDATA_END = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}

_STARTTAG_NEXT_INCOMPLETE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/"
)


def _handle_starttag_at(data: str, lt: int, builder: "_TreeBuilder") -> int:
    """CPython html.parser parse_starttag/check_for_whole_start_tag,
    condensed for whole-string input.  Returns the new scan position;
    emits exactly what the stdlib would."""
    m = _STARTTAGEND.match(data, lt)
    assert m is not None  # pattern always matches after '<'+letter
    j = m.end()
    nxt = data[j : j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/" and data.startswith("/>", j):
        endpos = j + 2
    elif nxt == "" or nxt in _STARTTAG_NEXT_INCOMPLETE:
        # incomplete start tag at end of input: stdlib goahead(end=1)
        # emits charref-converted data up to the next '>' or '<'
        k = data.find(">", lt + 1)
        if k < 0:
            k = data.find("<", lt + 1)
            if k < 0:
                k = lt + 1
        else:
            k += 1
        builder.handle_data(unescape(data[lt:k]))
        return k
    else:
        endpos = j if j > lt else lt + 1
    tm = _TAGFIND.match(data, lt + 1)
    tag = tm.group(1).lower()
    k = tm.end()
    attrs: list[tuple[str, str]] = []
    while k < endpos:
        am = _ATTRFIND.match(data, k)
        if am is None:
            break
        name, rest, value = am.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        if value and "&" in value:
            value = unescape(value)
        attrs.append((name.lower(), value if value is not None else ""))
        k = am.end()
    end = data[k:endpos].strip()
    if end not in (">", "/>"):
        # junk between attrs and '>': stdlib emits the whole slice as data
        builder.handle_data(data[lt:endpos])
        return endpos
    if end == "/>":
        builder.handle_startendtag(tag, attrs)
        return endpos
    builder.handle_starttag(tag, attrs)
    if tag in DATA_ELEMENTS:
        # raw-text content: no entity conversion, ends only at a COMPLETE
        # matching close tag (stdlib cdata mode, parser.py:124); a partial
        # or non-matching close tag stays inside the raw text, and
        # UNTERMINATED raw text is dropped at end of input (the
        # `not self.cdata_elem` guard in goahead, parser.py:244)
        endm = _CDATA_END[tag].search(data, endpos)
        if endm is None:
            return len(data)
        if endm.start() > endpos:
            builder.handle_data(data[endpos : endm.start()])
        builder.handle_endtag(tag)
        return endm.end()
    return endpos


_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def parse_body_fragment(html: str) -> Element:
    """Parse an HTML fragment and return the synthetic <body> element
    (jsoup Jsoup.parseBodyFragment(html).body()).

    Fast regex scanner feeding the same tree rules as the stdlib-based
    reference builder; property-tested tree-identical to
    ``parse_body_fragment_stdlib`` on arbitrary tag soup."""
    builder = _TreeBuilder()  # reuse its tree rules without feed()
    data = html or ""
    pos = 0
    n = len(data)
    pending_text: list[str] = []

    def flush_text():
        if pending_text:
            chunk = "".join(pending_text)
            pending_text.clear()
            if "&" in chunk:
                chunk = unescape(chunk)
            builder.handle_data(chunk)

    while pos < n:
        lt = data.find("<", pos)
        if lt == -1:
            pending_text.append(data[pos:])
            break
        if lt > pos:
            pending_text.append(data[pos:lt])
        if data[lt + 1 : lt + 2] in _LETTERS:
            flush_text()
            pos = _handle_starttag_at(data, lt, builder)
            continue
        m = _NONTAG_RE.match(data, lt)
        if m is None:
            if data[lt + 1 : lt + 2] in ("!", "?"):
                # unterminated declaration/comment/PI: stdlib's incomplete
                # branch emits charref-converted data up to the next '>'/'<'
                flush_text()
                k = data.find(">", lt + 1)
                if k < 0:
                    k = data.find("<", lt + 1)
                    if k < 0:
                        k = lt + 1
                else:
                    k += 1
                builder.handle_data(unescape(data[lt:k]))
                pos = k
                continue
            pending_text.append("<")
            pos = lt + 1
            continue
        flush_text()
        if m.group("endtag") is not None:
            builder.handle_endtag(m.group("endtag").lower())
        # comment / decl / pi / cdata / bogus end tag: discarded, like the
        # stdlib hooks
        pos = m.end()
    flush_text()
    return builder.root


def serialize(el: Element, out: list[str]) -> None:
    """Serialize an element compactly (no pretty-printing — documented
    deviation from jsoup's default pretty output; the reference pins only
    content, not indentation: UpdateOcrContentImplTest.java:133-153)."""
    for child in el.children:
        if isinstance(child, TextNode):
            out.append(escape(child.whole_text, quote=False))
        else:
            attrs = "".join(
                f' {k}="{escape(v, quote=True)}"' for k, v in child.attrs
            )
            if child.tag in VOID_ELEMENTS:
                out.append(f"<{child.tag}{attrs}>")
            else:
                out.append(f"<{child.tag}{attrs}>")
                serialize(child, out)
                out.append(f"</{child.tag}>")


__all__ = [
    "Node",
    "TextNode",
    "Element",
    "parse_body_fragment",
    "serialize",
    "normalize_whitespace",
    "java_trim",
    "unescape",
    "VOID_ELEMENTS",
    "DATA_ELEMENTS",
    "BLOCK_ELEMENTS",
]
