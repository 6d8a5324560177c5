"""Main-content extraction: HTML detection heuristic + block/inline DOM
walk emitting normalized text and span offsets.

The walk mirrors the reference's HTML->document traversal
(SRC/wordexport/impl/DocxExportServiceImpl.java:22-159):

- detection: the string contains ``<p>`` | ``<h3>`` | ``<ul>`` | ``<li>``
  (literal substrings — DocxExportServiceImpl.java:41-44); otherwise the
  payload is plain text split into paragraphs on ``\\r?\\n`` (lines 28-33);
- blocks (processElement, lines 55-112): h1..h6 -> heading; p -> paragraph;
  ul/ol -> one list_item per direct <li> child; unknown containers recurse
  into their element children; unknown leaves -> a paragraph of their
  text();
- inline (renderChildren/processInlineElement, lines 114-158):
  text nodes contribute jsoup-normalized text; strong/b, em/i, u and
  unknown inline tags contribute ``Element.text()``; <br> contributes a
  line break; <span> and nested <p> recurse.

Graft additions (north-star mandated, deterministic):
- boilerplate containers <nav>/<header>/<footer>/<aside>/<form> are
  skipped wholesale;
- a block with link density > 0.66 (chars contributed by <a> descendants /
  total chars) and fewer than 20 words is dropped as link-list boilerplate
  (Boilerpipe/Readability-style link-density rule);
- a block with link density > 0.33 AND text density < 4 words per
  80-char wrapped line is dropped (the Boilerpipe shallow-text-feature
  pair: text density + link density — Kohlschutter et al., WSDM'10).
  This catches LARGE link farms that pass the <20-words gate above;
  the link-density gate guarantees plain prose is never dropped;
- <pre>/<code> blocks are tagged kind="code".

Spans are (start, end, kind) offsets into the emitted text, blocks joined
by a single "\\n".
"""

from __future__ import annotations

import re

from .htmldom import (
    DATA_ELEMENTS,
    Element,
    TextNode,
    java_trim,
    parse_body_fragment,
)

HEADING_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))
BOILERPLATE_CONTAINERS = frozenset(("nav", "header", "footer", "aside", "form"))
CODE_TAGS = frozenset(("pre", "code"))

LINK_DENSITY_THRESHOLD = 0.66
LINK_DENSITY_MIN_WORDS = 20

# text-density rule (Boilerpipe-style): words per 80-char wrapped line
TEXT_DENSITY_WRAP_CHARS = 80
TEXT_DENSITY_THRESHOLD = 4.0
TEXT_DENSITY_LINK_GATE = 0.33

_PLAIN_SPLIT_RE = re.compile(r"\r?\n")

KIND_HEADING = "heading"
KIND_PARAGRAPH = "paragraph"
KIND_LIST_ITEM = "list_item"
KIND_CODE = "code"
KIND_OTHER = "other"


def is_html(text: str | None) -> bool:
    """DocxExportServiceImpl.isHtml (lines 41-44): literal substring check."""
    return text is not None and (
        "<p>" in text or "<h3>" in text or "<ul>" in text or "<li>" in text
    )


def _render_inline(el: Element) -> tuple[str, int]:
    """renderChildren + processInlineElement (lines 114-158).

    Returns (text, link_chars) where link_chars counts characters
    contributed by <a> descendants (for the link-density heuristic).
    """
    parts: list[str] = []
    link_chars = 0
    for node in el.children:
        if isinstance(node, TextNode):
            parts.append(node.text())
            continue
        tag = node.tag
        if tag in ("strong", "b", "em", "i", "u", "s", "mark", "sub", "sup"):
            parts.append(node.text())
        elif tag == "br":
            parts.append("\n")
        elif tag in ("span", "p"):
            inner, inner_links = _render_inline(node)
            parts.append(inner)
            link_chars += inner_links
        elif tag == "a":
            t = node.text()
            parts.append(t)
            link_chars += len(t)
        else:
            # unknown inline tag -> plain Element.text()
            # (processInlineElement default branch, lines 154-157)
            parts.append(node.text())
    return "".join(parts), link_chars


def _is_boilerplate_block(text: str, link_chars: int) -> bool:
    total = len(text)
    if total == 0:
        return True
    link_density = link_chars / total
    n_words = len(text.split())
    # link-list rule: mostly-link, short blocks (nav strips, footers)
    if link_density > LINK_DENSITY_THRESHOLD and n_words < LINK_DENSITY_MIN_WORDS:
        return True
    # text-density rule: link-laden blocks averaging under
    # TEXT_DENSITY_THRESHOLD words per wrapped line — catches large link
    # farms (>= 20 words of anchor text) the rule above lets through.
    # The link gate means zero-link prose can never be dropped.
    if link_density > TEXT_DENSITY_LINK_GATE:
        lines = max(1, -(-total // TEXT_DENSITY_WRAP_CHARS))
        if n_words / lines < TEXT_DENSITY_THRESHOLD:
            return True
    return False


def _process_element(el: Element, blocks: list[tuple[str, str]]) -> None:
    """processElement (DocxExportServiceImpl.java:55-112) with the
    boilerplate-container skip added."""
    tag = el.tag
    if tag in BOILERPLATE_CONTAINERS:
        return
    if tag in DATA_ELEMENTS:
        # script/style content is raw data (jsoup DataNode), never text —
        # matches Element.text()'s skip; the sanitizer removes these
        # elements anyway on the main path
        return
    if tag in HEADING_TAGS:
        text, links = _render_inline(el)
        text = java_trim(text)
        if text and not _is_boilerplate_block(text, links):
            blocks.append((KIND_HEADING, text))
    elif tag == "p":
        text, links = _render_inline(el)
        text = java_trim(text)
        if text and not _is_boilerplate_block(text, links):
            blocks.append((KIND_PARAGRAPH, text))
    elif tag in ("ul", "ol"):
        for li in el.child_elements():
            if li.tag == "li":
                text, links = _render_inline(li)
                text = java_trim(text)
                if text and not _is_boilerplate_block(text, links):
                    blocks.append((KIND_LIST_ITEM, text))
    elif tag in CODE_TAGS:
        text, links = _render_inline(el)
        text = java_trim(text)
        if text:
            blocks.append((KIND_CODE, text))
    else:
        children = el.child_elements()
        if children:
            for child in children:
                _process_element(child, blocks)
        else:
            text, links = _render_inline(el)
            text = java_trim(text)
            if text and not _is_boilerplate_block(text, links):
                blocks.append((KIND_OTHER, text))


def html_blocks(html: str) -> list[tuple[str, str]]:
    """parseHtmlToDocx (lines 46-53): walk direct children of the body."""
    return html_blocks_from_body(parse_body_fragment(html))


def html_blocks_from_body(body: Element) -> list[tuple[str, str]]:
    """Walk an already-parsed (e.g. already-sanitized) body element."""
    blocks: list[tuple[str, str]] = []
    for el in body.child_elements():
        _process_element(el, blocks)
    # text nodes directly under body (fragment without a wrapper element)
    stray = java_trim(
        "".join(c.text() for c in body.children if isinstance(c, TextNode))
    )
    if stray:
        blocks.append((KIND_PARAGRAPH, stray))
    return blocks


def plain_blocks(text: str) -> list[tuple[str, str]]:
    """Plain-text path (lines 28-33): one paragraph per ``\\r?\\n`` line,
    empty lines preserved (the reference emits an empty docx paragraph)."""
    return [(KIND_PARAGRAPH, line) for line in _PLAIN_SPLIT_RE.split(text)]


def join_blocks(blocks: list[tuple[str, str]]) -> tuple[str, list[tuple[int, int, str]]]:
    """Join block texts with a single newline and compute (start, end,
    kind) character spans into the joined text."""
    spans: list[tuple[int, int, str]] = []
    out: list[str] = []
    pos = 0
    for i, (kind, text) in enumerate(blocks):
        if i > 0:
            out.append("\n")
            pos += 1
        spans.append((pos, pos + len(text), kind))
        out.append(text)
        pos += len(text)
    return "".join(out), spans


def extract_main_content(text: str) -> tuple[str, list[tuple[int, int, str]]]:
    """Full main-content extraction for an HTML-or-plain payload:
    detection heuristic -> block walk -> joined text + spans.  Test
    oracle: the unsanitized walk (extract_turn sanitizes before walking)."""
    blocks = html_blocks(text) if is_html(text) else plain_blocks(text)
    return join_blocks(blocks)
