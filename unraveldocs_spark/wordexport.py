"""DOCX export — the reference's Word writer with full rendering
attributes, plus a real (binary, deterministic) OOXML container.

Mirrors SRC/wordexport/impl/DocxExportServiceImpl.java:22-170 run for
run:

- ``isHtml`` detection is the literal substring check (lines 41-44);
  plain text splits into one paragraph per ``\\r?\\n`` line with a single
  text run each (lines 28-33);
- block dispatch (processElement, lines 55-112): h1-h6 emit a
  ``Heading{n}`` paragraph whose FIRST run is an empty bold run with the
  fallback font size (h1 -> 20, h2 -> 18, else 16 — exactly the Java
  header.createRun() that never receives text), then the rendered
  children; ``p`` a plain paragraph; ``ul``/``ol`` one paragraph per
  direct ``li`` with numId 1 (bullet) / 2 (decimal) and left indent 720
  twips (the CTInd branch); unknown containers recurse into element
  children; unknown leaves fall back to one rendered paragraph;
- inline dispatch (renderChildren/processInlineElement, lines 114-158):
  text nodes emit jsoup-normalized runs; strong/b bold, em/i italic, u
  single-underline runs of ``Element.text()``; ``br`` a break run;
  ``span`` and nested ``p`` recurse; any other element a plain
  ``Element.text()`` run.

Unlike the extraction walk (domwalk.py — which shares this traversal but
applies the graft's boilerplate/trim rules to produce clean TEXT), this
module reproduces the WRITER faithfully: nothing is trimmed or dropped,
because the reference writer emits empty paragraphs and whitespace runs
as-is.

``docx_bytes`` packs the result into a real minimal OOXML package
(stdlib zipfile; fixed entry order, fixed 1980 timestamps, fixed
compression) so the produced .docx is byte-deterministic — digestable by
the correctness harness and openable by Word.  XWPFDocument emits richer
boilerplate XML; the document BODY carries the same paragraphs/runs.
"""

from __future__ import annotations

import io
import zipfile
from dataclasses import dataclass, field

from .domwalk import _PLAIN_SPLIT_RE, is_html
from .htmldom import Element, TextNode, parse_body_fragment
from .semantics import md5_56

HEADING_SIZES = {"h1": 20, "h2": 18}  # everything else: 16
HEADING_SIZE_DEFAULT = 16
LIST_INDENT_TWIPS = 720
BULLET_NUM_ID = 1  # getBulletNumId (line 163)
DECIMAL_NUM_ID = 2  # getDecimalNumId (line 168)


@dataclass
class Run:
    text: str = ""
    bold: bool = False
    italic: bool = False
    underline: bool = False
    br: bool = False
    font_size: int | None = None


@dataclass
class Paragraph:
    style: str | None = None
    num_id: int | None = None
    indent_left: int | None = None
    runs: list[Run] = field(default_factory=list)


def _render_children(para: Paragraph, parent: Element) -> None:
    """renderChildren (lines 114-125) + processInlineElement (127-158)."""
    for node in parent.children:
        if isinstance(node, TextNode):
            para.runs.append(Run(text=node.text()))
            continue
        tag = node.tag
        if tag in ("strong", "b"):
            para.runs.append(Run(text=node.text(), bold=True))
        elif tag in ("em", "i"):
            para.runs.append(Run(text=node.text(), italic=True))
        elif tag == "u":
            para.runs.append(Run(text=node.text(), underline=True))
        elif tag == "br":
            para.runs.append(Run(br=True))
        elif tag in ("span", "p"):
            _render_children(para, node)
        else:
            para.runs.append(Run(text=node.text()))


def _process_element(el: Element, out: list[Paragraph]) -> None:
    """processElement (lines 55-112)."""
    tag = el.tag
    if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
        para = Paragraph(style="Heading" + tag[1:])
        # the Java headerRun: bold + font size, created before
        # renderChildren and never given text — an empty attribute run
        para.runs.append(
            Run(bold=True, font_size=HEADING_SIZES.get(tag, HEADING_SIZE_DEFAULT))
        )
        _render_children(para, el)
        out.append(para)
    elif tag == "p":
        para = Paragraph()
        _render_children(para, el)
        out.append(para)
    elif tag in ("ul", "ol"):
        num = BULLET_NUM_ID if tag == "ul" else DECIMAL_NUM_ID
        for li in el.child_elements():
            if li.tag == "li":
                para = Paragraph(num_id=num, indent_left=LIST_INDENT_TWIPS)
                _render_children(para, li)
                out.append(para)
    else:
        children = el.child_elements()
        if children:
            for child in children:
                _process_element(child, out)
        else:
            para = Paragraph()
            _render_children(para, el)
            out.append(para)


def docx_paragraphs(text: str) -> list[Paragraph]:
    """generateDocxFromText's body (lines 22-38): the full paragraph/run
    plan the writer would hand to XWPFDocument."""
    if is_html(text):
        out: list[Paragraph] = []
        body = parse_body_fragment(text)
        for el in body.child_elements():
            _process_element(el, out)
        return out
    # Java's text.split("\r?\n") (DocxExportServiceImpl.java:28) uses
    # limit 0, which DROPS trailing empty strings — 'x\n\n\n' is ONE
    # paragraph, not four, and '\n\n' is ZERO paragraphs.  Python
    # re.split keeps them, so pop the tail.  The one Java special case:
    # ''.split(...) returns [''] (no match occurs), i.e. a single empty
    # paragraph for empty input.
    if text == "":
        return [Paragraph(runs=[Run(text="")])]
    parts = _PLAIN_SPLIT_RE.split(text)
    while parts and parts[-1] == "":
        parts.pop()
    return [Paragraph(runs=[Run(text=line)]) for line in parts]


# ---------------------------------------------------------------------------
# Minimal deterministic OOXML container
# ---------------------------------------------------------------------------

_XML_ESC = {"&": "&amp;", "<": "&lt;", ">": "&gt;"}


def _esc(s: str) -> str:
    return "".join(_XML_ESC.get(c, c) for c in s)


_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    '<Override PartName="/word/numbering.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.wordprocessingml.numbering+xml"/>'
    "</Types>"
)

_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)

_DOC_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/numbering" Target="numbering.xml"/>'
    "</Relationships>"
)


def _abstract_num(an_id: int, fmt: str, char: str) -> str:
    return (
        f'<w:abstractNum w:abstractNumId="{an_id}">'
        f'<w:lvl w:ilvl="0"><w:start w:val="1"/>'
        f'<w:numFmt w:val="{fmt}"/><w:lvlText w:val="{char}"/>'
        f'<w:lvlJc w:val="left"/></w:lvl></w:abstractNum>'
    )


_NUMBERING = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<w:numbering xmlns:w="{_W}">'
    + _abstract_num(0, "bullet", "•")
    + _abstract_num(1, "decimal", "%1.")
    + f'<w:num w:numId="{BULLET_NUM_ID}"><w:abstractNumId w:val="0"/></w:num>'
    + f'<w:num w:numId="{DECIMAL_NUM_ID}"><w:abstractNumId w:val="1"/></w:num>'
    + "</w:numbering>"
)


def _run_xml(r: Run) -> str:
    props = []
    if r.bold:
        props.append("<w:b/>")
    if r.italic:
        props.append("<w:i/>")
    if r.underline:
        props.append('<w:u w:val="single"/>')
    if r.font_size is not None:
        # OOXML w:sz is half-points — XWPFRun.setFontSize(pt) doubles it
        props.append(f'<w:sz w:val="{r.font_size * 2}"/>')
    rpr = f"<w:rPr>{''.join(props)}</w:rPr>" if props else ""
    body = "<w:br/>" if r.br else (
        f'<w:t xml:space="preserve">{_esc(r.text)}</w:t>' if r.text else ""
    )
    return f"<w:r>{rpr}{body}</w:r>"


def _para_xml(p: Paragraph) -> str:
    props = []
    if p.style:
        props.append(f'<w:pStyle w:val="{p.style}"/>')
    if p.num_id is not None:
        props.append(
            f'<w:numPr><w:ilvl w:val="0"/><w:numId w:val="{p.num_id}"/></w:numPr>'
        )
    if p.indent_left is not None:
        props.append(f'<w:ind w:left="{p.indent_left}"/>')
    ppr = f"<w:pPr>{''.join(props)}</w:pPr>" if props else ""
    return f"<w:p>{ppr}{''.join(_run_xml(r) for r in p.runs)}</w:p>"


def document_xml(paragraphs: list[Paragraph]) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W}"><w:body>'
        + "".join(_para_xml(p) for p in paragraphs)
        + "</w:body></w:document>"
    )


def docx_bytes(text: str) -> bytes:
    """text -> deterministic .docx bytes (fixed entry order, fixed 1980
    timestamps, fixed deflate level) — the generateDocxFromText analog."""
    doc = document_xml(docx_paragraphs(text))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=6) as z:
        for name, data in (
            ("[Content_Types].xml", _CONTENT_TYPES),
            ("_rels/.rels", _ROOT_RELS),
            ("word/_rels/document.xml.rels", _DOC_RELS),
            ("word/document.xml", doc),
            ("word/numbering.xml", _NUMBERING),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            zi.external_attr = 0o600 << 16
            z.writestr(zi, data)
    return buf.getvalue()


def docx_stats(text: str) -> dict:
    """Narrow-row accounting of a rendered document — the driver-safe
    projection the parity query emits: paragraph/run/attribute counts
    plus the md5-56 digest of the full binary .docx."""
    paras = docx_paragraphs(text)
    runs = [r for p in paras for r in p.runs]
    blob = docx_bytes(text)
    return {
        "n_paragraphs": len(paras),
        "n_runs": len(runs),
        "n_bold": sum(1 for r in runs if r.bold),
        "n_italic": sum(1 for r in runs if r.italic),
        "n_underline": sum(1 for r in runs if r.underline),
        "n_breaks": sum(1 for r in runs if r.br),
        "n_list_items": sum(1 for p in paras if p.num_id is not None),
        "n_headings": sum(1 for p in paras if p.style is not None),
        "docx_digest": md5_56(blob),
        "docx_size": len(blob),
    }
