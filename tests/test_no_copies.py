"""A stage two queries compute is one builder that both call: no run of
6 consecutive code lines appears at two places in unraveldocs_spark/*.py.

Lines are compared after tokenizing, so formatting and comments do not
matter.  Comments and multi-line strings (docstrings, oracle SQL) are
dropped — shared SQL text is rendered from one fragment where it is
byte-identical, and the oracle-hash pin covers it.  Lines holding only
brackets or operators are skipped, so a window cannot be padded out
with closing parens."""

import collections
import pathlib
import tokenize

PKG = pathlib.Path(__file__).resolve().parent.parent / "unraveldocs_spark"
WINDOW = 6

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}
_WORDS = {tokenize.NAME, tokenize.NUMBER, tokenize.STRING}
# Python >= 3.12 splits f-strings into START/MIDDLE/END tokens
_FSTART = getattr(tokenize, "FSTRING_START", None)
_FEND = getattr(tokenize, "FSTRING_END", None)


def _strings_folded(tokens):
    """Yield (row, kind, text) per token, an f-string as one STRING token
    at its first row; multi-line strings are dropped."""
    depth, start, parts = 0, None, []
    for t in tokens:
        if _FSTART is not None and t.type == _FSTART:
            if depth == 0:
                start, parts = t.start[0], []
            depth += 1
        if depth:
            parts.append(t.string)
            if t.type == _FEND:
                depth -= 1
                if depth == 0 and t.end[0] == start:
                    yield start, tokenize.STRING, "".join(parts)
            continue
        if t.type in _LAYOUT or (t.type == tokenize.STRING and "\n" in t.string):
            continue
        yield t.start[0], t.type, t.string


def code_lines(path):
    """[(line number, normalized text)] of the lines holding a name,
    number or one-line string."""
    rows = collections.defaultdict(list)
    with tokenize.open(path) as fh:
        for row, kind, text in _strings_folded(tokenize.generate_tokens(fh.readline)):
            rows[row].append((kind, text))
    return [
        (row, " ".join(text for _, text in toks))
        for row, toks in sorted(rows.items())
        if any(kind in _WORDS for kind, _ in toks)
    ]


def copied_windows(pkg=PKG):
    """{window of WINDOW code lines: ["file:line", ...]} for every window
    found at two or more places."""
    seen = collections.defaultdict(list)
    for path in sorted(pkg.glob("*.py")):
        lines = code_lines(path)
        for i in range(len(lines) - WINDOW + 1):
            window = tuple(text for _, text in lines[i : i + WINDOW])
            seen[window].append(f"{path.name}:{lines[i][0]}")
    return {w: at for w, at in seen.items() if len(at) > 1}


def test_no_code_window_appears_twice():
    found = copied_windows()
    report = "\n\n".join(
        " == ".join(at) + "\n    " + "\n    ".join(w) for w, at in found.items()
    )
    assert not found, f"{len(found)} copied {WINDOW}-line windows:\n\n{report}"


def test_the_scan_sees_a_planted_copy(tmp_path):
    body = "".join(f"    v{i} = f(x, {i})\n" for i in range(WINDOW))
    (tmp_path / "a.py").write_text(f'def a(x):\n    """doc"""\n{body}    return v0\n')
    (tmp_path / "b.py").write_text(f"def b(x):\n    # note\n{body}\n    return v1\n")
    # the same multi-line SQL body twice is not a code copy
    sql = '"""\n' + "SELECT 1\n" * (2 * WINDOW) + '"""\n'
    (tmp_path / "c.py").write_text(f"Q1 = {sql}Q2 = {sql}")
    assert list(copied_windows(tmp_path).values()) == [["a.py:3", "b.py:3"]]
