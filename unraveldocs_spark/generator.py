"""Deterministic synthetic transcripts generator (FIXTURES.md §3).

Every value derives from a splitmix64 mix of (seed, conv_idx, turn_idx) —
no RNG state, no wall clock, no dict-order dependence — so the local
(pandas) and distributed (Spark) generators produce byte-identical rows
for the same parameters, and any subset of rows can be regenerated
independently on any executor.

The Spark path builds the (conv_id, turn_idx) skeleton JVM-side
(``sequence`` + ``posexplode``) and fills payloads in an Arrow-batched
``schemas.map_rows`` stage over the same pure function the pandas path
uses.

Fixture families (FIXTURES.md §3): plain text (F-plain), HTML with
sanitizer + boilerplate material (F4/F5), page envelopes with direct /
OCR-fallback / page-selection variants (F1/F2/F3), fenced tool output
(F6), error rows (F7), plus a hot conversation for skew stress (F8).
"""

from __future__ import annotations

import datetime as dt
import json

import pandas as pd

SEED = 42
BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu data table query shuffle partition broadcast "
    "extract document page content heading fragment pipeline snapshot"
).split()

_TOOLS = ("bash", "search", "browser", "python", "calculator")


def mix64(x: int) -> int:
    """splitmix64 finalizer — the deterministic hash driving all draws."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def _draw(conv_idx: int, turn_idx: int, stream: int, mod: int) -> int:
    h = mix64(SEED * 0x1000003 + conv_idx * 0x10001 + turn_idx * 2 + 1)
    return mix64(h ^ (stream * 0x9E3779B9)) % mod


def _words(conv_idx: int, turn_idx: int, stream: int, n: int) -> str:
    return " ".join(
        _WORDS[_draw(conv_idx, turn_idx, stream * 101 + i, len(_WORDS))]
        for i in range(n)
    )


def _sentence(c: int, t: int, stream: int) -> str:
    n = 4 + _draw(c, t, stream * 7 + 3, 9)
    return _words(c, t, stream, n) + "."


def _plain_payload(c: int, t: int) -> str:
    n_lines = 1 + _draw(c, t, 11, 5)
    lines = [_sentence(c, t, 20 + i) for i in range(n_lines)]
    if _draw(c, t, 12, 4) == 0:
        lines.insert(min(1, len(lines)), "")  # blank line fixture
    sep = "\r\n" if _draw(c, t, 13, 5) == 0 else "\n"
    return sep.join(lines)


def _markdown_payload(c: int, t: int) -> str:
    return (
        f"# {_words(c, t, 30, 3)}\n\n"
        f"Some **{_WORDS[_draw(c, t, 31, len(_WORDS))]}** text with "
        f"[link](https://example.com/{_draw(c, t, 32, 999)})\n\n"
        f"- item {_draw(c, t, 33, 9)}\n- item {_draw(c, t, 34, 9)}"
    )


def _html_payload(c: int, t: int, boilerplate: bool) -> str:
    parts = []
    if boilerplate:
        parts.append(
            '<nav><a href="http://site/home">Home</a> | '
            '<a href="http://site/about">About</a></nav>'
        )
        parts.append("<header><p>Site Header</p></header>")
    if _draw(c, t, 40, 3) == 0:
        parts.append(f"<h1>{_words(c, t, 41, 3)}</h1>")
    if _draw(c, t, 42, 2) == 0:
        parts.append(f"<h3>{_words(c, t, 43, 2)}</h3>")
    n_paras = 1 + _draw(c, t, 44, 3)
    for i in range(n_paras):
        inner = _sentence(c, t, 50 + i)
        deco = _draw(c, t, 60 + i, 5)
        if deco == 0:
            inner += f" <b>{_words(c, t, 70 + i, 2)}</b>"
        elif deco == 1:
            inner += f" <em>{_words(c, t, 70 + i, 2)}</em>"
        elif deco == 2:
            inner += f' <a href="https://ref/{i}">{_words(c, t, 70 + i, 2)}</a>'
        elif deco == 3:
            inner += f"<br>{_sentence(c, t, 80 + i)}"
        parts.append(f"<p>{inner}</p>")
    if _draw(c, t, 90, 3) == 0:
        items = "".join(
            f"<li>{_words(c, t, 91 + i, 3)}</li>" for i in range(2 + _draw(c, t, 95, 3))
        )
        parts.append(f"<ul>{items}</ul>")
    if _draw(c, t, 96, 4) == 0:
        parts.append("<script>alert('strip me')</script>")
    if _draw(c, t, 97, 5) == 0:
        parts.append(f'<div onclick="evil()">{_sentence(c, t, 98)}</div>')
    if boilerplate:
        parts.append('<footer><p><a href="http://x">Terms</a></p></footer>')
    return "".join(parts)


def _pages_payload(c: int, t: int, ocr: bool, selection: bool) -> str:
    n_pages = 1 + _draw(c, t, 100, 5)
    if ocr:
        pages = ["" if _draw(c, t, 110 + i, 2) == 0 else "   " for i in range(n_pages)]
        ocr_pages = [
            ""
            if _draw(c, t, 120 + i, 5) == 0
            else f"  {_sentence(c, t, 130 + i)} "
            for i in range(n_pages)
        ]
    else:
        pages = [
            ""
            if _draw(c, t, 110 + i, 5) == 0
            else f" {_sentence(c, t, 130 + i)}\n{_sentence(c, t, 140 + i)} "
            for i in range(n_pages)
        ]
        ocr_pages = None
    obj: dict = {"kind": "pages", "pages": pages}
    if ocr_pages is not None:
        obj["ocr_pages"] = ocr_pages
    if selection:
        mode = _draw(c, t, 150, 10)
        if mode == 0:
            # invalid selection fixture -> FAILED row with reference message
            obj["select_pages"] = [n_pages + 2]
        elif mode < 5:
            picks = sorted({1 + _draw(c, t, 160 + i, n_pages) for i in range(2)})
            obj["select_pages"] = list(picks) + list(picks[:1])  # dupes on purpose
        else:
            s = 1 + _draw(c, t, 170, n_pages)
            e = s + _draw(c, t, 171, n_pages - s + 1)
            obj["start_page"], obj["end_page"] = s, e
    return json.dumps(obj, separators=(",", ":"))


def _vision_payload(c: int, t: int) -> str:
    """F9: vision-style response object (GoogleVisionOcrProvider.java:250-332
    shaping: full-text-vs-annotation fallback, block-confidence mean,
    language selection)."""
    mode = _draw(c, t, 190, 4)
    obj: dict = {"kind": "vision"}
    if mode < 2:  # full text annotation present
        n_blocks = _draw(c, t, 191, 4)  # 0..3 blocks
        obj["full_text"] = {
            "text": _sentence(c, t, 192) + "\n" + _sentence(c, t, 193),
            "blocks": [
                {"confidence": round(0.5 + _draw(c, t, 194 + i, 50) / 100, 2)}
                for i in range(n_blocks)
            ],
            "languages": ["en"] if _draw(c, t, 198, 2) == 0 else [],
        }
        if mode == 1:  # annotations also present; full text must win
            obj["annotations"] = [
                {"description": "IGNORED", "score": 0.9, "locale": "fr"}
            ]
    elif mode == 2:  # annotations only
        obj["annotations"] = [
            {
                "description": _sentence(c, t, 195),
                "score": round(_draw(c, t, 196, 100) / 100, 2),
                "locale": "es" if _draw(c, t, 197, 2) == 0 else "",
            }
        ]
    # mode 3: empty response -> extracted ""
    return json.dumps(obj, separators=(",", ":"))


def _layout_payload(c: int, t: int) -> str:
    """F10: positioned text runs for the pdfminer-style layout parse
    (pdflayout.py).  Lines sit 12 units apart with per-run baseline
    jitter 0..2 (< LINE_TOL=5, so jitter never splits a line); word gaps
    alternate between wide (space) and touching (no space); runs are
    emitted in REVERSE reading order so extraction must actually sort."""
    n_lines = 1 + _draw(c, t, 210, 4)
    runs = []
    for li in range(n_lines):
        n_toks = 2 + _draw(c, t, 220 + li, 4)
        x = 10
        for p in range(n_toks):
            tok = _WORDS[_draw(c, t, 230 + li * 11 + p, len(_WORDS))]
            w = 6 * len(tok)
            runs.append(
                {
                    "x": x,
                    "y": 100 + li * 12 + _draw(c, t, 260 + li * 11 + p, 3),
                    "w": w,
                    "h": 10,
                    "s": tok,
                }
            )
            gap = 4 if _draw(c, t, 290 + li * 11 + p, 4) else 1  # 1 fuses
            x += w + gap
    runs.reverse()
    return json.dumps({"kind": "layout", "runs": runs}, separators=(",", ":"))


def _tool_payload(c: int, t: int) -> str:
    body = json.dumps(
        {"result": _words(c, t, 180, 4), "count": _draw(c, t, 181, 1000)},
        separators=(",", ":"),
    )
    style = _draw(c, t, 182, 4)
    if style == 0:
        return f"```json\n{body}\n```"
    if style == 1:
        return f"```\n{body}\n```"
    if style == 2:
        return f"  ```json\n{body}\n```  "
    return body  # unfenced


def make_turn(conv_idx: int, turn_idx: int, include_oversize: bool = True):
    """Pure function (conv_idx, turn_idx) -> (role, text, tool).

    The single source of truth for payload content, shared by the pandas
    and Spark generators.
    """
    fam = _draw(conv_idx, turn_idx, 1, 100)
    role = "user" if turn_idx % 2 == 0 else "assistant"
    tool = None

    if include_oversize and conv_idx == 1 and turn_idx == 0:
        return role, "z" * (10 * 1024 * 1024 + 1), None  # F7 oversize

    if fam < 27:
        text = _plain_payload(conv_idx, turn_idx)
    elif fam < 45:
        text = _html_payload(conv_idx, turn_idx, boilerplate=False)
    elif fam < 51:
        text = _html_payload(conv_idx, turn_idx, boilerplate=True)
    elif fam < 62:
        text = _pages_payload(conv_idx, turn_idx, ocr=False, selection=False)
    elif fam < 69:
        text = _pages_payload(conv_idx, turn_idx, ocr=True, selection=False)
    elif fam < 76:
        text = _pages_payload(conv_idx, turn_idx, ocr=False, selection=True)
    elif fam < 85:
        role = "tool"
        tool = _TOOLS[_draw(conv_idx, turn_idx, 183, len(_TOOLS))]
        text = _tool_payload(conv_idx, turn_idx)
    elif fam < 88:
        text = _markdown_payload(conv_idx, turn_idx)
    elif fam < 90:
        text = None if fam == 88 else "   "  # F7 null/blank
    elif fam < 92:
        text = '{"kind":"audio","data":"AAAA"}'  # F7 unsupported kind
    elif fam < 97:
        text = _layout_payload(conv_idx, turn_idx)  # F10
    else:
        text = _vision_payload(conv_idx, turn_idx)  # F9
    return role, text, tool


def conv_sizes(n_convs: int, median_turns: int = 18, hot_factor: int = 100) -> list[int]:
    """Long-tail turn counts; conversation 0 is the hot one (F8) with
    ``hot_factor`` x the median turn count."""
    sizes = []
    for i in range(n_convs):
        base = 4 + mix64(SEED + i * 7919) % (2 * median_turns - 4)
        sizes.append(int(base))
    if n_convs > 0:
        sizes[0] = median_turns * hot_factor
    return sizes


def conv_name(conv_idx: int) -> str:
    return f"conv-{conv_idx:06d}"


def turn_ts(conv_idx: int, turn_idx: int) -> dt.datetime:
    return BASE_TS + dt.timedelta(seconds=conv_idx * 10_000 + turn_idx * 7)


# The registry's synthetic fixture (extract_synthetic, encrypted_roundtrip,
# docx_export, encrypted_export, bpe_learn, bpe_encode): 30 conversations,
# the hot one 10x the median, no oversize turn.  The Spark builders pass it
# to transcripts_spark and the sequential oracles to transcript_rows, so
# the two sides cannot drift.
FIXTURE = {"n_convs": 30, "hot_factor": 10, "include_oversize": False}

def transcript_rows(
    n_convs: int,
    median_turns: int = 18,
    hot_factor: int = 100,
    include_oversize: bool = True,
):
    """The sequential generator: (conv_id, turn_idx, role, text, tool, ts)
    in (conv_id, turn_idx) order, row for row what transcripts_spark
    generates for the same arguments."""
    for c, size in enumerate(conv_sizes(n_convs, median_turns, hot_factor)):
        for t in range(size):
            role, text, tool = make_turn(c, t, include_oversize)
            yield (conv_name(c), t, role, text, tool, turn_ts(c, t).replace(tzinfo=None))


def transcripts_pandas(*args, **kwargs) -> pd.DataFrame:
    """transcript_rows as a pandas frame."""
    return pd.DataFrame(
        list(transcript_rows(*args, **kwargs)),
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )


def transcripts_spark(
    spark,
    n_convs: int,
    median_turns: int = 18,
    hot_factor: int = 100,
    include_oversize: bool = True,
    parallelism: int | None = None,
):
    """Distributed generator: JVM-side skeleton, payloads via map_rows.

    At real scale the skeleton would come from the Iceberg transcripts
    table itself; here ``sequence``+``posexplode`` stands in so bench data
    never leaves the cluster.
    """
    from pyspark.sql import functions as F

    from .scanfan import tasks
    from .schemas import TRANSCRIPTS_SCHEMA, map_rows

    sizes = conv_sizes(n_convs, median_turns, hot_factor)
    # the payload fill is a Python stage
    parallelism = parallelism or tasks(spark, python=True)
    skeleton = (
        spark.createDataFrame(
            [(c, s) for c, s in enumerate(sizes)], "conv_idx INT, size INT"
        )
        # hot conversations must split across tasks: explode AFTER an even
        # repartition of conversations, then let AQE/explode fan out rows
        .repartition(parallelism, "conv_idx")
        .select(
            "conv_idx",
            F.posexplode(F.sequence(F.lit(0), F.col("size") - 1)).alias(
                "turn_idx", "_pos"
            ),
        )
        .drop("_pos")
        # re-spread exploded rows so one hot conversation doesn't pin a task
        .repartition(parallelism)
    )

    def fill(c, t):
        role, text, tool = make_turn(c, t, include_oversize)
        yield conv_name(c), t, role, text, tool, turn_ts(c, t)

    return map_rows(skeleton, fill, TRANSCRIPTS_SCHEMA)
