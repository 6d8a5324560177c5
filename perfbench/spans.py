"""Spans around calls into the program's modules, recorded from the
benchmark's own files, plus the Spark-free ``extract_turn`` microbench.

A span is (name, start, end, parent).  ``Tracer.patch`` swaps a module or
object attribute for a wrapper that records one span per call, for the
duration of a ``with`` block, and restores the original afterwards.  Spans
stay in memory; the workload turns them into per-layer metrics when the
traced pass ends.

Spans on calls that only build a lazy DataFrame measure plan construction;
the time of the work itself lands in the span of the eager call that runs
it (``run_extraction``, ``store.append``, ``collect``).  The workloads add
separate noop-sink timings for the lazy layers.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # the arguments of the latest call under each span name
        self.calls: dict[str, tuple] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.calls[name] = (args, kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patch(self, targets):
        """``targets``: (owner, attribute, span name) triples."""
        saved = []
        try:
            for owner, attr, name in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(name, orig))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def total(self, name: str, parent_name: str | None = None) -> float:
        """Summed duration of the spans called ``name`` (optionally only
        those whose parent span is called ``parent_name``)."""
        return sum(
            s.dur
            for s in self.spans
            if s.name == name
            and (
                parent_name is None
                or (s.parent is not None and self.spans[s.parent].name == parent_name)
            )
        )

    def coverage(self, root: int, prefixes: tuple[str, ...]) -> float:
        """Share of span ``root`` covered by the union of the spans whose
        names start with one of ``prefixes`` (nested spans count once)."""
        r = self.spans[root]
        covered, end = 0.0, r.start
        for start, stop in sorted(
            (max(s.start, r.start), min(s.end, r.end))
            for s in self.spans
            if s.name.startswith(prefixes)
        ):
            if stop > end:
                covered += stop - max(start, end)
                end = stop
        return covered / r.dur


FAMILIES = ("html", "pages", "layout", "plain", "tool", "vision", "error")


def oracle_microbench(rows, families) -> dict[str, float]:
    """Pure ``extract_turn`` time per payload family over ``rows`` of
    (role, text, tool), plus the HTML sub-steps.  Returns µs per turn per
    family, total oracle CPU seconds, and µs per HTML turn for the parse,
    the sanitizer's own work (parse excluded) and the DOM walk."""
    from unraveldocs_spark.domwalk import html_blocks_from_body, join_blocks
    from unraveldocs_spark.htmldom import parse_body_fragment
    from unraveldocs_spark.oracle import extract_turn
    from unraveldocs_spark.sanitizer import clean_tree

    clock = time.perf_counter
    spent = {f: 0.0 for f in FAMILIES}
    count = {f: 0 for f in FAMILIES}
    parse = clean = walk = 0.0
    html_texts = []
    for (role, text, tool), fam in zip(rows, families):
        t = clock()
        extract_turn(role, tool, text)
        spent[fam] += clock() - t
        count[fam] += 1
        if fam == "html":
            html_texts.append(text)
    for text in html_texts:
        t0 = clock()
        parse_body_fragment(text)
        t1 = clock()
        body = clean_tree(text)
        t2 = clock()
        join_blocks(html_blocks_from_body(body))
        t3 = clock()
        parse += t1 - t0
        clean += (t2 - t1) - (t1 - t0)
        walk += t3 - t2
    out = {
        f"oracle.{f}_us": 1e6 * spent[f] / count[f] if count[f] else 0.0
        for f in FAMILIES
    }
    out["oracle.cpu_s"] = sum(spent.values())
    n_html = max(1, len(html_texts))
    out["htmldom.parse_us"] = 1e6 * parse / n_html
    out["sanitizer.clean_us"] = 1e6 * clean / n_html
    out["domwalk.walk_us"] = 1e6 * walk / n_html
    return out
