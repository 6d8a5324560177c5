"""Positional-noise guard for the suite bench (r6, VERDICT #7).

The suite bench cost two rounds of false alarms (r4 extract_transcripts,
r5 props_extract / ai_enrich / sessionize — all judge-re-measured as
neighbor/positional noise on the shared box).  This module makes the
verdict part of the artifact itself: any query whose suite time regressed
more than ``FACTOR``x against the previous round's BENCH_r0N.json is
immediately re-timed isolated best-of-``REPS`` (the EXTRACT_RECHECK.md
protocol) in the same session, and the per-query verdict ships inline in
the bench JSON under ``"recheck"``.

One-line-contract guard (r7, VERDICT r6 #2): the round driver captures
only the last ~2,000 chars of bench stdout, and r6's artifact lost its
entire machine-readable payload because a loud window flagged enough
queries to push the inline recheck dict past that tail.  bench.py is
frozen, but it inlines whatever ``recheck_regressions`` RETURNS — so
this module now returns only compact ``{name: verdict-string}`` entries
(~25 chars each; even an every-query-flagged window stays well inside
the tail) and writes the full numeric detail to
``BENCH/recheck_r0N.json`` instead.  The detail computation itself is
unchanged (``recheck_detail``).

Re-timing explicit names by hand goes through the same session and
best-of loop (``tools/measure.py``):

    python tools/measure.py time props_extract sessionize
"""

from __future__ import annotations

import glob
import json
import os
import re

from tools.measure import best_of as _best_of  # module-level: tests patch it

FACTOR = 1.5
REPS = 3
# A ratio alone can't separate signal from scheduler jitter on sub-second
# queries: every Spark job carries ~0.3-0.6s of fixed job-scheduling
# overhead that itself swings with neighbor load, so 0.28s -> 0.44s is
# 1.6x without a single extra row processed.  A regression verdict
# additionally requires the isolated best to sit a material ABSOLUTE
# delta above the previous round; below the floor the verdict is
# 'noise-floor'.
ABS_FLOOR_SEC = 1.0
# A loud window inflates EVERYTHING, including the isolated re-timing
# (r6: the whole suite ran ~1.4-1.6x over r5 with zero code change on
# the flagged paths).  When any query survives to 'regressed', up to
# CONTROLS non-flagged queries are re-timed the same way; the median of
# their isolated/prev ratios is the window's inflation factor, and a
# flagged query whose own ratio sits within CONTROL_SLACK of it is
# re-verdicted 'window-inflation' — slow box, not slow code.
CONTROLS = 3
CONTROL_SLACK = 1.25
CONTROL_PREV_RANGE = (0.8, 4.0)


def previous_bench(repo: str) -> tuple[str | None, dict[str, float]]:
    """(filename, per-query seconds) of the newest BENCH_r*.json."""
    best: tuple[int, str] | None = None
    for path in glob.glob(os.path.join(repo, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rnd = int(m.group(1))
            if best is None or rnd > best[0]:
                best = (rnd, path)
    if best is None:
        return None, {}
    try:
        with open(best[1]) as fh:
            data = json.load(fh)
        # the round driver wraps bench.py's JSON line under "parsed"
        if isinstance(data.get("parsed"), dict):
            data = data["parsed"]
        queries = data.get("queries", {})
        if isinstance(queries, dict):
            return os.path.basename(best[1]), {
                k: float(v) for k, v in queries.items()
            }
    except (OSError, ValueError):
        pass
    return os.path.basename(best[1]), {}


def recheck_regressions(
    spark,
    sf_dir: str,
    qfns: dict,
    per_query: dict[str, float],
    prev: dict[str, float],
    factor: float = FACTOR,
    reps: int = REPS,
    prev_name: str | None = None,
) -> dict[str, str]:
    """Driver-facing wrapper: compute the full recheck detail, persist it
    to ``BENCH/recheck_r0N.json``, and return only compact
    ``{name: verdict}`` strings for the frozen bench.py to inline — the
    one-line artifact stays parseable under the driver's 2,000-char tail
    capture regardless of how many queries a loud window flags.
    ``prev_name`` is the BENCH_r*.json file ``prev`` was read from, so
    the side file names the baseline the verdicts were computed against;
    without it the newest one is looked up again."""
    detail = recheck_detail(
        spark, sf_dir, qfns, per_query, prev, factor=factor, reps=reps
    )
    _write_detail(detail, prev_name)
    return _compact_verdicts(detail)


# The frozen bench.py's fixed payload (53 per-query entries + metadata)
# measures ~1.57k chars; the driver tail keeps the last 2,000.  The
# inline recheck dict therefore gets a hard serialized budget, spent on
# the most alarming verdicts first — the full numbers are in the side
# file either way.
INLINE_BUDGET_CHARS = 150
_VERDICT_PRIORITY = ("regressed", "window-inflation", "no-isolated-retimer",
                     "noise-floor", "noise")


def _compact_verdicts(detail: dict) -> dict[str, str]:
    def rank(item):
        name, r = item
        if name == "_window_inflation":
            return (-1, name)  # always first: one short, load-bearing entry
        v = r["verdict"]
        for i, p in enumerate(_VERDICT_PRIORITY):
            if v.startswith(p):
                return (i, name)
        return (len(_VERDICT_PRIORITY), name)

    def more(n: int) -> dict[str, str]:
        return {"_more": f"{n} in BENCH/recheck json"} if n else {}

    if "_window_inflation" not in detail and any(
        r.get("verdict") == "regressed" for r in detail.values()
    ):
        # no control could be re-timed (every query flagged, or none in
        # range): say so, or the line reads like a real suite regression
        detail = {**detail, "_window_inflation": None}
    items = sorted(detail.items(), key=rank)
    compact: dict[str, str] = {}
    for i, (name, r) in enumerate(items):
        if name != "_window_inflation":
            val = r["verdict"]
        else:
            val = f"x{r['median']}" if r else "no-controls"
        # admit in priority order only: the first entry that does not
        # fit (with room for the _more marker) ends the inline list
        entry = {**compact, name: val, **more(len(items) - i - 1)}
        if len(json.dumps(entry)) > INLINE_BUDGET_CHARS:
            break
        compact[name] = val
    return {**compact, **more(len(items) - len(compact))}


def _write_detail(
    detail: dict, prev_name: str | None = None, repo: str | None = None
) -> None:
    """Persist the full numeric recheck detail next to the round
    artifacts, named after the baseline ``prev_name`` (looked up when
    not given).  Best-effort: the bench line must still print if the
    checkout is read-only."""
    if not detail:
        return
    if repo is None:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if prev_name is None:
        prev_name, _ = previous_bench(repo)
    m = re.search(r"BENCH_r(\d+)\.json$", prev_name or "")
    stem = f"recheck_r{int(m.group(1)) + 1:02d}" if m else "recheck_latest"
    try:
        os.makedirs(os.path.join(repo, "BENCH"), exist_ok=True)
        with open(os.path.join(repo, "BENCH", f"{stem}.json"), "w") as fh:
            json.dump({"recheck_vs": prev_name, "detail": detail}, fh, indent=1)
    except OSError:
        pass


def recheck_detail(
    spark,
    sf_dir: str,
    qfns: dict,
    per_query: dict[str, float],
    prev: dict[str, float],
    factor: float = FACTOR,
    reps: int = REPS,
) -> dict[str, dict]:
    """Re-time every query whose suite number regressed > factor x vs the
    previous round, isolated best-of-reps, and return per-query verdicts:
    'noise' (isolated time back under factor x prev) or 'regressed'."""
    out: dict[str, dict] = {}
    for name, sec in per_query.items():
        base = prev.get(name)
        if base is None or base <= 0 or sec <= factor * base:
            continue
        if name not in qfns:  # e.g. extract_transcripts (pipeline stage)
            out[name] = {
                "suite": round(sec, 3),
                "prev": round(base, 3),
                "verdict": "no-isolated-retimer",
            }
            continue
        best = _best_of(lambda: qfns[name](spark, sf_dir).collect(), reps)
        if best <= factor * base:
            verdict = "noise"
        elif best - base <= ABS_FLOOR_SEC:
            verdict = "noise-floor"
        else:
            verdict = "regressed"
        out[name] = {
            "suite": round(sec, 3),
            "prev": round(base, 3),
            "best_isolated": round(best, 3),
            "verdict": verdict,
        }
    if any(r["verdict"] == "regressed" for r in out.values()):
        _apply_window_control(spark, sf_dir, qfns, prev, out, reps)
    return out


def _apply_window_control(
    spark, sf_dir: str, qfns: dict, prev: dict[str, float], out: dict, reps: int
) -> None:
    """Re-time stable control queries to measure the window's own
    inflation; downgrade 'regressed' verdicts that merely track it."""
    lo, hi = CONTROL_PREV_RANGE
    controls = sorted(
        (
            n
            for n, p in prev.items()
            if n not in out and n in qfns and lo <= p <= hi
        ),
        key=lambda n: (-prev[n], n),
    )[:CONTROLS]
    if not controls:
        return
    ratios = []
    for name in controls:
        best = _best_of(lambda: qfns[name](spark, sf_dir).collect(), reps)
        ratios.append(best / prev[name])
    ratios.sort()
    window = ratios[len(ratios) // 2]
    out["_window_inflation"] = {
        "controls": controls,
        "ratios": [round(r, 3) for r in ratios],
        "median": round(window, 3),
    }
    for name, r in out.items():
        if name.startswith("_") or r["verdict"] != "regressed":
            continue
        if r["best_isolated"] / r["prev"] <= window * CONTROL_SLACK:
            r["verdict"] = f"window-inflation(x{window:.2f})"
