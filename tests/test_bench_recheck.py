"""Pins for the bench positional-noise guard (tools/bench_recheck.py):
ratio + absolute floor verdicts, the window-inflation control that
separates a loud box from a real code regression, and (r7) the compact
inline contract that keeps the frozen bench.py's single output line
inside the round driver's 2,000-char stdout tail capture."""

import json
import sys


sys.path.insert(0, "/root/repo")

from tools import bench_recheck as br


class _FakeDF:
    def collect(self):
        return []


def _qfns(names):
    return {n: (lambda spark, sf: _FakeDF()) for n in names}


def _run(monkeypatch, per_query, prev, isolated):
    """Drive recheck_detail with fake isolated timings: the Nth
    _best_of call returns isolated[N] (flagged queries first, then
    controls in selection order)."""
    seq = iter(isolated)
    monkeypatch.setattr(br, "_best_of", lambda fn, reps: next(seq))
    return br.recheck_detail(
        spark=None,
        sf_dir="",
        qfns=_qfns(set(per_query) | set(prev)),
        per_query=per_query,
        prev=prev,
    )


class TestVerdicts:
    def test_noise_when_isolated_recovers(self, monkeypatch):
        out = _run(monkeypatch, {"q": 3.0}, {"q": 1.0}, [1.2])
        assert out["q"]["verdict"] == "noise"

    def test_noise_floor_below_absolute_delta(self, monkeypatch):
        out = _run(monkeypatch, {"q": 0.9}, {"q": 0.3}, [0.8])
        assert out["q"]["verdict"] == "noise-floor"

    def test_unflagged_queries_not_retimed(self, monkeypatch):
        out = _run(monkeypatch, {"q": 1.1}, {"q": 1.0}, [])
        assert out == {}


class TestWindowInflation:
    def test_loud_window_downgrades_regressed(self, monkeypatch):
        """Flagged 1.6x with controls also running ~1.5x -> the verdict
        becomes window-inflation, not regressed."""
        per_query = {"flagged": 4.8}
        prev = {"flagged": 3.0, "c1": 3.5, "c2": 2.0, "c3": 1.0}
        # flagged isolated 4.9 (1.63x), controls at 1.5x each
        out = _run(
            monkeypatch, per_query, prev, [4.9, 3.5 * 1.5, 2.0 * 1.5, 1.0 * 1.5]
        )
        assert out["flagged"]["verdict"].startswith("window-inflation")
        wi = out["_window_inflation"]
        assert wi["controls"] == ["c1", "c2", "c3"]
        assert wi["median"] == 1.5

    def test_quiet_window_keeps_regressed(self, monkeypatch):
        """Controls at ~1.0x leave a 2x flagged query 'regressed'."""
        per_query = {"flagged": 6.0}
        prev = {"flagged": 3.0, "c1": 3.5, "c2": 2.0, "c3": 1.0}
        out = _run(monkeypatch, per_query, prev, [6.1, 3.6, 2.0, 1.0])
        assert out["flagged"]["verdict"] == "regressed"
        assert out["_window_inflation"]["median"] < 1.1

    def test_controls_exclude_flagged_and_out_of_range(self, monkeypatch):
        per_query = {"flagged": 6.0}
        prev = {"flagged": 3.0, "tiny": 0.2, "huge": 9.0, "c1": 2.5}
        out = _run(monkeypatch, per_query, prev, [6.1, 2.5])
        assert out["_window_inflation"]["controls"] == ["c1"]

    def test_no_controls_leaves_verdicts_alone(self, monkeypatch):
        per_query = {"flagged": 6.0}
        prev = {"flagged": 3.0}
        out = _run(monkeypatch, per_query, prev, [6.1])
        assert out["flagged"]["verdict"] == "regressed"
        assert "_window_inflation" not in out


class TestEdges:
    def test_missing_retimer_is_labeled(self):
        out = br.recheck_detail(
            spark=None,
            sf_dir="",
            qfns={},
            per_query={"extract_transcripts": 9.0},
            prev={"extract_transcripts": 3.0},
        )
        assert out["extract_transcripts"]["verdict"] == "no-isolated-retimer"

    def test_no_baseline_is_skipped(self, monkeypatch):
        out = _run(monkeypatch, {"new_q": 9.0}, {"new_q": None}, [])
        assert out == {}


class TestCompactContract:
    """recheck_regressions (what the FROZEN bench.py inlines) must return
    compact {name: verdict} strings and stash the numbers in a side file,
    so the one-line artifact survives the driver's 2,000-char tail even
    in a worst-case every-query-flagged window (VERDICT r6 #2)."""

    def _compact(self, monkeypatch, tmp_path, per_query, prev, isolated):
        seq = iter(isolated)
        monkeypatch.setattr(br, "_best_of", lambda fn, reps: next(seq))
        written = {}
        monkeypatch.setattr(
            br, "_write_detail", lambda d, repo=None: written.update(d)
        )
        out = br.recheck_regressions(
            spark=None,
            sf_dir="",
            qfns=_qfns(set(per_query) | set(prev)),
            per_query=per_query,
            prev=prev,
        )
        return out, written

    def test_values_are_verdict_strings(self, monkeypatch, tmp_path):
        per_query = {"flagged": 6.0, "ok": 1.0}
        prev = {"flagged": 3.0, "ok": 1.0}
        # second isolated timing = the 'ok' window control at 1.0x
        out, written = self._compact(
            monkeypatch, tmp_path, per_query, prev, [6.1, 1.0]
        )
        assert out["flagged"] == "regressed"
        assert out["_window_inflation"] == "x1.0"
        assert written["flagged"]["best_isolated"] == 6.1

    def test_window_entry_compacted(self, monkeypatch, tmp_path):
        per_query = {"flagged": 4.8}
        prev = {"flagged": 3.0, "c1": 3.5, "c2": 2.0, "c3": 1.0}
        out, _ = self._compact(
            monkeypatch, tmp_path, per_query, prev,
            [4.9, 3.5 * 1.5, 2.0 * 1.5, 1.0 * 1.5],
        )
        assert out["flagged"].startswith("window-inflation")
        assert out["_window_inflation"] == "x1.5"

    def test_detail_side_file(self, monkeypatch, tmp_path):
        detail = {"q": {"suite": 3.0, "prev": 1.0, "verdict": "regressed"}}
        br._write_detail(detail, repo=str(tmp_path))
        files = list((tmp_path / "BENCH").glob("recheck_*.json"))
        assert len(files) == 1
        payload = json.loads(files[0].read_text())
        assert payload["detail"] == detail

    def test_empty_detail_writes_nothing(self, tmp_path):
        br._write_detail({}, repo=str(tmp_path))
        assert not (tmp_path / "BENCH").exists()

    def test_bench_line_bounded_worst_case(self, monkeypatch, tmp_path):
        """Reconstruct the frozen bench.py JSON line with EVERY suite
        query flagged (the r6 failure mode) and assert it stays inside
        the driver's tail capture with headroom."""
        import bench as bench_mod

        names = ["extract_transcripts"] + list(bench_mod.HEADLINE_QUERIES)
        per_query = {n: 9.999 for n in names}
        prev = {n: 1.0 for n in names}
        isolated = [9.9] * len(names) + [9.9] * br.CONTROLS
        out, written = self._compact(
            monkeypatch, tmp_path, per_query, prev, isolated
        )
        assert len(written) >= len(names)  # full detail kept in side file
        assert out["_more"].endswith("BENCH/recheck json")  # inline capped
        assert len(json.dumps(out)) < 400
        line = json.dumps(
            {
                "metric": "extraction+operator suite wall time",
                "value": 9999.999,
                "unit": "sec",
                "queries": per_query,
                "sf": 1.0,
                "n_turns": 5080203,
                "turns_per_sec": 330728.1,
                "parallelism": 32,
                "recheck_vs": "BENCH_r06.json",
                "recheck": out,
            }
        )
        assert len(line) < 1800, len(line)


class TestInlineBudget:
    """The compact dict spends its budget strictly in priority order,
    names the baseline it was computed against, and flags a window in
    which no control could be re-timed."""

    def test_first_drop_ends_the_inline_list(self):
        detail = {f"q{i}": {"verdict": "regressed"} for i in range(6)}
        detail["very_long_regressed_query_name_" + "x" * 40] = {
            "verdict": "regressed"
        }
        detail["z"] = {"verdict": "noise"}
        out = br._compact_verdicts(detail)
        # the later, shorter 'noise' entry must not displace a dropped
        # higher-priority 'regressed' one
        assert "z" not in out
        assert len(json.dumps(out)) <= br.INLINE_BUDGET_CHARS
        n_inline = len(out) - 2  # minus _more and _window_inflation
        assert out["_more"] == f"{len(detail) - n_inline} in BENCH/recheck json"

    def test_prev_name_reaches_side_file(self, monkeypatch, tmp_path):
        monkeypatch.setattr(br, "_best_of", lambda fn, reps: 1.0)
        write_detail = br._write_detail
        seen = {}
        monkeypatch.setattr(
            br, "_write_detail",
            lambda d, prev_name=None, repo=None: seen.update(prev=prev_name),
        )
        br.recheck_regressions(
            spark=None, sf_dir="", qfns=_qfns(["q"]),
            per_query={"q": 3.0}, prev={"q": 1.0},
            prev_name="BENCH_r41.json",
        )
        assert seen["prev"] == "BENCH_r41.json"
        write_detail({"q": {"verdict": "noise"}}, "BENCH_r41.json",
                     repo=str(tmp_path))
        payload = json.loads((tmp_path / "BENCH" / "recheck_r42.json").read_text())
        assert payload["recheck_vs"] == "BENCH_r41.json"

    def test_all_flagged_says_no_controls(self, monkeypatch, tmp_path):
        seq = iter([6.1, 6.2])
        monkeypatch.setattr(br, "_best_of", lambda fn, reps: next(seq))
        monkeypatch.setattr(br, "_write_detail", lambda *a, **k: None)
        out = br.recheck_regressions(
            spark=None, sf_dir="", qfns=_qfns(["a", "b"]),
            per_query={"a": 6.0, "b": 6.0}, prev={"a": 1.0, "b": 1.0},
        )
        assert out == {"_window_inflation": "no-controls",
                       "a": "regressed", "b": "regressed"}
