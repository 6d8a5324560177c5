"""Every probe of tools/measure.py runs on the smallest testdata at
growth 1x and returns the keys its BENCH table is rendered from, so a
package change that breaks a regenerator fails here, not at the next
measurement.  The registry modes (time, noop, plans) run on two queries,
plans refuses to run without an output directory, and tools/ keeps one
session builder."""

import glob
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure as M  # noqa: E402

SF = "/root/testdata/sf0.001"

# the probes' own scale arguments, shrunk to one cheap leg each
SMALL = {
    "dedup_scale": {"mults": (1,)},
    "band_bits": {"sizes": (2000,)},
    "ann_recall": {"query_stride": 500},
    "pca_ann": {"widths": (8, 64), "query_stride": 500},
    "substr_split_scale": {"mults": (1,)},
    "paragraph_scale": {"mults": (1,)},
    "increment_scale": {"mults": (1,)},
}

KEYS = {
    "dedup_scale": {
        "mult", "n_docs", "cand_pairs", "cand_per_doc", "cand_pairs_wide",
        "cand_per_doc_wide", "band_wall_s", "distinct_chunks", "line_wall_s",
    },
    "band_bits": {"n", "fixed", "scaled"},
    "ann_recall": {
        "n_vectors", "n_queries", "query_stride", "lsh_pct", "ivf_pct",
        "pq_pct", "shortlists", "pq_rerank_pct",
    },
    "pca_ann": {"dim", "recall", "variance", "n_vectors", "n_queries", "query_stride"},
    "substr_split_scale": {
        "mult", "n_docs", "gram_rows", "distinct_grams", "dup_grams",
        "dup_start_rows", "covered_tokens", "esub_wall_s", "band_shape",
        "conf_pairs", "pairs_per_doc", "n_clusters", "split_sizes", "split_wall_s",
    },
    "paragraph_scale": {
        "growth", "docs", "paras", "pub", "shape", "distinct_paras",
        "cand_pairs", "cands_per_kpara", "confirmed", "wall_s",
    },
    "increment_scale": {
        "mult", "n_existing", "shape", "cand_pairs", "cands_per_new_doc",
        "confirmed", "planted", "planted_confirmed", "wall_s",
    },
}


def test_every_probe_is_covered():
    assert set(M.PROBES) == set(SMALL) == set(KEYS)


@pytest.mark.parametrize("name", sorted(SMALL))
def test_probe_runs_at_1x(spark, name):
    probe, render, _ = M.PROBES[name]
    rows = probe(spark, SF, **SMALL[name])
    assert rows
    for r in rows:
        assert set(r) == KEYS[name], name
    page = render(rows, SF)
    assert "|---|" in page
    if name == "ann_recall":
        # the page renders the whole measured re-rank sweep
        (r,) = rows
        assert r["shortlists"] == list(M.SHORTLISTS)
        assert len(r["pq_rerank_pct"]) == len(M.SHORTLISTS)
        assert f"at shortlist {' / '.join(map(str, M.SHORTLISTS))}" in page
    if name == "increment_scale":
        # every planted exact duplicate must be confirmed by the band join
        (r,) = rows
        assert r["planted"] > 0
        assert r["planted_confirmed"] == r["planted"]
        assert r["confirmed"] >= r["planted"]


def test_main_rewrites_the_whole_bench_page(tmp_path, monkeypatch):
    """Two runs of a probe leave one page with one table: main rewrites
    the BENCH file instead of appending below earlier findings."""
    rows = [
        {"growth": "1x", "docs": 10, "paras": 40, "pub": 90, "shape": "4x4",
         "distinct_paras": 38, "cand_pairs": 3, "cands_per_kpara": 78.95,
         "confirmed": 3, "wall_s": 0.5},
    ]

    class _NoSpark:
        def stop(self):
            pass

    (tmp_path / "BENCH").mkdir()
    monkeypatch.setattr(M, "REPO", str(tmp_path))
    monkeypatch.setattr(M, "session", lambda name: _NoSpark())
    monkeypatch.setitem(
        M.PROBES, "paragraph_scale",
        (lambda spark, sf_dir: rows, M.render_paragraph_scale, "PARAGRAPH_SCALE.md"),
    )
    for _ in range(2):
        assert M.main(["paragraph_scale", SF]) == 0
    page = (tmp_path / "BENCH" / "PARAGRAPH_SCALE.md").read_text()
    assert sum(line.startswith("|---|") for line in page.splitlines()) == 1
    assert page.startswith("# dedup_paragraph")


QUERIES = ["regional_revenue", "sessionize"]


@pytest.mark.parametrize("mode", ["time", "noop", "plans"])
def test_query_modes(spark, mode, tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(M, "REPO", str(tmp_path))
    monkeypatch.setattr(M, "session", lambda name: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    out = tmp_path / "plans"
    opts = ["--out", str(out)] if mode == "plans" else ["-n", "1"]
    assert M.main([mode, "--sf", SF, *opts, *QUERIES]) == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    if mode == "plans":
        assert line == {"mode": "plans", "n": 2}
        plans = sorted(os.listdir(out))
        assert plans == [f"{q}.txt" for q in QUERIES]
        for name in plans:
            assert "== Physical Plan ==" in (out / name).read_text()
    else:
        assert set(line) == {"mode", "sf", "n", "queries"}
        assert (line["mode"], line["sf"], line["n"]) == (mode, SF, 1)
        assert sorted(line["queries"]) == QUERIES
        assert all(sec > 0 for sec in line["queries"].values())


def test_plans_needs_out(tmp_path, monkeypatch):
    """``plans`` without ``--out``, or another mode with it, exits
    non-zero before it builds a session, and writes nothing: no default
    directory can land on committed plan files."""
    monkeypatch.setattr(M, "REPO", str(tmp_path))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(M, "session", lambda name: pytest.fail("session built"))
    for argv in (["plans"], ["time", "--out", str(tmp_path / "plans")]):
        with pytest.raises(SystemExit) as exc:
            M.main([*argv, "--sf", SF, *QUERIES])
        assert exc.value.code != 0
    assert list(tmp_path.iterdir()) == []


def test_tools_build_one_session():
    """Every local measurement shares measure.session: one
    build_session call across tools/*.py."""
    calls = sum(
        open(p).read().count("build_session(")
        for p in glob.glob(os.path.join(os.path.dirname(M.__file__), "*.py"))
    )
    assert calls == 1
