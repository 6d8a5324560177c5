"""Every probe of tools/measure.py runs on the smallest testdata at
growth 1x and returns the keys its BENCH table is rendered from, so a
package change that breaks a regenerator fails here, not at the next
measurement."""

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
        "pq_pct", "pq_rerank_pct",
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
    assert "|---|" in render(rows, SF)
    if name == "increment_scale":
        # every planted exact duplicate must be confirmed by the band join
        (r,) = rows
        assert r["planted"] > 0
        assert r["planted_confirmed"] == r["planted"]
        assert r["confirmed"] >= r["planted"]
