"""The generated DuckDB oracles (oracle_sql_gen) must agree with the
pure-Python implementations they mirror — checked here on crafted edge
texts without Spark, so drift is caught per-commit, not only by the
driver's sf0.01 gate."""

import duckdb
import pytest

from unraveldocs_spark import textanalysis
from unraveldocs_spark.oracle_sql_gen import (
    simhash_near_dupes_sql,
    winnow_fingerprints_sql,
)
from unraveldocs_spark.textanalysis import (
    hamming64,
    simhash64,
    winnow_fingerprints,
)

TEXTS = [
    "",                      # empty
    "abc",                   # shorter than k-gram size
    "abcde",                 # exactly k
    "abcdefgh",              # k..k+w-1 (no full window)
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog",  # exact duplicate
    "the quick brown fox leaps over the lazy dog",  # near duplicate
    "aaaaaaaaaaaaaaaaaaaa",  # degenerate repeats
    "x y z " * 30,
    "tabs\tand\nnewlines  double  spaces",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    c.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(TEXTS))
    )
    return c


def test_winnow_sql_matches_python(con):
    rows = con.execute(winnow_fingerprints_sql()).fetchall()
    assert len(rows) == len(TEXTS)
    for doc_id, n_fp, fp_sum in rows:
        fps = winnow_fingerprints(TEXTS[doc_id])
        assert n_fp == len(fps), (doc_id, TEXTS[doc_id])
        assert fp_sum == sum(fps) % 1_000_000_007, doc_id


def test_simhash_sql_matches_python(con, monkeypatch):
    monkeypatch.setattr(textanalysis, "SIMHASH_MAX_HAMMING", 64)
    rows = con.execute(simhash_near_dupes_sql()).fetchall()
    sh = {i: simhash64(t) for i, t in enumerate(TEXTS)}
    # reproduce banding in python
    from collections import defaultdict

    buckets = defaultdict(list)
    for i, h in sh.items():
        for b, shift in enumerate((48, 32, 16, 0)):
            buckets[(b, (h >> shift) & 0xFFFF)].append(i)
    cand = set()
    for ids in buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    expected = sorted(
        (a, b, hamming64(sh[a], sh[b]))
        for a, b in cand
        if hamming64(sh[a], sh[b]) <= 64
    )
    assert sorted((r[0], r[1], r[2]) for r in rows) == expected
    # the exact-duplicate pair must collide with hamming 0
    assert (4, 5, 0) in expected
