"""Vectorized text-analysis operators that aren't SQL-expressible:
SimHash, char-n-gram language ID, winnowing fingerprints.

Each has a pure-Python core (the pytest oracle) and a Spark entry point:
the core over Arrow batches (numpy where it pays off), or for language ID
the same profile scoring as column expressions.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame

from .schemas import map_rows
from .similarity import band_pairs, band_rows

# ---------------------------------------------------------------------------
# SimHash (64-bit, word features, md5-derived feature hashes)
# ---------------------------------------------------------------------------

SIMHASH_BAND_BITS = 16  # candidate bands: the 64 bits cut high to low
SIMHASH_MAX_HAMMING = 16  # near-dupe confirm: hamming distance at most this


def simhash_band_shifts() -> range:
    """Right shifts of the SimHash bands, band0 (the high bits) first."""
    return range(64 - SIMHASH_BAND_BITS, -1, -SIMHASH_BAND_BITS)


def _feature_hash64(token: str) -> int:
    return int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:8], "big")


def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens, weight 1 per occurrence."""
    tokens = text.split()
    if not tokens:
        return 0
    votes = np.zeros(64, dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    one = np.uint64(1)
    for tok in tokens:
        h = np.uint64(_feature_hash64(tok))
        bits = ((h >> shifts) & one).astype(np.int64)
        votes += bits * 2 - 1
    out = 0
    for i in range(64):
        if votes[i] > 0:
            out |= 1 << i
    return out


def hamming64(a: int, b: int) -> int:
    """Test oracle: pure-Python twin of the bit_count(xor) confirm step."""
    return bin(a ^ b).count("1")


def simhash_stage(docs: DataFrame) -> DataFrame:
    """doc_id -> 64-bit simhash (as a signed long) plus its
    ``SIMHASH_BAND_BITS``-bit bands band0, band1, ... (high bits first)."""
    shifts = simhash_band_shifts()
    mask = (1 << SIMHASH_BAND_BITS) - 1

    def run(doc_id, text):
        h = simhash64(text or "")
        signed = h - (1 << 64) if h >= (1 << 63) else h
        yield (doc_id, signed, *((h >> s) & mask for s in shifts))

    bands = ", ".join(f"band{i} int" for i in range(len(shifts)))
    return map_rows(
        docs.select("doc_id", "text"), run, f"doc_id long, simhash long, {bands}"
    )


def simhash_near_dupes(docs: DataFrame) -> DataFrame:
    """Candidate pairs sharing at least one band (with four 16-bit bands,
    any pair with hamming <= 3 must collide in >=1 band; wider radii
    trade recall), confirmed by exact hamming distance <=
    ``SIMHASH_MAX_HAMMING``.  Scale path: the banded candidate builder
    (similarity.band_rows/band_pairs) — narrow (id, band_idx, band_key)
    rows shuffle on the band value, never a cross join, and the 64-bit
    simhash joins back per side.  The signature table is materialized
    once, so the Python stage runs once although both sides of the
    self-join and both join-backs read it."""
    from pyspark.sql import functions as F

    sigs = simhash_stage(docs).localCheckpoint()
    n_bands = len(simhash_band_shifts())
    bands = band_rows(sigs, "doc_id", [F.col(f"band{i}") for i in range(n_bands)])
    cands = band_pairs(
        bands, bands, sigs.select("doc_id", "simhash"), ("doc_a", "doc_b")
    )
    # exact hamming via bit_count on the xor of the two 64-bit values
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Language ID: char-trigram profile scoring (deterministic heuristic)
# ---------------------------------------------------------------------------

_LANG_PROFILES = {
    "en": (" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ng "),
    "es": (" de", "de ", " la", "la ", "os ", " el", "el ", "ión", "ent", " qu"),
    "de": ("er ", " de", "der", "ie ", " di", "die", "sch", "ein", "ich", "und"),
    "fr": (" de", "de ", " le", "le ", "es ", "ent", " la", "la ", "ion", " et"),
    "zh": ("的", "是", "了", "在", "我", "有", "他", "这", "中", "大"),
}


def lang_id(text: str) -> str:
    """argmax language by profile n-gram hit count; ties broken by
    language code order; empty/low-signal -> 'und'."""
    if not text:
        return "und"
    best_lang, best_score = "und", 0
    for lang in sorted(_LANG_PROFILES):
        score = sum(text.count(g) for g in _LANG_PROFILES[lang])
        if score > best_score:
            best_lang, best_score = lang, score
    return best_lang


# ---------------------------------------------------------------------------
# Winnowing fingerprints (local-minimum sampling of rolling hashes)
# ---------------------------------------------------------------------------

_WIN_K = 5  # k-gram size
_WIN_W = 4  # window size
_WIN_MOD = (1 << 61) - 1
_WIN_BASE = 257


def winnow_fingerprints(text: str) -> list[int]:
    """Winnowing (Schleimer et al., SIGMOD'03): rolling hash of
    ``_WIN_K``-grams, keep the minimum of each window of ``_WIN_W``
    hashes (rightmost-min rule), deduplicated preserving order."""
    k, w = _WIN_K, _WIN_W
    n = len(text)
    if n < k:
        return []
    hashes = []
    h = 0
    power = pow(_WIN_BASE, k - 1, _WIN_MOD)
    for i, ch in enumerate(text):
        h = (h * _WIN_BASE + ord(ch)) % _WIN_MOD
        if i >= k - 1:
            hashes.append(h)
            # strip the leading char (weight B^(k-1)) for the next k-gram
            h = (h - ord(text[i - k + 1]) * power) % _WIN_MOD
    out: list[int] = []
    last = -1
    for s in range(len(hashes) - w + 1):
        window = hashes[s : s + w]
        m = min(window)
        idx = s + max(i for i, v in enumerate(window) if v == m)
        if idx != last:
            out.append(hashes[idx])
            last = idx
    # dedupe preserving order
    seen: set[int] = set()
    uniq = []
    for v in out:
        if v not in seen:
            seen.add(v)
            uniq.append(v)
    return uniq


def fingerprint_stage(docs: DataFrame) -> DataFrame:
    def run(doc_id, text):
        fps = winnow_fingerprints(text or "")
        yield doc_id, fps, len(fps)

    return map_rows(
        docs.select("doc_id", "text"),
        run,
        "doc_id long, fingerprints array<long>, n_fingerprints int",
    )


def lang_id_expr(text_col):
    """Column-expression variant of :func:`lang_id` (pure built-ins, so it
    is whole-stage-codegen'd JVM-side and SQL-oracle-checkable).

    Occurrence counting via the replace trick:
    count(g in s) = (len(s) - len(replace(s, g, ''))) / len(g) — identical
    to str.count's non-overlapping left-to-right semantics.
    """
    from pyspark.sql import functions as F

    def score(lang):
        total = F.lit(0)
        for g in _LANG_PROFILES[lang]:
            cnt = (
                (F.length(text_col) - F.length(F.replace(text_col, F.lit(g), F.lit(""))))
                / F.lit(len(g))
            ).cast("int")
            total = total + cnt
        return total

    langs = sorted(_LANG_PROFILES)
    scores = {lang: score(lang) for lang in langs}
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:  # earliest lang in sorted order wins ties
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return pred


def lang_id_sql_expr(text_sql: str) -> str:
    """DuckDB SQL mirroring :func:`lang_id_expr` (generated from the same
    profile table so the two can never drift)."""
    langs = sorted(_LANG_PROFILES)

    def score(lang):
        parts = [
            f"CAST((length({text_sql}) - length(replace({text_sql}, '{g}', ''))) / {len(g)} AS INT)"
            for g in _LANG_PROFILES[lang]
        ]
        return "(" + " + ".join(parts) + ")"

    scores = {lang: score(lang) for lang in langs}
    best = "GREATEST(" + ", ".join(scores[lang] for lang in langs) + ")"
    case = f"CASE WHEN {best} <= 0 THEN 'und'"
    for lang in langs:
        case += f" WHEN {scores[lang]} = {best} THEN '{lang}'"
    return case + " END"
