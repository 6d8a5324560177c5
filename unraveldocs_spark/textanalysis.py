"""Vectorized text-analysis operators that aren't SQL-expressible:
SimHash, char-n-gram language ID, winnowing fingerprints.

Each has a pure-Python core (the pytest oracle) and a Spark entry point
that applies the core over Arrow batches with numpy where it pays off.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame

from .schemas import map_rows

# ---------------------------------------------------------------------------
# SimHash (64-bit, word features, md5-derived feature hashes)
# ---------------------------------------------------------------------------


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
    return bin(a ^ b).count("1")


def simhash_stage(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """doc_id -> 64-bit simhash (as two signed 32-bit halves to stay in
    Spark-friendly integer ranges, plus the full value as hex)."""

    def run(doc_id, text):
        h = simhash64(text or "")
        signed = h - (1 << 64) if h >= (1 << 63) else h
        yield (doc_id, signed, *((h >> s) & 0xFFFF for s in (48, 32, 16, 0)))

    return map_rows(
        docs.select(id_col, text_col),
        run,
        "doc_id long, simhash long, band0 int, band1 int, band2 int, band3 int",
    )


def simhash_near_dupes(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Candidate pairs sharing at least one 16-bit band (any pair with
    hamming <= 3 must collide in >=1 of 4 bands; wider radii trade recall),
    confirmed by exact hamming distance.  Scale path: explode to
    (band_idx, band_val) rows and shuffle on the band value — never a
    cross join."""
    from pyspark.sql import functions as F

    sigs = simhash_stage(docs)
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"), F.col(f"band{i}").alias("band_val")
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_idx", "b.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # exact hamming via bit_count on the xor of the two 64-bit values
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
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


def lang_id_stage(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    def run(doc_id, text):
        yield doc_id, lang_id(text or "")

    return map_rows(docs.select(id_col, text_col), run, "doc_id long, lang_pred string")


# ---------------------------------------------------------------------------
# Winnowing fingerprints (local-minimum sampling of rolling hashes)
# ---------------------------------------------------------------------------

_WIN_K = 5  # k-gram size
_WIN_W = 4  # window size
_WIN_MOD = (1 << 61) - 1
_WIN_BASE = 257


def winnow_fingerprints(text: str, k: int = _WIN_K, w: int = _WIN_W) -> list[int]:
    """Winnowing (Schleimer et al., SIGMOD'03): rolling hash of k-grams,
    keep the minimum of each window of w hashes (rightmost-min rule),
    deduplicated preserving order."""
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


def fingerprint_stage(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    def run(doc_id, text):
        fps = winnow_fingerprints(text or "")
        yield doc_id, fps, len(fps)

    return map_rows(
        docs.select(id_col, text_col),
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
