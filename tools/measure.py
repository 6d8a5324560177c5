"""The one local measurement harness: one session, one timing loop.

    python tools/measure.py <probe> [sf_dir]
    python tools/measure.py time  [-n 3] [--sf DIR] name [name ...]
    python tools/measure.py noop  [-n 3] [--sf DIR] name [name ...]
    python tools/measure.py plans --out DIR [--sf DIR] [name ...]

Each probe measures a package builder at growing scale and rewrites its
whole BENCH file, prose included:

    dedup_scale         MinHash candidates over a 1x/4x/16x corpus  DEDUP_SCALE.md
    band_bits           embedding-LSH bucket occupancy vs band bits BAND_BITS.md
    ann_recall          LSH/IVF/PQ recall@10 vs brute force         ANN_RECALL.md
    pca_ann             recall@10 per PCA projection width          PCA_ANN.md
    substr_split_scale  exact_substring_dedup + stratified_split    SUBSTR_SPLIT_SCALE.md
    paragraph_scale     dedup_paragraph past the 128k envelope      PARAGRAPH_SCALE.md
    increment_scale     fixed batch vs growing corpus               INCREMENT_SCALE.md

Every probe is ``probe(spark, sf_dir, <scale>=...) -> list[dict]``; the
scale keywords (growth multipliers, vector counts, query stride) default
to the published legs.  Growth corpora are cached under GROWTH_ROOT,
keyed by the input directory and the multiplier.  ``band_bits``
synthesizes its vectors and ignores sf_dir.

``time`` and ``noop`` re-time registry queries in isolation, best-of-n
(query build included; ``time`` ends in ``.collect()`` like a bench.py leaf,
``noop`` in the noop sink), and print one JSON line
``{"mode", "sf", "n", "queries": {name: best_sec}}``.  ``plans`` writes
each query's ``.explain("formatted")`` to <--out DIR>/<name>.txt (no
default) and prints ``{"mode", "n"}``.  No names means every registry query.

Cores come from SPARK_GRAFT_CPUS and the default sf dir from
SPARK_GRAFT_SF_DIR, as in bench.py.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
GROWTH_ROOT = "/tmp/unraveldocs-growth"


# ---------------------------------------------------------------------------
# Harness: session, timing loop, growth corpus, markdown table
# ---------------------------------------------------------------------------


def session(name: str):
    """bench.py's session, so an isolated time is comparable to a bench
    leaf: local[CPUS], max(CPUS, 16) shuffle partitions, shuffle on
    /dev/shm and 4m scan splits unless SPARK_GRAFT_MAX_PARTITION_BYTES
    says otherwise."""
    from unraveldocs_spark.session import build_session

    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")
    spark = build_session(
        f"measure-{name}",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 16),
        extra_conf={"spark.local.dir": "/dev/shm/unraveldocs-measure"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def best_of(fn, reps: int) -> float:
    """Best wall seconds of ``reps`` calls of ``fn``."""
    sec = float("inf")
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        sec = min(sec, time.monotonic() - t0)
    return sec


def _permuted_text(key: int):
    """The document's words reordered by an xxhash64 sort keyed on
    (word, position, key, doc_id): the same words, but not a near-dup
    of the original."""
    from pyspark.sql import functions as F

    toks = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(0), F.size(toks) - 1)
    keyed = F.zip_with(
        toks,
        idx,
        lambda w, i: F.struct(
            F.xxhash64(w, i, F.lit(key), F.col("doc_id")).alias("h"),
            w.alias("w"),
        ),
    )
    return F.array_join(F.transform(F.array_sort(keyed), lambda s: s["w"]), " ")


def growth_corpus(spark, base_dir: str, mult: int) -> str:
    """An sf dir whose documents table is ``base_dir``'s grown
    ``mult``-fold: copy k > 0 word-permutes every document under key k
    (ids shifted by k * 1e6), so each copy-universe repeats the base
    duplicate structure without near-duplicating its originals — "more
    of the same data".  1x is ``base_dir`` itself."""
    from pyspark.sql import functions as F

    if mult == 1:
        return base_dir
    key = hashlib.md5(os.path.realpath(base_dir).encode()).hexdigest()[:12]
    out = os.path.join(GROWTH_ROOT, key, f"x{mult}")
    if os.path.exists(os.path.join(out, "documents.parquet", "_SUCCESS")):
        return out
    base = spark.read.parquet(f"{base_dir}/documents.parquet")
    df = base
    for k in range(1, mult):
        df = df.unionByName(
            base.select(
                (F.col("doc_id") + k * 1_000_000).alias("doc_id"),
                _permuted_text(k).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    df.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def md_table(header: list[str], rows: list[list]) -> str:
    return "\n".join(
        ["| " + " | ".join(header) + " |", "|" + "---|" * len(header)]
        + ["| " + " | ".join(str(c) for c in r) + " |" for r in rows]
    )


def _sf(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


# ---------------------------------------------------------------------------
# dedup_scale: MinHash candidate growth, operator vs widened band shape
# ---------------------------------------------------------------------------


def dedup_scale(spark, sf_dir: str, mults=(1, 4, 16)) -> list[dict]:
    from pyspark.sql import functions as F

    from unraveldocs_spark.scanfan import scan
    from unraveldocs_spark.trainingdata import (
        _minhash_candidate_pairs,
        _paragraphs,
        _spark_shingles,
        q_line_dedup,
    )

    rows = []
    for mult in mults:
        sf = growth_corpus(spark, sf_dir, mult)
        d = scan(spark, sf, "documents")
        n_docs = d.count()
        sh = d.select("doc_id", _spark_shingles(F.col("text")).alias("sh")).filter(
            F.size("sh") > 0
        )
        t0 = time.monotonic()
        n_cand = _minhash_candidate_pairs(sh, n_bands=4, n_rows=4).count()
        band_wall = time.monotonic() - t0
        n_cand_wide = _minhash_candidate_pairs(sh, n_bands=2, n_rows=8).count()

        t0 = time.monotonic()
        n_chunks = (
            _paragraphs(d)
            .groupBy(F.md5(F.col("para").cast("binary")))
            .count()
            .count()
        )
        q_line_dedup(spark, sf).count()
        line_wall = time.monotonic() - t0
        rows.append({
            "mult": mult,
            "n_docs": n_docs,
            "cand_pairs": n_cand,
            "cand_per_doc": round(n_cand / n_docs, 2),
            "cand_pairs_wide": n_cand_wide,
            "cand_per_doc_wide": round(n_cand_wide / n_docs, 3),
            "band_wall_s": round(band_wall, 2),
            "distinct_chunks": n_chunks,
            "line_wall_s": round(line_wall, 2),
        })
    return rows


def render_dedup_scale(rows: list[dict], sf_dir: str) -> str:
    base, big = rows[0], rows[-1]
    ratio = big["cand_per_doc"] / base["cand_per_doc"] if base["cand_per_doc"] else 0
    ratio_w = (
        big["cand_per_doc_wide"] / base["cand_per_doc_wide"]
        if base["cand_per_doc_wide"] else 0
    )
    table = md_table(
        ["growth", "docs", "cand (4x4)", "cand/doc (4x4)", "cand (2x8)",
         "cand/doc (2x8)", "band join s", "distinct chunks", "line_dedup s"],
        [[f"{r['mult']}x", r["n_docs"], r["cand_pairs"], r["cand_per_doc"],
          r["cand_pairs_wide"], r["cand_per_doc_wide"], r["band_wall_s"],
          r["distinct_chunks"], r["line_wall_s"]] for r in rows],
    )
    return f"""# Dedup data-growth scaling (tools/measure.py dedup_scale)

Corpus grown {' -> '.join(f"{r['mult']}x" for r in rows)} from {_sf(sf_dir)} documents (copies are word-permuted, NOT near-dups of their originals — 'more of the same data', each copy-universe repeating the base duplicate structure).  Two band shapes over the SAME K=16 MinHash signature: the operator's 4 bands x 4 rows, and a widened 2 bands x 8 rows.

{table}

Finding: with the fixed 4x4 shape, candidates/doc grow {base['cand_per_doc']} -> {big['cand_per_doc']} ({ratio:.1f}x) over the growth — NOT flat.  The driver corpus has a ~31-token vocabulary, so even unrelated documents share a baseline Jaccard, and baseline-similarity pairs collide at a fixed per-pair rate: their count scales with n^2 x s^r.  The fix is the same rule the embedding LSH uses for band bits: ROWS PER BAND must grow with log(n).  Widening to 2x8 cuts per-doc candidates {ratio_w:.1f}x-growth-adjusted ({base['cand_per_doc_wide']} -> {big['cand_per_doc_wide']} per doc) while raising the LSH similarity threshold from (1/4)^(1/4)~0.71 to (1/2)^(1/8)~0.92 — at production scale the signature K grows so band count (recall) is preserved as rows widen.  line_dedup's chunk-frequency table grows linearly ({base['distinct_chunks']} -> {big['distinct_chunks']} distinct chunks), as designed.
"""


# ---------------------------------------------------------------------------
# band_bits: embedding-LSH candidate volume, fixed vs log2(n)-scaled bits
# ---------------------------------------------------------------------------

BB_DIM = 64
BB_BANDS = 4
BB_TARGET_BUCKET = 8
BB_NEAR_DUP_EVERY = 20  # every 20th vector is a planted near-dup of its predecessor


def _synth_vectors(n: int):
    """Deterministic vectors via mix64 (no RNG state): uniform in
    [-1, 1) per coordinate, every BB_NEAR_DUP_EVERY-th vector a small
    perturbation of its predecessor so recall has a signal."""
    import numpy as np
    import pandas as pd

    from unraveldocs_spark.generator import mix64

    raw = np.array(
        [[(mix64(i * BB_DIM + j) % 2001) - 1000 for j in range(BB_DIM)]
         for i in range(n)],
        dtype=np.float64,
    ) / 1000.0
    for i in range(BB_NEAR_DUP_EVERY, n, BB_NEAR_DUP_EVERY):
        noise = np.array(
            [((mix64(10_000_000 + i * BB_DIM + j) % 201) - 100)
             for j in range(BB_DIM)],
            dtype=np.float64,
        ) / 2000.0
        raw[i] = raw[i - 1] + noise
    return pd.DataFrame({"vec_id": range(n), "embedding": [r.tolist() for r in raw]})


def _candidate_volume(df, n: int, band_bits: int) -> dict:
    """Banded candidate volume sum_buckets C(size, 2) from bucket
    occupancies (a groupBy count, not a pair join, so the fixed-bits
    legs stay cheap where their pair count explodes)."""
    from pyspark.sql import functions as F

    from unraveldocs_spark.similarity import signature_stage

    bits = BB_BANDS * band_bits
    sigs = signature_stage(df, dim=BB_DIM, bits=bits).select("vec_id", "signature")
    mask = (1 << band_bits) - 1
    bands = sigs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("signature"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(BB_BANDS)
                ]
            )
        ).alias("band")
    ).select("band.band_idx", "band.band_val")
    row = (
        bands.groupBy("band_idx", "band_val").count()
        .agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("cand_volume"),
            F.max("count").alias("max_bucket"),
            F.avg("count").alias("avg_bucket"),
        )
        .collect()[0]
    )
    return {
        "band_bits": band_bits,
        "bits": bits,
        "cand_volume": int(row["cand_volume"]),
        "per_vector": round(row["cand_volume"] / n, 2),
        "max_bucket": int(row["max_bucket"]),
        "avg_bucket": round(float(row["avg_bucket"]), 2),
    }


def band_bits(spark, sf_dir: str, sizes=(2_000, 8_000, 32_000, 128_000)) -> list[dict]:
    rows = []
    for n in sizes:
        df = spark.createDataFrame(_synth_vectors(n))
        scaled_bits = max(4, math.ceil(math.log2(n / BB_TARGET_BUCKET)))
        rows.append({
            "n": n,
            "fixed": _candidate_volume(df, n, band_bits=4),
            "scaled": _candidate_volume(df, n, band_bits=scaled_bits),
        })
    return rows


def render_band_bits(rows: list[dict], sf_dir: str) -> str:
    table = md_table(
        ["n", "fixed 4-bit bands: cand/vec", "scaled bands (bits)",
         "scaled: cand/vec", "scaled max bucket"],
        [[f"{r['n']:,}", f"{r['fixed']['per_vector']:,}", r["scaled"]["band_bits"],
          r["scaled"]["per_vector"], r["scaled"]["max_bucket"]] for r in rows],
    )
    return f"""# Embedding-LSH band-bits scale rule — measured

Rule (trainingdata.py): per-band bucket count is 2^bits, so band bits must
grow ~log2(n) to keep bucket occupancy flat; here bits =
max(4, ceil(log2(n / {BB_TARGET_BUCKET}))) per band, {BB_BANDS} bands, real
`signature_stage` over deterministic mix64 vectors (dim {BB_DIM},
1-in-{BB_NEAR_DUP_EVERY} planted near-dups).  "cand/vec" is the banded
candidate volume sum_buckets C(size,2) divided by n — the work the
confirm stage must do per vector.

{table}

Fixed 4-bit bands: candidate volume per vector grows ~linearly with n
(bucket sizes are n/2^bits) — the shape that melts at 100x.  Scaled bands:
per-vector candidate volume stays flat, so the confirm stage's cost per
vector is constant as the corpus grows — the property the dedup design
depends on.  Recall at a given cosine follows (1 - theta/pi)^bits per
band; production sizing compensates with more bands (the documented
trade), which multiplies the flat per-vector volume by BANDS, not by n.

Raw JSON:
```
{json.dumps(rows)}
```
"""


# ---------------------------------------------------------------------------
# ann_recall / pca_ann: recall@10 against the exact cosine top-k
# ---------------------------------------------------------------------------

K = 10
SHORTLISTS = (100, 250, 500)  # pq_topk re-rank shortlists ann_recall sweeps


def _unit_vectors(spark, sf_dir: str):
    """(embeddings frame, sorted ids, raw matrix, unit-norm matrix)."""
    import numpy as np

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = sorted(e.collect(), key=lambda r: r.vec_id)
    ids = [r.vec_id for r in rows]
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    return e, ids, mat, mat / np.linalg.norm(mat, axis=1)[:, None]


def ann_recall(spark, sf_dir: str, query_stride: int = 40) -> list[dict]:
    """Mean recall@10 of the LSH, IVF and PQ candidate rules, every
    ``query_stride``-th vector querying the rest.  LSH and IVF are
    numpy models of the bucketed candidate rules, re-ranked by exact
    cosine so recall isolates CANDIDATE quality; PQ runs the real
    ``pq_topk`` operator per query, ADC-only and re-ranking each of the
    ``SHORTLISTS``."""
    import numpy as np

    from unraveldocs_spark.similarity import (
        EMB_DIM,
        IVF_CENTROIDS,
        IVF_NPROBE,
        LSH_BITS,
        LSH_PROBE_HAMMING,
        _hyperplanes,
        pq_topk,
    )

    e, ids, mat, unit = _unit_vectors(spark, sf_dir)
    pos = {v: i for i, v in enumerate(ids)}
    query_ids = ids[::query_stride]

    def exact_topk(qid):
        sims = unit @ unit[pos[qid]]
        order = sorted((i for i in range(len(ids)) if ids[i] != qid),
                       key=lambda i: (-sims[i], ids[i]))
        return {ids[i] for i in order[:K]}

    def rerank(qid, cand):
        q = unit[pos[qid]]
        return set(sorted(cand, key=lambda v: (-(unit[pos[v]] @ q), v))[:K])

    planes = _hyperplanes(EMB_DIM, LSH_BITS)
    sigs = ((mat @ planes.T) > 0).astype(np.int64) @ (
        1 << np.arange(LSH_BITS, dtype=np.int64)
    )

    def lsh_candidates(qid):
        ham = [bin(int(sigs[pos[qid]] ^ s)).count("1") for s in sigs]
        return {ids[j] for j, h in enumerate(ham) if h <= LSH_PROBE_HAMMING} - {qid}

    cents = mat[:IVF_CENTROIDS]  # seed codebook: the lowest vec_ids
    cents_unit = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    assign = (unit @ cents_unit.T).argmax(axis=1)

    def ivf_candidates(qid):
        probe = np.argsort(-(cents_unit @ unit[pos[qid]]))[:IVF_NPROBE]
        return {ids[j] for j in range(len(ids)) if assign[j] in probe} - {qid}

    def pq_ids(qid, **kw):
        qvec = [float(x) for x in mat[pos[qid]]]
        rest = e.filter(f"vec_id <> {qid}")
        return {r.vec_id for r in pq_topk(rest, qvec, k=K, **kw).collect()}

    def pct(hits):
        return 100 * sum(hits) / len(hits)

    recalls = {"lsh": [], "ivf": [], "pq": []}
    swept = {n: [] for n in SHORTLISTS}
    for qid in query_ids:
        truth = exact_topk(qid)
        recalls["lsh"].append(len(rerank(qid, lsh_candidates(qid)) & truth) / K)
        recalls["ivf"].append(len(rerank(qid, ivf_candidates(qid)) & truth) / K)
        recalls["pq"].append(len(pq_ids(qid) & truth) / K)
        for n, hits in swept.items():
            hits.append(len(pq_ids(qid, rerank=n) & truth) / K)
    return [{
        "n_vectors": len(ids),
        "n_queries": len(query_ids),
        "query_stride": query_stride,
        **{f"{k}_pct": pct(v) for k, v in recalls.items()},
        "shortlists": list(swept),
        "pq_rerank_pct": [pct(v) for v in swept.values()],
    }]


def render_ann_recall(rows: list[dict], sf_dir: str) -> str:
    from unraveldocs_spark.similarity import (
        IVF_CENTROIDS,
        IVF_NPROBE,
        LSH_BITS,
        LSH_PROBE_HAMMING,
        PQ_KSUB,
        PQ_M,
    )

    r = rows[0]
    short, rerank = r["shortlists"][0], r["pq_rerank_pct"][0]

    def pct(x):
        return f"{x:.1f}%"

    table = md_table(
        ["variant", "mean recall@10", "notes"],
        [
            [f"LSH ({LSH_BITS}-bit signature, hamming<={LSH_PROBE_HAMMING} probe)",
             pct(r["lsh_pct"]), "signature scan"],
            [f"IVF ({IVF_CENTROIDS} lists, nprobe={IVF_NPROBE})", pct(r["ivf_pct"]),
             "seed codebook"],
            [f"PQ ADC only ({PQ_M}x{PQ_KSUB} codebook, integer-e6 luts)", pct(r["pq_pct"]),
             "ranks by COMPRESSED distance — recall bounded by quantization error"],
            [f"PQ ADC + exact re-rank (shortlist {short})", pct(rerank),
             f"the production path: 8-byte-code scan shortlists, only {short} "
             "vectors read exactly"],
        ],
    )
    sweep = " / ".join(pct(x) for x in r["pq_rerank_pct"])
    sizes = " / ".join(str(n) for n in r["shortlists"])
    return f"""# ANN recall@10 vs exact brute force (tools/measure.py ann_recall)

{r['n_queries']} queries (every {r['query_stride']}th vector) over {r['n_vectors']} vectors at {_sf(sf_dir)}; candidates re-ranked by exact cosine, so recall isolates CANDIDATE quality.

{table}

Shortlist sweep for the PQ re-rank path (the same {r['n_queries']} queries):
recall@10 = {sweep} at shortlist {sizes} — the
standard compressed-scan-then-exact-re-rank curve.  The residual gap is
the deliberately tiny oracle-exact {PQ_KSUB}-seed codebook; production trains
Ksub=256 per subspace with k-means, shrinking the shortlist needed for a
given recall.  LSH/IVF recall rises the same way with a wider probe
(`similarity.LSH_PROBE_HAMMING` / `IVF_NPROBE`).

Brute-force `ann_topk` is the exactness baseline (recall 1.0 by definition) and the correctness oracle for all three.
"""


def pca_ann(spark, sf_dir: str, widths=(8, 16, 32, 48, 64),
            query_stride: int = 40) -> list[dict]:
    """Top-10 recall in the k-dim PCA space (fit by the distributed
    ``pca_fit``, projected by ``pca_project_stage``) against the exact
    full-dimension cosine ranking, per projection width."""
    import numpy as np

    from unraveldocs_spark.similarity import EMB_DIM, pca_fit, pca_project_stage

    e, ids, mat, unit = _unit_vectors(spark, sf_dir)
    query_idx = range(0, len(ids), query_stride)

    def topk(space, qi):
        d = np.linalg.norm(space - space[qi], axis=1)
        order = sorted((i for i in range(len(ids)) if i != qi),
                       key=lambda i: (d[i], ids[i]))
        return set(order[:K])

    # exact cosine == euclidean on unit vectors
    truth = {qi: topk(unit, qi) for qi in query_idx}
    mean, comps = pca_fit(e, dim=EMB_DIM, k=EMB_DIM)
    proj = sorted(pca_project_stage(e, mean, comps).collect(), key=lambda r: r.vec_id)
    proj_full = np.stack([np.asarray(r.proj) for r in proj])
    total_var = ((mat - mat.mean(axis=0)) ** 2).sum() / len(mat)
    rows = []
    for w in widths:
        p = proj_full[:, :w]
        # renormalize in the projected space: ANN ranks by cosine there
        pn = p / np.maximum(np.linalg.norm(p, axis=1)[:, None], 1e-12)
        hits = sum(len(topk(pn, qi) & truth[qi]) for qi in query_idx)
        rows.append({
            "dim": w,
            "recall": hits / (K * len(query_idx)),
            "variance": (p ** 2).sum() / len(mat) / total_var,
            "n_vectors": len(ids),
            "n_queries": len(query_idx),
            "query_stride": query_stride,
        })
    return rows


def render_pca_ann(rows: list[dict], sf_dir: str) -> str:
    from unraveldocs_spark.similarity import EMB_DIM

    r0 = rows[0]
    table = md_table(
        ["projected dim", "recall@10", "variance captured"],
        [[r["dim"], f"{r['recall']:.3f}", f"{r['variance']:.3f}"] for r in rows],
    )
    return f"""# PCA width vs ANN recall — measured (tools/measure.py pca_ann)

Corpus: `{sf_dir}/embeddings.parquet` ({r0['n_vectors']} vectors, dim {EMB_DIM}); queries = every {r0['query_stride']}th vector ({r0['n_queries']}); ground truth = exact full-dim cosine top-{K}; PCA fit by the distributed `pca_fit` (driver sees only the dim x dim covariance).

{table}

Reading: these embeddings are deliberately near-isotropic (mix64-derived), the worst case for PCA — variance is spread almost evenly, so recall decays roughly with width and the measured table says DON'T project this corpus below ~48 dims. On real text embeddings (strongly anisotropic; most energy in a few hundred of thousands of dims) the same harness typically holds recall at dim/4. That asymmetry is the point: the projection width is a per-corpus measurement, and this probe is the measurement — rerun it whenever the embedding source changes, before resizing signatures/codebooks downstream.
"""


# ---------------------------------------------------------------------------
# substr_split_scale: exact_substring_dedup volumes + stratified_split bands
# ---------------------------------------------------------------------------


def substr_split_scale(spark, sf_dir: str, mults=(1, 4, 16)) -> list[dict]:
    """exact_substring_dedup: gram rows (must stay k x tokens), distinct
    and duplicated gram hashes, dup-start rows and covered tokens, from
    the query's own gram step.  stratified_split: the band shape
    ``minhash_band_shape(n)`` picks, confirmed pairs, clusters and
    split sizes."""
    from pyspark.sql import functions as F

    from unraveldocs_spark.scanfan import scan
    from unraveldocs_spark.trainingdata import (
        _esub_grams,
        _esub_tokens,
        _jaccard_pairs,
        connected_components,
        minhash_band_shape,
        q_exact_substring_dedup,
        q_stratified_split,
    )

    rows = []
    for mult in mults:
        sf = growth_corpus(spark, sf_dir, mult)
        d = scan(spark, sf, "documents")
        n_docs = d.count()
        grams = _esub_grams(_esub_tokens(d))
        gram_rows = grams.count()
        by_gh = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("n_occ"))
        distinct_grams = by_gh.count()
        dup = by_gh.filter(F.col("n_occ") >= 2)
        dup_grams = dup.count()
        dup_start_rows = int(dup.agg(F.sum("n_occ")).collect()[0][0] or 0)

        t0 = time.monotonic()
        res = q_exact_substring_dedup(spark, sf)
        covered = int(res.agg(F.sum("n_dup_tokens")).collect()[0][0] or 0)
        esub_wall = time.monotonic() - t0

        shape = minhash_band_shape(n_docs)
        t0 = time.monotonic()
        pairs = _jaccard_pairs(spark, sf).select("doc_a", "doc_b")
        n_pairs = pairs.count()
        n_clusters = connected_components(pairs).select("label").distinct().count()
        split_sizes = {
            r["split"]: r["n"]
            for r in q_stratified_split(spark, sf)
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        split_wall = time.monotonic() - t0
        rows.append({
            "mult": mult,
            "n_docs": n_docs,
            "gram_rows": gram_rows,
            "distinct_grams": distinct_grams,
            "dup_grams": dup_grams,
            "dup_start_rows": dup_start_rows,
            "covered_tokens": covered,
            "esub_wall_s": round(esub_wall, 2),
            "band_shape": f"{shape[0]}x{shape[1]}",
            "conf_pairs": n_pairs,
            "pairs_per_doc": round(n_pairs / n_docs, 3),
            "n_clusters": n_clusters,
            "split_sizes": split_sizes,
            "split_wall_s": round(split_wall, 2),
        })
    return rows


def render_substr_split_scale(rows: list[dict], sf_dir: str) -> str:
    table = md_table(
        ["growth", "docs", "gram rows", "dup grams", "dup-start rows",
         "covered toks", "esub s", "band shape", "conf pairs", "pairs/doc",
         "clusters", "split sizes", "split s"],
        [[f"{s['mult']}x", s["n_docs"], s["gram_rows"], s["dup_grams"],
          s["dup_start_rows"], s["covered_tokens"], s["esub_wall_s"],
          s["band_shape"], s["conf_pairs"], s["pairs_per_doc"], s["n_clusters"],
          ",".join(f"{k}:{v}" for k, v in sorted(s["split_sizes"].items())),
          s["split_wall_s"]] for s in rows],
    )
    return f"""# exact_substring_dedup + stratified_split data-growth scaling (tools/measure.py substr_split_scale)

Corpus grown {' -> '.join(f"{r['mult']}x" for r in rows)} from {_sf(sf_dir)} documents (the word-permuted-copy growth model of `tools/measure.py dedup_scale`).  exact_substring_dedup columns measure the gram pipeline (linear-in-tokens check + duplicated-gram accounting volume); stratified_split columns show the operator's own minhash_band_shape(n) engaging as the corpus crosses the 8000-doc envelope, and the downstream pair/cluster volumes it holds flat.

{table}
"""


# ---------------------------------------------------------------------------
# paragraph_scale: dedup_paragraph candidates past the 128k-paragraph envelope
# ---------------------------------------------------------------------------


def paragraph_scale(spark, sf_dir: str, mults=(1, 4)) -> list[dict]:
    """Does the capped 2x8 shape hold paragraph candidate pairs
    proportional as ``paragraph_upper_bound`` crosses 160k, or do
    baseline-similarity collisions curve up once widening stops?"""
    from pyspark.sql import functions as F

    from unraveldocs_spark.scanfan import scan
    from unraveldocs_spark.trainingdata import (
        _minhash_candidate_pairs,
        _paragraphs,
        _spark_shingles,
        minhash_band_shape,
        paragraph_upper_bound,
        q_dedup_paragraph,
    )

    rows = []
    for mult in mults:
        sf = growth_corpus(spark, sf_dir, mult)
        docs = scan(spark, sf, "documents")
        pub = paragraph_upper_bound(docs)
        shape = minhash_band_shape(pub)
        paras = _paragraphs(docs)
        keepers = (
            paras.withColumn("para_id", F.col("doc_id") * 1024 + F.col("para_idx"))
            .groupBy(F.md5(F.col("para").cast("binary")).alias("h"))
            .agg(F.min("para_id").alias("para_id"), F.min("para").alias("para"))
        )
        n_keepers = keepers.count()
        n_cands = _minhash_candidate_pairs(
            keepers.select(
                F.col("para_id").alias("doc_id"),
                _spark_shingles(F.col("para")).alias("sh"),
            ).filter(F.size("sh") > 0),
            shape_n=pub,
        ).count()
        t0 = time.monotonic()
        n_confirmed = q_dedup_paragraph(spark, sf).count()
        wall = time.monotonic() - t0
        rows.append({
            "growth": f"{mult}x",
            "docs": docs.count(),
            "paras": paras.count(),
            "pub": pub,
            "shape": f"{shape[0]}x{shape[1]}",
            "distinct_paras": n_keepers,
            "cand_pairs": n_cands,
            "cands_per_kpara": round(1000.0 * n_cands / max(1, n_keepers), 2),
            "confirmed": n_confirmed,
            "wall_s": round(wall, 2),
        })
    return rows


def render_paragraph_scale(rows: list[dict], sf_dir: str) -> str:
    cols = list(rows[0])
    table = md_table(cols, [[r[c] for c in cols] for r in rows])
    first, last = rows[0], rows[-1]
    cand_x = last["cand_pairs"] / max(1, first["cand_pairs"])
    para_x = last["distinct_paras"] / max(1, first["distinct_paras"])
    if all(r["confirmed"] == r["cand_pairs"] for r in rows):
        confirm = ("every candidate is Jaccard-confirmed in every leg, so "
                   "the bands are not over-pruning either")
    else:
        confirm = "confirmed pairs: " + " -> ".join(str(r["confirmed"]) for r in rows)
    return f"""# dedup_paragraph data-growth past the 128k-paragraph envelope (tools/measure.py paragraph_scale)

SUBSTR_SPLIT_SCALE stops at 80k docs; this probe grows the {_sf(sf_dir)}
corpus {first['growth']} -> {last['growth']} with the word-permuted-copy model,
so `paragraph_upper_bound` goes {first['pub']:,} -> {last['pub']:,}.  From sf0.1
at 4x it crosses 160k — past the point where `minhash_band_shape`'s K=16
rows cap binds.  There is no 2x16 arm under K=16 (rows*2 = 16 would
leave a single band, killing recall), so the shape HOLDS at 2x8 and the
scale question becomes: does the CAPPED shape hold paragraph candidate
pairs proportional, or does the n^2 * s^r baseline-collision term curve
up once widening stops?

{table}

Findings: band shape {' -> '.join(r['shape'] for r in rows)}; candidate pairs
{first['cand_pairs']} -> {last['cand_pairs']} ({cand_x:.2f}x) against {para_x:.1f}x distinct
paragraphs, i.e. candidate DENSITY {first['cands_per_kpara']} -> {last['cands_per_kpara']} per 1k
paragraphs (permuted copies add no near-dup structure, and at r=8 the
baseline-similarity collision probability s^8 is small); {confirm}.
Production path beyond ~10^7 paragraphs stays as documented in
`minhash_band_shape`: raise the K hash family alongside n so rows can
widen past 8 while keeping >= 2 bands; the cap is a deliberate recall
floor, not a scale ceiling.
"""


# ---------------------------------------------------------------------------
# increment_scale: a fixed new batch screened against a growing corpus
# ---------------------------------------------------------------------------

BATCH_DUPS = 250
BATCH_UNIQ = 250
BATCH_BASE_ID = 50_000_000


def _increment_batch(spark, sf_dir: str):
    """BATCH_DUPS exact copies of existing docs (these must be caught) +
    BATCH_UNIQ word-permuted docs (near-dups of nothing; the permutation
    key is disjoint from every growth copy-universe)."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dups = base.filter(F.col("doc_id") < BATCH_DUPS).select(
        (F.col("doc_id") + BATCH_BASE_ID).alias("doc_id"), "text"
    )
    uniq = base.filter(
        (F.col("doc_id") >= BATCH_DUPS) & (F.col("doc_id") < BATCH_DUPS + BATCH_UNIQ)
    ).select(
        (F.col("doc_id") + BATCH_BASE_ID).alias("doc_id"),
        _permuted_text(-777).alias("text"),
    )
    return dups.unionByName(uniq)


def increment_scale(spark, sf_dir: str, mults=(1, 4, 16)) -> list[dict]:
    """The asymmetric band join dedup_increment runs — bands of
    (existing + batch) x bands of the batch, both read from one
    materialized signature table (``_minhash_signatures``) through the
    package's ``band_pairs`` — per corpus growth: band shape, batch-side
    candidate pairs, confirmed matches (Jaccard >= 0.5), and how many
    planted duplicates with non-empty shingles were confirmed."""
    from pyspark.sql import functions as F

    from unraveldocs_spark.similarity import band_pairs
    from unraveldocs_spark.trainingdata import (
        _jaccard_counts,
        _minhash_bands,
        _minhash_signatures,
        _spark_shingles,
        minhash_band_shape,
    )

    def nz(df):
        return _minhash_signatures(
            df.select("doc_id", _spark_shingles(F.col("text")).alias("sh"))
        )

    batch = _increment_batch(spark, sf_dir).cache()
    n_batch = BATCH_DUPS + BATCH_UNIQ
    is_planted = F.col("doc_id") < BATCH_BASE_ID + BATCH_DUPS
    planted = nz(batch).filter(is_planted).count()
    rows = []
    for mult in mults:
        corpus = growth_corpus(spark, sf_dir, mult)
        existing = spark.read.parquet(f"{corpus}/documents.parquet")
        n_existing = existing.count()
        n_bands, n_rows = minhash_band_shape(n_existing + n_batch)
        all_side = nz(existing.select("doc_id", "text").unionByName(batch))
        batch_side = all_side.filter(F.col("doc_id") >= BATCH_BASE_ID)
        cands = _jaccard_counts(band_pairs(
            _minhash_bands(all_side, n_bands, n_rows),
            _minhash_bands(batch_side, n_bands, n_rows),
            all_side.select("doc_id", "sh"),
            ("doc_a", "doc_b"),
        )).withColumnsRenamed({"doc_b": "doc_id", "doc_a": "other"})
        ok = F.lit(2) * F.col("jac_num") >= F.col("jac_den")
        t0 = time.monotonic()
        agg = cands.agg(
            F.count(F.lit(1)).alias("cand_pairs"),
            F.sum(F.when(ok, 1).otherwise(0)).alias("confirmed"),
            F.countDistinct(F.when(ok & is_planted, F.col("doc_id"))).alias(
                "planted_confirmed"
            ),
        ).collect()[0]
        wall = time.monotonic() - t0
        rows.append({
            "mult": mult,
            "n_existing": n_existing,
            "shape": f"{n_bands}x{n_rows}",
            "cand_pairs": int(agg["cand_pairs"]),
            "cands_per_new_doc": round(agg["cand_pairs"] / n_batch, 2),
            "confirmed": int(agg["confirmed"] or 0),
            "planted": planted,
            "planted_confirmed": int(agg["planted_confirmed"]),
            "wall_s": round(wall, 2),
        })
    batch.unpersist()
    return rows


def render_increment_scale(rows: list[dict], sf_dir: str) -> str:
    table = md_table(
        ["corpus mult", "existing docs", "band shape", "batch cand pairs",
         "cands / new doc", "confirmed (>=0.5)", "planted dups confirmed",
         "join wall (s)"],
        [[f"{r['mult']}x", f"{r['n_existing']:,}", r["shape"],
          f"{r['cand_pairs']:,}", r["cands_per_new_doc"], f"{r['confirmed']:,}",
          f"{r['planted_confirmed']}/{r['planted']}", r["wall_s"]] for r in rows],
    )
    return f"""# BENCH/INCREMENT_SCALE — fixed batch vs growing corpus

The increment question: does screening a FIXED {BATCH_DUPS + BATCH_UNIQ}-doc batch ({BATCH_DUPS}
planted exact duplicates + {BATCH_UNIQ} permuted-unique docs) get quadratically
more expensive as the persisted corpus grows?  Measured on the
asymmetric band join dedup_increment runs (bands of existing+batch x
bands of batch only; existing x existing never pairs), from
{_sf(sf_dir)} documents.  Corpus growth uses the permuted-copy scheme of
`tools/measure.py dedup_scale` (copies are NOT near-dups of their
originals).  "planted dups confirmed" counts the planted duplicates
with non-empty shingles that the join confirmed.

{table}

Reading: the planted exact duplicates dominate the confirmed count
at every scale; `minhash_band_shape` widens rows-per-band past 8k docs
(the same measured rule as BENCH/DEDUP_SCALE.md), which is what keeps
batch-side candidates from curving up with corpus size.  Both sides
read one materialized signature table, as in the query (in production
that table is PERSISTED between increments), so "join wall" times the
band join and the Jaccard confirm only, not the signature build.
"""


PROBES = {
    "dedup_scale": (dedup_scale, render_dedup_scale, "DEDUP_SCALE.md"),
    "band_bits": (band_bits, render_band_bits, "BAND_BITS.md"),
    "ann_recall": (ann_recall, render_ann_recall, "ANN_RECALL.md"),
    "pca_ann": (pca_ann, render_pca_ann, "PCA_ANN.md"),
    "substr_split_scale": (
        substr_split_scale, render_substr_split_scale, "SUBSTR_SPLIT_SCALE.md"
    ),
    "paragraph_scale": (paragraph_scale, render_paragraph_scale, "PARAGRAPH_SCALE.md"),
    "increment_scale": (increment_scale, render_increment_scale, "INCREMENT_SCALE.md"),
}


# ---------------------------------------------------------------------------
# Registry queries in isolation: time, noop, plans
# ---------------------------------------------------------------------------


SINKS = {
    "time": lambda df: df.collect(),
    "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
}
MODES = (*SINKS, "plans")


def time_queries(spark, sf_dir: str, qfns: dict, sink, reps: int) -> dict:
    """{name: best-of-``reps`` seconds} for each query in ``qfns``."""
    per = {}
    for name, build in qfns.items():
        spark.sparkContext.setJobDescription(f"measure:{name}")
        per[name] = round(best_of(lambda: sink(build(spark, sf_dir)), reps), 3)
        print(f"[measure] {name}: {per[name]:.2f}s", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)
    return per


def run_queries(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="tools/measure.py")
    ap.add_argument("mode", choices=MODES)
    ap.add_argument("names", nargs="*")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--out", metavar="DIR")
    args = ap.parse_intermixed_args(argv)
    if (args.mode == "plans") != (args.out is not None):
        ap.error("--out DIR is required by plans and taken by no other mode")

    import __spark_entry__ as entry_mod

    registry = entry_mod.queries()
    qfns = {n: registry[n] for n in args.names or registry}
    spark = session(args.mode)
    try:
        if args.mode == "plans":
            os.makedirs(args.out, exist_ok=True)
            for name, build in qfns.items():
                path = os.path.join(args.out, f"{name}.txt")
                with open(path, "w") as fh, redirect_stdout(fh):
                    build(spark, args.sf).explain("formatted")
                print(f"[plans] wrote {path}", file=sys.stderr)
            line = {"mode": "plans", "n": len(qfns)}
        else:
            per = time_queries(spark, args.sf, qfns, SINKS[args.mode], args.n)
            line = {"mode": args.mode, "sf": args.sf, "n": args.n, "queries": per}
    finally:
        spark.stop()
    print(json.dumps(line))
    return 0


def main(argv: list[str]) -> int:
    if argv and argv[0] in MODES:
        return run_queries(argv)
    if not 1 <= len(argv) <= 2 or argv[0] not in PROBES:
        print(f"usage: tools/measure.py {{{'|'.join([*PROBES, *MODES])}}} ...",
              file=sys.stderr)
        return 2
    name = argv[0]
    sf_dir = argv[1] if len(argv) > 1 else SF_DIR
    probe, render, out = PROBES[name]
    spark = session(name)
    try:
        rows = probe(spark, sf_dir)
    finally:
        spark.stop()
    for r in rows:
        print(r, file=sys.stderr)
    text = render(rows, sf_dir)
    with open(os.path.join(REPO, "BENCH", out), "w") as fh:
        fh.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
