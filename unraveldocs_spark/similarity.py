"""Approximate-nearest-neighbor search over an embedding column.

- ``brute_force_topk``: exact cosine top-k (the correctness baseline; at
  scale this is one pass over the table with a broadcast query vector —
  no shuffle until the final top-k fold).
- ``lsh_topk``: random-hyperplane LSH — deterministic hyperplanes, sign
  signatures, candidates restricted to buckets within ``probe_hamming``
  of the query signature.  The scale path: signatures are computed once
  and stored; queries touch only matching buckets.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from .generator import mix64
from .schemas import map_batches

LSH_BITS = 16
EMB_DIM = 64  # driver embeddings.parquet dimension (constant across SFs)


def _hyperplanes(dim: int, bits: int = LSH_BITS) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from the repo-wide mix64."""
    vals = np.array(
        [
            (mix64(7000 + i * dim + j) % 2_000_001) / 1_000_000.0 - 1.0
            for i in range(bits)
            for j in range(dim)
        ],
        dtype=np.float64,
    )
    return vals.reshape(bits, dim)


def _matrix(batch, dim: int) -> np.ndarray:
    """The batch's ``embedding`` list column as a (rows, dim) float64
    matrix — (0, dim) for an empty batch, so numpy stages need no
    empty-batch branch."""
    flat = batch.column("embedding").flatten()
    return np.asarray(flat, dtype=np.float64).reshape(batch.num_rows, dim)


def signature_bits(vec: np.ndarray, planes: np.ndarray) -> int:
    dots = planes @ vec
    sig = 0
    for i, d in enumerate(dots):
        if d > 0:
            sig |= 1 << i
    return sig


def signature_stage(embeddings: DataFrame, dim: int, bits: int = LSH_BITS) -> DataFrame:
    """vec_id -> LSH signature (int) + l2 norm, vectorized via numpy."""
    planes = _hyperplanes(dim, bits)

    def run(batch):
        mat = _matrix(batch, dim)
        dots = mat @ planes.T  # (n, bits)
        sigs = ((dots > 0).astype(np.int64) << np.arange(planes.shape[0])).sum(axis=1)
        return batch.column("vec_id"), sigs, np.sqrt((mat * mat).sum(axis=1))

    return map_batches(
        embeddings.select("vec_id", "embedding"),
        run,
        "vec_id long, signature long, norm double",
    )


def cosine(a, b):
    """Cosine similarity of two array columns, in double, computed
    JVM-side with higher-order functions (no Python in the scan)."""
    av = F.transform(a, lambda x: x.cast("double"))
    bv = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.aggregate(av, F.lit(0.0), lambda s, x: s + x * x)
    nb = F.aggregate(bv, F.lit(0.0), lambda s, x: s + x * x)
    return dot / (F.sqrt(na) * F.sqrt(nb))


def brute_force_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact cosine top-k against a broadcast literal query vector."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.select("vec_id", cosine(F.col("embedding"), qlit).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def cos_e4(topk: DataFrame) -> DataFrame:
    """(vec_id, cosine) -> (vec_id, cos_e4): the cosine as a ROUND(x*10^4)
    BIGINT, the form every ANN query's oracle compares."""
    return topk.select(
        "vec_id", F.round(F.col("cosine") * 10000).cast("bigint").alias("cos_e4")
    )


def split_query(embeddings: DataFrame) -> tuple[list[float], DataFrame]:
    """The registry's ANN convention: vec_id 0 is the query vector and
    every other vector is the corpus it searches."""
    row = embeddings.filter(F.col("vec_id") == 0).first()
    return [float(x) for x in row.embedding], embeddings.filter(F.col("vec_id") != 0)


def seed_vectors(embeddings: DataFrame, n: int) -> np.ndarray:
    """The ``n`` lowest-vec_id vectors as an (n, dim) float64 matrix: the
    deterministic seed codebook that IVF, PQ and SemDeDup share and their
    SQL oracles re-derive exactly."""
    rows = embeddings.orderBy("vec_id").limit(n).collect()
    return np.asarray([list(r.embedding) for r in rows], dtype=np.float64)


def probe_signatures(qsig: int, bits: int, radius: int) -> list[int]:
    """Enumerate every signature within hamming distance ``radius`` of
    ``qsig`` — the multiprobe key set.  Size = sum_{r<=radius} C(bits, r)
    (e.g. 697 keys for 16 bits, radius 3)."""
    from itertools import combinations

    out = [qsig]
    for r in range(1, radius + 1):
        for flip in combinations(range(bits), r):
            s = qsig
            for b in flip:
                s ^= 1 << b
            out.append(s)
    return out


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = LSH_BITS,
    probe_hamming: int = 3,
    multiprobe: bool = False,
) -> DataFrame:
    """LSH-bucketed ANN: score only vectors whose signature is within
    ``probe_hamming`` bits of the query signature.

    Two candidate strategies with IDENTICAL results:
    - default: one pass over the signature table filtering on
      bit_count(xor) — linear in table size, no precomputation beyond the
      signatures;
    - ``multiprobe=True``: enumerate the probe bucket KEYS up front and
      equi-join the signature table against them.  At scale, with the
      signature table written partitioned/bucketed by signature, the
      equi-join prunes to the probed buckets and never scans the rest —
      the query cost is per-bucket, not per-table."""
    q = np.asarray(query_vec, dtype=np.float64)
    planes = _hyperplanes(len(query_vec), bits)
    qsig = signature_bits(q, planes)

    sigs = signature_stage(embeddings, dim=len(query_vec), bits=bits)
    if multiprobe:
        spark = embeddings.sparkSession
        keys = spark.createDataFrame(
            [(int(s),) for s in probe_signatures(qsig, bits, probe_hamming)],
            "signature long",
        )
        candidates = sigs.join(F.broadcast(keys), "signature", "left_semi").select(
            "vec_id"
        )
    else:
        candidates = sigs.filter(
            F.bit_count(F.col("signature").bitwiseXOR(F.lit(qsig))) <= probe_hamming
        ).select("vec_id")
    pruned = embeddings.join(candidates, "vec_id", "left_semi")
    return brute_force_topk(pruned, query_vec, k)


def _assign_stage(
    embeddings: DataFrame, cents_unit: np.ndarray, quantize_e4: bool = False
) -> DataFrame:
    """vec_id -> nearest-centroid id by cosine (numpy over Arrow batches;
    argmax ties resolve to the lowest centroid id).

    ``quantize_e4`` rounds each cosine to an e4 integer (half-away-from-
    zero, the DuckDB/Spark ROUND rule) before the argmax, so the
    assignment decision is integer-exact across engines — a last-ulp
    float divergence vs DuckDB ``list_cosine_similarity`` at an
    assignment tie can then never flip cluster membership (r4 verdict
    item 4; same discipline as the integer-e6 PQ lookup tables)."""

    def assign(batch):
        mat = _matrix(batch, cents_unit.shape[1])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (mat / norms) @ cents_unit.T
        if quantize_e4:
            sims = np.copysign(
                np.floor(np.abs(sims) * 1e4 + 0.5), sims
            ).astype(np.int64)
        return batch.column("vec_id"), sims.argmax(axis=1)

    return map_batches(
        embeddings.select("vec_id", "embedding"), assign, "vec_id long, centroid_id int"
    )


def kmeans_refine(
    embeddings: DataFrame, cents: np.ndarray, iters: int
) -> np.ndarray:
    """Distributed spherical k-means (Lloyd) refinement of a seed
    codebook: assign via the Arrow stage, average each cluster JVM-side
    (posexplode + groupBy(centroid, dim) — never collecting vectors),
    renormalize, repeat.  Deterministic: seed order, argmax ties and the
    empty-cluster rule (keep the previous centroid) are all fixed.  Only
    ``n_centroids x dim`` averages ever reach the driver."""
    from pyspark.sql import functions as F

    cents_unit = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    for _ in range(iters):
        assigned = _assign_stage(embeddings, cents_unit)
        means = (
            embeddings.join(assigned, "vec_id")
            .select("centroid_id", F.posexplode("embedding").alias("dim", "val"))
            .groupBy("centroid_id", "dim")
            .agg(F.avg("val").alias("mean_val"))
            .collect()
        )
        new = cents_unit.copy()
        acc: dict[int, np.ndarray] = {}
        for r in means:
            acc.setdefault(r.centroid_id, np.zeros(cents.shape[1]))[r.dim] = r.mean_val
        for cid, vec in acc.items():
            n = np.linalg.norm(vec)
            if n > 0:
                new[cid] = vec / n
        cents_unit = new
    return cents_unit


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 0,
):
    """IVF-style ANN: deterministic coarse centroids (the ``n_centroids``
    lowest vec_ids seed the codebook; ``kmeans_iters`` distributed Lloyd
    steps refine it — the seed-only default keeps the driver query's SQL
    oracle exact), vectors assigned to their nearest centroid once
    (numpy, Arrow-batched), queries probe only the ``nprobe`` nearest
    inverted lists.

    At scale the assignment is computed once and stored as a partition
    column, so a query scans only nprobe partitions of the table."""
    cents = seed_vectors(embeddings, n_centroids)
    cents_unit = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    if kmeans_iters > 0:
        cents_unit = kmeans_refine(embeddings, cents, kmeans_iters)

    assigned = _assign_stage(embeddings, cents_unit)

    q = np.asarray(query_vec, dtype=np.float64)
    qsims = (q / np.linalg.norm(q)) @ cents_unit.T
    probe = [int(i) for i in np.argsort(-qsims)[:nprobe]]

    candidates = assigned.filter(F.col("centroid_id").isin(probe)).select("vec_id")
    pruned = embeddings.join(candidates, "vec_id", "left_semi")
    return brute_force_topk(pruned, query_vec, k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — trained-codebook compression + ADC scan
# ---------------------------------------------------------------------------

PQ_M = 8  # subquantizers (EMB_DIM 64 -> 8 dims per subvector)
PQ_KSUB = 16  # centroids per subquantizer


def pq_encode_stage(embeddings: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """vec_id -> M-length PQ code array: per subvector, the id of the
    nearest codebook centroid by L2 (argmin ties resolve to the lowest
    id).  numpy over Arrow batches; codebooks is (M, Ksub, dsub)."""
    m_sub, _, dsub = codebooks.shape

    def encode(batch):
        mat = _matrix(batch, m_sub * dsub)
        codes = np.empty((len(mat), m_sub), dtype=np.int32)
        for m in range(m_sub):
            sub = mat[:, m * dsub : (m + 1) * dsub]
            d2 = ((sub[:, None, :] - codebooks[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d2.argmin(axis=1)
        return batch.column("vec_id"), list(codes)

    return map_batches(
        embeddings.select("vec_id", "embedding"),
        encode,
        "vec_id long, codes array<int>",
    )


def _round_half_away_e6(y: float) -> int:
    """ROUND(y * 1e6) with half-away-from-zero ties — the DuckDB/Spark
    ROUND convention (Python's round() is banker's and must not be used
    on oracle-shared paths)."""
    import math

    y = y * 1000000.0
    return int(math.floor(y + 0.5)) if y >= 0 else int(math.ceil(y - 0.5))


def pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m_sub: int = PQ_M,
    ksub: int = PQ_KSUB,
    rerank: int = 0,
) -> DataFrame:
    """PQ ANN with asymmetric-distance computation: vectors are encoded
    once into M small codes (here 8 codes x 16 centroids = 8 bytes per
    vector vs 256 for the raw float32s), and a query scans ONLY the code
    column, scoring each vector as the sum of M precomputed lookup-table
    entries (dot(q_m, centroid) per subquantizer).

    Deterministic codebook: the ksub lowest-vec_id vectors seed each
    subquantizer (the same seeding rule ivf_topk uses), so the DuckDB
    oracle re-derives it exactly; kmeans_refine-style training plugs in
    where exactness is not required.

    FP parity: lookup tables are integer e6 values (ROUND half-away of a
    SEQUENTIAL left-to-right dot product — the same association order
    DuckDB's list_aggregate uses), so the scored scan is pure integer
    arithmetic and the engine-order of the final SUM cannot matter.

    At 100 TB: encode runs once and persists as a column (32x compression
    of the vector table); the ADC scan is JVM-side integer lookups inside
    whole-stage codegen ending in a TakeOrdered — no shuffle, no vector
    reads, no Python."""
    dim = len(query_vec)
    dsub = dim // m_sub
    cb = seed_vectors(embeddings, ksub)
    codebooks = np.stack([cb[:, m * dsub : (m + 1) * dsub] for m in range(m_sub)])

    q = [float(x) for x in query_vec]
    lut: list[list[int]] = []
    for m in range(m_sub):
        row = []
        for j in range(ksub):
            s = 0.0
            for i in range(dsub):
                # sequential sum, cv * qv operand order — mirrors the
                # oracle's list_aggregate over list_zip(cv, qsub)
                s += float(codebooks[m][j][i]) * q[m * dsub + i]
            row.append(_round_half_away_e6(s))
        lut.append(row)

    codes = pq_encode_stage(embeddings, codebooks)
    score = None
    for m in range(m_sub):
        arr = F.array(*[F.lit(v) for v in lut[m]]).cast("array<long>")
        term = F.element_at(arr, F.col("codes")[m] + 1)
        score = term if score is None else score + term
    adc = (
        codes.select("vec_id", score.alias("ip_e6"))
        .orderBy(F.col("ip_e6").desc(), "vec_id")
        .limit(max(k, rerank))
    )
    if rerank <= 0:
        return adc
    # production path: the compressed scan shortlists rerank >> k
    # candidates, then ONLY those join back to their exact vectors for a
    # true-cosine re-rank — recall recovers from quantization error while
    # the corpus-wide scan still reads 8-byte codes.  Measured at sf0.1
    # (BENCH/ANN_RECALL.md): recall@10 15% ADC-only -> 51% / 77% / 87% at
    # shortlist 100 / 250 / 500; the residual gap is the deliberately
    # tiny 16-seed codebook (production trains Ksub=256 per subspace with
    # k-means, which shrinks the shortlist needed for a given recall).
    return cos_e4(
        brute_force_topk(
            embeddings.join(adc.select("vec_id"), "vec_id", "left_semi"),
            query_vec,
            k,
        )
    )


# ---------------------------------------------------------------------------
# PCA projection — the dimensionality-reduction stage an embedding
# pipeline runs before ANN indexing / clustering at scale (smaller
# vectors => smaller signatures, codebooks, and shuffles downstream).
# ---------------------------------------------------------------------------


def pca_fit(embeddings: DataFrame, dim: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Fit PCA distributively: each Arrow batch contributes its partial
    (sum, X^T X, count); the driver reduces to the dim x dim covariance
    and eigendecomposes THAT — so the driver sees O(dim^2) numbers, never
    rows, regardless of corpus size (the same k x dim driver contract as
    kmeans_refine).  Returns (mean[dim], components[k, dim]).

    Determinism: eigh of a fixed covariance is deterministic; the
    remaining sign ambiguity per component is fixed by making each
    component's largest-|.|-coordinate positive."""
    import pyarrow as pa

    part_schema = "n long, s array<double>, xtx array<double>"

    def partials(batches):
        n, s, xtx = 0, np.zeros(dim), np.zeros((dim, dim))
        for batch in batches:
            mat = _matrix(batch, dim)
            n += len(mat)
            s += mat.sum(axis=0)
            xtx += mat.T @ mat
        yield pa.record_batch(
            [pa.array([n]), pa.array([s.tolist()]), pa.array([xtx.ravel().tolist()])],
            names=["n", "s", "xtx"],
        )

    rows = embeddings.select("embedding").mapInArrow(partials, part_schema).collect()
    n = sum(r.n for r in rows)
    s = np.sum([np.asarray(r.s) for r in rows], axis=0)
    xtx = np.sum([np.asarray(r.xtx).reshape(dim, dim) for r in rows], axis=0)
    mean = s / n
    cov = xtx / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    comps = vecs[:, ::-1][:, :k].T  # top-k rows
    # deterministic sign: largest-|coordinate| positive per component
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps


def pca_project_stage(embeddings: DataFrame, mean: np.ndarray,
                      components: np.ndarray) -> DataFrame:
    """Project every vector onto the fitted components (Arrow-batched;
    mean and the k x dim component matrix ride the closure — broadcast
    once per executor, never per row)."""
    mean = np.asarray(mean, dtype=np.float64)
    comps = np.asarray(components, dtype=np.float64)

    def project(batch):
        proj = (_matrix(batch, len(mean)) - mean) @ comps.T
        return batch.column("vec_id"), list(proj)

    return map_batches(
        embeddings.select("vec_id", "embedding"),
        project,
        "vec_id long, proj array<double>",
    )
