"""Approximate-nearest-neighbor search over an embedding column.

- ``brute_force_topk``: exact cosine top-k (the correctness baseline; at
  scale this is one pass over the table with a broadcast query vector —
  no shuffle until the final top-k fold).
- ``lsh_topk``: random-hyperplane LSH — deterministic hyperplanes, sign
  signatures, candidates restricted to buckets within
  ``LSH_PROBE_HAMMING`` of the query signature.  The scale path:
  signatures are computed once and stored; queries touch only matching
  buckets.
- ``ivf_topk`` / ``pq_topk``: seed-codebook inverted lists and product
  quantization.

Each ANN query's parameters are the module constants below; the Spark
operators and their generated DuckDB oracles (oracle_sql_gen) both read
them at call time.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from .generator import mix64
from .schemas import map_batches

LSH_BITS = 16
EMB_DIM = 64  # driver embeddings.parquet dimension (constant across SFs)
ANN_K = 10  # top-k of every ANN query
LSH_PROBE_HAMMING = 5  # LSH candidates: signature within this many bits
IVF_CENTROIDS = 16  # IVF coarse codebook size (lowest-vec_id seeds)
IVF_NPROBE = 6  # IVF inverted lists probed per query


def _hyperplanes(dim: int, bits: int) -> np.ndarray:
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


def signature_stage(embeddings: DataFrame, dim: int, bits: int) -> DataFrame:
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


def band_rows(sigs: DataFrame, id_col: str, keys: list) -> DataFrame:
    """The NARROW LSH band rows (id, band_idx, band_key) of a signature
    table: one row per band of each ``sigs`` row, ``keys`` holding one
    band-key expression over ``sigs`` per band.  The key is data-
    dependent (MinHash band values, hyperplane or SimHash signature
    bits), so bucket sizes follow the corpus's similarity structure,
    never a fixed-cardinality block.  Payloads stay behind."""
    band = F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("band_idx"), key.alias("band_key"))
                for b, key in enumerate(keys)
            ]
        )
    ).alias("band")
    return sigs.select(F.col(id_col).alias("id"), band).select(
        "id", "band.band_idx", "band.band_key"
    )


def band_pairs(a_bands: DataFrame, b_bands: DataFrame, payload: DataFrame,
               pair: tuple[str, str], symmetric: bool = False) -> DataFrame:
    """Banded candidate pairs (left, right, <val>_a, <val>_b): a- and
    b-side :func:`band_rows` collide on (band_idx, band_key) with a.id <
    b.id (``symmetric``: a.id != b.id, so each id sees every candidate),
    the id pairs are deduplicated, and the one payload column ``val`` is
    joined back per side from ``payload`` (id, val), a materialized
    table.  Candidates never carry the payload through the self-join or
    the dedup shuffle; and because Catalyst broadcasts one self-join
    side rather than reuse the exchange, an un-materialized signature
    table would compute twice.  A self-join passes one band frame as
    both sides; an increment screen passes the corpus against the new
    batch."""
    left, right = pair
    id_col, val = payload.columns
    a, b = a_bands.alias("a"), b_bands.alias("b")
    ids = (
        F.col("a.id") != F.col("b.id") if symmetric
        else F.col("a.id") < F.col("b.id")
    )
    cand_ids = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & ids,
        )
        .select(F.col("a.id").alias(left), F.col("b.id").alias(right))
        .dropDuplicates([left, right])
    )

    def side(name, suffix):
        return payload.select(
            F.col(id_col).alias(name), F.col(val).alias(f"{val}_{suffix}")
        )

    return (
        cand_ids.join(side(left, "a"), left).join(side(right, "b"), right)
        .select(left, right, f"{val}_a", f"{val}_b")
    )


def cosine(a, b):
    """Cosine similarity of two array columns, in double, computed
    JVM-side with higher-order functions (no Python in the scan).  A
    zero vector has no direction: its cosine is NULL, as DuckDB's
    division by zero gives, not an ANSI ``DIVIDE_BY_ZERO`` error."""
    av = F.transform(a, lambda x: x.cast("double"))
    bv = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.aggregate(av, F.lit(0.0), lambda s, x: s + x * x)
    nb = F.aggregate(bv, F.lit(0.0), lambda s, x: s + x * x)
    return F.try_divide(dot, F.sqrt(na) * F.sqrt(nb))


def brute_force_topk(embeddings: DataFrame, query_vec: list[float], k: int) -> DataFrame:
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


def lsh_topk(embeddings: DataFrame, query_vec: list[float]) -> DataFrame:
    """LSH-bucketed ANN: the ``ANN_K`` nearest of the vectors whose
    ``LSH_BITS``-bit signature is within ``LSH_PROBE_HAMMING`` bits of
    the query signature — one pass over the signature table filtering
    on bit_count(xor), no precomputation beyond the signatures."""
    qsig = signature_bits(
        np.asarray(query_vec, dtype=np.float64),
        _hyperplanes(len(query_vec), LSH_BITS),
    )
    candidates = signature_stage(embeddings, len(query_vec), LSH_BITS).filter(
        F.bit_count(F.col("signature").bitwiseXOR(F.lit(qsig))) <= LSH_PROBE_HAMMING
    ).select("vec_id")
    pruned = embeddings.join(candidates, "vec_id", "left_semi")
    return brute_force_topk(pruned, query_vec, ANN_K)


def unit_rows(mat: np.ndarray) -> np.ndarray:
    """``mat``'s rows scaled to unit norm; a zero row stays zero."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(norms == 0, 1.0, norms)


def _cosines(mat: np.ndarray, cents_unit: np.ndarray) -> np.ndarray:
    """Cosine of each row of ``mat`` against each unit centroid, by the
    definition the oracles rank with, DuckDB ``list_cosine_similarity``:
    a zero vector on either side scores -1.0."""
    unit = unit_rows(mat)
    zero = ~unit.any(axis=1)[:, None] | ~cents_unit.any(axis=1)[None, :]
    return np.where(zero, -1.0, unit @ cents_unit.T)


def _assign_stage(
    embeddings: DataFrame, cents_unit: np.ndarray, quantize_e4: bool = False
) -> DataFrame:
    """vec_id -> nearest-centroid id by cosine (numpy over Arrow batches,
    :func:`_cosines`; argmax ties resolve to the lowest centroid id).

    ``quantize_e4`` rounds each cosine to an e4 integer (half-away-from-
    zero, the DuckDB/Spark ROUND rule) before the argmax, so the
    assignment decision is integer-exact across engines — a last-ulp
    float divergence vs DuckDB ``list_cosine_similarity`` at an
    assignment tie can then never flip cluster membership (r4 verdict
    item 4; same discipline as the integer-e6 PQ lookup tables)."""

    def assign(batch):
        sims = _cosines(_matrix(batch, cents_unit.shape[1]), cents_unit)
        if quantize_e4:
            sims = np.copysign(
                np.floor(np.abs(sims) * 1e4 + 0.5), sims
            ).astype(np.int64)
        return batch.column("vec_id"), sims.argmax(axis=1)

    return map_batches(
        embeddings.select("vec_id", "embedding"), assign, "vec_id long, centroid_id int"
    )


def ivf_topk(embeddings: DataFrame, query_vec: list[float]) -> DataFrame:
    """IVF-style ANN: a deterministic coarse codebook (the
    ``IVF_CENTROIDS`` lowest vec_ids, so the SQL oracle re-derives it
    exactly), vectors assigned to their nearest centroid once (numpy,
    Arrow-batched), and the query probes only its ``IVF_NPROBE`` nearest
    inverted lists for the ``ANN_K`` nearest vectors.

    At scale the assignment is computed once and stored as a partition
    column, so a query scans only nprobe partitions of the table."""
    cents = seed_vectors(embeddings, IVF_CENTROIDS)
    cents_unit = unit_rows(cents)
    assigned = _assign_stage(embeddings, cents_unit)

    qsims = _cosines(np.asarray([query_vec], dtype=np.float64), cents_unit)[0]
    # a stable sort: equal cosines probe the lowest cid first
    probe = [int(i) for i in np.argsort(-qsims, kind="stable")[:IVF_NPROBE]]

    candidates = assigned.filter(F.col("centroid_id").isin(probe)).select("vec_id")
    pruned = embeddings.join(candidates, "vec_id", "left_semi")
    return brute_force_topk(pruned, query_vec, ANN_K)


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
    embeddings: DataFrame, query_vec: list[float], k: int, rerank: int = 0
) -> DataFrame:
    """PQ ANN with asymmetric-distance computation: vectors are encoded
    once into M small codes (here 8 codes x 16 centroids = 8 bytes per
    vector vs 256 for the raw float32s), and a query scans ONLY the code
    column, scoring each vector as the sum of M precomputed lookup-table
    entries (dot(q_m, centroid) per subquantizer).

    Deterministic codebook: the ``PQ_KSUB`` lowest-vec_id vectors seed
    each of the ``PQ_M`` subquantizers (the same seeding rule ivf_topk
    uses), so the DuckDB oracle re-derives it exactly.

    FP parity: lookup tables are integer e6 values (ROUND half-away of a
    SEQUENTIAL left-to-right dot product — the same association order
    DuckDB's list_aggregate uses), so the scored scan is pure integer
    arithmetic and the engine-order of the final SUM cannot matter.

    At 100 TB: encode runs once and persists as a column (32x compression
    of the vector table); the ADC scan is JVM-side integer lookups inside
    whole-stage codegen ending in a TakeOrdered — no shuffle, no vector
    reads, no Python."""
    m_sub, ksub = PQ_M, PQ_KSUB
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
    # (BENCH/ANN_RECALL.md): recall@10 15% ADC-only -> 51% / 73% / 86% at
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
    rows, regardless of corpus size.  Returns (mean[dim],
    components[k, dim]).

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
