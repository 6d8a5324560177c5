"""Training-data pipeline operators: deduplication, similarity search and
text analysis over the ``documents`` / ``embeddings`` tables.

Scale notes (these run on 100 TB in production):
- exact dedup is a single hash-groupBy (one shuffle on the digest);
- MinHash/LSH restricts candidate generation to band-key collisions —
  the self-join is on (band_idx, band_key), never a cross join;
- n-gram Jaccard confirms MinHash-band candidates with exact shingle
  Jaccard (the band key is data-dependent, so candidate volume tracks
  the real duplicate structure — never O(n^2/#blocks));
- cosine near-dup confirms random-hyperplane-LSH-band candidates with
  one dot product over pre-normalized vectors;
- brute-force ANN is the correctness baseline; the LSH/IVF-bucketed
  variants in ``similarity.py`` are the scale path.

FP-parity rules: similarity scores are emitted as integers
(ROUND(x*10^k) AS BIGINT) and set-overlap measures as exact integer
numerator/denominator pairs, so the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import multimodal as mm
from .generator import FIXTURE, mix64, transcript_rows, transcripts_spark
# fan_out stays bound here although every scan goes through scan():
# perfbench/workloads.py times the fan-out by patching
# trainingdata.fan_out and scanfan.fan_out by name
from .scanfan import fan_out, scan  # noqa: F401
from .similarity import ANN_K, EMB_DIM, band_pairs, band_rows, signature_stage


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on the content digest
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    d = scan(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keeper_doc_id")
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY keeper_doc_id
"""


# ---------------------------------------------------------------------------
# Word-bigram shingles (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------

def _word_bigrams(toks):
    """Adjacent-token bigrams ("w1 w2") of a token array, in order and
    with repeats (empty below two tokens)."""
    n = F.size(toks)
    return F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )


def _spark_shingles(col):
    """distinct word-bigram shingles of a text column."""
    toks = F.split(col, " ")
    return F.when(F.size(toks) >= 2, F.array_distinct(_word_bigrams(toks))).otherwise(
        F.array().cast("array<string>")
    )


_DUCK_SHINGLES = (
    "list_distinct(list_transform(range(1, len(string_split({c}, ' '))), "
    "i -> string_split({c}, ' ')[i] || ' ' || string_split({c}, ' ')[i+1]))"
)


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup — candidates from the MinHash LSH bands
# ---------------------------------------------------------------------------

_JACCARD_NUM = 2  # keep pairs with jaccard >= 2/10
_JACCARD_DEN = 10


def _jaccard_counts(cands):
    """Candidate pairs (doc_a, doc_b, sh_a, sh_b) -> (doc_a, doc_b,
    jac_num, jac_den): exact shingle intersection and union sizes."""
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return cands.select(
        "doc_a", "doc_b", inter.alias("jac_num"), union.alias("jac_den")
    )


def _jaccard_keep():
    """The near-dup confirm predicate: jac_num / jac_den >= 2/10."""
    return F.col("jac_num") * _JACCARD_DEN >= F.col("jac_den") * _JACCARD_NUM


def _doc_jaccard_counts(spark, sf_dir):
    """Doc-grain MinHash-band candidates with their exact Jaccard counts,
    unthresholded and unordered."""
    docs = scan(spark, sf_dir, "documents")
    return _jaccard_counts(_minhash_candidate_pairs(
        scan(spark, sf_dir, "documents", fan=True)
        .select("doc_id", _spark_shingles(F.col("text")).alias("sh")),
        shape_n=docs.count(),  # metadata-cheap parquet count
    ))


def _jaccard_pairs(spark, sf_dir):
    """Thresholded near-dup pairs (unordered): MinHash-band candidates
    confirmed by exact shingle Jaccard >= 2/10.  Shared by the ranked
    pair query below and the cluster-resolution query, which must not
    inherit an ORDER BY it immediately discards."""
    return _doc_jaccard_counts(spark, sf_dir).filter(_jaccard_keep())


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard >= 2/10 over MinHash-band candidate pairs.

    Candidate generation is the LSH band join (data-DEPENDENT bucket
    keys: a band key only collides for genuinely similar signatures), so
    the pair count tracks the real duplicate structure instead of
    O(n^2/#blocks); exact shingle Jaccard then confirms each candidate
    with one array_intersect.  Recall below the ~0.2 threshold is
    governed by the (bands, rows) LSH curve — the trade every
    production MinHash dedup makes."""
    return _jaccard_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

_MH_P = 1_000_000_007
_MH_K = 16
_MH_BANDS = 4
_MH_ROWS = _MH_K // _MH_BANDS


def minhash_band_shape(n: int) -> tuple[int, int]:
    """(n_bands, n_rows) as a function of corpus size n — the measured
    BENCH/DEDUP_SCALE.md rule productized: rows-per-band must GROW with
    log(n) (fixed 4x4 grew candidates 83x over 16x data because
    baseline-similarity collisions scale n^2 * s^r; the log(n)-widened
    2x8 held them flat 240->242).  Rows double per ~16x growth past the
    measured flat-at-4x4 envelope (n<=8000), capped so at least two
    bands remain within the K=16 hash family; production raises K
    alongside n so band count (recall) is preserved as rows widen.

    Pinned at the measured points: shape(5000)=(4,4) [1x leg],
    shape(20000)=(2,8) [4x leg], shape(80000)=(2,8) [16x leg]."""
    rows = _MH_ROWS
    scale = max(1, -(-n // 8000))  # ceil(n / 8000)
    while scale > 1 and rows * 2 <= _MH_K // 2:
        rows *= 2
        scale = max(1, -(-scale // 16))
    return (_MH_K // rows, rows)


def embedding_band_bits(n: int) -> int:
    """Per-band bit width for the THRESHOLDED cosine dedup as a function
    of corpus size — BENCH/BAND_BITS.md productized.  The dense 4-bit
    shape is deliberate at driver scale (n<=2000: the confirm step
    prunes, and ~260 candidates/vec is cheap); past that, fixed-width
    buckets grow linearly with n (the measured melt), so bits follow
    max(4, ceil(log2(n/8))) — flat per-vector candidate volume.

    Pinned: bits(500)=4, bits(2000)=4 (measured driver shapes), then
    the BAND_BITS.md scaled column: bits(8000)=10, bits(32000)=12,
    bits(128000)=14."""
    if n <= 2000:
        return 4
    return max(4, (max(1, -(-n // 8)) - 1).bit_length())


def knn_band_bits(n: int) -> int:
    """Per-band bit width for the kNN join — same BAND_BITS.md rule but
    with the measured 8-bit floor (BENCH/BAND_BITS.md at n=2k: 4-bit
    bands made 25% of ALL pairs candidates, 33s -> 2s at 8-bit), because
    knn ranks EVERY candidate (no cheap confirm prune).

    Pinned: bits(500)=8, bits(2000)=8, bits(32000)=12, bits(128000)=14."""
    return max(8, (max(1, -(-n // 8)) - 1).bit_length())
# deterministic hash-family coefficients (derived from the repo-wide mix64)
_MH_A = [1 + mix64(1000 + j) % (_MH_P - 1) for j in range(_MH_K)]
_MH_B = [mix64(2000 + j) % _MH_P for j in range(_MH_K)]


def digest56(col):
    """md5-56: the first 14 hex digits of the md5 of string ``col`` as a
    BIGINT — the engine-neutral content digest; the DuckDB side spells
    it ``('0x' || substr(md5(x), 1, 14))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(col.cast("binary")), 1, 14), 16, 10
    ).cast("bigint")


def _spark_shingle_hashes(sh_col):
    """md5-prefix -> bigint mod P per shingle (engine-neutral hash)."""
    return F.transform(
        sh_col,
        lambda s: F.pmod(digest56(s), F.lit(_MH_P)),
    )


def _minhash_candidate_pairs(d, n_bands: int | None = None,
                             n_rows: int | None = None,
                             shape_n: int | None = None):
    """shingle-set DataFrame (doc_id, sh) -> deduplicated candidate pairs
    (doc_a, doc_b, sh_a, sh_b) whose MinHash signatures collide in at
    least one LSH band.  The join key (band_idx, band_key) is
    data-dependent: bucket sizes track the corpus's actual similarity
    structure, never O(n^2/#blocks).  Shared by q_dedup_minhash_lsh and
    q_dedup_ngram_jaccard.

    Band-shape sizing (measured, BENCH/DEDUP_SCALE.md): rows-per-band
    must GROW with log(n) — over a 16x corpus the fixed 4x4 shape grew
    candidates 83x (baseline-similarity collisions scale n^2 x s^r)
    while a 2x8 shape held them absolutely flat at the true near-dup
    pairs.  Callers pass the corpus size as ``shape_n`` and the shape is
    chosen by :func:`minhash_band_shape` (4x4 at driver scales —
    oracle-mirrored — widening per the measured rule as n grows);
    explicit n_bands/n_rows override for experiments.  Requires
    n_bands * n_rows <= the _MH_K hash family size."""
    if n_bands is None or n_rows is None:
        auto_bands, auto_rows = (
            minhash_band_shape(shape_n) if shape_n is not None
            else (_MH_BANDS, _MH_ROWS)
        )
        n_bands = n_bands if n_bands is not None else auto_bands
        n_rows = n_rows if n_rows is not None else auto_rows
    assert n_bands * n_rows <= _MH_K, (n_bands, n_rows, _MH_K)
    # r7 shape: run NARROW band rows (ids + band key only) through the
    # self-join and dedupe on the id pair alone, joining the shingle
    # arrays back from the materialized signature table.  The r6 shape
    # carried sh through the explode instead, which was right when
    # re-deriving shingles meant re-running the corpus scan (measured
    # 13x slower then) — but it made the self-join compute the whole
    # signature pipeline TWICE (Catalyst broadcast one side rather than
    # reuse the exchange) and forced dropDuplicates into a SortAggregate
    # over array-carrying rows.
    d = _minhash_signatures(d)
    bands = _minhash_bands(d, n_bands, n_rows)
    return band_pairs(bands, bands, d.select("doc_id", "sh"), ("doc_a", "doc_b"))


def _minhash_signatures(sh):
    """(doc_id, sh) -> the MATERIALIZED MinHash signature-input table
    (doc_id, sh, hs) of the docs with at least one shingle — the table a
    production pipeline persists between runs.  Every MinHash band join
    reads it several ways (bands, join-backs, spines), so it is
    localCheckpoint()ed once and each read is a cheap RDD scan.  The
    empty-shingle filter runs AFTER the checkpoint so its predicate
    cannot be pushed below a fan-out repartition (where it re-derived
    the shingles on the unsplit scan)."""
    return (
        sh.withColumn("hs", _spark_shingle_hashes(F.col("sh")))
        .localCheckpoint()
        .filter(F.size("sh") > 0)
    )


def _minhash_bands(d, n_bands: int, n_rows: int):
    """(doc_id, sh, hs) -> the MinHash :func:`band_rows` (id, band_idx,
    band_key), a band key being the band's n_rows minima joined by '-'.
    Shared by the symmetric pair builder above and the asymmetric
    new-batch join in q_dedup_increment."""

    def _min_hash(j):
        # one-arg lambda: pyspark would bind a 2nd arg to the array index
        a_j, b_j = _MH_A[j], _MH_B[j]
        return F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: F.pmod(F.lit(a_j) * h + F.lit(b_j), F.lit(_MH_P)),
            )
        ).alias(f"m{j}")

    mins = [_min_hash(j) for j in range(n_bands * n_rows)]
    keys = [
        F.concat_ws(
            "-", *[F.col(f"m{b * n_rows + r}").cast("string") for r in range(n_rows)]
        )
        for b in range(n_bands)
    ]
    return band_rows(d.select("doc_id", *mins), "doc_id", keys)


def _hyperplane_candidate_pairs(e, n_bands: int, band_bits: int,
                                symmetric: bool):
    """embedding DataFrame (vec_id, embedding) -> deduplicated candidate
    pairs colliding in at least one random-hyperplane LSH band, with the
    cosine ``_cos`` of each pair.  The band key (a band's signature
    bits) is data-dependent, like the MinHash bands above.  Shared by
    q_dedup_embedding_cosine (``symmetric=False``: pairs (vec_a, vec_b)
    with vec_a < vec_b) and q_knn_join (``symmetric=True``: pairs
    (vec_id, nbr_id) both ways, so each vector sees every candidate).

    Both derived tables are materialized once: ``unit`` feeds the a- and
    b-side join-backs, and ``sigs`` feeds both sides of the band
    self-join (Catalyst broadcast one side and re-ran the PYTHON
    signature stage for it — the worst thing to compute twice)."""
    left, right = ("vec_id", "nbr_id") if symmetric else ("vec_a", "vec_b")
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(dv, F.lit(0.0), lambda acc, x: acc + x * x))
    unit = (
        e.select("vec_id", dv.alias("v"), norm.alias("nrm"))
        .select(
            "vec_id",
            F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("unit"),
        )
        .localCheckpoint()
    )
    sigs = signature_stage(e, dim=EMB_DIM, bits=n_bands * band_bits).select(
        "vec_id", "signature"
    ).localCheckpoint()
    mask = (1 << band_bits) - 1
    bands = band_rows(sigs, "vec_id", [
        F.shiftright(F.col("signature"), b * band_bits).bitwiseAND(F.lit(mask))
        for b in range(n_bands)
    ])
    cos = F.aggregate(
        F.zip_with(F.col("unit_a"), F.col("unit_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return band_pairs(bands, bands, unit, (left, right), symmetric).select(
        left, right, cos.alias("_cos")
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    """Candidate pairs by LSH band collision, confirmed by exact shingle
    Jaccard — the standard shingle->minhash->band->bucket-join pipeline.
    At scale: explode to (band_idx, band_key) rows, shuffle on the band
    key, join within buckets only."""
    return _doc_jaccard_counts(spark, sf_dir).orderBy("doc_a", "doc_b")


def _duck_band_structs(n_bands: int, n_rows: int) -> str:
    return ", ".join(
        "{'band_idx': %d, 'band_key': %s}"
        % (
            b,
            " || '-' || ".join(
                f"CAST(m{b * n_rows + r} AS VARCHAR)" for r in range(n_rows)
            ),
        )
        for b in range(n_bands)
    )


def _duck_minhash_cands_ctes(src: str, ub_src: str | None = None) -> str:
    """CTE chain ``sh -> nz -> sigs -> bands -> cands`` computing the
    MinHash band-collision candidate pairs over any (doc_id, text) source
    relation — the one generator the doc-grain and paragraph-grain
    oracles derive from, so the SQL tracks the shared Python constants.

    With ``ub_src`` the chain is shape-DYNAMIC (paragraph grain): a
    leading ``pub`` CTE computes the same n_chars paragraph upper bound
    as :func:`paragraph_upper_bound` over ``ub_src``, and the band CTE
    carries BOTH possible band layouts (minhash_band_shape is binary
    within the K=16 family: 4x4 for n <= 8000, else 2x8), each arm
    guarded by the bound — so the oracle widens rows exactly when the
    Spark side does, at every corpus scale, from one static SQL string."""
    min_exprs = ",\n         ".join(
        f"list_min(list_transform(hs, h -> ({_MH_A[j]} * h + {_MH_B[j]}) % {_MH_P})) AS m{j}"
        for j in range(_MH_K)
    )
    if ub_src is None:
        pub = ""
        bands = f"""  SELECT doc_id, sh, unnest([{_duck_band_structs(_MH_BANDS, _MH_ROWS)}], recursive := true)
  FROM sigs"""
    else:
        pub = f"""pub AS (
  SELECT CAST(SUM((((n_chars + 1) // 2) + {_PARA_WORDS - 1}) // {_PARA_WORDS})
              AS BIGINT) AS ub
  FROM {ub_src}
), """
        bands = f"""  SELECT doc_id, sh, unnest([{_duck_band_structs(4, 4)}], recursive := true)
  FROM sigs WHERE (SELECT ub FROM pub) <= 8000
  UNION ALL
  SELECT doc_id, sh, unnest([{_duck_band_structs(2, 8)}], recursive := true)
  FROM sigs WHERE (SELECT ub FROM pub) > 8000"""
    return f"""{pub}sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(c="text")} AS sh FROM {src}
), nz AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT % {_MH_P}) AS hs
  FROM sh WHERE len(sh) > 0
), sigs AS (
  SELECT doc_id, sh,
         {min_exprs}
  FROM nz
), bands AS (
{bands}
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""


_DUCK_JAC_WHERE = (
    f"WHERE len(list_filter(sh_a, x -> list_contains(sh_b, x))) * {_JACCARD_DEN}"
    f" >= (len(sh_a) + len(sh_b)"
    f" - len(list_filter(sh_a, x -> list_contains(sh_b, x)))) * {_JACCARD_NUM}\n"
)


def _duck_minhash_sql(threshold: bool = False) -> str:
    where = _DUCK_JAC_WHERE if threshold else ""
    return f"""
WITH {_duck_minhash_cands_ctes("documents")}
SELECT doc_a, doc_b,
       CAST(len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS INT) AS jac_num,
       CAST(len(sh_a) + len(sh_b)
            - len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS INT) AS jac_den
FROM cands
{where}ORDER BY doc_a, doc_b
"""


SQL_DEDUP_MINHASH_LSH = _duck_minhash_sql()
# same banded candidate generation, thresholded at jaccard >= 2/10 —
# mirrors q_dedup_ngram_jaccard
SQL_DEDUP_NGRAM_JACCARD = _duck_minhash_sql(threshold=True)


# ---------------------------------------------------------------------------
# Paragraph-grain dedup — the grain a 100-TB corpus prep actually dedups at
# (boilerplate paragraphs repeat across otherwise-distinct documents)
# ---------------------------------------------------------------------------

_PARA_WORDS = 16  # deterministic paragraph = 16-word chunk (corpus has no \n)
_PARA_STRIDE = 1024  # para_id = doc_id * stride + para_idx; docs are << 1024 paras


def _paragraphs(d):
    """documents(doc_id, text) -> one row per 16-word chunk.  The driver
    corpus is single-line text, so 'paragraph' is a fixed word-window; on
    real documents the splitter would be split(text, '\\n{2,}') with the
    same downstream pipeline."""
    toks = F.split(F.col("text"), " ")
    n_paras = F.ceil(F.size(toks) / F.lit(_PARA_WORDS)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - F.lit(1)),
        lambda i: F.array_join(
            F.slice(toks, i * _PARA_WORDS + F.lit(1), F.lit(_PARA_WORDS)), " "
        ),
    )
    exploded = d.select("doc_id", F.posexplode(paras).alias("para_idx", "para"))
    # para_id = doc_id * _PARA_STRIDE + para_idx aliases into ANOTHER
    # doc's id range if a document reaches _PARA_STRIDE chunks (>= 16,384
    # words — inside the Gopher gate's 100k-word ceiling), silently
    # corrupting the (doc, para_idx) decode.  Guard in the VALUE path
    # (not a droppable side column, which column pruning would erase) so
    # the documented "docs << stride paras" assumption fails loudly.
    guarded_idx = F.when(
        F.col("para_idx") < F.lit(_PARA_STRIDE), F.col("para_idx")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"document exceeds _PARA_STRIDE={_PARA_STRIDE} paragraphs: "),
                F.col("doc_id").cast("string"),
            )
        ).cast("int")
    )
    return exploded.select("doc_id", guarded_idx.alias("para_idx"), "para")


# DuckDB twin of _paragraphs over ``documents``: CTE ``paras`` (doc_id,
# para_idx, para)
_DUCK_PARAS_CTES = f"""wtoks AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), pidx AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {_PARA_WORDS}.0) AS BIGINT))) AS para_idx
  FROM wtoks
), paras AS (
  SELECT doc_id, para_idx,
         array_to_string(list_slice(toks, para_idx * {_PARA_WORDS} + 1,
                                    para_idx * {_PARA_WORDS} + {_PARA_WORDS}), ' ') AS para
  FROM pidx
)"""


def paragraph_upper_bound(docs) -> int:
    """Cheap deterministic upper bound on the paragraph count of a
    documents frame, from the n_chars stats column only: tokens <=
    (n_chars+1)//2 (1-char words, single separators), paragraphs =
    ceil(tokens/_PARA_WORDS) per doc, summed.  Integer arithmetic so
    the DuckDB oracle's `pub` CTE reproduces it bit-for-bit."""
    row = docs.agg(
        F.sum(
            F.expr(f"(((n_chars + 1) DIV 2) + {_PARA_WORDS - 1}) DIV {_PARA_WORDS}")
        ).alias("ub")
    ).collect()[0]
    return int(row["ub"] or 0)


def q_dedup_paragraph(spark, sf_dir):
    """Two-stage paragraph-grain dedup: (1) EXACT — hash-groupBy on the
    paragraph digest keeps one representative per distinct paragraph and
    counts copies (one shuffle on the digest); (2) NEAR — the shared
    MinHash band-collision candidate generator (_minhash_candidate_pairs,
    data-dependent band keys) runs over the distinct paragraphs only,
    confirmed by exact shingle Jaccard >= 2/10.

    At 100 TB the exact stage shrinks the near-dup input by the duplicate
    factor before any signature work, and the near stage inherits the
    banded join's scale properties (never O(n^2/#blocks)).  Output decodes
    para_id back to (doc, para_idx) and carries each side's exact-copy
    count, so both stages are driver-hash-verified in one result."""
    paras = _paragraphs(scan(spark, sf_dir, "documents", fan=True)).withColumn(
        "para_id", F.col("doc_id") * _PARA_STRIDE + F.col("para_idx")
    )
    keepers = (
        paras.groupBy(F.md5(F.col("para").cast("binary")).alias("h"))
        .agg(
            F.min("para_id").alias("para_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("para").alias("para"),  # all rows in a group are identical
        )
        .select("para_id", "n_copies", "para")
        # distinct-paragraph table, read twice (shingle bands + the two
        # copies joins): materialize once instead of re-running the
        # explode + md5 groupBy per reader
        .localCheckpoint()
    )
    # shape_n: the banded universe is PARAGRAPHS (~10-20x docs), so the
    # measured log-rule must see a paragraph count, not the raw doc
    # count (r4 ADVICE: doc-grain sizing widened rows a grain-factor
    # too late).  paragraph_upper_bound is a one-narrow-column scan of
    # the n_chars stats — never the exact-dedup stage run twice.  The
    # DuckDB oracle computes the SAME bound in its `pub` CTE and
    # switches band arms on it, so parity holds at every scale.
    cands = _minhash_candidate_pairs(
        keepers.select(
            F.col("para_id").alias("doc_id"),
            _spark_shingles(F.col("para")).alias("sh"),
        ),
        shape_n=paragraph_upper_bound(scan(spark, sf_dir, "documents")),
    )
    pairs = _jaccard_counts(cands).filter(_jaccard_keep()).select(
        F.col("doc_a").alias("pa"), F.col("doc_b").alias("pb"), "jac_num", "jac_den"
    )
    copies = keepers.select("para_id", "n_copies")
    return (
        pairs.join(copies.withColumnRenamed("n_copies", "copies_a"),
                   pairs.pa == copies.para_id)
        .drop("para_id")
        .join(copies.withColumnRenamed("n_copies", "copies_b"),
              pairs.pb == copies.para_id)
        .select(
            F.expr(f"pa DIV {_PARA_STRIDE}").alias("doc_a"),
            F.pmod("pa", F.lit(_PARA_STRIDE)).cast("int").alias("para_a"),
            "copies_a",
            F.expr(f"pb DIV {_PARA_STRIDE}").alias("doc_b"),
            F.pmod("pb", F.lit(_PARA_STRIDE)).cast("int").alias("para_b"),
            "copies_b",
            "jac_num",
            "jac_den",
        )
        .orderBy("doc_a", "para_a", "doc_b", "para_b")
    )


SQL_DEDUP_PARAGRAPH = f"""
WITH {_DUCK_PARAS_CTES}, keepers AS (
  SELECT MIN(doc_id * {_PARA_STRIDE} + para_idx) AS para_id,
         COUNT(*) AS n_copies, MIN(para) AS para
  FROM paras GROUP BY md5(para)
), kdocs AS (
  SELECT para_id AS doc_id, para AS text FROM keepers
), {_duck_minhash_cands_ctes("kdocs", "documents")}
SELECT doc_a // {_PARA_STRIDE} AS doc_a,
       CAST(doc_a % {_PARA_STRIDE} AS INT) AS para_a,
       ka.n_copies AS copies_a,
       doc_b // {_PARA_STRIDE} AS doc_b,
       CAST(doc_b % {_PARA_STRIDE} AS INT) AS para_b,
       kb.n_copies AS copies_b,
       CAST(len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS INT) AS jac_num,
       CAST(len(sh_a) + len(sh_b)
            - len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS INT) AS jac_den
FROM cands
JOIN keepers ka ON ka.para_id = doc_a
JOIN keepers kb ON kb.para_id = doc_b
{_DUCK_JAC_WHERE}ORDER BY doc_a, para_a, doc_b, para_b
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup — candidates from random-hyperplane LSH bands
# ---------------------------------------------------------------------------

_COS_THRESHOLD = 0.35


# LSH band layout over the 16-bit hyperplane signature: 4 bands x 4 bits.
# Candidates must share >=1 band — a data-dependent key (bucket sizes
# track actual vector similarity), unlike the fixed-cardinality label
# blocking this replaced, which went O(n^2/#labels) at scale.
#
# Scale rule: per-band bucket count is 2^bits, so band bits must GROW
# with corpus size — bits ~ log2(n) - log2(target bucket size) keeps
# expected bucket sizes flat (wider signature from the same hyperplane
# family; recall at a given cosine follows (1-theta/pi)^bits per band,
# compensated by more bands).  4x4 is sized for the driver's 500-2000
# vectors; a 10^9-vector corpus would run e.g. 8 bands x 24 bits.
_EC_BANDS = 4
# ORACLE-side pin: the DuckDB mirror is static SQL, so it bakes the
# driver-scale shape; the Spark side computes embedding_band_bits(n),
# which equals this at every driver/test scale (n <= 2000)
_EC_BAND_BITS = 4


def q_dedup_embedding_cosine(spark, sf_dir):
    """Cosine near-dup >= 0.35 over LSH-banded candidates.

    signature_stage (numpy over Arrow batches) computes the 16-bit
    random-hyperplane signature once per vector; candidates are pairs
    colliding in >=1 of the 4-bit bands; the confirm step is one dot
    product over pre-normalized vectors.  Recall below the threshold
    follows the random-hyperplane collision curve (P[bit match] =
    1 - angle/pi) — tunable via bands/bits like every production
    embedding dedup.  Band bits scale with corpus size via
    :func:`embedding_band_bits` (BENCH/BAND_BITS.md rule; 4-bit at
    driver scales, oracle-mirrored)."""
    band_bits = embedding_band_bits(scan(spark, sf_dir, "embeddings").count())
    e = scan(spark, sf_dir, "embeddings", fan=True)
    cands = _hyperplane_candidate_pairs(e, _EC_BANDS, band_bits, symmetric=False)
    return (
        cands.filter(F.col("_cos") >= _COS_THRESHOLD)
        .select(
            "vec_a",
            "vec_b",
            F.round(F.col("_cos") * 10000).cast("bigint").alias("cos_e4"),
        )
        .orderBy("vec_a", "vec_b")
    )


def _duck_embedding_cosine_sql() -> str:
    from .oracle_sql_gen import lsh_signature_sql_expr

    band_structs = ", ".join(
        "{'band_idx': %d, 'band_val': (sig >> %d) & %d}"
        % (b, b * _EC_BAND_BITS, (1 << _EC_BAND_BITS) - 1)
        for b in range(_EC_BANDS)
    )
    return f"""
WITH dv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), u AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_aggregate(list_transform(v, y -> y * y), 'sum'))) AS unit,
         {lsh_signature_sql_expr('v', _EC_BANDS * _EC_BAND_BITS)} AS sig
  FROM dv
), bands AS (
  SELECT vec_id, unit, unnest([{band_structs}], recursive := true) FROM u
), cands AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  a.unit AS unit_a, b.unit AS unit_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.vec_id < b.vec_id
), pairs AS (
  SELECT vec_a, vec_b,
         list_aggregate(list_transform(list_zip(unit_a, unit_b),
                                       p -> p[1] * p[2]), 'sum') AS c
  FROM cands
)
SELECT vec_a, vec_b, CAST(ROUND(c * 10000) AS BIGINT) AS cos_e4
FROM pairs WHERE c >= {_COS_THRESHOLD} ORDER BY vec_a, vec_b
"""


SQL_DEDUP_EMBEDDING_COSINE = _duck_embedding_cosine_sql()


# ---------------------------------------------------------------------------
# Brute-force cosine top-k (ANN correctness baseline)
# ---------------------------------------------------------------------------

def q_ann_topk(spark, sf_dir):
    from .similarity import brute_force_topk, cos_e4, split_query

    qvec, rest = split_query(scan(spark, sf_dir, "embeddings"))
    return cos_e4(brute_force_topk(rest, qvec, ANN_K))


SQL_ANN_TOPK = f"""
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT vec_id,
         list_cosine_similarity(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                (SELECT qv FROM q)) AS c
  FROM embeddings WHERE vec_id <> 0
)
SELECT vec_id, CAST(ROUND(c * 10000) AS BIGINT) AS cos_e4
FROM scored ORDER BY c DESC, vec_id LIMIT {ANN_K}
"""


# ---------------------------------------------------------------------------
# Text analysis: stopword ratio, quality score, token count, fingerprint
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "it")


def _ws_tokens(col=None):
    """Whitespace tokens of a text column (default ``text``): trim, then
    split on ``\\s+`` — the Spark side of DuckDB's
    ``regexp_split_to_array(trim(text), '\\s+')``."""
    return F.split(F.trim(F.col("text") if col is None else col), r"\s+")


def _tokens_before(partition_col, *order_cols):
    """Sum of ``n_tokens`` over the rows before this one in its
    ``partition_col`` partition, ordered by ``order_cols``; 0 on the
    partition's first row (the running offset token packers cut on)."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return F.coalesce(F.sum("n_tokens").over(w), F.lit(0))


def _lower_words():
    """Non-empty whitespace tokens of the lower-cased ``text`` column."""
    return F.filter(_ws_tokens(F.lower(F.col("text"))), lambda x: x != "")


def _stopword_arr():
    """``_STOPWORDS`` as an array literal column."""
    return F.array(*[F.lit(w) for w in _STOPWORDS])


def _n_stopwords(toks):
    """Stopword occurrences (repeats counted) in a token array."""
    return F.size(F.filter(toks, lambda x: F.array_contains(_stopword_arr(), x)))


def q_lang_stopword_ratio(spark, sf_dir):
    d = scan(spark, sf_dir, "documents")
    toks = _ws_tokens()
    n_stop = _n_stopwords(toks)
    n_words = F.size(toks)
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_stop.alias("n_stopwords"),
        F.round(F.lit(10000.0) * n_stop / n_words).cast("bigint").alias("stop_ratio_e4"),
    ).orderBy("doc_id")


SQL_LANG_STOPWORD_RATIO = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_words,
       CAST(len(list_filter(toks, x -> list_contains({list(_STOPWORDS)!r}, x))) AS INT) AS n_stopwords,
       CAST(ROUND(10000.0 * len(list_filter(toks, x -> list_contains({list(_STOPWORDS)!r}, x)))
                  / len(toks)) AS BIGINT) AS stop_ratio_e4
FROM t ORDER BY doc_id
"""


def q_quality_score(spark, sf_dir):
    """Deterministic quality heuristics: mean word length (scaled),
    punctuation count, unique-word ratio (scaled) — all integer outputs."""
    d = scan(spark, sf_dir, "documents", fan=True)
    toks = _ws_tokens()
    n_words = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    n_punct = F.length("text") - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
    mean_wl_e2 = F.round(F.lit(100.0) * F.length(F.concat_ws("", toks)) / n_words).cast("bigint")
    uniq_e4 = F.round(F.lit(10000.0) * n_unique / n_words).cast("bigint")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_punct.alias("n_punct"),
        mean_wl_e2.alias("mean_word_len_e2"),
        uniq_e4.alias("unique_ratio_e4"),
    ).orderBy("doc_id")


SQL_QUALITY_SCORE = """
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_words,
       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS n_punct,
       CAST(ROUND(100.0 * length(list_aggregate(toks, 'string_agg', '')) / len(toks)) AS BIGINT)
         AS mean_word_len_e2,
       CAST(ROUND(10000.0 * len(list_distinct(toks)) / len(toks)) AS BIGINT) AS unique_ratio_e4
FROM t ORDER BY doc_id
"""


_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def q_token_count(spark, sf_dir):
    """BPE-ish regex pre-tokenization count (letters / digits / single
    punctuation), plus whitespace token count."""
    d = scan(spark, sf_dir, "documents", fan=True)
    ws = F.size(_ws_tokens())
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), F.lit(0)))
    return d.select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_tokens")
    ).orderBy("doc_id")


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS INT) AS bpe_tokens
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution — connected components over near-dup pairs
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 20


# DuckDB connected components over a ``pairs`` (doc_a, doc_b) CTE: the
# recursive ``reach`` (a, b) closure of the undirected pair graph
_DUCK_REACH_CTES = """und AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS t FROM pairs
), reach(a, b) AS (
  SELECT s, t FROM und
  UNION
  SELECT r.a, u.t FROM reach r JOIN und u ON r.b = u.s
)"""


def q_dedup_cluster(spark, sf_dir):
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected
    components over the thresholded MinHash-band pair graph, labeling
    every member with the component's minimum doc_id (the keeper).  This
    is the step that turns pairwise dedup output into a keep/drop
    decision when duplicates form chains (a~b, b~c but not a~c).

    Spark shape: iterative min-label propagation — each round joins the
    symmetrized edge list against current labels, takes the per-node min
    of (own label, neighbors' labels), and stops when no label changed.
    Near-dup components are dense (quasi-cliques), so the diameter — and
    the round count — is small regardless of corpus size; every round is
    two equi-joins + one groupBy, all on doc_id keys.  At 10^12 docs the
    same loop runs with large-star/small-star edge rewriting to bound the
    per-round shuffle; the driver only ever sees one boolean per round
    (the convergence check), never row data."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def connected_components(pairs, max_iters: int = _CC_MAX_ITERS):
    """(doc_a, doc_b) pair DataFrame -> (doc_id, label) with label = the
    minimum doc_id reachable in the undirected pair graph.  Iterative
    min-label propagation; each round is two equi-joins + a groupBy on
    doc_id keys, and the driver sees only a per-round converged boolean.

    Every round's labels are localCheckpoint()ed: each iteration's plan
    references the previous labels TWICE (propagation + convergence
    check), so without lineage truncation the logical plan doubles per
    round and the analyzer itself OOMs after ~10 rounds — caching alone
    does not cut the logical plan.  A cluster deployment uses reliable
    checkpoint() to HDFS/object storage for the same reason (plus
    executor-loss recovery); localCheckpoint is its single-node stand-in."""
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(edges.doc_a.alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # r7: the convergence flag rides the propagation join itself —
        # labels only ever DECREASE, so "changed" is exactly
        # nbr_label < label, known at join time; the old shape paid a
        # second full join of new vs old labels every round
        new_labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                    "new_label"
                ),
                (F.coalesce("nbr_label", "label") < F.col("label")).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("chg").limit(1).count()
        labels = new_labels.select("doc_id", F.col("new_label").alias("label"))
        if changed == 0:
            return labels
    # min-label propagation needs ~component-diameter rounds: a chain
    # deeper than max_iters would exit here with WRONG labels, silently
    # diverging from the exact recursive-CTE oracle — fail loudly instead
    # (the availableNow+timeout guard precedent). Dense near-dup
    # components converge in a handful of rounds; hitting this means the
    # graph shape assumption broke, so the caller should switch to
    # connected_components_star (log(n)-round large-star/small-star).
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds; "
        "use connected_components_star for deep/skewed components"
    )


SQL_DEDUP_CLUSTER = f"""
WITH RECURSIVE {_duck_minhash_cands_ctes("documents")}, pairs AS (
  SELECT doc_a, doc_b FROM cands
  {_DUCK_JAC_WHERE}
), {_DUCK_REACH_CTES}, lbl AS (
  SELECT a AS doc_id, MIN(LEAST(a, b)) AS cluster_id FROM reach GROUP BY a
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lbl ORDER BY doc_id
"""


def q_dedup_cluster_star(spark, sf_dir):
    """q_dedup_cluster's output computed by the skew-safe large-star/
    small-star algorithm instead of min-label propagation — same oracle,
    so the alternative implementation is driver-hash-verified end-to-end,
    not just property-tested against its sibling."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components_star(pairs)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select("doc_id", F.col("label").alias("cluster_id"), "cluster_size")
        .orderBy("doc_id")
    )


def connected_components_star(pairs, max_iters: int = _CC_MAX_ITERS):
    """Skew-safe connected components: alternating large-star/small-star
    edge rewriting (Kiveris et al., 'Connected Components in MapReduce and
    Beyond', SOCC'14) until the edge set is a star forest, then read the
    labels off the stars.

    Why a second implementation: min-label propagation's round count is
    the component DIAMETER, and its per-round join fans every neighbor
    list through the shuffle — fine for quasi-clique near-dup clusters,
    but a pathological chain (or a hub component at 10^12 docs) makes it
    slow or skewed.  The star algorithm converges in O(log n) rounds on
    ANY topology and every operation here is groupBy-min + equi-join —
    no neighborhood is ever collected into one task.  Both
    implementations are property-tested equal; q_dedup_cluster keeps the
    simple one because near-dup components are shallow.

    Returns (doc_id, label) like connected_components."""
    und = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    nodes = und.select(F.col("doc_a").alias("doc_id")).distinct().localCheckpoint()
    # canonical edge orientation (u > v), self-loops dropped
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _large_star(e):
        # neighbors of u over BOTH directions; attach every neighbor
        # strictly larger than u to m(u) = min(neighbors(u), u)
        und_e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = und_e.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            und_e.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e):
        # edges already oriented u > v; attach all small neighbors of u
        # (and u itself) to m(u) = min small neighbor
        m = e.groupBy("u").agg(F.min("v").alias("m"))
        attach_small = (
            e.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        attach_self = m.select(F.col("u"), F.col("m").alias("v"))
        return attach_small.union(attach_self).distinct()

    for _ in range(max_iters):
        new_edges = _small_star(_large_star(edges)).localCheckpoint()
        changed = (
            new_edges.exceptAll(edges).limit(1).count()
            + edges.exceptAll(new_edges).limit(1).count()
        )
        edges = new_edges
        if changed == 0:
            break
    else:
        # not yet a star forest: the labels read below would be wrong
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iters} rounds"
        )
    # star forest: every non-root points at its component min; roots are
    # nodes never appearing on the u side
    labels = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("label"))
    roots = nodes.join(
        labels.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("label"))
    return labels.union(roots)


# ---------------------------------------------------------------------------
# Stratified corpus sampling — hash-threshold Bernoulli, zero shuffle
# ---------------------------------------------------------------------------

# per-language keep rates (per 10,000 docs) — the domain-mix knob of a
# training-data pipeline.  In production this dim comes from a config
# table; it is broadcast so sampling never shuffles the corpus.
_SAMPLE_RATES_E4 = (("en", 2500), ("de", 5000), ("es", 5000),
                    ("fr", 7500), ("zh", 7500))
_SAMPLE_DEFAULT_E4 = 1000


def q_corpus_sample(spark, sf_dir):
    """Deterministic stratified sample: keep a doc iff its md5-derived
    sample key (uniform over [0, 10000)) falls under its language's rate.

    100-TB shape: a broadcast rate dim + a per-row hash filter — ZERO
    shuffles, no window, no per-lang top-K (a row_number() per language
    would funnel each language through one partition).  Deterministic
    across runs and engines (md5, not rand()), so resume/replay see the
    same sample."""
    d = scan(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        list(_SAMPLE_RATES_E4), "lang string, rate_e4 int"
    )
    key = F.pmod(
        digest56(F.col("doc_id").cast("string")), F.lit(10000)
    )
    return (
        d.join(F.broadcast(rates), "lang", "left")
        .withColumn("sample_key", key.cast("int"))
        .filter(
            F.col("sample_key")
            < F.coalesce(F.col("rate_e4"), F.lit(_SAMPLE_DEFAULT_E4))
        )
        .select("doc_id", "lang", "sample_key")
        .orderBy("doc_id")
    )


SQL_CORPUS_SAMPLE = f"""
WITH rates(lang, rate_e4) AS (
  VALUES {", ".join(f"('{k}', {v})" for k, v in _SAMPLE_RATES_E4)}
), keyed AS (
  SELECT doc_id, d.lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
              % 10000 AS INT) AS sample_key,
         rate_e4
  FROM documents d LEFT JOIN rates ON d.lang = rates.lang
)
SELECT doc_id, lang, sample_key
FROM keyed WHERE sample_key < COALESCE(rate_e4, {_SAMPLE_DEFAULT_E4})
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# kNN join — top-k nearest neighbors for EVERY vector, banded candidates
# ---------------------------------------------------------------------------

_KNN_K = 3
# knn ranks EVERY candidate (no similarity threshold), so its bands are
# sized by the measured BENCH/BAND_BITS.md rule — bits ~ log2(n/8) — not
# the 4-bit bands the thresholded cosine-dedup confirm uses: at n=2k,
# 4-bit buckets made a quarter of all pairs candidates (measured 33s at
# sf0.1); 8-bit bands cut that ~18x.
_KNN_BANDS = 4
# ORACLE-side pin (see _EC_BAND_BITS): knn_band_bits(n) == 8 at every
# driver/test scale (n <= 2000)
_KNN_BAND_BITS = 8


def q_knn_join(spark, sf_dir):
    """All-pairs top-k neighbor join over the embedding corpus: candidates
    from the same random-hyperplane LSH bands as dedup_embedding_cosine
    (data-dependent band values, never a cross join), symmetrized so each
    vector ranks ALL its banded candidates, then a per-vector window keeps
    the top k by (cos_e4 desc, nbr_id).

    This is the similarity-graph builder (dedup clustering, semantic
    nearest-neighbor graphs) — distinct from ann_*_topk, which answer ONE
    query vector.  At 100 TB: candidate generation inherits the banded
    join's scale; the rank window shuffles on vec_id only (uniform key),
    and ranking uses the e4-rounded cosine so the order is integer-stable
    across engines.

    Band sizing applies the measured BENCH/BAND_BITS.md rule (bits ~
    log2(n / target_bucket)): the 4-bit bands dedup_embedding_cosine uses
    were built for its THRESHOLDED confirm, but knn ranks every candidate,
    and 4-bit buckets at n=2k produced 1.02M candidate pairs (510 per
    vector — a quarter of all pairs; measured 33s).  8-bit bands over a
    32-bit signature cut candidates ~18x; at larger n, bits grows with
    log2(n) per the same rule."""
    from pyspark.sql.window import Window

    band_bits = knn_band_bits(  # measured rule, 8 at driver scales
        scan(spark, sf_dir, "embeddings").count()
    )
    e = scan(spark, sf_dir, "embeddings", fan=True)
    scored = _hyperplane_candidate_pairs(
        e, _KNN_BANDS, band_bits, symmetric=True
    ).select(
        "vec_id",
        "nbr_id",
        F.round(F.col("_cos") * 10000).cast("bigint").alias("cos_e4"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_e4").desc(), F.col("nbr_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _KNN_K)
        .orderBy("vec_id", "rank")
    )


def _duck_knn_join_sql() -> str:
    from .oracle_sql_gen import lsh_signature_sql_expr

    band_structs = ", ".join(
        "{'band_idx': %d, 'band_val': (sig >> %d) & %d}"
        % (b, b * _KNN_BAND_BITS, (1 << _KNN_BAND_BITS) - 1)
        for b in range(_KNN_BANDS)
    )
    return f"""
WITH dv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), u AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_aggregate(list_transform(v, y -> y * y), 'sum'))) AS unit,
         {lsh_signature_sql_expr('v', _KNN_BANDS * _KNN_BAND_BITS)} AS sig
  FROM dv
), bands AS (
  SELECT vec_id, unit, unnest([{band_structs}], recursive := true) FROM u
), cands AS (
  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr_id,
                  a.unit AS unit_a, b.unit AS unit_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.vec_id <> b.vec_id
), scored AS (
  SELECT vec_id, nbr_id,
         CAST(ROUND(list_aggregate(list_transform(list_zip(unit_a, unit_b),
                                                  p -> p[1] * p[2]), 'sum')
                    * 10000) AS BIGINT) AS cos_e4
  FROM cands
), ranked AS (
  SELECT vec_id, nbr_id, cos_e4,
         CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_e4 DESC, nbr_id) AS INT) AS rank
  FROM scored
)
SELECT vec_id, nbr_id, cos_e4, rank FROM ranked
WHERE rank <= {_KNN_K} ORDER BY vec_id, rank
"""


SQL_KNN_JOIN = _duck_knn_join_sql()


# ---------------------------------------------------------------------------
# Gap-fill / densify — zero rows for empty time buckets
# ---------------------------------------------------------------------------

def q_hourly_gapfill(spark, sf_dir):
    """Hourly event counts per type with ZERO rows for silent hours — the
    densify step every monitoring/training-cadence rollup needs before
    windowed math (a plain groupBy silently drops empty buckets).

    Scale shape: the grid is sequence+explode over the (min, max) hour
    bounds cross-joined with the distinct types — two TINY derived dims
    (the cross join never touches fact-table cardinality) — then one
    left join against the grouped counts, shuffling only the counts."""
    e = scan(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_timestamp(ts) DIV 3600").alias("h"),
    )
    counts = e.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("n"))
    bounds = e.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    hours = bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("h")
    )
    types = e.select("event_type").distinct()
    grid = types.crossJoin(hours)
    return (
        grid.join(counts, ["event_type", "h"], "left")
        .select(
            "event_type",
            (F.col("h") * 3600).alias("hour_epoch"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
        .orderBy("event_type", "hour_epoch")
    )


SQL_HOURLY_GAPFILL = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h FROM events
), b AS (
  SELECT MIN(h) AS mn, MAX(h) AS mx FROM e
), hours AS (
  SELECT unnest(range(mn, mx + 1)) AS h FROM b
), types AS (
  SELECT DISTINCT event_type FROM e
), grid AS (
  SELECT event_type, h FROM types, hours
), cnt AS (
  SELECT event_type, h, COUNT(*) AS n FROM e GROUP BY event_type, h
)
SELECT g.event_type, g.h * 3600 AS hour_epoch,
       COALESCE(n, 0) AS n_events
FROM grid g LEFT JOIN cnt USING (event_type, h)
ORDER BY event_type, hour_epoch
"""


def q_daily_active_users(spark, sf_dir):
    """Exact daily active users + event volume: the distinct-aggregate
    shape (COUNT(DISTINCT user) per day) Spark plans as a two-phase
    expand/aggregate — exact, unlike the approx_count_distinct sketch
    path a 100-TB dashboard would switch to when 2% error is fine."""
    e = scan(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_timestamp(ts) DIV 86400").alias("day")
    )
    return (
        e.groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            (F.col("day") * 86400).alias("day_epoch"),
            "active_users",
            "n_events",
        )
        .orderBy("day_epoch")
    )


SQL_DAILY_ACTIVE_USERS = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events
)
SELECT day * 86400 AS day_epoch,
       COUNT(DISTINCT user_id) AS active_users,
       COUNT(*) AS n_events
FROM e GROUP BY day ORDER BY day_epoch
"""


def q_user_retention(spark, sf_dir):
    """Day-over-day retention cohorts: per day, the active users and how
    many of them return the next day — the self-join cohort shape
    (distinct (user, day) against itself shifted by one day).

    Scale shape: the fact table collapses to distinct (user, day) FIRST
    (one shuffle), so the self-join runs on the small deduplicated
    activity set keyed by (user_id, day) — never on raw events."""
    e = scan(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_timestamp(ts) DIV 86400").alias("day")
    ).distinct()
    nxt = e.select("user_id", (F.col("day") - 1).alias("day"))
    retained = (
        e.join(nxt, ["user_id", "day"], "left_semi")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("retained_next_day"))
    )
    active = e.groupBy("day").agg(F.count(F.lit(1)).alias("active_users"))
    return (
        active.join(retained, "day", "left")
        .select(
            (F.col("day") * 86400).alias("day_epoch"),
            "active_users",
            F.coalesce("retained_next_day", F.lit(0)).alias("retained_next_day"),
        )
        .orderBy("day_epoch")
    )


SQL_USER_RETENTION = """
WITH a AS (
  SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
), r AS (
  SELECT a.day, COUNT(*) AS retained_next_day
  FROM a JOIN a nxt ON a.user_id = nxt.user_id AND nxt.day = a.day + 1
  GROUP BY a.day
), act AS (
  SELECT day, COUNT(*) AS active_users FROM a GROUP BY day
)
SELECT act.day * 86400 AS day_epoch, active_users,
       COALESCE(retained_next_day, 0) AS retained_next_day
FROM act LEFT JOIN r ON act.day = r.day
ORDER BY day_epoch
"""


# ---------------------------------------------------------------------------
# As-of lookup — most recent prior matching event, windowed (no join)
# ---------------------------------------------------------------------------

def q_asof_last_error(spark, sf_dir):
    """For every event: the epoch of the SAME user's most recent strictly
    earlier 'error' event — as-of join semantics expressed as a
    conditional running max over an ordered window, so it costs one
    shuffle on user_id instead of a range join.  This is the standard
    Spark re-expression when the as-of lookup is against the same (or a
    unionable) stream; a two-table as-of at 100 TB unions the tables with
    a side tag and runs the identical window."""
    from pyspark.sql.window import Window

    e = scan(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp(F.col("ts")).alias("es"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_err = F.max(
        F.when(F.col("event_type") == "error", F.col("es"))
    ).over(w)
    return (
        e.select(
            "event_id",
            "user_id",
            "es",
            last_err.alias("last_error_epoch"),
        )
        .orderBy("event_id")
    )


SQL_ASOF_LAST_ERROR = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
)
SELECT event_id, user_id, es,
       MAX(CASE WHEN event_type = 'error' THEN es END) OVER (
         PARTITION BY user_id ORDER BY es, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ) AS last_error_epoch
FROM e ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# Exact per-group percentiles — rank selection, no approximation
# ---------------------------------------------------------------------------

_PCTL_Q = (50, 90)


def q_corpus_percentiles(spark, sf_dir):
    """Exact p50/p90 of document length per language via rank selection:
    row_number over (lang, n_chars, doc_id) and pick the row at rank
    1 + floor(q*(n-1)/100) — the lower-interpolation definition, which is
    integer-exact and engine-identical (approx_percentile would not
    hash-match and percentile_cont returns floats).

    Scale shape: one shuffle on lang for the window; the per-group sort is
    the unavoidable cost of EXACT percentiles (the approximate path is
    approx_percentile when 1% error is acceptable)."""
    from pyspark.sql.window import Window

    d = scan(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    picks = [
        F.max(
            F.when(
                F.col("rn") == 1 + F.floor(F.lit(q) * (F.col("n") - 1) / 100),
                F.col("n_chars"),
            )
        ).alias(f"p{q}_chars")
        for q in _PCTL_Q
    ]
    return (
        ranked.groupBy("lang")
        .agg(F.max("n").alias("n_docs"), *picks)
        .orderBy("lang")
    )


SQL_CORPUS_PERCENTILES = f"""
WITH ranked AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
       {", ".join(
         f"MAX(CASE WHEN rn = 1 + CAST(floor({q} * (n - 1) / 100) AS BIGINT)"
         f" THEN n_chars END) AS p{q}_chars" for q in _PCTL_Q)}
FROM ranked GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Embedding quantization — symmetric int8, per-vector scale
# ---------------------------------------------------------------------------

def q_embed_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding corpus: per-vector
    scale = max|x|, q_i = round(x_i * 127 / scale) — the 4x storage shrink
    (and SIMD dot-product enabler) a 100-TB embedding store runs before
    ANN serving.  Pure JVM array fold per row, zero shuffles before the
    deterministic output sort.

    Output is integer-exact per the FP-parity rules: the scale at e6 and
    summary statistics of the quantized vector (sum, L1, saturation
    count) instead of a float array crossing the engine boundary."""
    e = scan(spark, sf_dir, "embeddings")
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.aggregate(
        dv, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("v"),
            lambda x: F.round(x * F.lit(127.0) / F.col("scale")).cast("int"),
        ),
    ).otherwise(F.transform(F.col("v"), lambda x: F.lit(0)))
    return (
        e.select("vec_id", dv.alias("v"), scale.alias("scale"))
        .select("vec_id", "scale", q.alias("q"))
        .select(
            "vec_id",
            F.round(F.col("scale") * 1_000_000).cast("bigint").alias("scale_e6"),
            F.aggregate(
                F.col("q"), F.lit(0).cast("bigint"), lambda a, x: a + x
            ).alias("sum_q"),
            F.aggregate(
                F.col("q"), F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)
            ).alias("l1_q"),
            F.size(F.filter(F.col("q"), lambda x: F.abs(x) == 127)).alias("n_sat"),
        )
        .orderBy("vec_id")
    )


SQL_EMBED_QUANTIZE = """
WITH dv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS scale
  FROM dv
), qq AS (
  SELECT vec_id, scale,
         CASE WHEN scale > 0
              THEN list_transform(v, x -> CAST(round(x * 127.0 / scale) AS INT))
              ELSE list_transform(v, x -> 0) END AS q
  FROM s
)
SELECT vec_id,
       CAST(ROUND(scale * 1000000) AS BIGINT) AS scale_e6,
       CAST(list_sum(q) AS BIGINT) AS sum_q,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS l1_q,
       CAST(len(list_filter(q, x -> abs(x) = 127)) AS INT) AS n_sat
FROM qq ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Semi-structured extraction — JSON props over the events stream
# ---------------------------------------------------------------------------

def q_props_extract(spark, sf_dir):
    """Extract a typed field from the events' JSON ``props`` column and
    aggregate per event type — the semi-structured projection every event
    log needs before it can feed a pipeline.

    get_json_object is a JVM expression (Jackson under codegen), so the
    extraction never leaves the executor; one shuffle for the low-
    cardinality groupBy.  Mean emitted via integer DIV (sum + count ride
    along), per the FP-parity rules."""
    e = scan(spark, sf_dir, "events", cols=["event_type", "props"], fan=True)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_k"),
        )
        .select(
            "event_type",
            "n_events",
            F.coalesce(F.col("sum_k"), F.lit(0)).alias("sum_k"),
            F.when(F.col("n_k") > 0, F.expr("sum_k DIV n_k")).alias("mean_k"),
        )
        .orderBy("event_type")
    )


SQL_PROPS_EXTRACT = """
WITH e AS (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(COALESCE(SUM(k), 0) AS BIGINT) AS sum_k,
       CASE WHEN COUNT(k) > 0
            THEN CAST(SUM(k) AS BIGINT) // COUNT(k)
            ELSE NULL END AS mean_k
FROM e GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Sessionization — gap-based session assembly over the events stream
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 1800  # 30-minute inactivity closes a session


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization: per-user event streams split into
    sessions wherever the inter-event gap exceeds 30 minutes, rolled up
    to one row per session.  The canonical event-log prep step for
    behavioral training data.

    Scale shape: ONE shuffle on user_id; both windows (lag for the gap,
    running sum for the session ordinal) and the final rollup share that
    partitioning, so Catalyst plans a single Exchange.  Timestamps are
    compared at whole-second grain (cast to long == floor epoch seconds
    on both engines) so the oracle is integer-exact."""
    from pyspark.sql.window import Window

    # events.ts is TIMESTAMP_NTZ; the session tz is pinned to UTC
    # (session.py), so unix_timestamp == DuckDB's date_part('epoch') on
    # the same naive value (ANSI forbids a direct NTZ -> BIGINT cast)
    e = scan(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp(F.col("ts")).alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    gap = F.col("es") - F.lag("es").over(w)
    is_new = F.when(gap.isNull() | (gap > _SESSION_GAP_S), 1).otherwise(0)
    seq = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        e.withColumn("session_seq", seq.cast("int"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("es").alias("start_epoch"),
            F.max("es").alias("end_epoch"),
        )
        .orderBy("user_id", "session_seq")
    )


SQL_SESSIONIZE = f"""
WITH e AS (
  -- floor to whole seconds at the source: DuckDB's epoch() is a DOUBLE
  -- with fractional seconds and its BIGINT cast ROUNDS, while Spark's
  -- unix_timestamp floors — floor here so both engines see identical es
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
), g AS (
  SELECT user_id, event_id, es,
         CASE WHEN LAG(es) OVER w IS NULL
                OR es - LAG(es) OVER w > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
), s AS (
  SELECT user_id, es,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
                                ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq
  FROM g
)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       MIN(es) AS start_epoch,
       MAX(es) AS end_epoch
FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# Perplexity-proxy quality score — deterministic bigram "language model"
# ---------------------------------------------------------------------------

# Each word bigram gets a pseudo negative-log-probability drawn from a
# deterministic hash table: nll_e4(bigram) = md5-prefix(bigram) mod 6e4,
# i.e. nll in [0, 6.0000) at e4 scale.  md5 (not mix64) because it is the
# repo's engine-neutral hash — DuckDB computes the identical table, so the
# oracle is exact (same construction as the MinHash shingle hashes).  A
# production deployment would broadcast a real KenLM-style logprob table;
# the Spark shape — per-row array fold, no shuffle, no Python — is the same.
_PPL_MOD = 60_000


def q_quality_perplexity(spark, sf_dir):
    """Per-document perplexity proxy: mean bigram NLL under the
    deterministic hash LM, emitted integer-exact (sum + count + DIV mean;
    no float crosses the engine boundary).  Lower mean_nll_e4 = more
    'predictable' text — the Gopher/CCNet-style quality gate signal."""
    d = scan(spark, sf_dir, "documents", fan=True)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    # NOT distinct: repeated bigrams re-contribute, like a real LM score
    bigrams = _word_bigrams(toks)
    nll = F.transform(
        bigrams,
        lambda s: F.pmod(digest56(s), F.lit(_PPL_MOD)),
    )
    n_bigrams = F.when(n >= 2, n - 1).otherwise(F.lit(0)).cast("int")
    sum_nll = F.when(
        n >= 2, F.aggregate(nll, F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        d.select(
            "doc_id",
            n_bigrams.alias("n_bigrams"),
            sum_nll.alias("sum_nll_e4"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_nll_e4",
            F.when(
                F.col("n_bigrams") > 0, F.expr("sum_nll_e4 DIV n_bigrams")
            ).alias("mean_nll_e4"),
        )
        .orderBy("doc_id")
    )


SQL_QUALITY_PERPLEXITY = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), b AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                     i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 14))::BIGINT
                          % {_PPL_MOD})
              ELSE [] END AS nll
  FROM t
)
SELECT doc_id,
       CAST(len(nll) AS INT) AS n_bigrams,
       CAST(COALESCE(list_sum(nll), 0) AS BIGINT) AS sum_nll_e4,
       CASE WHEN len(nll) > 0
            THEN CAST(CAST(list_sum(nll) AS BIGINT) // len(nll) AS BIGINT)
            ELSE NULL END AS mean_nll_e4
FROM b ORDER BY doc_id
"""


_FP_MOD = 1_000_000_007
_FP_BASE = 131


_FP_CHUNK = 64


def q_doc_fingerprint(spark, sf_dir):
    """Rolling polynomial content fingerprint (mod 1e9+7, base 131) — an
    order-sensitive complement to the md5 exact-dup hash.

    Memory shape: the fold walks fixed-size substr chunks (outer aggregate
    over chunk starts, inner over that chunk's <=64 chars), so a 10 MB
    document never materializes a 10M-element per-character array — the
    transient arrays are one ~160k-long chunk-start sequence and one
    64-element chunk at a time."""
    d = scan(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(_FP_CHUNK)
    )
    fp = F.aggregate(
        starts,
        F.lit(0).cast("long"),
        lambda acc, s: F.aggregate(
            F.filter(
                F.split(F.col("text").substr(s, F.lit(_FP_CHUNK)), ""),
                lambda x: x != "",
            ),
            acc,
            lambda a, x: F.pmod(a * _FP_BASE + F.ascii(x), F.lit(_FP_MOD)),
        ),
    )
    return d.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                                list_transform(list_filter(string_split(text, ''), x -> x <> ''),
                                               x -> CAST(ascii(x) AS BIGINT))),
                   (acc, x) -> (acc * {_FP_BASE} + x) % {_FP_MOD}) AS fingerprint
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payload + typed metadata (decode is stubbed in
# multimodal.py; this query exercises the schema/dispatch path)
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    d = scan(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")

    def fake_px(steps):
        return mm.DECODE_BASE_PX + (F.col("doc_id") % steps) * mm.DECODE_STEP_PX

    return d.select(
        "doc_id",
        mm.media_type_col().alias("media_type"),
        F.length(payload).alias("payload_bytes"),
        fake_px(mm.DECODE_WIDTH_STEPS).cast("int").alias("fake_width"),
        fake_px(mm.DECODE_HEIGHT_STEPS).cast("int").alias("fake_height"),
    ).orderBy("doc_id")


def _multimodal_meta_sql() -> str:
    base, step = mm.DECODE_BASE_PX, mm.DECODE_STEP_PX
    return f"""
SELECT doc_id,
       {mm.media_type_sql(sep=chr(10) + " " * 12)} AS media_type,
       CAST(strlen(text) AS INT) AS payload_bytes,
       CAST({base} + (doc_id % {mm.DECODE_WIDTH_STEPS}) * {step} AS INT) AS fake_width,
       CAST({base} + (doc_id % {mm.DECODE_HEIGHT_STEPS}) * {step} AS INT) AS fake_height
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Composed corpus-prep pipeline: quality gate -> exact dedup -> per-lang stats
# ---------------------------------------------------------------------------

def _gated_unique_docs(spark, sf_dir):
    """Corpus-prep stages (1) and (2): documents passing the length
    bounds and the stopword-ratio floor, then exact dedup keeping the
    lowest doc_id per content hash.  Columns: doc_id, lang, text,
    n_chars, n_words, n_stop."""
    d = scan(spark, sf_dir, "documents", fan=True)
    toks = _ws_tokens()
    n_stop = _n_stopwords(toks)
    n_words = F.size(toks)
    gated = d.select(
        "doc_id", "lang", "text", "n_chars", n_words.alias("n_words"),
        n_stop.alias("n_stop"),
    ).filter(
        (F.col("n_chars") >= 40)
        & (F.col("n_chars") <= 5000)
        & (F.col("n_stop") * 100 >= F.col("n_words") * 2)  # >= 2% stopwords
    )
    keepers = (
        gated.groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return gated.join(keepers, "doc_id", "left_semi")


def q_corpus_prep(spark, sf_dir):
    """The end-to-end shape of a training-data prep job, composed from
    the individual operators: (1) quality gate — length bounds and a
    stopword-ratio floor (real-language signal); (2) exact dedup keeping
    the lowest doc_id per content hash; (3) per-lang corpus stats.  All
    JVM built-ins; two shuffles total (dedup groupBy, stats groupBy)."""
    kept = _gated_unique_docs(spark, sf_dir)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


SQL_CORPUS_PREP = f"""
WITH gated AS (
  SELECT doc_id, lang, text, n_chars,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> list_contains({list(_STOPWORDS)!r}, x))) AS n_stop
  FROM documents
), ok AS (
  SELECT * FROM gated
  WHERE n_chars >= 40 AND n_chars <= 5000 AND n_stop * 100 >= n_words * 2
), keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM ok GROUP BY md5(text)
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM ok WHERE doc_id IN (SELECT doc_id FROM keepers)
GROUP BY lang ORDER BY lang
"""


def q_corpus_build_full(spark, sf_dir):
    """The capstone training-data pipeline, every stage composed: (1)
    quality gate (length bounds + stopword-ratio floor), (2) exact dedup
    keeping the min doc_id per content hash, (3) NEAR-dup drop — MinHash
    band candidates among the surviving docs, thresholded Jaccard pairs,
    connected components, keep only each cluster's min doc_id, (4)
    stratified hash-threshold sampling, (5) per-lang corpus stats.

    Shuffle budget: gate is shuffle-free, exact dedup one groupBy, the
    near-dup stage inherits the banded join, cluster resolution is the
    bounded propagation loop over PAIRS only (tiny), sampling is a
    broadcast + filter, stats one groupBy.  Each stage drops rows before
    the next pays for them — the ordering a 100-TB corpus build uses."""
    kept = _gated_unique_docs(spark, sf_dir)
    # the gate+exact-dedup survivor table is read twice below (near-dup
    # shingles, final resolution); materialize it once — the standard
    # corpus-build shape, each stage's output persisted before the next
    # (recomputing it re-ran the stopword gate + md5 groupBy per reader)
    kept = kept.localCheckpoint()
    # shape_n from the cheap base-table count (upper bound on the gate
    # survivors the bands actually see)
    cands = _minhash_candidate_pairs(
        kept.select("doc_id", _spark_shingles(F.col("text")).alias("sh")),
        shape_n=scan(spark, sf_dir, "documents").count(),
    )
    pairs = _jaccard_counts(cands).filter(_jaccard_keep()).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    near_dupes = labels.filter(F.col("doc_id") != F.col("label")).select("doc_id")
    resolved = kept.join(near_dupes, "doc_id", "left_anti")
    sample_key = F.pmod(
        digest56(F.col("doc_id").cast("string")), F.lit(10000)
    )
    rates = spark.createDataFrame(list(_SAMPLE_RATES_E4), "lang string, rate_e4 int")
    sampled = (
        resolved.join(F.broadcast(rates), "lang", "left")
        .filter(
            sample_key < F.coalesce(F.col("rate_e4"), F.lit(_SAMPLE_DEFAULT_E4))
        )
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


SQL_CORPUS_BUILD_FULL = f"""
WITH RECURSIVE gated AS (
  SELECT doc_id, lang, text, n_chars,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> list_contains({list(_STOPWORDS)!r}, x))) AS n_stop
  FROM documents
), ok AS (
  SELECT * FROM gated
  WHERE n_chars >= 40 AND n_chars <= 5000 AND n_stop * 100 >= n_words * 2
), exact_keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM ok GROUP BY md5(text)
), kept AS (
  SELECT ok.* FROM ok WHERE doc_id IN (SELECT doc_id FROM exact_keepers)
), kdocs AS (
  SELECT doc_id, text FROM kept
), {_duck_minhash_cands_ctes("kdocs")}, pairs AS (
  SELECT doc_a, doc_b FROM cands
  {_DUCK_JAC_WHERE}
), {_DUCK_REACH_CTES}, near_dupes AS (
  SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(LEAST(a, b)) <> a
), resolved AS (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM near_dupes)
), rates(lang, rate_e4) AS (
  VALUES {", ".join(f"('{k}', {v})" for k, v in _SAMPLE_RATES_E4)}
), sampled AS (
  SELECT r.* FROM resolved r LEFT JOIN rates ON r.lang = rates.lang
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 10000
        < COALESCE(rate_e4, {_SAMPLE_DEFAULT_E4})
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM sampled GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Web-corpus quality gates and filters (Gopher / C4 / CCNet style) — the
# filter battery a 100-TB pretraining corpus prep runs before tokenization.
# All outputs are integers (FP-parity rules, module docstring).
# ---------------------------------------------------------------------------

_GOPHER_MIN_WORDS = 40
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MWL_E2 = 300  # mean word length in [3, 10]
_GOPHER_MAX_MWL_E2 = 1000
_GOPHER_MIN_ALPHA_E4 = 8000  # >= 80% of words contain an alphabetic char
_GOPHER_MIN_STOP = 2  # >= 2 distinct stopwords present


def _gopher_signals():
    """The Gopher gate over the ``text`` column: (n_words, mwl_e2,
    alpha_e4, n_stop, gate) column expressions — word count, mean word
    length e2, alphabetic-word ratio e4, distinct stopwords present, and
    the boolean verdict."""
    toks = _ws_tokens()
    n_words = F.size(toks)
    mwl_e2 = F.round(
        F.lit(100.0) * F.length(F.concat_ws("", toks)) / n_words
    ).cast("bigint")
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    alpha_e4 = F.round(F.lit(10000.0) * n_alpha / n_words).cast("bigint")
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), _stopword_arr()))
    gate = (
        (n_words >= _GOPHER_MIN_WORDS)
        & (n_words <= _GOPHER_MAX_WORDS)
        & (mwl_e2 >= _GOPHER_MIN_MWL_E2)
        & (mwl_e2 <= _GOPHER_MAX_MWL_E2)
        & (alpha_e4 >= _GOPHER_MIN_ALPHA_E4)
        & (n_stop >= _GOPHER_MIN_STOP)
    )
    return n_words, mwl_e2, alpha_e4, n_stop, gate


def q_quality_gopher(spark, sf_dir):
    """Gopher-style document quality gate (Rae et al. 2021 §A1.1 rules,
    re-parameterized for the driver corpus): word-count bounds, mean word
    length bounds, alphabetic-word ratio floor, and a distinct-stopword
    floor, emitted per document with the pass/fail verdict.

    Scale shape: pure per-row JVM expressions inside whole-stage codegen
    — no shuffle at all until the presentation orderBy; at 100 TB this
    runs at scan speed and the gate verdict feeds the corpus-build
    filter (`q_corpus_build_full`) without materializing rejects."""
    d = scan(spark, sf_dir, "documents", fan=True)
    n_words, mwl_e2, alpha_e4, n_stop, gate = _gopher_signals()
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl_e2.alias("mean_word_len_e2"),
        alpha_e4.alias("alpha_ratio_e4"),
        n_stop.alias("n_stopwords_distinct"),
        gate.cast("int").alias("pass_gate"),
    ).orderBy("doc_id")


SQL_QUALITY_GOPHER = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_words,
         CAST(ROUND(100.0 * length(list_aggregate(toks, 'string_agg', ''))
                    / len(toks)) AS BIGINT) AS mean_word_len_e2,
         CAST(ROUND(10000.0 * len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                    / len(toks)) AS BIGINT) AS alpha_ratio_e4,
         CAST(len(list_filter(list_distinct(toks),
                              x -> list_contains({list(_STOPWORDS)!r}, x))) AS INT)
           AS n_stopwords_distinct
  FROM t
)
SELECT doc_id, n_words, mean_word_len_e2, alpha_ratio_e4, n_stopwords_distinct,
       CAST(n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
            AND mean_word_len_e2 BETWEEN {_GOPHER_MIN_MWL_E2} AND {_GOPHER_MAX_MWL_E2}
            AND alpha_ratio_e4 >= {_GOPHER_MIN_ALPHA_E4}
            AND n_stopwords_distinct >= {_GOPHER_MIN_STOP} AS INT) AS pass_gate
FROM m ORDER BY doc_id
"""


def q_quality_repetition(spark, sf_dir):
    """Gopher repetition signals: duplicate-word ratio (1 - distinct/total)
    and top-bigram dominance (most frequent word bigram's share of all
    bigrams).  High values flag boilerplate / keyword-stuffed documents.

    Scale shape (r7): the top-bigram count is computed PER ROW — sort the
    bigram array and fold the longest equal-run (O(L log L) JVM-local,
    fine even at the 30k-char document cap) — so the query is one
    embarrassingly parallel scan with ZERO hash Exchanges (the r6 shape
    exploded every bigram through two groupBy shuffles; the corpus-sized
    explode+shuffle bought nothing because the aggregation key is
    doc-local).  Documents with < 2 words have no bigrams and are
    excluded (both engines agree by construction)."""
    d = scan(spark, sf_dir, "documents", fan=True)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = _word_bigrams(toks)
    # longest equal-run over the sorted bigram array == max bigram
    # multiplicity; NULL-seeded prev makes the first element start run=1
    top_c = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return (
        d.select(
            "doc_id",
            n.alias("n_words"),
            F.size(F.array_distinct(toks)).alias("n_distinct"),
            top_c.alias("top_c"),
            F.size(bigrams).alias("nb"),
        )
        .filter(F.col("nb") > 0)
        .select(
            "doc_id",
            "n_words",
            F.round(
                F.lit(10000.0) * (F.col("n_words") - F.col("n_distinct")) / F.col("n_words")
            ).cast("bigint").alias("dup_word_ratio_e4"),
            F.col("top_c").cast("int").alias("top_bigram_count"),
            F.col("nb").cast("int").alias("n_bigrams"),
            F.round(F.lit(10000.0) * F.col("top_c") / F.col("nb"))
            .cast("bigint")
            .alias("top_bigram_ratio_e4"),
        )
        .orderBy("doc_id")
    )


SQL_QUALITY_REPETITION = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), b AS (
  SELECT doc_id, CAST(len(toks) AS INT) AS n_words,
         CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM t
), pb AS (
  SELECT doc_id, n_words, n_distinct, bigram, COUNT(*) AS c
  FROM b GROUP BY doc_id, n_words, n_distinct, bigram
)
SELECT doc_id, n_words,
       CAST(ROUND(10000.0 * (n_words - n_distinct) / n_words) AS BIGINT)
         AS dup_word_ratio_e4,
       CAST(MAX(c) AS INT) AS top_bigram_count,
       CAST(SUM(c) AS INT) AS n_bigrams,
       CAST(ROUND(10000.0 * MAX(c) / SUM(c)) AS BIGINT) AS top_bigram_ratio_e4
FROM pb GROUP BY doc_id, n_words, n_distinct ORDER BY doc_id
"""


_CHUNK_DROP_MIN_DOCS = 3  # C4 drops lines occurring in >= 3 documents


def _chunk_doc_freq(d):
    """C4 chunk table of a documents frame: every 16-word chunk
    (doc_id, para_idx, para, h = md5) with ``n_docs``, the number of
    distinct documents containing that chunk corpus-wide."""
    paras = _paragraphs(d).withColumn(
        "h", F.md5(F.col("para").cast("binary"))
    # the chunk table feeds the corpus-wide frequency AND the join back:
    # materialize it once (C4 pipelines persist the line/chunk table)
    ).localCheckpoint()
    freq = paras.groupBy("h").agg(F.countDistinct("doc_id").alias("n_docs"))
    return paras.join(freq, "h")


def q_line_dedup(spark, sf_dir):
    """C4-style line-grain corpus dedup (Raffel et al. 2020 §2.2: any
    line occurring in >= 3 documents across the corpus is boilerplate and
    is dropped from every document).  'Line' here is the same 16-word
    chunk `dedup_paragraph` uses (the driver corpus is single-line text;
    real documents would split on newlines with the identical pipeline).

    Output per document: chunk counts before/after the drop plus the md5
    of the surviving text reassembled in original chunk order — so the
    driver hash pins the actual reconstruction, not just the counts.

    Scale shape: groupBy chunk-hash (one shuffle, map-side combine) ->
    shuffle join back on the hash -> groupBy doc_id to reassemble.  The
    cross-corpus frequency table has one row per DISTINCT chunk, so its
    size tracks content diversity, not corpus size; no broadcast is
    assumed (at 100 TB it exceeds driver memory)."""
    flagged = _chunk_doc_freq(scan(spark, sf_dir, "documents", fan=True)).withColumn(
        "keep", F.col("n_docs") < _CHUNK_DROP_MIN_DOCS
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum(F.col("keep").cast("int")).cast("int").alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.filter(
                            F.array_sort(
                                F.collect_list(F.struct("para_idx", "para", "keep"))
                            ),
                            lambda s: s["keep"],
                        ),
                        lambda s: s["para"],
                    ),
                    " ",
                ).cast("binary")
            ).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


SQL_LINE_DEDUP = f"""
WITH {_DUCK_PARAS_CTES}, freq AS (
  SELECT md5(para) AS h, COUNT(DISTINCT doc_id) AS n_docs
  FROM paras GROUP BY md5(para)
), flagged AS (
  SELECT p.doc_id, p.para_idx, p.para, f.n_docs < {_CHUNK_DROP_MIN_DOCS} AS keep
  FROM paras p JOIN freq f ON md5(p.para) = f.h
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks,
       CAST(SUM(CAST(keep AS INT)) AS INT) AS n_kept,
       md5(COALESCE(string_agg(para, ' ' ORDER BY para_idx) FILTER (WHERE keep), ''))
         AS kept_md5
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


# PII patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repeats, \\b only.
_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_PHONE_RE = r"\+[0-9]{2}-[0-9]{3}-[0-9]{4}"


def q_pii_redact(spark, sf_dir):
    """PII detection + redaction over the corpus: count and mask emails,
    IPv4 addresses, and international phone numbers.  The driver corpus
    contains no PII, so the query synthesizes a deterministic doc_id-keyed
    PII envelope first (the same fixture-synthesis pattern pdf_layout and
    extract_synthetic use) — the detector/redactor then runs over text
    that actually exercises every pattern, and the md5 of the redacted
    text pins the exact replacement behavior.

    Scale shape: per-row regexp_extract_all / regexp_replace inside
    whole-stage codegen; zero shuffles before the presentation orderBy."""
    d = scan(spark, sf_dir, "documents")
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" contact user"), (did % 7).cast("string"), F.lit("@example.com")
    )
    ip = F.concat(
        F.lit(" from 10."), (did % 256).cast("string"),
        F.lit(".0."), (did % 100).cast("string"),
    )
    phone = F.concat(
        F.lit(" call +"), (did % 90 + 10).cast("string"),
        F.lit("-"), (did % 900 + 100).cast("string"),
        F.lit("-"), (did % 9000 + 1000).cast("string"),
    )
    env = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, email).otherwise(F.lit("")),
        F.when(did % 5 == 0, ip).otherwise(F.lit("")),
        F.when(did % 4 == 0, phone).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(env, _PII_EMAIL_RE, "[EMAIL]"),
            _PII_IPV4_RE, "[IP]",
        ),
        _PII_PHONE_RE, "[PHONE]",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(env, F.lit(_PII_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(env, F.lit(_PII_IPV4_RE), F.lit(0))).alias("n_ips"),
        F.size(F.regexp_extract_all(env, F.lit(_PII_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    ).orderBy("doc_id")


SQL_PII_REDACT = f"""
WITH env AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id % 7 AS VARCHAR)
                                          || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                                          || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN ' call +' || CAST(doc_id % 90 + 10 AS VARCHAR)
                                          || '-' || CAST(doc_id % 900 + 100 AS VARCHAR)
                                          || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                 ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_IPV4_RE}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '{_PII_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_PII_IPV4_RE}', '[IP]', 'g'),
             '{_PII_PHONE_RE}', '[PHONE]', 'g')) AS redacted_md5
FROM env ORDER BY doc_id
"""


_BENCH_MOD = 97  # docs with doc_id % 97 == 0 stand in for the eval benchmark


def _contamination(d):
    """Per-document benchmark contamination of a documents frame:
    (doc_id, n_shingles, n_contaminated, contam_e4) for every
    non-benchmark document with at least one shingle, where a shingle is
    contaminated when any benchmark document (doc_id % 97 == 0) has it.
    The benchmark's distinct shingles are the broadcast side."""
    # materialize the shingle table once: both branches (benchmark set,
    # corpus side) consume it, and the size(sh) predicate would
    # otherwise push below the fan-out repartition and re-derive the
    # shingles on the unsplit scan
    sh = d.select("doc_id", _spark_shingles(F.col("text")).alias("sh")).localCheckpoint()
    bench_sh = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode("sh").alias("sh"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ex = sh.filter((F.col("doc_id") % _BENCH_MOD != 0) & (F.size("sh") > 0)).select(
        "doc_id", F.explode("sh").alias("sh")
    )
    return (
        ex.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("int").alias("n_contaminated"),
        )
        .withColumn(
            "contam_e4",
            F.round(F.lit(10000.0) * F.col("n_contaminated") / F.col("n_shingles"))
            .cast("bigint"),
        )
    )


def q_contamination_check(spark, sf_dir):
    """Benchmark-contamination screen: for every corpus document, the
    fraction of its distinct word bigrams that also appear in the eval
    benchmark set (docs with doc_id % 97 == 0 stand in for the held-out
    suite).  The standard pre-training decontamination pass (GPT-3
    App. C / PaLM-style n-gram overlap), at the bigram grain the shared
    shingle helper already provides.

    Scale shape: the benchmark n-gram set is tiny relative to the corpus
    (eval suites are MBs, the corpus is TBs), so it is explicitly
    F.broadcast — the corpus side never shuffles; one groupBy(doc_id)
    aggregates the hit counts."""
    return _contamination(scan(spark, sf_dir, "documents", fan=True)).orderBy("doc_id")


SQL_CONTAMINATION_CHECK = f"""
WITH sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(c="text")} AS sh FROM documents
), bench AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % {_BENCH_MOD} = 0
), ex AS (
  SELECT doc_id, unnest(sh) AS g FROM sh
  WHERE doc_id % {_BENCH_MOD} <> 0 AND len(sh) > 0
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_shingles,
       CAST(SUM(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END) AS INT)
         AS n_contaminated,
       CAST(ROUND(10000.0 * SUM(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS contam_e4
FROM ex GROUP BY doc_id ORDER BY doc_id
"""


def q_corpus_mix_weights(spark, sf_dir):
    """Corpus mixing table: per (source, lang) document and word counts,
    each group's share of the corpus, and the uniform-target resampling
    weight (corpus_docs / (n_groups * group_docs)) — the numbers a
    data-mixing stage needs to rebalance sources before training.

    Scale shape: ONE groupBy pass over the corpus (map-side combine);
    the corpus totals come from an unpartitioned window over the grouped
    result — whose cardinality is bounded by #sources x #langs, never by
    corpus size, so the single-partition exchange moves only the tiny
    dimension table.  (A crossJoin against a separately aggregated totals
    row was rejected: Catalyst does not share the subplan, so it scanned
    and group-shuffled the corpus twice.)"""
    from pyspark.sql.window import Window

    d = scan(spark, sf_dir, "documents")
    grp = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_ws_tokens())).alias("total_words"),
    )
    w = Window.partitionBy()  # bounded: one row per (source, lang)
    corpus_docs = F.sum("n_docs").over(w)
    n_groups = F.count(F.lit(1)).over(w)
    return (
        grp.select(
            "source",
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("total_words").cast("bigint").alias("total_words"),
            F.round(F.lit(1000000.0) * F.col("n_docs") / corpus_docs)
            .cast("bigint")
            .alias("share_e6"),
            F.round(
                F.lit(1000000.0) * corpus_docs / (n_groups * F.col("n_docs"))
            )
            .cast("bigint")
            .alias("uniform_weight_e6"),
        )
        .orderBy("source", "lang")
    )


SQL_CORPUS_MIX_WEIGHTS = """
WITH grp AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS total_words
  FROM documents GROUP BY source, lang
), tot AS (
  SELECT SUM(n_docs) AS corpus_docs, COUNT(*) AS n_groups FROM grp
)
SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_words AS BIGINT) AS total_words,
       CAST(ROUND(1000000.0 * n_docs / corpus_docs) AS BIGINT) AS share_e6,
       CAST(ROUND(1000000.0 * corpus_docs / (n_groups * n_docs)) AS BIGINT)
         AS uniform_weight_e6
FROM grp, tot ORDER BY source, lang
"""


_VOCAB_TOPK = 200


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: the top-K tokens by corpus-wide frequency with
    doc-frequency alongside — the table a tokenizer-training or
    stopword-inference stage starts from.

    Scale shape: explode -> groupBy(token) with map-side partial
    aggregation (shuffle volume is bounded by DISTINCT tokens per
    partition, not corpus tokens), then TakeOrdered for the top-K — never
    a global sort of the full vocabulary."""
    d = scan(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(_ws_tokens()).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("token"))
        .limit(_VOCAB_TOPK)
    )


SQL_VOCAB_TOPK = f"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
)
SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM t GROUP BY token ORDER BY tf DESC, token LIMIT {_VOCAB_TOPK}
"""


def q_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: the declared ``lang`` label vs the
    n-gram language-ID prediction (the same shared lang_id_expr the
    `lang_id` query uses), with per-cell document counts — the evaluation
    table that calibrates the classifier before it gates a corpus.

    Scale shape: per-row JVM prediction inside codegen, then one
    groupBy((lang, lang_pred)) whose cardinality is #langs^2 — the
    shuffle moves only the matrix cells after map-side combine."""
    from .textanalysis import lang_id_expr

    d = scan(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id_expr(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


def _lang_confusion_sql() -> str:
    from .textanalysis import lang_id_sql_expr

    return f"""
WITH p AS (
  SELECT lang, {lang_id_sql_expr('text')} AS lang_pred FROM documents
)
SELECT lang, lang_pred, COUNT(*) AS n_docs
FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""


SQL_LANG_CONFUSION = _lang_confusion_sql()


_SHARD_TOKEN_BUDGET = 2000
_EXPORT_CONTAM_MAX_E4 = 2500


def _export_docs(spark, sf_dir):
    """The documents corpus_export_shards packs: (doc_id, lang, n_tokens)
    for every document that passes the Gopher gate, keeps at least one
    chunk through the C4 chunk drop (n_tokens = the kept chunks' tokens)
    and scores under _EXPORT_CONTAM_MAX_E4 benchmark contamination."""
    d = scan(spark, sf_dir, "documents", fan=True)
    gated = d.filter(_gopher_signals()[-1]).select("doc_id", "lang")

    # C4 chunk drop: frequency over the FULL corpus, drop applied to
    # gated docs; per-doc surviving token count from the kept chunks
    kept_tokens = (
        _chunk_doc_freq(d)
        .filter(F.col("n_docs") < _CHUNK_DROP_MIN_DOCS)
        .groupBy("doc_id")
        .agg(F.sum(F.size(F.split(F.col("para"), " "))).cast("bigint").alias("n_tokens"))
    )

    # decontamination: original-text bigrams vs the benchmark set
    contam = (
        _contamination(d)
        .filter(F.col("contam_e4") < _EXPORT_CONTAM_MAX_E4)
        .select("doc_id")
    )
    return gated.join(kept_tokens, "doc_id").join(contam, "doc_id")


def q_corpus_export_shards(spark, sf_dir):
    """Capstone #2 — the EXPORT side of corpus prep: Gopher quality gate
    -> C4 chunk-grain boilerplate drop (corpus-wide frequency) ->
    benchmark decontamination -> deterministic token-budget shard packing
    (per-lang running token total, shard = cum_before // budget), emitting
    per-shard document and token counts.  This is the stage that turns a
    filtered corpus into the fixed-size shards a training run streams.

    Scale shape: the gate is per-row and rides the paragraph scan; chunk
    frequency is the line_dedup shape (groupBy hash + join back);
    decontamination broadcasts the benchmark n-gram set; shard packing
    and the final rollup SHARE one lang partitioning (window then
    groupBy(lang, shard)).  Two scans of documents total (chunk branch +
    shingle branch).  At 10^12 docs the doc_id packing order is the
    ingest order, so shards are append-stable: adding documents never
    re-packs existing shards."""
    export = _export_docs(spark, sf_dir)
    cum_before = _tokens_before("lang", "doc_id")
    packed = export.select(
        "lang",
        "n_tokens",
        F.floor(cum_before / _SHARD_TOKEN_BUDGET).cast("int").alias("shard_id"),
    )
    return (
        packed.groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        )
        .orderBy("lang", "shard_id")
    )


SQL_CORPUS_EXPORT_SHARDS = f"""
WITH t AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
), m AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS INT) AS n_words,
         CAST(ROUND(100.0 * length(list_aggregate(toks, 'string_agg', ''))
                    / len(toks)) AS BIGINT) AS mwl_e2,
         CAST(ROUND(10000.0 * len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                    / len(toks)) AS BIGINT) AS alpha_e4,
         CAST(len(list_filter(list_distinct(toks),
                              x -> list_contains({list(_STOPWORDS)!r}, x))) AS INT)
           AS n_stop
  FROM t
), gated AS (
  SELECT doc_id, lang FROM m
  WHERE n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
    AND mwl_e2 BETWEEN {_GOPHER_MIN_MWL_E2} AND {_GOPHER_MAX_MWL_E2}
    AND alpha_e4 >= {_GOPHER_MIN_ALPHA_E4} AND n_stop >= {_GOPHER_MIN_STOP}
), {_DUCK_PARAS_CTES}, freq AS (
  SELECT md5(para) AS h, COUNT(DISTINCT doc_id) AS n_docs
  FROM paras GROUP BY md5(para)
), kept_tokens AS (
  SELECT p.doc_id,
         CAST(SUM(len(string_split(p.para, ' '))) AS BIGINT) AS n_tokens
  FROM paras p JOIN freq f ON md5(p.para) = f.h
  WHERE f.n_docs < {_CHUNK_DROP_MIN_DOCS}
  GROUP BY p.doc_id
), shx AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(c="text")} AS sh FROM documents
), bench AS (
  SELECT DISTINCT unnest(sh) AS g FROM shx WHERE doc_id % {_BENCH_MOD} = 0
), ex AS (
  SELECT doc_id, unnest(sh) AS g FROM shx
  WHERE doc_id % {_BENCH_MOD} <> 0 AND len(sh) > 0
), contam AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           CAST(ROUND(10000.0 * SUM(CASE WHEN g IN (SELECT g FROM bench)
                                         THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS contam_e4
    FROM ex GROUP BY doc_id
  ) WHERE contam_e4 < {_EXPORT_CONTAM_MAX_E4}
), export AS (
  SELECT g.lang, g.doc_id, k.n_tokens
  FROM gated g JOIN kept_tokens k ON g.doc_id = k.doc_id
               JOIN contam c ON g.doc_id = c.doc_id
), packed AS (
  SELECT lang, n_tokens,
         CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              / {_SHARD_TOKEN_BUDGET}) AS INT) AS shard_id
  FROM export
)
SELECT lang, shard_id, CAST(COUNT(*) AS INT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
FROM packed GROUP BY lang, shard_id ORDER BY lang, shard_id
"""


def q_moving_window_stats(spark, sf_dir):
    """Per-user moving-window aggregates over the event stream: 7-row
    trailing sum / count / max of the event value, ordered by (ts,
    event_id) — the sliding-metric shape (rate limiting, anomaly
    baselines, rolling spend).

    FP parity: values go through ROUND(value*100) AS BIGINT first, so
    every windowed aggregate is integer arithmetic — frame-order
    summation cannot diverge between engines.  The timestamp is emitted
    as unix epoch seconds (`es`), not a raw TIMESTAMP: the round driver
    stringifies Spark- vs DuckDB-collected timestamps differently
    (r3 hash mismatch), and every sibling events query already converts
    at the source (e.g. asof_last_error).

    Scale shape: ONE user_id hash Exchange feeds all three frame
    aggregates (same WindowSpec), and user_id is the natural uniform key;
    a hot user would be salted upstream like the conv_id pipeline."""
    from pyspark.sql.window import Window

    e = scan(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return (
        e.select("event_id", "user_id", "ts", cents.alias("value_c"))
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp(F.col("ts")).alias("es"),
            F.sum("value_c").over(w).alias("moving7_sum_c"),
            F.count(F.lit(1)).over(w).cast("int").alias("moving7_n"),
            F.max("value_c").over(w).alias("moving7_max_c"),
        )
        .orderBy("user_id", "es", "event_id")
    )


SQL_MOVING_WINDOW_STATS = """
WITH e AS (
  SELECT event_id, user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS value_c
  FROM events
)
SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
       CAST(SUM(value_c) OVER w AS BIGINT) AS moving7_sum_c,
       CAST(COUNT(*) OVER w AS INT) AS moving7_n,
       MAX(value_c) OVER w AS moving7_max_c
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY user_id, es, event_id
"""


_FUZZY_TERM = "tble"  # a typo of the corpus token 'table'
_FUZZY_MAX_DIST = 1


def q_fuzzy_search(spark, sf_dir):
    """Typo-tolerant search: documents containing a token within
    Levenshtein distance 1 of the query term, with per-doc match counts.

    Scale shape: the edit distance runs once per DISTINCT vocabulary
    token (vocabulary ≪ corpus tokens), the surviving fuzzy-vocabulary
    set broadcasts, and the corpus side is one explode + broadcast join +
    groupBy(doc_id) — the token scan never computes a distance.  This is
    how fuzzy search actually deploys: dictionary-side expansion, not
    per-document string comparison."""
    d = scan(spark, sf_dir, "documents", fan=True)
    toks = d.select(
        "doc_id", F.explode(_ws_tokens()).alias("token")
    )
    vocab_hits = (
        toks.select("token")
        .distinct()
        .filter(F.levenshtein(F.col("token"), F.lit(_FUZZY_TERM)) <= _FUZZY_MAX_DIST)
        .withColumn("hit", F.lit(1))
    )
    return (
        toks.join(F.broadcast(vocab_hits), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_matches"),
            # comma-joined scalar, NOT array<string>: the round driver's
            # canonicalizer factorizes columns with pandas and throws
            # "unhashable type: 'list'" on array outputs (r3 crash)
            F.array_join(F.array_sort(F.collect_set("token")), ",").alias(
                "matched_tokens"
            ),
        )
        .orderBy("doc_id")
    )


SQL_FUZZY_SEARCH = f"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), vocab AS (
  SELECT DISTINCT token FROM t
  WHERE levenshtein(token, '{_FUZZY_TERM}') <= {_FUZZY_MAX_DIST}
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_matches,
       array_to_string(list_sort(list(DISTINCT token)), ',') AS matched_tokens
FROM t JOIN vocab USING (token)
GROUP BY doc_id ORDER BY doc_id
"""


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_event_type_pivot(spark, sf_dir):
    """Per-user event-type pivot: counts and cent-sums per event type as
    columns — the wide activity-profile table a feature store exports.
    The pivot value list is EXPLICIT, so Spark skips the extra
    distinct-values job and the output schema is deterministic.

    Scale shape: one groupBy(user_id) shuffle; the pivot is a conditional
    aggregation inside the same hash aggregate, not a join."""
    # NOT fanned out: the pivot is one conditional hash aggregate with
    # map-side partials — per-row work is trivial, so a fan-out shuffle
    # of the raw rows costs more than the single-task scan it replaces
    e = scan(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    piv = (
        e.select("user_id", "event_type", cents.alias("c"))
        .groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("sum_c"))
    )
    cols = [F.col("user_id")]
    for t in _EVENT_TYPES:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("int").alias(f"{t}_n"))
        cols.append(
            F.coalesce(F.col(f"{t}_sum_c"), F.lit(0)).cast("bigint").alias(f"{t}_sum_c")
        )
    return piv.select(*cols).orderBy("user_id")


SQL_EVENT_TYPE_PIVOT = f"""
SELECT user_id,
       {", ".join(
           f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS INT) AS {t}_n, "
           f"CAST(COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT)) "
           f"FILTER (WHERE event_type = '{t}'), 0) AS BIGINT) AS {t}_sum_c"
           for t in _EVENT_TYPES
       )}
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_user_value_quartiles(spark, sf_dir):
    """Spend quartiles: total cents per user, NTILE(4) over (total desc,
    user_id), then per-quartile user counts and sums — the segmentation
    rollup behind pricing/quota tiers.

    Scale shape: the event volume collapses to one row per user in the
    first groupBy (map-side combine); the ntile window then runs over the
    USER table, which is entity-bounded — at extreme user counts the same
    bucketing is a rangepartitioning pass, and the query notes that
    trade rather than hiding it."""
    from pyspark.sql.window import Window

    e = scan(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    totals = e.groupBy("user_id").agg(F.sum(cents).alias("total_c"))
    w = Window.orderBy(F.col("total_c").desc(), F.col("user_id"))
    return (
        totals.withColumn("quartile", F.ntile(4).over(w).cast("int"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_users"),
            F.sum("total_c").cast("bigint").alias("quartile_total_c"),
            F.min("total_c").cast("bigint").alias("min_total_c"),
            F.max("total_c").cast("bigint").alias("max_total_c"),
        )
        .orderBy("quartile")
    )


SQL_USER_VALUE_QUARTILES = """
WITH totals AS (
  SELECT user_id, SUM(CAST(ROUND(value * 100) AS BIGINT)) AS total_c
  FROM events GROUP BY user_id
), ranked AS (
  SELECT user_id, total_c,
         CAST(NTILE(4) OVER (ORDER BY total_c DESC, user_id) AS INT) AS quartile
  FROM totals
)
SELECT quartile, CAST(COUNT(*) AS INT) AS n_users,
       CAST(SUM(total_c) AS BIGINT) AS quartile_total_c,
       CAST(MIN(total_c) AS BIGINT) AS min_total_c,
       CAST(MAX(total_c) AS BIGINT) AS max_total_c
FROM ranked GROUP BY quartile ORDER BY quartile
"""


def q_doc_length_histogram(spark, sf_dir):
    """Log2 document-length histogram: bucket = bit width of n_chars
    (length of the binary representation — integer-exact on both engines,
    no floating log2 at power-of-two boundaries), with doc counts and
    char totals per bucket.  Scale shape: per-row integer arithmetic +
    one tiny groupBy (≤ 64 buckets)."""
    d = scan(spark, sf_dir, "documents")
    bucket = F.length(F.bin(F.col("n_chars"))).cast("int")
    return (
        d.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("log2_bucket")
    )


SQL_DOC_LENGTH_HISTOGRAM = """
SELECT CAST(length(bin(n_chars)) AS INT) AS log2_bucket,
       CAST(COUNT(*) AS INT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY length(bin(n_chars)) ORDER BY log2_bucket
"""


def q_funnel_conversion(spark, sf_dir):
    """Signup -> purchase conversion funnel: per user, the FIRST signup
    and the first purchase AT OR AFTER that signup; rolled up per signup
    day into signups, conversions, conversion rate, and median-free
    latency stats (integer seconds).

    Scale shape: one groupBy(user_id) computes the first signup
    (conditional min — no self-join for stage one); the purchase leg
    re-aggregates events filtered to purchases with a join on user_id
    against the tiny signup-users side.  Both shuffles key on user_id;
    the final rollup is day-cardinality."""
    e = scan(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("es")
    )
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("es").alias("signup_es"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "es")
    conv = (
        purchases.join(signups, "user_id")
        .filter(F.col("es") >= F.col("signup_es"))
        .groupBy("user_id", "signup_es")
        .agg(F.min("es").alias("first_purchase_es"))
    )
    day = F.to_date(F.from_unixtime(F.col("signup_es"))).alias("signup_day")
    per_user = signups.join(conv, ["user_id", "signup_es"], "left")
    return (
        per_user.groupBy(day)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_signups"),
            F.count("first_purchase_es").cast("int").alias("n_converted"),
            F.round(
                F.lit(10000.0)
                * F.count("first_purchase_es")
                / F.count(F.lit(1))
            ).cast("bigint").alias("conv_rate_e4"),
            F.sum(F.col("first_purchase_es") - F.col("signup_es"))
            .cast("bigint")
            .alias("total_latency_s"),
        )
        .orderBy("signup_day")
    )


SQL_FUNNEL_CONVERSION = """
WITH e AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
), signups AS (
  SELECT user_id, MIN(es) AS signup_es FROM e
  WHERE event_type = 'signup' GROUP BY user_id
), conv AS (
  SELECT p.user_id, s.signup_es, MIN(p.es) AS first_purchase_es
  FROM e p JOIN signups s ON p.user_id = s.user_id
  WHERE p.event_type = 'purchase' AND p.es >= s.signup_es
  GROUP BY p.user_id, s.signup_es
)
SELECT CAST(to_timestamp(s.signup_es) AS DATE) AS signup_day,
       CAST(COUNT(*) AS INT) AS n_signups,
       CAST(COUNT(c.first_purchase_es) AS INT) AS n_converted,
       CAST(ROUND(10000.0 * COUNT(c.first_purchase_es) / COUNT(*)) AS BIGINT)
         AS conv_rate_e4,
       CAST(SUM(c.first_purchase_es - c.signup_es) AS BIGINT) AS total_latency_s
FROM signups s LEFT JOIN conv c
  ON s.user_id = c.user_id AND s.signup_es = c.signup_es
GROUP BY CAST(to_timestamp(s.signup_es) AS DATE)
ORDER BY signup_day
"""


def q_dq_checks(spark, sf_dir):
    """Data-quality check battery over the warehouse tables — the
    validation pass a pipeline runs before promoting a snapshot: null
    checks, domain checks (negative quantities/prices), and referential
    checks (orphaned orders.o_custkey / lineitem.l_orderkey), one row per
    check with violation counts.

    Scale shape: null/domain checks are per-row conditional sums folded
    into ONE aggregate per table (a single scan each — never one scan per
    check); referential checks are anti-join counts on the join keys.
    The result is check-cardinality, unioned driver-side."""
    o = scan(spark, sf_dir, "orders")
    li = scan(spark, sf_dir, "lineitem")
    c = scan(spark, sf_dir, "customer")

    def one(name, cnt):
        return cnt.cast("bigint").alias(name)

    order_checks = o.agg(
        one("orders_null_custkey", F.sum(F.col("o_custkey").isNull().cast("int"))),
        one(
            "orders_nonpositive_total",
            F.sum((F.col("o_totalprice") <= 0).cast("int")),
        ),
    )
    li_checks = li.agg(
        one("lineitem_nonpositive_qty", F.sum((F.col("l_quantity") <= 0).cast("int"))),
        one(
            "lineitem_discount_range",
            F.sum(((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("int")),
        ),
    )
    orphan_orders = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
            one("orders_orphan_custkey", F.count(F.lit(1)))
        )
    )
    orphan_lines = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
            one("lineitem_orphan_orderkey", F.count(F.lit(1)))
        )
    )

    def melt(df):
        cols = df.columns
        stack = ", ".join(f"'{c}', {c}" for c in cols)
        return df.selectExpr(
            f"stack({len(cols)}, {stack}) as (check_name, violations)"
        )

    out = (
        melt(order_checks)
        .unionByName(melt(li_checks))
        .unionByName(melt(orphan_orders))
        .unionByName(melt(orphan_lines))
    )
    return out.orderBy("check_name")


SQL_DQ_CHECKS = """
WITH o AS (
  SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS orders_null_custkey,
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS orders_nonpositive_total
  FROM orders
), l AS (
  SELECT CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS lineitem_nonpositive_qty,
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS lineitem_discount_range
  FROM lineitem
), oo AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS orders_orphan_custkey
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
), ol AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS lineitem_orphan_orderkey
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
)
SELECT 'orders_null_custkey' AS check_name, orders_null_custkey AS violations FROM o
UNION ALL
SELECT 'orders_nonpositive_total', orders_nonpositive_total FROM o
UNION ALL
SELECT 'lineitem_nonpositive_qty', lineitem_nonpositive_qty FROM l
UNION ALL
SELECT 'lineitem_discount_range', lineitem_discount_range FROM l
UNION ALL
SELECT 'orders_orphan_custkey', orders_orphan_custkey FROM oo
UNION ALL
SELECT 'lineitem_orphan_orderkey', lineitem_orphan_orderkey FROM ol
ORDER BY check_name
"""


_TOPK_PER_LANG = 3


def q_topk_docs_per_lang(spark, sf_dir):
    """Top-K documents per language by length (rank window, deterministic
    (n_chars desc, doc_id) order) — the per-group top-N shape.  One lang
    Exchange; row_number + filter, never a global sort."""
    from pyspark.sql.window import Window

    d = scan(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        d.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOPK_PER_LANG)
        .select("lang", "rank", "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
        .orderBy("lang", "rank")
    )


SQL_TOPK_DOCS_PER_LANG = f"""
SELECT lang, rank, doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM (
  SELECT lang, doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY n_chars DESC, doc_id) AS INT) AS rank
  FROM documents
) WHERE rank <= {_TOPK_PER_LANG}
ORDER BY lang, rank
"""


def q_status_transitions(spark, sf_dir):
    """Event-type transition matrix: per user, consecutive event pairs
    (lag window ordered by (ts, event_id)) counted into a Markov-style
    transition table — the behavioral-model prep that turns a raw event
    log into sequence statistics.

    Scale shape: one user_id Exchange for the lag window, then a
    #types^2-cardinality groupBy with map-side combine."""
    from pyspark.sql.window import Window

    e = scan(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("es"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


SQL_STATUS_TRANSITIONS = """
WITH e AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, event_id
  FROM events
), lagged AS (
  SELECT event_type AS next_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY es, event_id)
           AS prev_type
  FROM e
)
SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM lagged WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type ORDER BY prev_type, next_type
"""


_TFIDF_TOPK = 3


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-K distinguishing terms by TF-IDF ordering — the
    keyword-extraction shape.  Ranks by tf/df (document frequency from
    the corpus-wide vocabulary), which orders identically to true TF-IDF
    for a fixed corpus since ln(N/df) is monotone in 1/df.

    FP parity: the rank key is the IEEE double quotient tf/df — division
    is exact-rounded and bit-identical across engines, and the (token)
    tie-break resolves equal quotients deterministically, so no logarithm
    (whose libm implementations may differ) ever enters the comparison.
    Outputs are the integer tf/df pair.

    Scale shape: tf explode+groupBy(doc, token); df is the vocabulary
    aggregate (distinct-doc counts, vocabulary-cardinality) joined back
    on token; rank window on doc_id."""
    from pyspark.sql.window import Window

    d = scan(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(_ws_tokens()).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf").cast("double") / F.col("df").cast("double")).desc(),
        F.col("token"),
    )
    return (
        tf.join(df, "token")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TFIDF_TOPK)
        .select(
            "doc_id",
            "rank",
            "token",
            F.col("tf").cast("int").alias("tf"),
            F.col("df").cast("int").alias("df"),
        )
        .orderBy("doc_id", "rank")
    )


SQL_TFIDF_TOPK = f"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY token
), ranked AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) DESC, tf.token
         ) AS INT) AS rank
  FROM tf JOIN df USING (token)
)
SELECT doc_id, rank, token, CAST(tf AS INT) AS tf, CAST(df AS INT) AS df
FROM ranked WHERE rank <= {_TFIDF_TOPK} ORDER BY doc_id, rank
"""


_RANGE_BUCKET_S = 3600  # 1-hour interval-join buckets


def q_range_join_bucketed(spark, sf_dir):
    """Bucketed interval join: each ERROR event joined to the session
    that CONTAINS it (ts within [session_start, session_end]), rolled up
    to error counts per session.  The interval-containment join is the
    shape Spark degrades to a nested-loop on; the scale answer is
    time-bucketing — explode each session over the hour buckets it
    spans, bucket each event once, equi-join on (user_id, bucket), and
    refine with the exact range predicate.  An event lands in exactly
    one bucket and sessions never overlap per user, so no pair dedup is
    needed.

    At 100 TB: bucket width trades explode factor (long sessions span
    more buckets) against bucket occupancy — 2x the median session
    length is the standard pick; both sides shuffle once on
    (user_id, bucket)."""
    from pyspark.sql.window import Window

    e = scan(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_timestamp("ts").alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    gap = F.col("es") - F.lag("es").over(w)
    is_new = F.when(gap.isNull() | (gap > _SESSION_GAP_S), 1).otherwise(0)
    seq = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    sessions = (
        e.withColumn("session_seq", seq.cast("int"))
        .groupBy("user_id", "session_seq")
        .agg(F.min("es").alias("start_epoch"), F.max("es").alias("end_epoch"))
    )
    B = _RANGE_BUCKET_S
    sess_b = sessions.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("start_epoch") / B).cast("bigint"),
                (F.col("end_epoch") / B).cast("bigint"),
            )
        ),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "es", ((F.col("es") / B).cast("bigint")).alias("bucket")
    )
    return (
        errors.join(sess_b, ["user_id", "bucket"])
        .filter(
            (F.col("es") >= F.col("start_epoch"))
            & (F.col("es") <= F.col("end_epoch"))
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_errors"),
            F.min("es").alias("first_error_es"),
            F.max("es").alias("last_error_es"),
        )
        .orderBy("user_id", "session_seq")
    )


SQL_RANGE_JOIN_BUCKETED = f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
), g AS (
  SELECT user_id, event_id, es,
         CASE WHEN LAG(es) OVER w IS NULL
                OR es - LAG(es) OVER w > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
), s AS (
  SELECT user_id, es,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
                                ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq
  FROM g
), sessions AS (
  SELECT user_id, session_seq, MIN(es) AS start_epoch, MAX(es) AS end_epoch
  FROM s GROUP BY user_id, session_seq
)
SELECT e.user_id, sessions.session_seq,
       CAST(COUNT(*) AS INT) AS n_errors,
       MIN(e.es) AS first_error_es,
       MAX(e.es) AS last_error_es
FROM e JOIN sessions
  ON e.user_id = sessions.user_id
 AND e.es BETWEEN sessions.start_epoch AND sessions.end_epoch
WHERE e.event_type = 'error'
GROUP BY e.user_id, sessions.session_seq
ORDER BY e.user_id, sessions.session_seq
"""


_SEMDEDUP_K = 16  # coarse clusters (k grows ~n/cluster_size in production)
_SEMDEDUP_COS = 0.35  # near-identical threshold (driver embeddings' scale)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space coarsely, compare vectors ONLY within their
    cluster, connect pairs above the cosine threshold into duplicate
    groups, and keep each group's min vec_id.  Output: every vector with
    its cluster, its duplicate-group id, and the keep verdict.

    Scale shape: assignment is one Arrow pass against the broadcast
    codebook (stored as a partition column in production); the pair join
    keys on centroid_id, so pair volume is n x cluster_size, governed by
    k — SemDeDup grows k with n to hold cluster_size constant (the same
    scaling lever as band bits).  Group resolution reuses the bounded
    min-label propagation over PAIRS only.  Deterministic codebook (16
    lowest vec_ids seed, same rule as IVF) keeps the DuckDB oracle exact.

    FP parity (r5): every engine-decisive comparison is integer-exact —
    the cluster assignment quantizes cosines to e4 integers before the
    argmax (``_assign_stage(quantize_e4=True)``) and the pair filter
    compares ``ROUND(cos * 10^4)`` against the e4 threshold, with the
    DuckDB oracle applying the identical ROUND (half-away-from-zero on
    both engines).  A last-ulp float divergence vs DuckDB
    ``list_cosine_similarity`` can therefore never flip cluster
    membership or a keep verdict — the same discipline as the
    integer-e6 PQ lookup tables."""
    import numpy as np

    from .similarity import _assign_stage, cosine, seed_vectors

    e = scan(spark, sf_dir, "embeddings")
    cents = seed_vectors(e, _SEMDEDUP_K)
    cents_unit = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    assigned = _assign_stage(e, cents_unit, quantize_e4=True)
    v = e.join(assigned, "vec_id").select("vec_id", "centroid_id", "embedding")
    a = v.alias("a")
    b = v.alias("b")
    cos_e4 = F.round(
        cosine(F.col("a.embedding"), F.col("b.embedding")) * 10000
    )
    pairs = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos_e4 >= int(round(_SEMDEDUP_COS * 10000)))
        .select(F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b"))
    )
    labels = connected_components(pairs)  # (doc_id, label) for paired vecs
    return (
        v.select("vec_id", "centroid_id")
        .join(labels.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce(F.col("label"), F.col("vec_id")).alias("group_id"),
            (F.coalesce(F.col("label"), F.col("vec_id")) == F.col("vec_id"))
            .cast("int")
            .alias("keep"),
        )
        .orderBy("vec_id")
    )


SQL_SEMANTIC_DEDUP = f"""
WITH RECURSIVE dv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM (SELECT vec_id, v FROM dv ORDER BY vec_id LIMIT {_SEMDEDUP_K})
), assigned AS (
  SELECT vec_id, v, cid FROM (
    SELECT d.vec_id, d.v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id
             ORDER BY ROUND(list_cosine_similarity(d.v, c.cv) * 10000) DESC,
                      c.cid
           ) AS rk
    FROM dv d CROSS JOIN cents c
  ) WHERE rk = 1
), pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v) * 10000)
        >= {int(round(_SEMDEDUP_COS * 10000))}
), und AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS t FROM pairs
), reach(x, y) AS (
  SELECT s, t FROM und
  UNION
  SELECT r.x, u.t FROM reach r JOIN und u ON r.y = u.s
), lbl AS (
  SELECT x AS vec_id, MIN(LEAST(x, y)) AS label FROM reach GROUP BY x
)
SELECT a.vec_id, CAST(a.cid AS INT) AS centroid_id,
       COALESCE(l.label, a.vec_id) AS group_id,
       CAST(COALESCE(l.label, a.vec_id) = a.vec_id AS INT) AS keep
FROM assigned a LEFT JOIN lbl l ON a.vec_id = l.vec_id
ORDER BY a.vec_id
"""


_PACK_SEQ_TOKENS = 512  # training context-window capacity


def q_tokenize_pack(spark, sf_dir):
    """Token-grain context-window packing — the final prep step before a
    training run: documents are laid end-to-end per language in doc_id
    order and cut into fixed 512-token sequences, with documents SPLIT
    across sequence boundaries (no padding).  Output per document: its
    token offset, the first/last sequence it lands in, and how many
    sequences it spans — the index a sequence-serving reader uses.

    Scale shape: one lang-partitioned running-sum window (doc_id order =
    ingest order, so packing is append-stable: new documents never move
    existing offsets).  At 10^12 docs the per-lang running sum is
    computed as a two-phase prefix sum (per-partition partials + a
    broadcast prefix-offset table) — the declarative window here is the
    same arithmetic with the partitioning visible to Catalyst.
    Everything after the window is per-row integer arithmetic."""
    d = scan(spark, sf_dir, "documents")
    n_tokens = F.size(_ws_tokens())
    base = d.select("lang", "doc_id", n_tokens.alias("n_tokens"))
    start = _tokens_before("lang", "doc_id").cast("bigint")
    P = _PACK_SEQ_TOKENS
    out = base.select(
        "lang",
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        start.alias("start_off"),
        F.floor(start / P).cast("int").alias("first_seq"),
        F.floor((start + F.col("n_tokens") - 1) / P).cast("int").alias("last_seq"),
    )
    return out.withColumn(
        "seq_spans", (F.col("last_seq") - F.col("first_seq") + 1).cast("int")
    ).orderBy("lang", "doc_id")


SQL_TOKENIZE_PACK = f"""
WITH base AS (
  SELECT lang, doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens
  FROM documents
), offs AS (
  SELECT lang, doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_off
  FROM base
)
SELECT lang, doc_id, n_tokens, start_off,
       CAST(FLOOR(start_off / {_PACK_SEQ_TOKENS}) AS INT) AS first_seq,
       CAST(FLOOR((start_off + n_tokens - 1) / {_PACK_SEQ_TOKENS}) AS INT)
         AS last_seq,
       CAST(FLOOR((start_off + n_tokens - 1) / {_PACK_SEQ_TOKENS})
            - FLOOR(start_off / {_PACK_SEQ_TOKENS}) + 1 AS INT) AS seq_spans
FROM offs ORDER BY lang, doc_id
"""


TRAINING_REGISTRY: dict[str, dict] = {
    "vocab_topk": {"builder": q_vocab_topk, "sql": SQL_VOCAB_TOPK},
    "tokenize_pack": {"builder": q_tokenize_pack, "sql": SQL_TOKENIZE_PACK},
    "semantic_dedup": {"builder": q_semantic_dedup, "sql": SQL_SEMANTIC_DEDUP},
    "range_join_bucketed": {
        "builder": q_range_join_bucketed,
        "sql": SQL_RANGE_JOIN_BUCKETED,
    },
    "status_transitions": {
        "builder": q_status_transitions,
        "sql": SQL_STATUS_TRANSITIONS,
    },
    "tfidf_topk": {"builder": q_tfidf_topk, "sql": SQL_TFIDF_TOPK},
    "funnel_conversion": {
        "builder": q_funnel_conversion,
        "sql": SQL_FUNNEL_CONVERSION,
    },
    "dq_checks": {"builder": q_dq_checks, "sql": SQL_DQ_CHECKS},
    "topk_docs_per_lang": {
        "builder": q_topk_docs_per_lang,
        "sql": SQL_TOPK_DOCS_PER_LANG,
    },
    "fuzzy_search": {"builder": q_fuzzy_search, "sql": SQL_FUZZY_SEARCH},
    "event_type_pivot": {
        "builder": q_event_type_pivot,
        "sql": SQL_EVENT_TYPE_PIVOT,
    },
    "user_value_quartiles": {
        "builder": q_user_value_quartiles,
        "sql": SQL_USER_VALUE_QUARTILES,
    },
    "doc_length_histogram": {
        "builder": q_doc_length_histogram,
        "sql": SQL_DOC_LENGTH_HISTOGRAM,
    },
    "moving_window_stats": {
        "builder": q_moving_window_stats,
        "sql": SQL_MOVING_WINDOW_STATS,
    },
    "corpus_export_shards": {
        "builder": q_corpus_export_shards,
        "sql": SQL_CORPUS_EXPORT_SHARDS,
    },
    "lang_confusion": {"builder": q_lang_confusion, "sql": SQL_LANG_CONFUSION},
    "quality_gopher": {"builder": q_quality_gopher, "sql": SQL_QUALITY_GOPHER},
    "quality_repetition": {
        "builder": q_quality_repetition,
        "sql": SQL_QUALITY_REPETITION,
    },
    "line_dedup": {"builder": q_line_dedup, "sql": SQL_LINE_DEDUP},
    "pii_redact": {"builder": q_pii_redact, "sql": SQL_PII_REDACT},
    "contamination_check": {
        "builder": q_contamination_check,
        "sql": SQL_CONTAMINATION_CHECK,
    },
    "corpus_mix_weights": {
        "builder": q_corpus_mix_weights,
        "sql": SQL_CORPUS_MIX_WEIGHTS,
    },
    "corpus_prep": {"builder": q_corpus_prep, "sql": SQL_CORPUS_PREP},
    "dedup_exact": {"builder": q_dedup_exact, "sql": SQL_DEDUP_EXACT},
    "dedup_ngram_jaccard": {
        "builder": q_dedup_ngram_jaccard,
        "sql": SQL_DEDUP_NGRAM_JACCARD,
    },
    "dedup_minhash_lsh": {"builder": q_dedup_minhash_lsh, "sql": SQL_DEDUP_MINHASH_LSH},
    "dedup_paragraph": {"builder": q_dedup_paragraph, "sql": SQL_DEDUP_PARAGRAPH},
    "corpus_sample": {"builder": q_corpus_sample, "sql": SQL_CORPUS_SAMPLE},
    "knn_join": {"builder": q_knn_join, "sql": SQL_KNN_JOIN},
    "dedup_cluster": {"builder": q_dedup_cluster, "sql": SQL_DEDUP_CLUSTER},
    "sessionize": {"builder": q_sessionize, "sql": SQL_SESSIONIZE},
    "props_extract": {"builder": q_props_extract, "sql": SQL_PROPS_EXTRACT},
    "embed_quantize": {"builder": q_embed_quantize, "sql": SQL_EMBED_QUANTIZE},
    "dedup_cluster_star": {"builder": q_dedup_cluster_star, "sql": SQL_DEDUP_CLUSTER},
    "asof_last_error": {"builder": q_asof_last_error, "sql": SQL_ASOF_LAST_ERROR},
    "hourly_gapfill": {"builder": q_hourly_gapfill, "sql": SQL_HOURLY_GAPFILL},
    "daily_active_users": {
        "builder": q_daily_active_users,
        "sql": SQL_DAILY_ACTIVE_USERS,
    },
    "user_retention": {"builder": q_user_retention, "sql": SQL_USER_RETENTION},
    "corpus_build_full": {
        "builder": q_corpus_build_full,
        "sql": SQL_CORPUS_BUILD_FULL,
    },
    "corpus_percentiles": {
        "builder": q_corpus_percentiles,
        "sql": SQL_CORPUS_PERCENTILES,
    },
    "dedup_embedding_cosine": {
        "builder": q_dedup_embedding_cosine,
        "sql": SQL_DEDUP_EMBEDDING_COSINE,
    },
    "ann_topk": {"builder": q_ann_topk, "sql": SQL_ANN_TOPK},
    "lang_stopword_ratio": {
        "builder": q_lang_stopword_ratio,
        "sql": SQL_LANG_STOPWORD_RATIO,
    },
    "quality_score": {"builder": q_quality_score, "sql": SQL_QUALITY_SCORE},
    "quality_perplexity": {
        "builder": q_quality_perplexity,
        "sql": SQL_QUALITY_PERPLEXITY,
    },
    "token_count": {"builder": q_token_count, "sql": SQL_TOKEN_COUNT},
    "doc_fingerprint": {"builder": q_doc_fingerprint, "sql": SQL_DOC_FINGERPRINT},
    "multimodal_meta": {"builder": q_multimodal_meta, "sql_fn": _multimodal_meta_sql},
}


# ---------------------------------------------------------------------------
# Train/val/test splitting with near-dup leakage guards — the corpus-prep
# stage after dedup: a naive per-document split leaks near-duplicate pairs
# across the train/eval boundary (the contamination mode benchmark-decontam
# cannot catch, because the "benchmark" is your own eval split).  The
# production rule: split by DUPLICATE CLUSTER, never by document.
# ---------------------------------------------------------------------------

_SPLIT_BUCKETS = 10  # md5-derived key in [0,10): 0-7 train, 8 val, 9 test
_SPLIT_TRAIN_LT = 8
_SPLIT_VAL = 8


def _spark_split_key(col):
    """Deterministic engine-neutral split key in [0, _SPLIT_BUCKETS) —
    the md5/conv idiom q_corpus_sample uses (identical across runs,
    engines, and resumes; never rand())."""
    return F.pmod(
        digest56(col.cast("string")), F.lit(_SPLIT_BUCKETS)
    )


def _sql_split_key(expr: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 14))::BIGINT"
        f" % {_SPLIT_BUCKETS}"
    )


_SPLIT_CASE_SPARK = lambda key: (  # noqa: E731
    F.when(key < _SPLIT_TRAIN_LT, F.lit("train"))
    .when(key == _SPLIT_VAL, F.lit("val"))
    .otherwise(F.lit("test"))
)


def _sql_split_case(key_expr: str) -> str:
    return (
        f"CASE WHEN ({key_expr}) < {_SPLIT_TRAIN_LT} THEN 'train' "
        f"WHEN ({key_expr}) = {_SPLIT_VAL} THEN 'val' ELSE 'test' END"
    )


def q_stratified_split(spark, sf_dir):
    """Cluster-consistent train/val/test assignment: every document is
    keyed by its near-dup CLUSTER id (connected components over the
    thresholded Jaccard pairs; singletons key by their own doc_id), and
    the split is a deterministic hash of that cluster id — so near-dup
    copies can never straddle the train/eval boundary.

    Scale shape: CC runs over PAIRS only (never the corpus); the
    assignment is one left join of labels onto the corpus plus a narrow
    md5 projection — no shuffle beyond the label join, which at 10^12
    docs co-locates when both sides are bucketed by doc_id."""
    d = scan(spark, sf_dir, "documents")
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    cluster = F.coalesce(F.col("label"), F.col("doc_id"))
    key = _spark_split_key(cluster)
    return (
        d.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            _SPLIT_CASE_SPARK(key).alias("split"),
        )
        .orderBy("doc_id")
    )


SQL_STRATIFIED_SPLIT = f"""
WITH RECURSIVE {{ctes}}, pairs AS (
  SELECT doc_a, doc_b FROM cands
  {{jac_where}}
), {_DUCK_REACH_CTES}, lbl AS (
  SELECT a AS doc_id, MIN(LEAST(a, b)) AS cluster_id FROM reach GROUP BY a
), assigned AS (
  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
)
SELECT doc_id, cluster_id,
       {_sql_split_case(_sql_split_key("cluster_id"))} AS split
FROM assigned ORDER BY doc_id
"""


def q_split_leakage_check(spark, sf_dir):
    """The leakage audit that justifies cluster-keyed splitting: count
    near-dup pairs whose two sides land in DIFFERENT splits under (a) a
    naive per-document hash split and (b) the cluster-keyed split.  The
    cluster scheme's cross count is structurally zero (both sides of any
    pair share a cluster, hence a key); the naive count is the leaked
    eval contamination a per-doc split would ship.

    Scale shape: two narrow joins of the pair list against the
    assignment (pairs ≪ corpus), one global agg — the audit costs less
    than the dedup that produced the pairs."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    d = scan(spark, sf_dir, "documents")
    cluster = F.coalesce(F.col("label"), F.col("doc_id"))
    assign = (
        d.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            _spark_split_key(F.col("doc_id")).alias("naive_key"),
            _spark_split_key(cluster).alias("cluster_key"),
        )
    )
    a = assign.select(
        F.col("doc_id").alias("doc_a"),
        F.col("naive_key").alias("na"),
        F.col("cluster_key").alias("ca"),
    )
    b = assign.select(
        F.col("doc_id").alias("doc_b"),
        F.col("naive_key").alias("nb"),
        F.col("cluster_key").alias("cb"),
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("na") != F.col("nb")).cast("bigint")).alias("naive_cross"),
            F.sum((F.col("ca") != F.col("cb")).cast("bigint")).alias("cluster_cross"),
        )
    )


SQL_SPLIT_LEAKAGE_CHECK = f"""
WITH RECURSIVE {{ctes}}, pairs AS (
  SELECT doc_a, doc_b FROM cands
  {{jac_where}}
), {_DUCK_REACH_CTES}, lbl AS (
  SELECT a AS doc_id, MIN(LEAST(a, b)) AS cluster_id FROM reach GROUP BY a
), assign AS (
  SELECT d.doc_id,
         {_sql_split_key("d.doc_id")} AS naive_key,
         {_sql_split_key("COALESCE(l.cluster_id, d.doc_id)")} AS cluster_key
  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
)
SELECT COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN a.naive_key <> b.naive_key THEN 1 ELSE 0 END) AS BIGINT)
         AS naive_cross,
       CAST(SUM(CASE WHEN a.cluster_key <> b.cluster_key THEN 1 ELSE 0 END) AS BIGINT)
         AS cluster_cross
FROM pairs JOIN assign a ON pairs.doc_a = a.doc_id
           JOIN assign b ON pairs.doc_b = b.doc_id
"""


# ---------------------------------------------------------------------------
# Vocabulary drift between corpus cohorts — the monitoring stat a rolling
# ingest pipeline runs between "corpus as of last snapshot" and "new data":
# per-token occurrence counts in each cohort, ranked by the integer-exact
# cross-product difference |c_old * N_new - c_new * N_old| (zero iff the
# token's rate is identical in both cohorts; no floating-point division).
# ---------------------------------------------------------------------------

_DRIFT_TOPK = 20


def q_vocab_drift(spark, sf_dir):
    """Top-K drifted tokens between the even-doc_id cohort ("old") and
    the odd cohort ("new").  drift = |c_old*N_new - c_new*N_old| compares
    the token's RATE across cohorts in pure integer arithmetic — the
    engine-parity-safe form of |p_old - p_new| (multiply through by
    N_old*N_new).  At production counts (c ~ 1e10, N ~ 1e12) the product
    approaches BIGINT range: rescale to rates_e6 first (same rule as the
    e6 PQ tables); at driver scales the exact form is used.

    Scale shape: one explode + one groupBy(token) with map-side partial
    aggregation; the two totals broadcast as a 1-row dim; TakeOrdered
    caps the result driver-side — no full sort."""
    d = scan(spark, sf_dir, "documents")
    cohort_new = F.col("doc_id") % 2 == 1
    toks = d.select(
        cohort_new.alias("is_new"),
        F.explode(_ws_tokens()).alias("token"),
    )
    per_tok = toks.groupBy("token").agg(
        F.sum((~F.col("is_new")).cast("bigint")).alias("c_old"),
        F.sum(F.col("is_new").cast("bigint")).alias("c_new"),
    )
    totals = per_tok.agg(
        F.sum("c_old").alias("n_old"), F.sum("c_new").alias("n_new")
    )
    drift = F.abs(
        F.col("c_old") * F.col("n_new") - F.col("c_new") * F.col("n_old")
    )
    return (
        per_tok.join(F.broadcast(totals))
        .select("token", "c_old", "c_new", drift.alias("drift"))
        .orderBy(F.col("drift").desc(), "token")
        .limit(_DRIFT_TOPK)
    )


SQL_VOCAB_DRIFT = f"""
WITH t AS (
  SELECT doc_id % 2 = 1 AS is_new,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), per_tok AS (
  SELECT token,
         CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS c_old,
         CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS c_new
  FROM t GROUP BY token
), totals AS (
  SELECT CAST(SUM(c_old) AS BIGINT) AS n_old,
         CAST(SUM(c_new) AS BIGINT) AS n_new
  FROM per_tok
)
SELECT token, c_old, c_new,
       CAST(ABS(c_old * n_new - c_new * n_old) AS BIGINT) AS drift
FROM per_tok CROSS JOIN totals
ORDER BY drift DESC, token LIMIT {_DRIFT_TOPK}
"""


# ---------------------------------------------------------------------------
# BPE merge-candidate counting — the first iteration of byte-pair-encoding
# tokenizer training (Sennrich et al. 2016), the op a tokenizer-training
# pipeline runs over the whole corpus before any merges exist.
# ---------------------------------------------------------------------------

_BPE_TOPK = 30


def q_bpe_pair_counts(spark, sf_dir):
    """Adjacent-symbol pair counts for the first BPE merge, computed the
    way tokenizer training actually scales: ONE pass builds the
    word-frequency table (vocabulary ≪ corpus tokens), then all pair
    enumeration runs over DISTINCT words weighted by their frequency —
    the corpus text is never re-scanned per pair.  Output: the top-K
    candidate merges (left symbol, right symbol, weighted count), count
    desc with a deterministic (left, right) tie-break.

    Scale shape: Exchange 1 groups the token explode into word
    frequencies; Exchange 2 groups the per-word character bigrams
    (explode bounded by Σ|word| over the VOCABULARY, not the corpus);
    the top-K folds driver-side via TakeOrdered.  At 100 TB the
    vocabulary table is millions of rows while the corpus is trillions
    of tokens — this shape is why BPE training is feasible at all."""
    d = scan(spark, sf_dir, "documents")
    d = d.filter(F.col("text").isNotNull())
    words = (
        d.select(
            F.explode(_ws_tokens(F.lower(F.col("text")))).alias("w")
        )
        .filter((F.col("w") != "") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    pair = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.struct(
                F.col("w").substr(i, F.lit(1)).alias("left_sym"),
                F.col("w").substr(i + 1, F.lit(1)).alias("right_sym"),
            ),
        )
    )
    return (
        words.select("freq", pair.alias("p"))
        .select("freq", "p.left_sym", "p.right_sym")
        .groupBy("left_sym", "right_sym")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "left_sym", "right_sym")
        .limit(_BPE_TOPK)
    )


SQL_BPE_PAIR_COUNTS = f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE text IS NOT NULL
), words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks WHERE w <> '' AND length(w) >= 2 GROUP BY w
), pairs AS (
  SELECT substr(w, CAST(i AS INT), 1) AS left_sym,
         substr(w, CAST(i AS INT) + 1, 1) AS right_sym,
         freq
  FROM words, UNNEST(range(1, length(w))) AS u(i)
)
SELECT left_sym, right_sym,
       CAST(SUM(freq) AS BIGINT) AS pair_count
FROM pairs GROUP BY left_sym, right_sym
ORDER BY pair_count DESC, left_sym, right_sym LIMIT {_BPE_TOPK}
"""


_BPE_LEARN_MERGES = 12
_BPE_VOCAB_CAP = 4096  # driver fold bound: top-V words by (freq, word)


def bpe_merges(
    word_freqs: dict[str, int], n_merges: int
) -> list[tuple[str, str, int]]:
    """Classic BPE merge loop (Sennrich et al. 2016) over a word-frequency
    table: repeatedly count adjacent symbol pairs (weighted by word
    freq, overlapping occurrences counted), merge the max-count pair
    (ties -> lexicographically smallest), rewrite left-to-right
    non-overlapping.  Pure Python and deterministic — the SAME function
    runs on the Spark driver over the distributed word count and inside
    the DuckDB VALUES-oracle generator, so the merge table is
    engine-exact by construction."""
    seqs: dict[str, tuple[str, ...]] = {w: tuple(w) for w in word_freqs}
    out: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, freq in word_freqs.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        c, left, right = min(
            (-c, l, r) for (l, r), c in counts.items()
        )
        c = -c
        out.append((left, right, c))
        for w, s in seqs.items():
            seqs[w] = _bpe_merge(s, left, right)
    return out


def _bpe_merge(s: tuple[str, ...], left: str, right: str) -> tuple[str, ...]:
    """One BPE rewrite: replace each (left, right) adjacent pair of the
    symbol sequence with left+right, scanning left-to-right
    non-overlapping."""
    if left not in s:
        return s
    merged = left + right
    ns: list[str] = []
    i = 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
            ns.append(merged)
            i += 2
        else:
            ns.append(s[i])
            i += 1
    return tuple(ns)


def _learn_merges(t) -> list:
    """Learn the merge table from transcripts ``t``: one distributed
    word-frequency pass, a TakeOrdered fold of the top _BPE_VOCAB_CAP
    words by (freq desc, word), then the merge loop on the driver."""
    words = (
        t.filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    top = words.orderBy(F.col("freq").desc(), "w").limit(_BPE_VOCAB_CAP).collect()
    return bpe_merges({r["w"]: int(r["freq"]) for r in top}, _BPE_LEARN_MERGES)


def q_bpe_learn(spark, sf_dir):
    """Full iterated BPE tokenizer training over the synthetic corpus —
    the production shape: ONE distributed pass builds the
    word-frequency table (the only corpus-scale step), a bounded
    TakeOrdered folds the top-V vocabulary to the driver, and the merge
    loop runs there over vocab only — exactly how real BPE trainers
    (subword-nmt, HF tokenizers) operate, because merge iteration
    touches the VOCABULARY, never the corpus.  Output: the learned
    merge table (step, left, right, merged symbol, weighted count).

    Scale shape: corpus cost is one explode + one groupBy Exchange; the
    driver fold is capped at _BPE_VOCAB_CAP rows by (freq desc, word) —
    a TakeOrdered, not an unbounded collect.  At 100 TB the vocab cap is
    the standard trainer knob (HF ``vocab_size``/``limit_alphabet``
    analog)."""
    merges = _learn_merges(transcripts_spark(spark, **FIXTURE))
    rows = [
        (i, l, r, l + r, c) for i, (l, r, c) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "step int, left_sym string, right_sym string, merged string, pair_count bigint",
    ).orderBy("step")


def _fixture_merges() -> list:
    """The merge table learned from the FIXTURE corpus, counted
    sequentially in pure Python (no Spark): the one word-frequency
    count both VALUES oracles (``bpe_learn``, ``bpe_encode``) share.

    Tokenization MUST match the Spark side's Java-regex ``\\s+`` (ASCII
    only: no NBSP/NEL/ideographic space) — Python re ``\\s`` is
    Unicode-aware and would silently diverge the word-frequency table on
    the first non-ASCII whitespace (the r2 whitespace invariant), so both
    sides split on ``semantics._JAVA_RE_WS_SPLIT``."""
    from .semantics import _JAVA_RE_WS_SPLIT

    freqs: dict[str, int] = {}
    for _c, _t, _role, text, *_ in transcript_rows(**FIXTURE):
        if text is None:
            continue
        for w in _JAVA_RE_WS_SPLIT.split(text.lower()):
            if w and len(w) >= 2:
                freqs[w] = freqs.get(w, 0) + 1
    top = dict(
        sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))[:_BPE_VOCAB_CAP]
    )
    return bpe_merges(top, _BPE_LEARN_MERGES)


def _bpe_learn_sql() -> str:
    """VALUES oracle: the same merge loop over the same FIXTURE corpus,
    learned by :func:`_fixture_merges`."""
    merges = _fixture_merges()

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    values = ",\n".join(
        f"({i}, {q(l)}, {q(r)}, {q(l + r)}, {c})"
        for i, (l, r, c) in enumerate(merges)
    )
    return f"""
SELECT CAST(step AS INT) AS step, left_sym, right_sym, merged,
       CAST(pair_count AS BIGINT) AS pair_count
FROM (VALUES
{values}
) AS t(step, left_sym, right_sym, merged, pair_count)
ORDER BY step
"""


TRAINING_REGISTRY.update(
    {
        "bpe_learn": {"builder": q_bpe_learn, "sql_fn": _bpe_learn_sql},
        "stratified_split": {
            "builder": q_stratified_split,
            "sql_fn": lambda: SQL_STRATIFIED_SPLIT.format(
                ctes=_duck_minhash_cands_ctes("documents"),
                jac_where=_DUCK_JAC_WHERE,
            ),
        },
        "split_leakage_check": {
            "builder": q_split_leakage_check,
            "sql_fn": lambda: SQL_SPLIT_LEAKAGE_CHECK.format(
                ctes=_duck_minhash_cands_ctes("documents"),
                jac_where=_DUCK_JAC_WHERE,
            ),
        },
        "vocab_drift": {"builder": q_vocab_drift, "sql": SQL_VOCAB_DRIFT},
        "bpe_pair_counts": {"builder": q_bpe_pair_counts, "sql": SQL_BPE_PAIR_COUNTS},
    }
)


# ---------------------------------------------------------------------------
# Shard integrity manifest — the verification artifact published next to
# exported shards: per-shard doc/token counts plus an order-independent
# content digest (XOR-fold of per-doc 56-bit md5 keys).  A consumer (or a
# re-run) recomputes the digest over what it actually read and compares —
# the cheap end-to-end integrity check for a 10^12-doc export, robust to
# row order (XOR commutes) and to engine (md5, not a JVM-only hash).
# ---------------------------------------------------------------------------


def q_shard_manifest(spark, sf_dir):
    """Per-(lang, shard) manifest over the token-budget packing: document
    count, token sum, and the XOR content digest.  Packing matches
    corpus_export_shards' append-stable rule (running per-lang token
    total, shard = cum_before // budget, doc_id order) so adding
    documents never re-digests existing shards.

    Scale shape: ONE lang-partitioned window feeds the packing and the
    groupBy(lang, shard) shares its partitioning; the digest is a
    map-side-combinable XOR aggregate — no extra shuffle, no sort."""
    d = scan(spark, sf_dir, "documents")
    n_tokens = F.size(_ws_tokens())
    digest = digest56(F.col("text"))
    cum_before = _tokens_before("lang", "doc_id")
    packed = d.select(
        "lang", "doc_id", n_tokens.alias("n_tokens"), digest.alias("digest")
    ).withColumn(
        "shard_id", F.floor(cum_before / _SHARD_TOKEN_BUDGET).cast("int")
    )
    return (
        packed.groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.expr("bit_xor(digest)").alias("content_digest"),
        )
        .orderBy("lang", "shard_id")
    )


SQL_SHARD_MANIFEST = f"""
WITH packed AS (
  SELECT lang, doc_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         ('0x' || substr(md5(text), 1, 14))::BIGINT AS digest,
         CAST(FLOOR(COALESCE(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              / {_SHARD_TOKEN_BUDGET}) AS INT) AS shard_id
  FROM documents
)
SELECT lang, shard_id,
       CAST(COUNT(*) AS INT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
       bit_xor(digest) AS content_digest
FROM packed GROUP BY lang, shard_id ORDER BY lang, shard_id
"""


TRAINING_REGISTRY.update(
    {
        "shard_manifest": {"builder": q_shard_manifest, "sql": SQL_SHARD_MANIFEST},
    }
)


# ---------------------------------------------------------------------------
# Exact-substring deduplication (ExactSubstr, Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better"): any k-token span that occurs
# more than once ACROSS THE CORPUS is removed from every document.  The
# reference implementation builds a suffix array over the concatenated
# corpus; the Spark-first equivalent below gets the same span semantics
# with shuffle-friendly primitives: rolling k-gram keys, a corpus-wide
# frequency, and a windowed coverage fold — no suffix array, no global
# sort, no driver-side text.
# ---------------------------------------------------------------------------

_ESUB_K = 8  # span length in tokens (the paper uses 50 BPE tokens; scaled
#              to the synthetic ~25-word docs the same way the other gates are)


def _esub_tokens(d):
    """documents -> (doc_id, toks): whitespace tokens of the trimmed
    text.  NULL-text docs produce no token rows in the oracle (UNNEST of
    a NULL range) and produced none in the explode-based r6 shape; the
    doc-local form must drop them explicitly or it would emit a row."""
    toks = _ws_tokens()
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id", toks.alias("toks")
    )


def _esub_grams(base):
    """(doc_id, toks) -> one (doc_id, pos, gh) row per in-doc k-gram,
    gh = the 14-hex md5 prefix of the gram's tokens joined by one space."""
    # guard: Spark sequence(0, -1) counts DOWN; docs shorter than k emit
    # no grams via an explicit empty array
    starts = F.when(
        F.size("toks") >= _ESUB_K,
        F.sequence(F.lit(0), F.size("toks") - _ESUB_K),
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.substring(
                    F.md5(
                        F.array_join(
                            F.slice(F.col("toks"), i + 1, _ESUB_K), " "
                        ).cast("binary")
                    ),
                    1,
                    14,
                ),
            )
        ).alias("pos", "gh"),
    )


def q_exact_substring_dedup(spark, sf_dir):
    """Per-document exact-substring dedup accounting: number of tokens
    covered by some duplicated k-gram, and the md5-derived digest of the
    SURVIVING token sequence (kept spans joined by one space) — the
    narrow-row form of the rewritten text, so the full rewrite is
    driver-hash-verified without shipping megabyte strings through the
    compare harness.

    Mechanics: (1) every in-doc k-gram emits (gram-hash, doc, pos);
    (2) corpus-wide occurrence counts come from ONE window count over
    the gram hash — the explode+md5 pass is computed a single time
    (the r6 groupBy + join-back shape evaluated it twice, once per join
    branch); grams with count >= 2 are duplicated — INCLUDING both
    copies, as in the paper (all occurrences are removed, which is safe
    because training text lost this way is pure repetition); (3) the
    duplicated start positions fold back to ONE narrow array per doc,
    and coverage — token at p covered iff some duplicated gram starts
    in [p-k+1, p] — plus the surviving-text digest are pure doc-local
    array expressions.  The r6 shape instead exploded every TOKEN
    through a (doc,pos) join, a coverage window and a collect_list
    groupBy — three corpus-sized Exchanges this removes outright.

    Scale shape: one Exchange on gram hash (count; a pathologically hot
    boilerplate gram would be salted into a two-level count at 100 TB —
    same semantics), one tiny Exchange on doc_id (dup starts only), one
    Exchange of the doc text for the join back.  The gram explode is
    k x corpus tokens — the same constant factor every shingle stage
    pays; grams stay 14-char hashes, never raw text."""
    from pyspark.sql.window import Window

    base = _esub_tokens(scan(spark, sf_dir, "documents", fan=True))
    grams = _esub_grams(base)
    dup_starts = (
        grams.withColumn(
            "n_occ", F.count(F.lit(1)).over(Window.partitionBy("gh"))
        )
        .filter(F.col("n_occ") >= 2)
        .select("doc_id", "pos")
    )
    dup_pos = dup_starts.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("pos")).alias("dps")
    )
    joined = base.join(dup_pos, "doc_id", "left")
    dps = F.coalesce(F.col("dps"), F.array().cast("array<int>"))
    # per-position coverage mask; |dps| is small, positions are ~doc
    # length, so the exists scan is doc-local and cheap
    covered = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 1),
        lambda p: F.exists(
            dps, lambda s: (s >= p - (_ESUB_K - 1)) & (s <= p)
        ),
    )
    kept_str = F.array_join(
        F.zip_with(
            F.col("toks"),
            covered,
            lambda t, c: F.when(~c, t),  # NULLs (covered) are skipped
        ),
        " ",
    )
    return (
        joined.select(
            "doc_id",
            F.size("toks").cast("int").alias("n_tokens"),
            F.size(F.filter(covered, lambda c: c)).cast("int").alias(
                "n_dup_tokens"
            ),
            digest56(kept_str).alias("kept_digest"),
        )
        .orderBy("doc_id")
    )


SQL_EXACT_SUBSTRING_DEDUP = f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
  FROM documents
), grams AS (
  SELECT doc_id, u.i - 1 AS pos,
         substr(md5(array_to_string(list_slice(toks, u.i, u.i + {_ESUB_K} - 1), ' ')), 1, 14) AS gh
  FROM base, UNNEST(range(1, GREATEST(n_tokens - {_ESUB_K}, -1) + 2)) AS u(i)
), dup_grams AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2
), tok_rows AS (
  SELECT b.doc_id, b.n_tokens, u.i - 1 AS pos, toks[u.i] AS tok
  FROM base b, UNNEST(range(1, n_tokens + 1)) AS u(i)
), marked AS (
  SELECT t.doc_id, t.n_tokens, t.pos, t.tok,
         MAX(CASE WHEN d.gh IS NOT NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY t.doc_id ORDER BY t.pos
                 ROWS BETWEEN {_ESUB_K - 1} PRECEDING AND CURRENT ROW) AS covered
  FROM tok_rows t
  LEFT JOIN (SELECT g.doc_id, g.pos, g.gh FROM grams g JOIN dup_grams USING (gh)) d
    ON t.doc_id = d.doc_id AND t.pos = d.pos
)
SELECT doc_id,
       CAST(MAX(n_tokens) AS INT) AS n_tokens,
       CAST(SUM(covered) AS INT) AS n_dup_tokens,
       ('0x' || substr(md5(COALESCE(array_to_string(
           list_transform(
             list_sort(list({{'pos': pos, 'tok': tok}}) FILTER (WHERE covered = 0)),
             s -> s.tok),
           ' '), '')), 1, 14))::BIGINT AS kept_digest
FROM marked GROUP BY doc_id ORDER BY doc_id
"""


TRAINING_REGISTRY.update(
    {
        "exact_substring_dedup": {
            "builder": q_exact_substring_dedup,
            "sql": SQL_EXACT_SUBSTRING_DEDUP,
        },
    }
)


# ---------------------------------------------------------------------------
# Reproducible training-order shuffle + token-budget subsampling — the two
# "assemble exactly the corpus the run will see" primitives: training order
# must be a deterministic function of content keys (re-runs and resumed
# runs see the same order — never rand()), and corpus size is fixed by a
# token budget, not a row count.
# ---------------------------------------------------------------------------

_TB_BUDGET_TOKENS = 4000  # per-lang token budget (scaled to synthetic docs)


def _shuffle_key(col):
    """56-bit md5 key — the deterministic shuffle order (uniform, content-
    keyed, identical across engines/runs/resumes)."""
    return digest56(col.cast("string"))


def q_deterministic_shuffle(spark, sf_dir):
    """Global reproducible shuffle order: rank every document by its
    md5 key (ties by doc_id).  This is the order a training run streams
    the corpus in — any re-run, resume, or engine re-derives it exactly.

    Scale shape: at 10^12 docs a global rank is ONE range-partitioned
    sort on a uniform 56-bit key (Spark's rangepartitioning sampler
    balances it); no window over a single partition, no driver sort.
    Emitting shard = key mod N instead (no rank) would avoid even that
    Exchange; the rank form is kept because downstream curriculum ops
    consume positions."""
    from pyspark.sql.window import Window

    d = scan(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", _shuffle_key(F.col("doc_id")).alias("shuffle_key")
    )
    w = Window.orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shuffle_key",
        F.row_number().over(w).alias("train_order"),
    ).orderBy("train_order")


SQL_DETERMINISTIC_SHUFFLE = """
SELECT doc_id,
       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT AS shuffle_key,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT,
                  doc_id) AS INT) AS train_order
FROM documents ORDER BY train_order
"""


def q_token_budget_sample(spark, sf_dir):
    """Token-budget subsample: walk the per-lang corpus in deterministic
    shuffle order and keep documents while the RUNNING token total
    (before the doc) stays under the language's budget — the "give me
    exactly ~N tokens per language" assembly step.  Inclusive-boundary
    rule: a doc is kept iff the total BEFORE it is under budget, so the
    budget may be exceeded by at most one document (the standard
    greedy-prefix packing, same rule as shard packing).

    Scale shape: one lang-partitioned window (running sum in key order);
    per-lang state is a single counter — no driver involvement, no
    second pass."""
    d = scan(spark, sf_dir, "documents")
    n_tokens = F.size(_ws_tokens())
    keyed = d.select(
        "doc_id", "lang", n_tokens.alias("n_tokens"),
        _shuffle_key(F.col("doc_id")).alias("k"),
    )
    cum_before = _tokens_before("lang", "k", "doc_id")
    return (
        keyed.withColumn("cum_before", cum_before.cast("bigint"))
        .filter(F.col("cum_before") < _TB_BUDGET_TOKENS)
        .select("doc_id", "lang", "n_tokens", "cum_before")
        .orderBy("doc_id")
    )


SQL_TOKEN_BUDGET_SAMPLE = f"""
WITH keyed AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT AS k
  FROM documents
), cum AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY k, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM keyed
)
SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens, cum_before
FROM cum WHERE cum_before < {_TB_BUDGET_TOKENS} ORDER BY doc_id
"""


TRAINING_REGISTRY.update(
    {
        "deterministic_shuffle": {
            "builder": q_deterministic_shuffle,
            "sql": SQL_DETERMINISTIC_SHUFFLE,
        },
        "token_budget_sample": {
            "builder": q_token_budget_sample,
            "sql": SQL_TOKEN_BUDGET_SAMPLE,
        },
    }
)


# ---------------------------------------------------------------------------
# Text normalization — the C4-style cleanup pass that runs BEFORE any
# hashing/dedup so near-identical bytes normalize to identical keys:
# strip ASCII control characters (except \t \n), collapse whitespace runs
# to one space, trim — with per-doc fix accounting so the pipeline can
# report how dirty the source was.
# ---------------------------------------------------------------------------

_CTRL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def q_text_normalize(spark, sf_dir):
    """Per-doc normalization accounting: counts of control characters
    removed and whitespace runs collapsed, plus the md5-56 digest of the
    normalized text (narrow-row verification of the full rewrite, same
    pattern as exact_substring_dedup).  Dirty input is derived
    deterministically (doc_id % 3 families inject NULs / CR runs /
    doubled spaces) since the driver corpus is already clean.

    Scale shape: pure narrow regexp transforms — zero shuffles before
    the presentation sort; at 100 TB this rides the ingest scan."""
    d = scan(spark, sf_dir, "documents")
    dirty = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("\x00\x01"), F.col("text"), F.lit("\x7f")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.regexp_replace(F.col("text"), " ", "  \r"),
        )
        .otherwise(F.col("text"))
    )
    src = d.select("doc_id", dirty.alias("t"))
    n_ctrl = F.length(F.col("t")) - F.length(
        F.regexp_replace(F.col("t"), _CTRL_CLASS, "")
    )
    stripped = F.regexp_replace(F.col("t"), _CTRL_CLASS, "")
    n_ws_runs = F.regexp_count(stripped, F.lit(r"[ \t\n\r]{2,}"))
    normalized = F.trim(F.regexp_replace(stripped, r"[ \t\n\r]+", " "))
    return src.select(
        "doc_id",
        n_ctrl.cast("int").alias("n_ctrl_removed"),
        n_ws_runs.cast("int").alias("n_ws_collapsed"),
        digest56(normalized).alias("norm_digest"),
    ).orderBy("doc_id")


SQL_TEXT_NORMALIZE = rf"""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN chr(0) || chr(1) || text || chr(127)
              WHEN doc_id % 3 = 1 THEN replace(text, ' ', '  ' || chr(13))
              ELSE text END AS t
  FROM documents
), stripped AS (
  SELECT doc_id, t,
         regexp_replace(t, '{_CTRL_CLASS}', '', 'g') AS s
  FROM src
)
SELECT doc_id,
       CAST(length(t) - length(s) AS INT) AS n_ctrl_removed,
       CAST(len(regexp_extract_all(s, '[ \t\n\r]{{2,}}')) AS INT) AS n_ws_collapsed,
       ('0x' || substr(md5(trim(regexp_replace(s, '[ \t\n\r]+', ' ', 'g'), ' ')), 1, 14))::BIGINT
         AS norm_digest
FROM stripped ORDER BY doc_id
"""


TRAINING_REGISTRY.update(
    {
        "text_normalize": {"builder": q_text_normalize, "sql": SQL_TEXT_NORMALIZE},
    }
)


# ---------------------------------------------------------------------------
# CCNet-style head/middle/tail quality buckets — the corpus is split into
# thirds by per-document LM perplexity rank (CCNet, Wenzek et al. 2020):
# "head" trains first-class, "middle" is kept with lower weight, "tail"
# is usually dropped.  Rank is EXACT (row_number on the integer-e4 NLL,
# doc_id tie-break), so the bucket boundary is engine-identical — no
# approximate percentile crosses the compare.
# ---------------------------------------------------------------------------


def q_quality_buckets(spark, sf_dir):
    """Per-doc head/middle/tail assignment by exact perplexity rank
    thirds, plus each bucket's doc count and mean NLL for the rollup the
    mix-weighting stage consumes.

    Scale shape: one global rank over (mean_nll_e4, doc_id) — a
    range-partitioned sort on an integer key, same cost class as
    deterministic_shuffle; the bucket rollup reuses the ranked rows.
    At 10^12 docs the practical variant ranks per language partition
    (CCNet buckets per language); global rank is kept here because the
    driver corpus is single-digit-languages small."""
    from pyspark.sql.window import Window

    base = q_quality_perplexity(spark, sf_dir).filter(
        F.col("mean_nll_e4").isNotNull()
    )
    w = Window.orderBy("mean_nll_e4", "doc_id")
    ranked = base.select(
        "doc_id",
        "mean_nll_e4",
        F.row_number().over(w).alias("rk"),
    )
    n_total = base.count()
    bucket = (
        F.when(F.col("rk") * 3 <= n_total, F.lit("head"))
        .when(F.col("rk") * 3 <= 2 * n_total, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.select("doc_id", "mean_nll_e4", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("mean_nll_e4").cast("bigint").alias("sum_mean_nll_e4"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("bucket")
    )


SQL_QUALITY_BUCKETS = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), b AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                     i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 14))::BIGINT
                          % {_PPL_MOD})
              ELSE [] END AS nll
  FROM t
), m AS (
  SELECT doc_id,
         CAST(CAST(list_sum(nll) AS BIGINT) // len(nll) AS BIGINT) AS mean_nll_e4
  FROM b WHERE len(nll) > 0
), ranked AS (
  SELECT doc_id, mean_nll_e4,
         ROW_NUMBER() OVER (ORDER BY mean_nll_e4, doc_id) AS rk,
         COUNT(*) OVER () AS n_total
  FROM m
), assigned AS (
  SELECT doc_id, mean_nll_e4,
         CASE WHEN rk * 3 <= n_total THEN 'head'
              WHEN rk * 3 <= 2 * n_total THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM ranked
)
SELECT bucket,
       CAST(COUNT(*) AS INT) AS n_docs,
       CAST(SUM(mean_nll_e4) AS BIGINT) AS sum_mean_nll_e4,
       MIN(doc_id) AS min_doc_id
FROM assigned GROUP BY bucket ORDER BY bucket
"""


TRAINING_REGISTRY.update(
    {
        "quality_buckets": {
            "builder": q_quality_buckets,
            "sql": SQL_QUALITY_BUCKETS,
        },
    }
)


def q_session_bounce_rate(spark, sf_dir):
    """Per-day session quality rollup over the gap-based sessions: total
    sessions started that day, single-event (bounce) sessions, the
    e4-scaled bounce rate, and mean session length in whole seconds —
    the behavioral-data health metric computed downstream of sessionize.

    FP parity: rate and mean are ROUND(x*10^4)/DIV integer forms.
    Scale shape: inherits sessionize's single user_id Exchange; the
    daily rollup regroups by day (second Exchange on a low-cardinality
    uniform key)."""
    sessions = q_sessionize(spark, sf_dir)
    day = F.date_format(
        F.to_timestamp(F.col("start_epoch")), "yyyy-MM-dd"
    )
    per_day = (
        sessions.select(
            day.alias("day"),
            (F.col("n_events") == 1).cast("int").alias("is_bounce"),
            (F.col("end_epoch") - F.col("start_epoch")).alias("dur_s"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_sessions"),
            F.sum("is_bounce").cast("int").alias("n_bounces"),
            F.sum("dur_s").cast("bigint").alias("sum_dur_s"),
        )
    )
    return per_day.select(
        "day",
        "n_sessions",
        "n_bounces",
        F.round(F.col("n_bounces") * 10000 / F.col("n_sessions"))
        .cast("bigint")
        .alias("bounce_rate_e4"),
        F.expr("sum_dur_s DIV n_sessions").alias("mean_dur_s"),
    ).orderBy("day")


SQL_SESSION_BOUNCE_RATE = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
), g AS (
  SELECT user_id, event_id, es,
         CASE WHEN LAG(es) OVER w IS NULL
                OR es - LAG(es) OVER w > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
), s AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq,
         es
  FROM g
), sess AS (
  SELECT user_id, session_seq,
         COUNT(*) AS n_events, MIN(es) AS start_epoch, MAX(es) AS end_epoch
  FROM s GROUP BY user_id, session_seq
), per_day AS (
  SELECT strftime(to_timestamp(start_epoch), '%Y-%m-%d') AS day,
         CASE WHEN n_events = 1 THEN 1 ELSE 0 END AS is_bounce,
         end_epoch - start_epoch AS dur_s
  FROM sess
)
SELECT day,
       CAST(COUNT(*) AS INT) AS n_sessions,
       CAST(SUM(is_bounce) AS INT) AS n_bounces,
       CAST(ROUND(SUM(is_bounce) * 10000.0 / COUNT(*)) AS BIGINT) AS bounce_rate_e4,
       CAST(SUM(dur_s) // COUNT(*) AS BIGINT) AS mean_dur_s
FROM per_day GROUP BY day ORDER BY day
"""


TRAINING_REGISTRY.update(
    {
        "session_bounce_rate": {
            "builder": q_session_bounce_rate,
            "sql": SQL_SESSION_BOUNCE_RATE,
        },
    }
)


# ---------------------------------------------------------------------------
# DSIR-style hashed n-gram importance weights (Xie et al. 2023, log-free
# integer variant)
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 64


def q_dsir_importance(spark, sf_dir):
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    over hashed unigram features: every token hashes into one of
    ``_DSIR_BUCKETS`` buckets (md5-prefix mod B — engine-portable), the
    target distribution is the ``lang = 'en'`` slice of the corpus, and
    each document scores the sum over its tokens of the per-bucket
    target/raw frequency ratio.  The ratio is the log-free integer
    variant ``(1e6 * cnt_target) DIV cnt_raw`` (target ⊆ raw, so each
    weight is ≤ 1e6 and integer-exact on both engines; the classic
    sum-of-log-ratios form would hinge on ln() ulp agreement between
    JVM and C, which nothing guarantees).  Output per document:
    token count, total importance score, and mean per-token weight.

    Scale shape: one explode + two groupBys; the bucket-weight table is
    B rows and BROADCAST to the per-(doc, bucket) counts, so corpus
    cost is two hash Exchanges regardless of size.  At 100 TB the
    weight numerator 1e6*cnt_target holds BIGINT headroom to ~9e12
    target tokens (ANSI overflow is loud beyond).  Bucket count is the
    standard DSIR knob (the paper uses 10^4 hashed n-gram buckets at
    CommonCrawl scale); B=64 keeps the driver-scale oracle readable."""
    d = scan(spark, sf_dir, "documents", fan=True).filter(F.col("text").isNotNull())
    toks = F.filter(
        _ws_tokens(F.lower(F.col("text"))),
        lambda x: (x != "") & (F.length(x) >= 2),
    )
    tb = d.select("doc_id", "lang", F.explode(toks).alias("w")).select(
        "doc_id",
        "lang",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 8), 16, 10)
            .cast("bigint"),
            F.lit(_DSIR_BUCKETS),
        ).alias("bucket"),
    )
    # aggregate the token stream ONCE at (doc, bucket) grain, truncate
    # lineage, and derive the corpus-wide bucket stats FROM that
    # aggregate: the explode + per-token md5 pass runs a single time
    # instead of once per consumer (bstats and db are differently-keyed
    # Exchanges, so Catalyst cannot share the subplan itself)
    db = (
        tb.groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
        .localCheckpoint()
    )
    bstats = db.groupBy("bucket").agg(
        F.sum("n_b").cast("bigint").alias("cnt_r"),
        F.sum(F.when(F.col("lang") == "en", F.col("n_b")).otherwise(0))
        .cast("bigint")
        .alias("cnt_t"),
    )
    wts = bstats.select(
        "bucket",
        F.expr("CAST((1000000 * cnt_t) DIV cnt_r AS BIGINT)").alias("weight_e6"),
    )
    return (
        db.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n_b").cast("bigint").alias("n_tokens"),
            F.sum(F.col("n_b") * F.col("weight_e6"))
            .cast("bigint")
            .alias("score_e6"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "score_e6",
            F.expr("CAST(score_e6 DIV n_tokens AS BIGINT)").alias(
                "avg_weight_e6"
            ),
        )
        .orderBy("doc_id")
    )


SQL_DSIR_IMPORTANCE = f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            x -> x <> '' AND length(x) >= 2)) AS w
  FROM documents WHERE text IS NOT NULL
), tb AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(w), 1, 8))::BIGINT % {_DSIR_BUCKETS} AS bucket
  FROM tok
), bstats AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt_r,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t
  FROM tb GROUP BY bucket
), w AS (
  SELECT bucket, CAST((1000000 * cnt_t) // cnt_r AS BIGINT) AS weight_e6
  FROM bstats
), db AS (
  SELECT doc_id, lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_b
  FROM tb GROUP BY doc_id, lang, bucket
)
SELECT db.doc_id, db.lang,
       CAST(SUM(n_b) AS BIGINT) AS n_tokens,
       CAST(SUM(n_b * weight_e6) AS BIGINT) AS score_e6,
       CAST(SUM(n_b * weight_e6) // SUM(n_b) AS BIGINT) AS avg_weight_e6
FROM db JOIN w USING (bucket)
GROUP BY db.doc_id, db.lang
ORDER BY db.doc_id
"""


# ---------------------------------------------------------------------------
# Add-one-smoothed bigram LM fluency score (KenLM-style perplexity proxy,
# integer-exact)
# ---------------------------------------------------------------------------

def q_ngram_lm_score(spark, sf_dir):
    """Count-based bigram language-model fluency score: train add-one-
    smoothed bigram conditionals on the whole corpus, then score each
    document by its mean conditional probability — the integer-exact
    stand-in for KenLM perplexity filtering (CCNet's quality signal).
    Each conditional is ``(1e6 * (cnt(w1,w2) + 1)) DIV (cnt(w1) + V)``
    (V = vocabulary size), so both engines sum identical BIGINTs and
    the usual float-log-domain drift cannot occur.

    Scale shape: one posexplode pass feeding a single ``lead`` window
    on (doc_id, pos), and EVERY count table derives from that one
    windowed stream — each token appears exactly once as w1 (doc-final
    tokens carry w2 IS NULL), so cnt1/vocab/cnt2 all consume the same
    window child and Spark's ReuseExchange collapses the corpus cost
    to one scan + one doc_id Exchange read three ways.  The count
    tables then join on their natural keys (shuffle joins on
    w1 / (w1, w2): the model tables are vocabulary-sized — measured
    flat over 10x corpus growth in BENCH/NGRAM_LM_SCALE.md — far
    smaller than the corpus but too big to assume broadcastable at
    100 TB); V is a 1-row broadcast.  Docs with < 2 tokens have no
    bigrams and drop out (both engines)."""
    from pyspark.sql.window import Window

    d = scan(spark, sf_dir, "documents", fan=True).filter(F.col("text").isNotNull())
    toks_arr = _lower_words()
    tok = d.select("doc_id", F.posexplode(toks_arr).alias("pos", "w"))
    wlead = Window.partitionBy("doc_id").orderBy("pos")
    big0 = tok.select(
        "doc_id",
        F.col("w").alias("w1"),
        F.lead("w").over(wlead).alias("w2"),
    )
    # unigram counts off the SAME windowed stream: each token is w1 in
    # exactly one row (the document's last token has w2 IS NULL)
    cnt1 = big0.groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt1")
    )
    vocab_n = big0.select(F.countDistinct("w1").cast("bigint").alias("v"))
    big = big0.filter(F.col("w2").isNotNull())
    cnt2 = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt2")
    )
    db = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    )
    j = (
        db.join(cnt2, ["w1", "w2"])
        .join(cnt1, "w1")
        .crossJoin(F.broadcast(vocab_n))
        .withColumn(
            "cond_e6",
            F.expr("CAST((1000000 * (cnt2 + 1)) DIV (cnt1 + v) AS BIGINT)"),
        )
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("n_occ") * F.col("cond_e6"))
            .cast("bigint")
            .alias("sum_cond_e6"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_cond_e6",
            F.expr("CAST(sum_cond_e6 DIV n_bigrams AS BIGINT)").alias(
                "avg_cond_e6"
            ),
        )
        .orderBy("doc_id")
    )


SQL_NGRAM_LM_SCORE = """
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
), tok AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INT)] AS w
  FROM d, UNNEST(range(1, len(toks) + 1)) AS u(i)
), cnt1 AS (
  SELECT w AS w1, CAST(COUNT(*) AS BIGINT) AS cnt1 FROM tok GROUP BY w
), vocab AS (
  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM tok
), big AS (
  SELECT doc_id, w AS w1,
         LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
), bigf AS (
  SELECT * FROM big WHERE w2 IS NOT NULL
), cnt2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt2 FROM bigf GROUP BY w1, w2
), db AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM bigf GROUP BY doc_id, w1, w2
), j AS (
  SELECT db.doc_id, db.n_occ,
         CAST((1000000 * (cnt2.cnt2 + 1)) // (cnt1.cnt1 + vocab.v) AS BIGINT)
           AS cond_e6
  FROM db JOIN cnt2 USING (w1, w2) JOIN cnt1 USING (w1) CROSS JOIN vocab
)
SELECT doc_id,
       CAST(SUM(n_occ) AS BIGINT) AS n_bigrams,
       CAST(SUM(n_occ * cond_e6) AS BIGINT) AS sum_cond_e6,
       CAST(SUM(n_occ * cond_e6) // SUM(n_occ) AS BIGINT) AS avg_cond_e6
FROM j GROUP BY doc_id ORDER BY doc_id
"""


TRAINING_REGISTRY.update(
    {
        "dsir_importance": {
            "builder": q_dsir_importance,
            "sql": SQL_DSIR_IMPORTANCE,
        },
        "ngram_lm_score": {
            "builder": q_ngram_lm_score,
            "sql": SQL_NGRAM_LM_SCORE,
        },
    }
)


# ---------------------------------------------------------------------------
# BPE apply: encode the corpus with the learned merge table
# ---------------------------------------------------------------------------

def bpe_apply(word: str, merges) -> tuple[str, ...]:
    """Encode one word with a learned merge table: apply each merge in
    learned ORDER, rewriting the symbol sequence left-to-right
    non-overlapping — the same ``_bpe_merge`` step ``bpe_merges``
    learns with, and the exact apply rule of subword-nmt/HF
    tokenizers for an ordered merge list.  Pure and deterministic: the
    SAME function runs inside the Spark Arrow stage and in the DuckDB
    VALUES-oracle generator."""
    s: tuple[str, ...] = tuple(word)
    for left, right in merges:
        s = _bpe_merge(s, left, right)
    return s


def _transcript_bpe_row(pairs, conv_id, turn_idx, text):
    """One turn's encode row (shared by the Spark Arrow stage and the
    VALUES oracle): tokenize with the Java-``\\s+`` ASCII split (r2
    whitespace invariant), encode every non-empty token with the ordered
    merge ``pairs``, emit word and symbol counts plus the md5-56 digest
    of the U+001F-joined symbol stream."""
    from .semantics import _JAVA_RE_WS_SPLIT, md5_56

    toks = [w for w in _JAVA_RE_WS_SPLIT.split(text.lower()) if w]
    syms = [s for w in toks for s in bpe_apply(w, pairs)]
    digest = md5_56("\x1f".join(syms).encode("utf-8", errors="surrogatepass"))
    return conv_id, turn_idx, len(toks), len(syms), digest


def q_bpe_encode(spark, sf_dir):
    """Apply the learned BPE merge table to the whole corpus — the
    encode half of tokenizer training (``bpe_learn`` is the train
    half): learn the merge table exactly as ``q_bpe_learn`` does (one
    distributed word-frequency pass, capped TakeOrdered vocab fold,
    driver merge loop), then broadcast the tiny ordered merge list
    into an Arrow-batched Python stage that encodes every turn.
    Output per turn: word count, post-merge symbol count, and the
    md5-56 digest of the symbol stream (wide values ship as digests —
    driver-schema rule).

    Scale shape: the encode pass is embarrassingly parallel — zero
    Exchanges after the scan (the ORDER BY is presentation-only); the
    merge table rides the closure (12 merges here; real tokenizers are
    ~50k entries, still a broadcast-sized list).  At 100 TB this is the
    canonical tokenize-the-corpus stage: corpus cost is one Arrow
    pass, and the learn phase's corpus cost is the one word-count
    Exchange measured under ``bpe_learn``."""
    from .schemas import map_rows

    t = transcripts_spark(spark, **FIXTURE)
    pairs = [(left, right) for left, right, _ in _learn_merges(t)]

    def encode(conv_id, turn_idx, text):
        yield _transcript_bpe_row(pairs, conv_id, turn_idx, text)

    return map_rows(
        t.filter(F.col("text").isNotNull()).select("conv_id", "turn_idx", "text"),
        encode,
        "conv_id string, turn_idx int, n_words int, n_symbols int, "
        "symbols_digest bigint",
    ).orderBy("conv_id", "turn_idx")


def _bpe_encode_sql() -> str:
    """VALUES oracle: learn the merge table and encode every turn in
    pure sequential Python over the FIXTURE rows (same
    tokenization, same ``bpe_merges``, same ``bpe_apply``, same md5-56
    digest helper), regenerated at call time so it tracks semantics
    automatically."""
    pairs = [(left, right) for left, right, _ in _fixture_merges()]
    rows = [
        _transcript_bpe_row(pairs, c, t, text)
        for c, t, _role, text, *_ in transcript_rows(**FIXTURE)
        if text is not None
    ]

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    values = ",\n".join(
        f"({q(c)}, {i}, {nw}, {ns}, {dg})" for c, i, nw, ns, dg in rows
    )
    return f"""
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
       CAST(n_words AS INT) AS n_words,
       CAST(n_symbols AS INT) AS n_symbols,
       CAST(symbols_digest AS BIGINT) AS symbols_digest
FROM (VALUES
{values}
) AS t(conv_id, turn_idx, n_words, n_symbols, symbols_digest)
ORDER BY conv_id, turn_idx
"""


TRAINING_REGISTRY.update(
    {
        "bpe_encode": {"builder": q_bpe_encode, "sql_fn": _bpe_encode_sql},
    }
)


# ---------------------------------------------------------------------------
# Domain-mixture sampling weights (temperature/alpha sampling) and
# curriculum staging — corpus-composition operators
# ---------------------------------------------------------------------------

def q_domain_mix(spark, sf_dir):
    """Temperature-based domain mixture weights (the multilingual /
    multi-source sampling rule of XLM-R and the GPT-3 data recipe):
    each source's sampling probability is proportional to its token
    mass raised to alpha = 0.5, which upsamples small domains relative
    to raw proportion.  Integer-exact on a parity path WITHOUT
    violating the no-ln() invariant: alpha = 0.5 is sqrt, and IEEE 754
    REQUIRES sqrt to be correctly rounded (unlike ln/log, where JVM and
    C libm may differ by ulps), so ``FLOOR(SQRT(n_tokens) * 1e6)`` is
    bit-identical on both engines; all downstream arithmetic is BIGINT
    DIV.  Output per source: doc/token counts, the raw token
    proportion, and the alpha-smoothed sampling weight (both e6).

    Scale shape: token counting never explodes — per-doc token count is
    ``size(filter(split(...)))``, JVM-side in one scan — and the only
    Exchange is the groupBy on ``source`` (partial aggregation makes it
    #domains-sized).  The totals row is a 1-row broadcast.  At 100 TB
    the output stays #domains rows; 1e6 * n_tokens holds BIGINT
    headroom to ~9e12 tokens (ANSI overflow is loud beyond)."""
    d = scan(spark, sf_dir, "documents", fan=True).filter(F.col("text").isNotNull())
    per_doc = d.select(
        "source",
        F.size(_lower_words()).cast("bigint").alias("n_tok"),
    )
    dom = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    dom = dom.withColumn(
        "s_e6",
        F.expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)"),
    )
    # #domains-sized: truncate lineage so the totals agg and the final
    # join consume this tiny table instead of re-running the corpus scan
    # twice (Catalyst does not share the subplan across the two readers)
    dom = dom.localCheckpoint()
    tot = dom.agg(
        F.expr("GREATEST(CAST(SUM(n_tokens) AS BIGINT), CAST(1 AS BIGINT))").alias(
            "tot_tok"
        ),
        F.expr("GREATEST(CAST(SUM(s_e6) AS BIGINT), CAST(1 AS BIGINT))").alias(
            "tot_s"
        ),
    )
    return (
        dom.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("CAST((1000000 * n_tokens) DIV tot_tok AS BIGINT)").alias(
                "p_raw_e6"
            ),
            F.expr("CAST((1000000 * s_e6) DIV tot_s AS BIGINT)").alias(
                "p_alpha_e6"
            ),
        )
        .orderBy("source")
    )


SQL_DOMAIN_MIX = """
WITH per_doc AS (
  SELECT source,
         CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL
), dom AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM per_doc GROUP BY source
), dom_s AS (
  SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
              AS s_e6
  FROM dom
), tot AS (
  SELECT GREATEST(CAST(SUM(n_tokens) AS BIGINT), CAST(1 AS BIGINT)) AS tot_tok,
         GREATEST(CAST(SUM(s_e6) AS BIGINT), CAST(1 AS BIGINT)) AS tot_s
  FROM dom_s
)
SELECT source, n_docs, n_tokens,
       CAST((1000000 * n_tokens) // tot_tok AS BIGINT) AS p_raw_e6,
       CAST((1000000 * s_e6) // tot_s AS BIGINT) AS p_alpha_e6
FROM dom_s CROSS JOIN tot
ORDER BY source
"""


def q_curriculum_order(spark, sf_dir):
    """Curriculum staging: assign every document to one of 4 curriculum
    stages by a difficulty proxy (mean token length, integer-e6 =
    ``(1e6 * n_chars) DIV n_tokens``), easiest stage first — the
    data-ordering step of curriculum-learning recipes.  Stages come
    from the exact difficulty CDF, NOT a global NTILE: stage =
    ``(4 * cum_below) DIV n_total`` where cum_below counts docs with
    strictly smaller difficulty, so ties always share a stage and the
    assignment is deterministic on both engines.

    Scale shape: a global NTILE/row_number would funnel the corpus
    through ONE partition (the classic global-sort scale-killer);
    instead the difficulty HISTOGRAM (distinct integer difficulty
    values — bounded, data-small) takes the single-partition running
    sum, and docs get their stage via a broadcast join back on the
    difficulty value.  Corpus cost: one scan + one histogram groupBy
    Exchange + one broadcast join; no explode, no global sort of doc
    rows (the final orderBy is presentation-only at driver scale)."""
    d = scan(spark, sf_dir, "documents", fan=True).filter(F.col("text").isNotNull())
    per_doc = d.select(
        "doc_id",
        "n_chars",
        F.size(_lower_words()).cast("bigint").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    per_doc = per_doc.select(
        "doc_id",
        F.expr("CAST((1000000 * n_chars) DIV n_tok AS BIGINT)").alias(
            "difficulty_e6"
        ),
    )
    # narrow (doc_id, difficulty) decision table read three ways below
    # (histogram, total, final join): truncate lineage so the tokenizing
    # corpus scan runs ONCE instead of three times — the guide §8
    # "decide with small rows" shape, with the small rows materialized
    per_doc = per_doc.localCheckpoint()
    hist = per_doc.groupBy("difficulty_e6").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    from pyspark.sql.window import Window

    w = (
        Window.orderBy("difficulty_e6")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = hist.select(
        "difficulty_e6",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("bigint").alias(
            "cum_below"
        ),
    )
    tot = per_doc.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    stage_map = hist.join(F.broadcast(tot)).select(
        "difficulty_e6",
        F.expr("CAST((4 * cum_below) DIV n_total AS INT)").alias("stage"),
    )
    return (
        per_doc.join(F.broadcast(stage_map), "difficulty_e6")
        .select("doc_id", "difficulty_e6", "stage")
        .orderBy("doc_id")
    )


SQL_CURRICULUM_ORDER = """
WITH per_doc0 AS (
  SELECT doc_id, n_chars,
         CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL
), per_doc AS (
  SELECT doc_id,
         CAST((1000000 * n_chars) // n_tok AS BIGINT) AS difficulty_e6
  FROM per_doc0 WHERE n_tok > 0
), hist AS (
  SELECT difficulty_e6, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM per_doc GROUP BY difficulty_e6
), cdf AS (
  SELECT difficulty_e6,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY difficulty_e6
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_below
  FROM hist
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM per_doc
), stage_map AS (
  SELECT difficulty_e6, CAST((4 * cum_below) // n_total AS INT) AS stage
  FROM cdf CROSS JOIN tot
)
SELECT per_doc.doc_id, per_doc.difficulty_e6, stage_map.stage
FROM per_doc JOIN stage_map USING (difficulty_e6)
ORDER BY per_doc.doc_id
"""


TRAINING_REGISTRY.update(
    {
        "domain_mix": {"builder": q_domain_mix, "sql": SQL_DOMAIN_MIX},
        "curriculum_order": {
            "builder": q_curriculum_order,
            "sql": SQL_CURRICULUM_ORDER,
        },
    }
)


# ---------------------------------------------------------------------------
# Quality-classifier training-set construction (the GPT-3/LLaMA fastText
# recipe: curated positives vs hash-sampled balanced negatives)
# ---------------------------------------------------------------------------

def q_classifier_trainset(spark, sf_dir):
    """Build the labeled training set for a document-quality classifier
    (the GPT-3 / LLaMA data recipe: positives = a curated high-quality
    slice, negatives = a random sample of the rest, roughly balanced).
    Positives pass an integer-exact fluency gate (``lang = 'en'``,
    >= 20 tokens, stopword density >= 0.1 as ``n_stop * 10 >= n_tok``);
    negatives are kept when a doc_id-derived md5 bucket falls under the
    balance threshold ``(1e6 * n_pos) DIV n_neg`` — deterministic on
    both engines, no RNG, approximately 1:1 by construction.  Features
    ride along per row (token count, stopword count, mean token length
    e6) so the output IS the classifier's input table.

    Scale shape: token stats stay JVM-side (``size(filter(split))`` —
    no explode); the (n_pos, n_neg) stats row is a single-row broadcast;
    negative sampling is a stateless hash filter.  No global sort or
    window anywhere, so the plan is one scan + one 1-row agg + a
    broadcast nested-loop join — shuffle-free on the corpus at any
    scale.  The exact-count alternative (rank negatives and take the
    first n_pos) needs a global row_number and is the classic
    single-partition funnel; the hash threshold trades exact balance
    for a scan-local decision."""
    d = scan(spark, sf_dir, "documents", fan=True).filter(F.col("text").isNotNull())
    toks = _lower_words()
    base = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).cast("bigint").alias("n_tok"),
        _n_stopwords(toks).cast("bigint").alias("n_stop"),
    ).filter(F.col("n_tok") > 0)
    base = base.withColumn(
        "is_pos",
        (F.col("lang") == "en")
        & (F.col("n_tok") >= 20)
        & (F.col("n_stop") * 10 >= F.col("n_tok")),
    ).withColumn(
        "bucket_e6",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
                16,
                10,
            ).cast("bigint"),
            F.lit(1_000_000),
        ),
    )
    # narrow per-doc decision table consumed twice (stats agg + final
    # filter): truncate lineage so the tokenizing scan runs once
    base = base.localCheckpoint()
    stats = base.agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("is_pos"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_neg"),
    )
    return (
        base.join(F.broadcast(stats))
        .withColumn(
            "thr_e6",
            F.expr(
                "CASE WHEN n_neg = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST((1000000 * n_pos) DIV n_neg AS BIGINT) END"
            ),
        )
        .filter(F.col("is_pos") | (F.col("bucket_e6") < F.col("thr_e6")))
        .select(
            "doc_id",
            "lang",
            F.when(F.col("is_pos"), 1).otherwise(0).cast("int").alias("label"),
            "n_tok",
            "n_stop",
            F.expr("CAST((1000000 * n_chars) DIV n_tok AS BIGINT)").alias(
                "mean_tok_len_e6"
            ),
        )
        .orderBy("doc_id")
    )


SQL_CLASSIFIER_TRAINSET = f"""
WITH base AS (
  SELECT doc_id, lang, n_chars,
         CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok,
         CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              x -> list_contains({list(_STOPWORDS)!r}, x)))
              AS BIGINT) AS n_stop
  FROM documents WHERE text IS NOT NULL
), gated AS (
  SELECT *,
         (lang = 'en' AND n_tok >= 20 AND n_stop * 10 >= n_tok) AS is_pos,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000 AS bucket_e6
  FROM base WHERE n_tok > 0
), stats AS (
  SELECT CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM gated
)
SELECT doc_id, lang,
       CAST(CASE WHEN is_pos THEN 1 ELSE 0 END AS INT) AS label,
       n_tok, n_stop,
       CAST((1000000 * n_chars) // n_tok AS BIGINT) AS mean_tok_len_e6
FROM gated CROSS JOIN stats
WHERE is_pos OR bucket_e6 <
      (CASE WHEN n_neg = 0 THEN 0 ELSE (1000000 * n_pos) // n_neg END)
ORDER BY doc_id
"""


TRAINING_REGISTRY.update(
    {
        "classifier_trainset": {
            "builder": q_classifier_trainset,
            "sql": SQL_CLASSIFIER_TRAINSET,
        },
    }
)


# ---------------------------------------------------------------------------
# Incremental near-dup screening: new batch vs persisted corpus signatures
# (the only feasible dedup shape for daily increments at 100 TB)
# ---------------------------------------------------------------------------

def q_dedup_increment(spark, sf_dir):
    """Near-dup screening of a NEW BATCH against an existing corpus —
    the production increment shape: re-deduping 100 TB from scratch per
    ingest is infeasible, so the corpus's LSH band signatures persist
    between runs and each increment joins against them.  The batch here
    is the top fifth of doc_id space (t = (4*max_id) DIV 5, id order =
    arrival order); the a-side is the FULL signature table (existing +
    batch, so within-batch duplicates are caught by the same join with
    a.doc_id < b.doc_id), the b-side only the new batch.  A confirmed
    match is exact shingle Jaccard >= 0.5 (integer test 2*inter >= union).
    Output per new doc: match counts split existing-vs-batch, the
    earliest matched doc (dup_of, NULL when unique), and the keep
    verdict.

    Scale shape: the asymmetric band join is the whole point — the
    b-side (one day's increment) is tiny next to the persisted a-side,
    and the join shuffles on data-dependent (band_idx, band_key) buckets
    only; nothing ever pairs existing x existing.  Measured
    (BENCH/INCREMENT_SCALE.md): a fixed 500-doc batch against a corpus
    growing 16x (5k -> 80k docs) holds batch-side candidate pairs
    absolutely flat (296 -> 271 -> 271) — ``minhash_band_shape``
    widening at the 8k boundary is what keeps them from curving up.
    The batch threshold is one bounded 1-row agg; the final LEFT join
    keeps unique new docs (the common case) flowing through without
    matches."""
    docs = scan(spark, sf_dir, "documents")
    n_bands, n_rows = minhash_band_shape(docs.count())
    t = int(
        docs.agg(F.expr("CAST((4 * MAX(doc_id)) DIV 5 AS BIGINT)")).collect()[
            0
        ][0]
    )
    # read four ways below: corpus bands, batch bands, new-doc spine
    # and shingle join-back
    nz = _minhash_signatures(
        scan(spark, sf_dir, "documents", fan=True)
        .select("doc_id", _spark_shingles(F.col("text")).alias("sh"))
    )
    bands_all = _minhash_bands(nz, n_bands, n_rows)
    bands_new = _minhash_bands(nz.filter(F.col("doc_id") >= t), n_bands, n_rows)
    conf = (
        _jaccard_counts(band_pairs(
            bands_all, bands_new, nz.select("doc_id", "sh"), ("doc_a", "doc_b")
        ))
        .filter(F.lit(2) * F.col("jac_num") >= F.col("jac_den"))
        .select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("other"))
    )
    newdocs = nz.filter(F.col("doc_id") >= t).select("doc_id")
    return (
        newdocs.join(conf, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("other") < t, 1).otherwise(0))
            .cast("bigint")
            .alias("n_existing_matches"),
            F.sum(F.when(F.col("other") >= t, 1).otherwise(0))
            .cast("bigint")
            .alias("n_batch_matches"),
            F.min("other").cast("bigint").alias("dup_of"),
        )
        .select(
            "doc_id",
            "n_existing_matches",
            "n_batch_matches",
            "dup_of",
            F.when(F.col("dup_of").isNull(), 1).otherwise(0).cast("int").alias(
                "keep"
            ),
        )
        .orderBy("doc_id")
    )


SQL_DEDUP_INCREMENT = f"""
WITH {{ctes}}, thr AS (
  SELECT CAST((4 * MAX(doc_id)) // 5 AS BIGINT) AS t FROM documents
), m AS (
  SELECT c.doc_b AS doc_id, c.doc_a AS other,
         len(list_intersect(c.sh_a, c.sh_b)) AS inter,
         len(c.sh_a) + len(c.sh_b) - len(list_intersect(c.sh_a, c.sh_b)) AS uni
  FROM cands c CROSS JOIN thr WHERE c.doc_b >= thr.t
), conf AS (
  SELECT doc_id, other FROM m WHERE 2 * inter >= uni
), newdocs AS (
  SELECT doc_id FROM nz CROSS JOIN thr WHERE doc_id >= thr.t
)
SELECT n.doc_id,
       CAST(SUM(CASE WHEN c.other < thr.t THEN 1 ELSE 0 END) AS BIGINT)
         AS n_existing_matches,
       CAST(SUM(CASE WHEN c.other >= thr.t THEN 1 ELSE 0 END) AS BIGINT)
         AS n_batch_matches,
       CAST(MIN(c.other) AS BIGINT) AS dup_of,
       CAST(CASE WHEN MIN(c.other) IS NULL THEN 1 ELSE 0 END AS INT) AS keep
FROM newdocs n LEFT JOIN conf c USING (doc_id) CROSS JOIN thr
GROUP BY n.doc_id
ORDER BY n.doc_id
""".format(ctes=_duck_minhash_cands_ctes("documents"))


TRAINING_REGISTRY.update(
    {
        "dedup_increment": {
            "builder": q_dedup_increment,
            "sql": SQL_DEDUP_INCREMENT,
        },
    }
)
