"""Generated DuckDB oracles for the operators whose semantics are defined
by Python constants/functions rather than by hand-written SQL.

The driver's correctness gate runs each Spark query AND an equivalent
DuckDB SQL string side-by-side.  For operators like SimHash, winnowing or
LSH the SQL is *generated from the same Python constants* the Spark path
uses (hash moduli, hyperplane coefficients, window sizes, top-k and probe
widths), read from their home module at render time, following the
``lang_id`` pattern (textanalysis.lang_id_sql_expr): the two sides share
the constants but not the execution path, so the comparison still
exercises the distributed pipeline against an independent engine.

For ``extract_synthetic`` the oracle is the pure-Python fixture oracle
itself (oracle.extract_turn), evaluated sequentially and emitted as a SQL
VALUES table: DuckDB then verifies the *distributed* run (salted
repartition -> Arrow-batched mapInArrow) reproduced the sequential
reference row-for-row — the driver-visible form of the repo's per-turn
equality contract (BASELINE.json north_rule).
"""

from __future__ import annotations

from . import multimodal as mm, similarity as sim, textanalysis as ta

# ---------------------------------------------------------------------------
# Winnowing fingerprints (textanalysis.winnow_fingerprints)
# ---------------------------------------------------------------------------


def winnow_fingerprints_sql() -> str:
    """Per-doc count + checksum of winnowing fingerprints.

    The selected fingerprint VALUES are exactly the distinct window
    minima: the rightmost-min rule and the consecutive-duplicate
    suppression only affect which *position* is recorded, never the set of
    selected hash values, so COUNT/SUM(DISTINCT wmin) mirrors the Python
    ``winnow_fingerprints`` output.  Rolling k-gram hashes are recomputed
    positionally with HUGEINT arithmetic (the modulus is 2^61-1, so the
    multiply needs >64 bits)."""
    k, w, mod, base = ta._WIN_K, ta._WIN_W, ta._WIN_MOD, ta._WIN_BASE
    return f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS n FROM documents
), kg AS (
  SELECT doc_id, i,
         list_reduce(
           list_prepend(CAST(0 AS HUGEINT),
             list_transform(range(0, {k}),
               j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS HUGEINT))),
           (acc, x) -> (acc * {base} + x) % {mod}) AS kh
  FROM d, UNNEST(range(1, n - {k} + 2)) AS u(i)
  WHERE n >= {k}
), wins AS (
  SELECT doc_id, i, kh,
         MIN(kh) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wmin,
         COUNT(*) OVER (PARTITION BY doc_id) AS nh,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS rn
  FROM kg
), valid AS (
  SELECT doc_id, wmin FROM wins WHERE rn <= nh - {w} + 1
), agg AS (
  SELECT doc_id,
         CAST(COUNT(DISTINCT wmin) AS INT) AS n_fingerprints,
         CAST(SUM(DISTINCT wmin) % 1000000007 AS BIGINT) AS fp_sum
  FROM valid GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_fingerprints, 0) AS n_fingerprints,
       COALESCE(a.fp_sum, 0) AS fp_sum
FROM d LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# SimHash near-dupes (textanalysis.simhash64 / simhash_near_dupes)
# ---------------------------------------------------------------------------


def simhash_near_dupes_sql() -> str:
    """Recompute the 64-bit SimHash per doc (md5-derived feature hashes,
    per-occurrence votes, bit set iff votes > 0), band-join on its
    SIMHASH_BAND_BITS-bit bands, confirm with exact hamming — mirroring
    textanalysis.simhash_stage + simhash_near_dupes."""
    mask = (1 << ta.SIMHASH_BAND_BITS) - 1

    def band(i, shift):
        v = f"(s.uh >> CAST({shift} AS HUGEINT))" if shift else "s.uh"
        return f"CAST(COALESCE({v} & CAST({mask} AS HUGEINT), 0) AS INT) AS band{i}"

    shifts = ta.simhash_band_shifts()
    band_cols = ",\n         ".join(band(i, s) for i, s in enumerate(shifts))
    band_structs = ",\n                 ".join(
        f"{{'band_idx': {i}, 'band_val': band{i}}}" for i in range(len(shifts))
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks
), votes AS (
  SELECT doc_id, CAST(b.b AS INT) AS bit,
         SUM(CASE WHEN (h >> CAST(b.b AS UBIGINT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) b
  GROUP BY doc_id, b.b
), sh0 AS (
  -- accumulate the 64-bit value in HUGEINT (SUM over unsigned types
  -- widens to DOUBLE and loses bits)
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0
                  THEN (CAST(1 AS HUGEINT) << CAST(bit AS HUGEINT))
                  ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS uh
  FROM votes GROUP BY doc_id
), sh AS (
  SELECT d.doc_id,
         CAST(CASE WHEN s.uh IS NULL THEN CAST(0 AS HUGEINT)
              WHEN s.uh >= CAST('9223372036854775808' AS HUGEINT)
                THEN s.uh - CAST('18446744073709551616' AS HUGEINT)
              ELSE s.uh END AS BIGINT) AS simhash,
         {band_cols}
  FROM documents d LEFT JOIN sh0 s USING (doc_id)
), bands AS (
  SELECT doc_id, simhash,
         unnest([{band_structs}], recursive := true)
  FROM sh
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cands WHERE bit_count(xor(sim_a, sim_b)) <= {ta.SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# LSH / IVF ANN (similarity.lsh_topk / ivf_topk)
# ---------------------------------------------------------------------------

def _dv(expr: str) -> str:
    return f"list_transform({expr}, x -> CAST(x AS DOUBLE))"


def lsh_signature_sql_expr(vec_expr: str, bits: int) -> str:
    """Signature bits from the SAME mix64-derived hyperplanes the Spark
    path uses (similarity._hyperplanes) — sign of plane·vec sets bit i."""
    planes = sim._hyperplanes(sim.EMB_DIM, bits)
    terms = []
    for i in range(bits):
        lit = "[" + ", ".join(repr(float(v)) for v in planes[i]) + "]"
        dot = (
            f"list_aggregate(list_transform(list_zip({vec_expr}, {lit}),"
            f" p -> p[1] * p[2]), 'sum')"
        )
        terms.append(f"CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END")
    return "(" + "\n + ".join(terms) + ")"


def ann_lsh_topk_sql() -> str:
    sig = lsh_signature_sql_expr("v", sim.LSH_BITS)
    return f"""
WITH base AS (
  SELECT vec_id, {_dv('embedding')} AS v FROM embeddings WHERE vec_id <> 0
), q AS (
  SELECT {_dv('embedding')} AS qv FROM embeddings WHERE vec_id = 0
), sigs AS (
  SELECT vec_id, v, {sig} AS sig FROM base
), qsig AS (
  SELECT {lsh_signature_sql_expr('qv', sim.LSH_BITS)} AS qs FROM q
), cand AS (
  SELECT s.vec_id, s.v FROM sigs s, qsig
  WHERE bit_count(xor(CAST(s.sig AS BIGINT), CAST(qsig.qs AS BIGINT))) <= {sim.LSH_PROBE_HAMMING}
), scored AS (
  SELECT vec_id, list_cosine_similarity(v, (SELECT qv FROM q)) AS c FROM cand
)
SELECT vec_id, CAST(ROUND(c * 10000) AS BIGINT) AS cos_e4
FROM scored ORDER BY c DESC, vec_id LIMIT {sim.ANN_K}
"""


def ann_ivf_topk_sql() -> str:
    return f"""
WITH base AS (
  SELECT vec_id, {_dv('embedding')} AS v FROM embeddings WHERE vec_id <> 0
), q AS (
  SELECT {_dv('embedding')} AS qv FROM embeddings WHERE vec_id = 0
), cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM (SELECT vec_id, v FROM base ORDER BY vec_id LIMIT {sim.IVF_CENTROIDS})
), assigned AS (
  SELECT vec_id, v, cid FROM (
    SELECT b.vec_id, b.v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cid
           ) AS rk
    FROM base b CROSS JOIN cents c
  ) WHERE rk = 1
), probe AS (
  SELECT cid FROM cents, q
  ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT {sim.IVF_NPROBE}
), cand AS (
  SELECT vec_id, v FROM assigned WHERE cid IN (SELECT cid FROM probe)
), scored AS (
  SELECT vec_id, list_cosine_similarity(v, (SELECT qv FROM q)) AS c FROM cand
)
SELECT vec_id, CAST(ROUND(c * 10000) AS BIGINT) AS cos_e4
FROM scored ORDER BY c DESC, vec_id LIMIT {sim.ANN_K}
"""


def ann_pq_topk_sql() -> str:
    """Mirror of similarity.pq_topk: same lowest-vec_id codebook seeding,
    same argmin/tie rule (ORDER BY dist ASC, cid), and the same integer-e6
    lookup-table contributions (ROUND half-away of a sequential dot), so
    the final SUM is order-free integer arithmetic."""
    m_sub, ksub = sim.PQ_M, sim.PQ_KSUB
    dsub = sim.EMB_DIM // m_sub
    return f"""
WITH base AS (
  SELECT vec_id, {_dv('embedding')} AS v FROM embeddings WHERE vec_id <> 0
), q AS (
  SELECT {_dv('embedding')} AS qv FROM embeddings WHERE vec_id = 0
), seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v
  FROM (SELECT vec_id, v FROM base ORDER BY vec_id LIMIT {ksub})
), cents AS (
  SELECT m, cid, list_slice(v, m * {dsub} + 1, m * {dsub} + {dsub}) AS cv
  FROM seeds, range(0, {m_sub}) t(m)
), codes AS (
  SELECT vec_id, m, cid FROM (
    SELECT b.vec_id, c.m, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id, c.m
             ORDER BY list_aggregate(list_transform(
                        list_zip(list_slice(b.v, c.m * {dsub} + 1, c.m * {dsub} + {dsub}), c.cv),
                        p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') ASC, c.cid
           ) AS rk
    FROM base b CROSS JOIN cents c
  ) WHERE rk = 1
), lut AS (
  SELECT m, cid,
         CAST(ROUND(list_aggregate(list_transform(
                list_zip(cv, list_slice(qv, m * {dsub} + 1, m * {dsub} + {dsub})),
                p -> p[1] * p[2]), 'sum') * 1000000.0) AS BIGINT) AS icontrib
  FROM cents, q
), scored AS (
  SELECT vec_id, CAST(SUM(icontrib) AS BIGINT) AS ip_e6
  FROM codes JOIN lut USING (m, cid) GROUP BY vec_id
)
SELECT vec_id, ip_e6 FROM scored ORDER BY ip_e6 DESC, vec_id LIMIT {sim.ANN_K}
"""


# ---------------------------------------------------------------------------
# Multimodal decode (multimodal._fake_decode over attach_binary_payload)
# ---------------------------------------------------------------------------


def multimodal_decode_sql() -> str:
    """Mirror of multimodal._fake_decode: width from a 64-byte prefix
    checksum, height from the byte length, frames from length for
    audio/video.  The payload is UTF-8-encoded document text; the driver's
    documents are ASCII so byte i == codepoint of char i (asserted by the
    octet_length == length equality used for payload_bytes)."""
    checksum = (
        "COALESCE(list_aggregate(list_transform("
        f"range(1, CAST(least(length(text), {mm.DECODE_PREFIX}) + 1 AS INT)),"
        " i -> ascii(substr(text, CAST(i AS INT), 1))), 'sum'), 0)"
    )
    base, step = mm.DECODE_BASE_PX, mm.DECODE_STEP_PX
    return f"""
WITH src AS (
  SELECT doc_id, text,
         {mm.media_type_sql(sep=chr(10) + " " * 14)} AS media_type,
         CAST(octet_length(encode(text)) AS INT) AS n,
         {checksum} AS checksum
  FROM documents
)
SELECT doc_id, media_type, n AS payload_bytes,
       CAST({base} + (checksum % {mm.DECODE_WIDTH_STEPS}) * {step} AS INT) AS width,
       CAST({base} + (n % {mm.DECODE_HEIGHT_STEPS}) * {step} AS INT) AS height,
       CAST(CASE WHEN media_type LIKE 'image/%' THEN 1 ELSE 1 + n % {mm.DECODE_MAX_FRAMES} END AS INT)
         AS n_frames,
       'COMPLETED' AS decode_status
FROM src ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# extract_synthetic: sequential fixture oracle as a VALUES table
# ---------------------------------------------------------------------------


def _sql_str(v) -> str:
    if v is None:
        return "NULL"
    return "'" + str(v).replace("'", "''") + "'"


def encrypted_roundtrip_sql() -> str:
    """Sequential pure-Python oracle for the AES-GCM roundtrip query
    (entry_queries.q_encrypted_roundtrip), emitted as a VALUES table:
    encrypt the same deterministic subset of turns with the same fixture
    key + (conv_id, turn_idx)-derived IVs, push each through
    oracle.extract_turn (which decrypts-then-extracts), and digest the
    result against the plaintext extraction.  The driver then verifies
    the distributed encrypt -> salted repartition -> Arrow extraction
    pipeline reproduced the sequential reference per turn.

    Regenerates at oracle_sql() call time, so it tracks crypto/dispatch
    semantics automatically (same contract as extract_synthetic_sql)."""
    from .crypto import roundtrip_row
    from .generator import FIXTURE, transcript_rows

    rows = []
    for cid, t, role, text, tool, _ts in transcript_rows(**FIXTURE):
        _, _, is_enc, iv_b64, status, rule, err, dg, match = roundtrip_row(
            cid, t, role, text, tool
        )
        rows.append(
            "(" + ", ".join(
                (
                    _sql_str(cid),
                    str(t),
                    str(is_enc),
                    _sql_str(iv_b64),
                    _sql_str(status),
                    _sql_str(rule),
                    _sql_str(err),
                    "NULL" if dg is None else str(dg),
                    str(match),
                )
            ) + ")"
        )
    values = ",\n".join(rows)
    return f"""
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
       CAST(is_encrypted AS INT) AS is_encrypted, iv_b64, status, rule,
       error_message, CAST(text_digest AS BIGINT) AS text_digest,
       CAST(match_plain AS INT) AS match_plain
FROM (VALUES
{values}
) AS t(conv_id, turn_idx, is_encrypted, iv_b64, status, rule,
       error_message, text_digest, match_plain)
ORDER BY conv_id, turn_idx
"""


def encrypted_export_sql() -> str:
    """Sequential oracle for the encrypted export sink
    (entry_queries.q_encrypted_export): assemble each conversation's
    turn-ordered "role: text" payload, encrypt with the same fixture
    key + shard-derived IV, and emit the manifest as a VALUES table."""
    import itertools

    from .crypto import export_shard_row
    from .generator import FIXTURE, transcript_rows

    rows = []
    for cid, turns in itertools.groupby(transcript_rows(**FIXTURE), lambda r: r[0]):
        lines = [f"{role}: {text}" for _, _, role, text, *_ in turns if text is not None]
        if not lines:
            continue
        _, n, pt_bytes, pt_dg, iv_b64, ct_dg, ok = export_shard_row(
            cid, len(lines), "\n".join(lines)
        )
        rows.append(
            "(" + ", ".join(
                (
                    _sql_str(cid),
                    str(n),
                    str(pt_bytes),
                    str(pt_dg),
                    _sql_str(iv_b64),
                    str(ct_dg),
                    str(ok),
                )
            ) + ")"
        )
    values = ",\n".join(rows)
    return f"""
SELECT conv_id, CAST(n_turns AS INT) AS n_turns,
       CAST(pt_bytes AS INT) AS pt_bytes,
       CAST(pt_digest AS BIGINT) AS pt_digest, iv_b64,
       CAST(ct_digest AS BIGINT) AS ct_digest,
       CAST(roundtrip_ok AS INT) AS roundtrip_ok
FROM (VALUES
{values}
) AS t(conv_id, n_turns, pt_bytes, pt_digest, iv_b64, ct_digest, roundtrip_ok)
ORDER BY conv_id
"""


def docx_export_sql() -> str:
    """Sequential pure-Python oracle for the DOCX export query
    (entry_queries.q_docx_export): run the faithful writer mirror
    (wordexport.docx_stats) over every non-null turn payload of the same
    deterministic corpus and emit the per-turn counts + binary digest as
    a VALUES table."""
    from .generator import FIXTURE, transcript_rows
    from .wordexport import docx_stats

    cols = (
        "n_paragraphs", "n_runs", "n_bold", "n_italic", "n_underline",
        "n_breaks", "n_list_items", "n_headings", "docx_digest", "docx_size",
    )
    rows = []
    for cid, t, _role, text, *_ in transcript_rows(**FIXTURE):
        if text is None:
            continue
        s = docx_stats(text)
        rows.append(
            "(" + ", ".join([_sql_str(cid), str(t)] + [str(s[k]) for k in cols]) + ")"
        )
    values = ",\n".join(rows)
    int_casts = ",\n       ".join(
        f"CAST({k} AS {'BIGINT' if k == 'docx_digest' else 'INT'}) AS {k}"
        for k in cols
    )
    return f"""
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
       {int_casts}
FROM (VALUES
{values}
) AS t(conv_id, turn_idx, {', '.join(cols)})
ORDER BY conv_id, turn_idx
"""


def extract_synthetic_sql() -> str:
    """Evaluate the pure-Python oracle (oracle.extract_turn) sequentially
    over the same deterministic synthetic transcripts the Spark query
    generates, and emit the expected rows as a VALUES table.  The driver
    then verifies the distributed pipeline (salted repartition +
    Arrow-batched mapInArrow) reproduced the sequential reference with
    exact per-turn text equality."""
    from .generator import FIXTURE, transcript_rows
    from .oracle import extract_turn

    rows = []
    for cid, t, role, text, tool, _ts in transcript_rows(**FIXTURE):
        r = extract_turn(role, tool, text)
        spans_str = "|".join(f"{s}-{e}:{k}" for (s, e, k) in r.spans)
        rows.append(
            "(" + ", ".join(
                (
                    _sql_str(cid),
                    str(t),
                    _sql_str(r.status),
                    _sql_str(r.rule),
                    _sql_str(r.extracted_text),
                    _sql_str(r.error_message),
                    _sql_str(spans_str),
                    str(r.n_chars),
                    str(r.n_words),
                )
            ) + ")"
        )
    values = ",\n".join(rows)
    return f"""
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, status, rule,
       extracted_text, error_message, spans_str,
       CAST(n_chars AS INT) AS n_chars, CAST(n_words AS INT) AS n_words
FROM (VALUES
{values}
) AS t(conv_id, turn_idx, status, rule, extracted_text, error_message,
       spans_str, n_chars, n_words)
ORDER BY conv_id, turn_idx
"""
