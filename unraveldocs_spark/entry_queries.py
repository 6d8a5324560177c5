"""Driver-facing extraction queries over the TPC-H-ish testdata.

The authoritative extraction correctness gate is pytest (exact per-turn
equality vs the oracle on synthetic transcripts, FIXTURES.md).  These
queries additionally push the *driver's* tables through the real
Arrow-batched extraction stage so the DuckDB oracle can verify the full
distributed dispatch end-to-end: a transcripts table is derived
deterministically from ``documents`` (plain payloads only, so every rule
the dispatch picks is SQL-expressible)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import multimodal as mm, oracle_sql_gen as osg
from .extract import extract_stage
from .generator import FIXTURE, transcripts_spark
from .pipeline import salted_repartition
from .queries import _spark_java_word_count, _sql_java_word_count, turn_number
from .rollup import conversation_rollup
from .scanfan import scan
from .schemas import map_rows
from .trainingdata import _tokens_before, _ws_tokens, digest56


def derived_transcripts(spark, sf_dir):
    """documents -> transcripts(conv_id, turn_idx, role, text, tool, ts):
    conversation = source, turn order = doc_id order within source."""
    d = scan(spark, sf_dir, "documents")
    role = (
        F.when(F.col("doc_id") % 5 == 4, F.lit("tool"))
        .when(F.col("doc_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    return d.select(
        F.col("source").alias("conv_id"),
        turn_number().alias("turn_idx"),
        role.alias("role"),
        F.col("text"),
        F.when(role == "tool", F.lit("search")).otherwise(F.lit(None)).alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )


def q_extract_turns(spark, sf_dir):
    """Full pipeline slice: derive transcripts -> salted repartition ->
    sortWithinPartitions -> Arrow-batched extraction."""
    t = derived_transcripts(spark, sf_dir)
    out = extract_stage(salted_repartition(t))
    return out.select(
        "conv_id",
        "turn_idx",
        "extracted_text",
        "status",
        "content_format",
        "rule",
        "n_chars",
        "n_words",
    ).orderBy("conv_id", "turn_idx")


SQL_EXTRACT_TURNS = f"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS turn_idx,
         CASE WHEN doc_id % 5 = 4 THEN 'tool'
              WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         text
  FROM documents
), e AS (
  SELECT conv_id, turn_idx, role,
         CASE WHEN role = 'tool'
              THEN trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))
              ELSE text END AS extracted_text
  FROM t
)
SELECT conv_id, turn_idx, extracted_text,
       'COMPLETED' AS status,
       'MARKDOWN' AS content_format,
       CASE WHEN role = 'tool' THEN 'tool_fence' ELSE 'plain' END AS rule,
       CAST(length(extracted_text) AS INT) AS n_chars,
       {_sql_java_word_count('extracted_text')} AS n_words
FROM e ORDER BY conv_id, turn_idx
"""


def q_extract_rollup(spark, sf_dir):
    """Conversation rollup over the extraction output
    (ProcessOcr.java:185-217 ladder)."""
    t = derived_transcripts(spark, sf_dir)
    return conversation_rollup(extract_stage(t)).orderBy("conv_id")


SQL_EXTRACT_ROLLUP = """
WITH t AS (SELECT source AS conv_id FROM documents)
SELECT conv_id, COUNT(*) AS total_turns,
       COUNT(*) AS completed, CAST(0 AS BIGINT) AS failed,
       'PROCESSED' AS collection_status
FROM t GROUP BY conv_id ORDER BY conv_id
"""


def q_extract_synthetic(spark, sf_dir):
    """Extraction over the full synthetic fixture families (HTML, page
    envelopes, fences, vision, error rows) through the REAL distributed
    path; the DuckDB oracle is the sequential pure-Python fixture oracle
    emitted as a VALUES table (oracle_sql_gen.extract_synthetic_sql) —
    per-turn text equality, driver-visible."""
    t = transcripts_spark(spark, **FIXTURE)
    spans_str = F.array_join(
        F.transform(
            F.col("spans"),
            lambda s: F.concat_ws(
                ":",
                F.concat_ws("-", s["start"].cast("string"), s["end"].cast("string")),
                s["kind"],
            ),
        ),
        "|",
    )
    return extract_stage(salted_repartition(t)).select(
        "conv_id", "turn_idx", "status", "rule", "extracted_text",
        "error_message", spans_str.alias("spans_str"), "n_chars", "n_words",
    ).orderBy("conv_id", "turn_idx")


def q_simhash_near_dupes(spark, sf_dir):
    from .textanalysis import simhash_near_dupes

    d = scan(spark, sf_dir, "documents", fan=True)
    return simhash_near_dupes(d)


def q_lang_id(spark, sf_dir):
    """Language-ID via pure column expressions (JVM-side, oracle-checked);
    the pure-Python textanalysis.lang_id is pytest-checked equivalent."""
    from .textanalysis import lang_id_expr

    d = scan(spark, sf_dir, "documents")
    return d.select(
        "doc_id", lang_id_expr(F.col("text")).alias("lang_pred")
    ).orderBy("doc_id")


def q_winnow_fingerprints(spark, sf_dir):
    """Count + mod-1e9+7 checksum of each doc's winnowing fingerprints
    (the checksum pins the selected hash VALUES, not just how many)."""
    from .textanalysis import fingerprint_stage

    d = scan(spark, sf_dir, "documents")
    fp_sum = F.aggregate(
        F.col("fingerprints"),
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc + x, F.lit(1_000_000_007)),
    )
    return (
        fingerprint_stage(d)
        .select("doc_id", "n_fingerprints", fp_sum.alias("fp_sum"))
        .orderBy("doc_id")
    )


def q_ann_lsh(spark, sf_dir):
    from .similarity import cos_e4, lsh_topk, split_query

    qvec, rest = split_query(scan(spark, sf_dir, "embeddings"))
    return cos_e4(lsh_topk(rest, qvec))


def q_ann_ivf(spark, sf_dir):
    from .similarity import cos_e4, ivf_topk, split_query

    qvec, rest = split_query(scan(spark, sf_dir, "embeddings"))
    return cos_e4(ivf_topk(rest, qvec))


def q_ann_pq(spark, sf_dir):
    """PQ-compressed ANN: PQ_M x PQ_KSUB product codebook, integer ADC
    scan over the 8-byte code column (similarity.pq_topk)."""
    from .similarity import ANN_K, pq_topk, split_query

    qvec, rest = split_query(scan(spark, sf_dir, "embeddings"))
    return pq_topk(rest, qvec, ANN_K)


def q_pdf_layout(spark, sf_dir):
    """F10 layout parse end-to-end: positioned-run envelopes are derived
    deterministically from document tokens (fixed 40-unit x slots, 12-unit
    line pitch, 0..2 baseline jitter, runs emitted in REVERSE reading
    order), pushed through the real Arrow-batched extraction stage, and
    verified against a DuckDB oracle that re-derives the expected lines
    with window functions — two independent implementations of the
    clustering rules (pdflayout.py)."""
    d = scan(spark, sf_dir, "documents")
    toks = F.slice(_ws_tokens(), 1, 12)
    runs = F.reverse(
        F.transform(
            toks,
            lambda tok, i: F.struct(
                (F.lit(10) + (i % 4) * 40).cast("int").alias("x"),
                (
                    F.lit(100)
                    + F.floor(i / 4).cast("int") * 12
                    + ((F.col("doc_id") + i) % 3).cast("int")
                ).cast("int").alias("y"),
                (F.length(tok) * 6).cast("int").alias("w"),
                F.lit(10).alias("h"),
                tok.alias("s"),
            ),
        )
    )
    envelope = F.concat(
        F.lit('{"kind":"layout","runs":'), F.to_json(runs), F.lit("}")
    )
    t = d.select(
        F.col("source").alias("conv_id"),
        turn_number().alias("turn_idx"),
        F.lit("user").alias("role"),
        envelope.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
    return (
        extract_stage(salted_repartition(t))
        .select("conv_id", "turn_idx", "extracted_text", "status", "rule")
        .orderBy("conv_id", "turn_idx")
    )


SQL_PDF_LAYOUT = """
WITH arrd AS (
  SELECT doc_id, source,
         (regexp_split_to_array(trim(text), '\\s+'))[1:12] AS arr
  FROM documents
), toks AS (
  SELECT doc_id, source, u.i - 1 AS ti, arr[CAST(u.i AS INT)] AS tok
  FROM arrd, UNNEST(range(1, len(arr) + 1)) AS u(i)
), runs AS (
  SELECT doc_id, source, ti // 4 AS line, ti % 4 AS pos, tok,
         6 * length(tok) AS w
  FROM toks
), runs2 AS (
  SELECT *, MAX(pos) OVER (PARTITION BY doc_id, line) AS maxpos FROM runs
), lines AS (
  SELECT doc_id, source, line,
         string_agg(tok || CASE WHEN pos < maxpos AND 40 - w > 2
                                THEN ' ' ELSE '' END, '' ORDER BY pos) AS lt
  FROM runs2 GROUP BY doc_id, source, line
), doc_text AS (
  SELECT doc_id, source, string_agg(lt, chr(10) ORDER BY line) AS extracted_text
  FROM lines GROUP BY doc_id, source
)
SELECT source AS conv_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS turn_idx,
       extracted_text,
       'COMPLETED' AS status,
       'layout' AS rule
FROM doc_text ORDER BY conv_id, turn_idx
"""


def q_multimodal_decode(spark, sf_dir):
    from .multimodal import attach_binary_payload, decode_stage

    d = scan(spark, sf_dir, "documents")
    return decode_stage(attach_binary_payload(d)).orderBy("doc_id")


def q_multimodal_resize(spark, sf_dir):
    """Aspect-preserving resize plan for image payloads (integer
    arithmetic fit into the RESIZE_TARGET square) downstream of the
    decode stage."""
    from .multimodal import attach_binary_payload, decode_stage, resize_plan_stage

    d = scan(spark, sf_dir, "documents")
    return resize_plan_stage(decode_stage(attach_binary_payload(d))).orderBy(
        "doc_id"
    )


def _multimodal_resize_sql() -> str:
    return f"""
WITH src AS (
  SELECT doc_id,
         {mm.media_type_sql("image/")} AS media_type,
         CAST(octet_length(encode(text)) AS INT) AS n,
         COALESCE(list_aggregate(list_transform(
             range(1, CAST(least(length(text), {mm.DECODE_PREFIX}) + 1 AS INT)),
             i -> ascii(substr(text, CAST(i AS INT), 1))), 'sum'), 0) AS checksum
  FROM documents WHERE {mm.media_filter_sql("image/")}
), dims AS (
  SELECT doc_id, media_type,
         CAST({mm.DECODE_BASE_PX} + (checksum % {mm.DECODE_WIDTH_STEPS}) * {mm.DECODE_STEP_PX} AS INT) AS width,
         CAST({mm.DECODE_BASE_PX} + (n % {mm.DECODE_HEIGHT_STEPS}) * {mm.DECODE_STEP_PX} AS INT) AS height
  FROM src
)
SELECT doc_id, media_type, width, height,
       CAST(greatest(1, (width * {mm.RESIZE_TARGET}) // greatest(width, height)) AS INT) AS out_width,
       CAST(greatest(1, (height * {mm.RESIZE_TARGET}) // greatest(width, height)) AS INT) AS out_height
FROM dims ORDER BY doc_id
"""


def q_multimodal_features(spark, sf_dir):
    """Byte-class histogram features over binary payloads (the
    feature-extract stand-in), Arrow-batched; emitted as a joined string
    so hashing never depends on list canonicalization."""
    from .multimodal import attach_binary_payload, feature_stage

    d = scan(spark, sf_dir, "documents")
    return feature_stage(attach_binary_payload(d)).orderBy("doc_id")


def _features_sql() -> str:
    bins = " || '|' || ".join(
        f"CAST(len(list_filter(pfx, a -> a % {mm.FEATURE_BINS} = {c})) AS VARCHAR)"
        for c in range(mm.FEATURE_BINS)
    )
    return f"""
WITH src AS (
  SELECT doc_id,
         list_transform(range(1, CAST(least(length(text), {mm.FEATURE_PREFIX}) + 1 AS INT)),
                        i -> ascii(substr(text, CAST(i AS INT), 1))) AS pfx
  FROM documents
)
SELECT doc_id, {bins} AS features
FROM src ORDER BY doc_id
"""


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plan over decoded multimodal payloads: every
    FRAME_STRIDE-th frame as (doc_id, frame_no) rows — pure JVM
    sequence+explode downstream of the Arrow decode stage
    (multimodal.frame_sample_stage)."""
    from .multimodal import attach_binary_payload, decode_stage, frame_sample_stage

    d = scan(spark, sf_dir, "documents")
    return frame_sample_stage(decode_stage(attach_binary_payload(d))).orderBy(
        "doc_id", "frame_no"
    )


def _frame_sample_sql() -> str:
    return f"""
WITH src AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n
  FROM documents WHERE {mm.media_filter_sql("video/")}
), decoded AS (
  SELECT doc_id, 1 + n % {mm.DECODE_MAX_FRAMES} AS n_frames FROM src
)
SELECT doc_id, CAST(u.f AS INT) AS frame_no
FROM decoded, UNNEST(range(0, n_frames, {mm.FRAME_STRIDE})) AS u(f)
ORDER BY doc_id, frame_no
"""


def _lang_id_sql() -> str:
    from .textanalysis import lang_id_sql_expr

    return (
        f"SELECT doc_id, {lang_id_sql_expr('text')} AS lang_pred "
        "FROM documents ORDER BY doc_id"
    )


def q_encrypted_roundtrip(spark, sf_dir):
    """AES-256-GCM encrypt -> store -> decrypt -> extract roundtrip over
    the synthetic fixture corpus: a deterministic ~60% of turns is
    uploaded encrypted (crypto.should_encrypt, the enableEncryption flag
    of DocumentUploadService.java:20), the payload replaced by the
    {"kind":"encrypted"} envelope (AesEncryptionServiceImpl.java:53-112
    semantics: 12-byte IV, 128-bit tag, ct||tag layout, IV stored base64
    as FileEntry.encryptionIv), and the REAL distributed extraction
    stage decrypts-then-extracts.  Output per turn: the encryption
    metadata plus the md5-56 digest of the extracted text and a
    ``match_plain`` flag comparing it against the extraction of the
    UN-encrypted corpus — 1 everywhere iff the roundtrip is lossless.

    Scale shape: ONE zero-shuffle Arrow stage — each worker encrypts the
    turn, extracts the ciphertext envelope through the shared dispatch
    (which decrypts), extracts the plaintext, and emits the two digests
    side by side; no join, no second pipeline traversal (production
    never retains the plaintext side — the fused compare exists only
    for verification).  The composable ``encrypt_stage``/
    ``extract_stage`` production stages are plan- and parity-tested
    separately (tests/test_crypto.py, tests/test_plans.py)."""
    from .crypto import roundtrip_row

    t = transcripts_spark(spark, **FIXTURE)

    def run(conv_id, turn_idx, role, text, tool):
        yield roundtrip_row(conv_id, turn_idx, role, text, tool)

    return map_rows(
        t.select("conv_id", "turn_idx", "role", "text", "tool"),
        run,
        "conv_id string, turn_idx int, is_encrypted int, iv_b64 string, "
        "status string, rule string, error_message string, "
        "text_digest bigint, match_plain int",
    ).orderBy("conv_id", "turn_idx")


_DOCX_STAT_COLS = (
    "n_paragraphs", "n_runs", "n_bold", "n_italic", "n_underline",
    "n_breaks", "n_list_items", "n_headings", "docx_digest", "docx_size",
)


def q_docx_export(spark, sf_dir):
    """DOCX export over the synthetic corpus through the REAL distributed
    path: every non-null turn payload rendered by the faithful writer
    mirror (wordexport.docx_paragraphs — heading styles, bold/size
    header runs, list numbering + 720-twip indents, inline
    bold/italic/underline/br runs; DocxExportServiceImpl.java:22-170)
    and packed into a deterministic binary .docx
    (wordexport.docx_bytes).  Output per turn: paragraph/run/attribute
    counts and the md5-56 digest of the .docx bytes — the writer is
    byte-verified end to end without shipping blobs through the
    compare.  The DuckDB oracle is the sequential pure-Python writer
    emitted as a VALUES table (the extract_synthetic contract).

    Scale shape: one zero-shuffle Arrow stage over the transcripts —
    rendering is embarrassingly parallel, exactly how a 100-TB export
    job runs."""
    from .wordexport import docx_stats

    t = transcripts_spark(spark, **FIXTURE)

    def run(conv_id, turn_idx, text):
        if text is not None:
            s = docx_stats(text)
            yield (conv_id, turn_idx, *(s[c] for c in _DOCX_STAT_COLS))

    schema = "conv_id string, turn_idx int, " + ", ".join(
        f"{c} {'bigint' if c == 'docx_digest' else 'int'}" for c in _DOCX_STAT_COLS
    )
    return map_rows(t.select("conv_id", "turn_idx", "text"), run, schema).orderBy(
        "conv_id", "turn_idx"
    )


def q_encrypted_export(spark, sf_dir):
    """Encrypted-at-rest export sink: per-conversation payload assembly
    (turn-ordered "role: text" lines, JVM-side — the conversation_pack
    assembly) followed by AES-256-GCM shard encryption with a
    conversation-derived IV, emitting the export manifest a consumer
    needs: sizes, the plaintext digest (integrity), the ciphertext
    digest (what's actually stored), the IV, and a decrypt-roundtrip
    verdict.  The at-rest encryption story of crypto.py applied to the
    corpus SINK (the reference encrypts stored uploads; a training-data
    export encrypts stored shards the same way).

    Scale shape: one conv_id Exchange for the assembly groupBy, then a
    zero-shuffle Arrow stage for the cipher work — per-shard crypto is
    embarrassingly parallel."""
    from .crypto import export_shard_row

    t = transcripts_spark(spark, **FIXTURE)
    line = F.concat_ws(": ", "role", "text")
    assembled = (
        t.filter(F.col("text").isNotNull())
        .select("conv_id", "turn_idx", line.alias("line"))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_turns"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("payload"),
        )
    )

    def run(conv_id, n_turns, payload):
        yield export_shard_row(conv_id, n_turns, payload)

    return map_rows(
        assembled,
        run,
        "conv_id string, n_turns int, pt_bytes int, pt_digest bigint, "
        "iv_b64 string, ct_digest bigint, roundtrip_ok int",
    ).orderBy("conv_id")


# "sql_fn" entries are generated lazily (extract_synthetic runs the pure
# oracle over ~800 synthetic turns to build its VALUES table)
ENTRY_REGISTRY: dict[str, dict] = {
    "extract_turns": {"builder": q_extract_turns, "sql": SQL_EXTRACT_TURNS},
    "extract_rollup": {"builder": q_extract_rollup, "sql": SQL_EXTRACT_ROLLUP},
    "extract_synthetic": {
        "builder": q_extract_synthetic,
        "sql_fn": osg.extract_synthetic_sql,
    },
    "encrypted_roundtrip": {
        "builder": q_encrypted_roundtrip,
        "sql_fn": osg.encrypted_roundtrip_sql,
    },
    "docx_export": {
        "builder": q_docx_export,
        "sql_fn": osg.docx_export_sql,
    },
    "encrypted_export": {
        "builder": q_encrypted_export,
        "sql_fn": osg.encrypted_export_sql,
    },
    "simhash_near_dupes": {
        "builder": q_simhash_near_dupes,
        "sql_fn": osg.simhash_near_dupes_sql,
    },
    "lang_id": {"builder": q_lang_id, "sql": _lang_id_sql()},
    "pdf_layout": {"builder": q_pdf_layout, "sql": SQL_PDF_LAYOUT},
    "winnow_fingerprints": {
        "builder": q_winnow_fingerprints,
        "sql_fn": osg.winnow_fingerprints_sql,
    },
    "ann_lsh_topk": {
        "builder": q_ann_lsh,
        "sql_fn": osg.ann_lsh_topk_sql,
    },
    "ann_ivf_topk": {
        "builder": q_ann_ivf,
        "sql_fn": osg.ann_ivf_topk_sql,
    },
    "ann_pq_topk": {"builder": q_ann_pq, "sql_fn": osg.ann_pq_topk_sql},
    "multimodal_decode": {
        "builder": q_multimodal_decode,
        "sql_fn": osg.multimodal_decode_sql,
    },
    "frame_sample": {"builder": q_frame_sample, "sql_fn": _frame_sample_sql},
    "multimodal_resize": {"builder": q_multimodal_resize,
                          "sql_fn": _multimodal_resize_sql},
    "multimodal_features": {"builder": q_multimodal_features, "sql_fn": _features_sql},
}


# ---------------------------------------------------------------------------
# Conversation context assembly — the transcript-native packing step that
# turns extracted multi-turn conversations into SFT training examples:
# turns concatenated in order as "role: text" lines under a per-
# conversation token budget (greedy prefix in turn order — the oldest
# turns are the context the example needs; overflow truncates the tail).
# ---------------------------------------------------------------------------

_CONV_PACK_BUDGET = 400  # per-conversation token budget (synthetic scale)


def q_conversation_pack(spark, sf_dir):
    """Per-conversation SFT example assembly over the derived
    transcripts: keep turns while the running token total BEFORE the
    turn is under budget (same inclusive-boundary rule as shard
    packing), then emit per-conv kept-turn counts, kept tokens, and the
    md5-56 digest of the assembled "role: text" example — narrow-row
    verification of the full assembly, as exact_substring_dedup does.

    Scale shape: one conv_id-partitioned window (running sum in turn
    order) feeding a groupBy(conv_id) that SHARES the partitioning —
    one Exchange total; assembly is collect_list of already-ordered
    structs, never a driver-side concat."""
    t = derived_transcripts(spark, sf_dir)
    n_tokens = F.size(_ws_tokens())
    cum_before = _tokens_before("conv_id", "turn_idx")
    kept = (
        t.select("conv_id", "turn_idx", "role", "text", n_tokens.alias("n_tokens"))
        .withColumn("cum_before", cum_before)
        .filter(F.col("cum_before") < _CONV_PACK_BUDGET)
    )
    line = F.concat_ws(": ", "role", "text")
    return (
        kept.select("conv_id", "turn_idx", "n_tokens", line.alias("line"))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_turns_kept"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_kept"),
            digest56(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("turn_idx", "line"))
                        ),
                        lambda s: s["line"],
                    ),
                    "\n",
                )
            ).alias("example_digest"),
        )
        .orderBy("conv_id")
    )


SQL_CONVERSATION_PACK = f"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS turn_idx,
         CASE WHEN doc_id % 5 = 4 THEN 'tool'
              WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         text,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
  FROM documents
), cum AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
), kept AS (
  SELECT conv_id, turn_idx, n_tokens, role || ': ' || text AS line
  FROM cum WHERE cum_before < {_CONV_PACK_BUDGET}
)
SELECT conv_id,
       CAST(COUNT(*) AS INT) AS n_turns_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept,
       ('0x' || substr(md5(string_agg(line, chr(10) ORDER BY turn_idx)), 1, 14))::BIGINT
         AS example_digest
FROM kept GROUP BY conv_id ORDER BY conv_id
"""


ENTRY_REGISTRY["conversation_pack"] = {
    "builder": q_conversation_pack,
    "sql": SQL_CONVERSATION_PACK,
}


# ---------------------------------------------------------------------------
# Preference-pair construction (DPO/RLHF-style) — the transcript-native
# step that turns multi-response conversations into (prompt, chosen,
# rejected) training pairs: each assistant turn is attributed to the
# nearest PRECEDING user turn (tool turns don't break attribution), and
# every prompt with >=2 assistant responses emits one pair — highest-
# reward response chosen, lowest rejected — skipping reward ties.  The
# reward is a deterministic proxy (1000*word_count + n_chars, Java word
# semantics) standing in for a reward-model score; a production
# deployment swaps the expression for a scored column without touching
# the pairing shape.
#
# Roles derive from turn POSITION (turn_idx % 3 == 0 -> user,
# turn_idx % 10 == 7 -> tool, else assistant), not from doc_id parity as
# in derived_transcripts: the driver corpus assigns doc_ids round-robin
# by source, so doc-parity roles are constant per conversation and would
# never produce the user-followed-by-multiple-assistants shape pairing
# operates on.
# ---------------------------------------------------------------------------


def _attributed_responses(spark, sf_dir):
    """Assistant turns attributed to their prompt: positional roles over
    the documents-derived transcripts, the last user turn so far (one
    conv_id running window, ignorenulls) as ``prompt_idx`` /
    ``prompt_text``, and the deterministic reward proxy
    1000*word_count + n_chars.  Columns: conv_id, turn_idx, role, text,
    prompt_idx, prompt_text, reward."""
    d = scan(spark, sf_dir, "documents")
    t = d.select(
        F.col("source").alias("conv_id"),
        turn_number().alias("turn_idx"),
        F.col("text"),
    ).withColumn(
        "role",
        F.when(F.col("turn_idx") % 3 == 0, F.lit("user"))
        .when(F.col("turn_idx") % 10 == 7, F.lit("tool"))
        .otherwise(F.lit("assistant")),
    )
    w_ctx = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    user_idx = F.when(F.col("role") == "user", F.col("turn_idx"))
    user_text = F.when(F.col("role") == "user", F.col("text"))
    reward = (
        F.lit(1000).cast("bigint") * _spark_java_word_count(F.col("text"))
        + F.length("text")
    ).cast("bigint")
    return (
        t.select("conv_id", "turn_idx", "role", "text")
        .withColumn("prompt_idx", F.last(user_idx, ignorenulls=True).over(w_ctx))
        .withColumn(
            "prompt_text", F.last(user_text, ignorenulls=True).over(w_ctx)
        )
        .filter((F.col("role") == "assistant") & F.col("prompt_idx").isNotNull())
        .withColumn("reward", reward)
    )


def q_preference_pairs(spark, sf_dir):
    """(prompt, chosen, rejected) pair assembly over the derived
    transcripts, digests in place of wide text (driver-schema rule).

    Scale shape: prompt attribution is ONE conv_id-partitioned running
    window (last user turn so far, ignorenulls); pair selection is two
    row_number ranks over (conv_id, prompt_idx) — same partitioning,
    one Exchange — feeding a groupBy on the SAME key (no further
    shuffle).  Two hash Exchanges total regardless of corpus size; no
    self-join, no explode.  Hot conversations are bounded by turns-per-
    conversation, not corpus size, so no salting is needed on the pair
    key (unlike the extraction stage's conv_id salt, where payload
    bytes ride the shuffle)."""
    resp = _attributed_responses(spark, sf_dir)
    w_c = Window.partitionBy("conv_id", "prompt_idx").orderBy(
        F.col("reward").desc(), F.col("turn_idx").asc()
    )
    w_r = Window.partitionBy("conv_id", "prompt_idx").orderBy(
        F.col("reward").asc(), F.col("turn_idx").desc()
    )
    ranked = resp.withColumn("rn_c", F.row_number().over(w_c)).withColumn(
        "rn_r", F.row_number().over(w_r)
    )

    def pick(rn, col):
        return F.max(F.when(F.col(rn) == 1, F.col(col)))

    g = (
        ranked.groupBy("conv_id", F.col("prompt_idx").cast("int").alias("prompt_idx"))
        .agg(
            F.max("prompt_text").alias("p_text"),
            F.count(F.lit(1)).cast("int").alias("n_responses"),
            pick("rn_c", "turn_idx").cast("int").alias("chosen_idx"),
            pick("rn_r", "turn_idx").cast("int").alias("rejected_idx"),
            pick("rn_c", "reward").alias("chosen_reward"),
            pick("rn_r", "reward").alias("rejected_reward"),
            pick("rn_c", "text").alias("c_text"),
            pick("rn_r", "text").alias("r_text"),
        )
        .filter(
            (F.col("n_responses") >= 2)
            & (F.col("chosen_reward") > F.col("rejected_reward"))
        )
    )
    return g.select(
        "conv_id",
        "prompt_idx",
        digest56(F.col("p_text")).alias("prompt_digest"),
        "n_responses",
        "chosen_idx",
        "rejected_idx",
        "chosen_reward",
        "rejected_reward",
        (F.col("chosen_reward") - F.col("rejected_reward")).alias("margin"),
        digest56(F.col("c_text")).alias("chosen_digest"),
        digest56(F.col("r_text")).alias("rejected_digest"),
    ).orderBy("conv_id", "prompt_idx")


_DUCK_ATTRIBUTION_CTES = """idx AS (
  SELECT source AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS turn_idx,
         text
  FROM documents
), t AS (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx % 3 = 0 THEN 'user'
              WHEN turn_idx % 10 = 7 THEN 'tool'
              ELSE 'assistant' END AS role,
         text
  FROM idx
), ctx AS (
  SELECT *,
         last_value(CASE WHEN role = 'user' THEN turn_idx END IGNORE NULLS)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prompt_idx,
         last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prompt_text
  FROM t
)"""


SQL_PREFERENCE_PAIRS = f"""
WITH {_DUCK_ATTRIBUTION_CTES}, resp AS (
  SELECT conv_id, prompt_idx, prompt_text, turn_idx, text,
         CAST(1000 * CAST({_sql_java_word_count('text')} AS BIGINT)
              + length(text) AS BIGINT) AS reward
  FROM ctx WHERE role = 'assistant' AND prompt_idx IS NOT NULL
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY conv_id, prompt_idx
                            ORDER BY reward DESC, turn_idx ASC) AS rn_c,
         ROW_NUMBER() OVER (PARTITION BY conv_id, prompt_idx
                            ORDER BY reward ASC, turn_idx DESC) AS rn_r
  FROM resp
), g AS (
  SELECT conv_id, CAST(prompt_idx AS INT) AS prompt_idx,
         MAX(prompt_text) AS p_text,
         CAST(COUNT(*) AS INT) AS n_responses,
         CAST(MAX(CASE WHEN rn_c = 1 THEN turn_idx END) AS INT) AS chosen_idx,
         CAST(MAX(CASE WHEN rn_r = 1 THEN turn_idx END) AS INT) AS rejected_idx,
         MAX(CASE WHEN rn_c = 1 THEN reward END) AS chosen_reward,
         MAX(CASE WHEN rn_r = 1 THEN reward END) AS rejected_reward,
         MAX(CASE WHEN rn_c = 1 THEN text END) AS c_text,
         MAX(CASE WHEN rn_r = 1 THEN text END) AS r_text
  FROM ranked GROUP BY conv_id, prompt_idx
)
SELECT conv_id, prompt_idx,
       ('0x' || substr(md5(p_text), 1, 14))::BIGINT AS prompt_digest,
       n_responses, chosen_idx, rejected_idx, chosen_reward, rejected_reward,
       chosen_reward - rejected_reward AS margin,
       ('0x' || substr(md5(c_text), 1, 14))::BIGINT AS chosen_digest,
       ('0x' || substr(md5(r_text), 1, 14))::BIGINT AS rejected_digest
FROM g
WHERE n_responses >= 2 AND chosen_reward > rejected_reward
ORDER BY conv_id, prompt_idx
"""


ENTRY_REGISTRY["preference_pairs"] = {
    "builder": q_preference_pairs,
    "sql": SQL_PREFERENCE_PAIRS,
}


_BON_MIN_REWARD = 2000  # accept gate: >= 2 words (reward = 1000*wc + chars)


def q_best_of_n(spark, sf_dir):
    """Best-of-n rejection sampling (ReST / RAFT-style distillation) —
    the SFT-side companion of ``preference_pairs``: per prompt, keep
    the argmax-reward response among its n candidates and gate it on
    an absolute reward threshold.  Shares the positional role
    derivation and prompt-attribution window with preference_pairs
    (same deterministic reward proxy 1000*word_count + n_chars
    standing in for a reward-model column), but keeps single-response
    prompts (n >= 1) and emits per-prompt reward statistics instead of
    a chosen/rejected pair.

    Scale shape: identical to preference_pairs — one conv_id
    attribution window, then one (conv_id, prompt_idx) rank sharing
    its Exchange with the groupBy; two hash Exchanges total, no
    self-join, no explode."""
    resp = _attributed_responses(spark, sf_dir)
    w_b = Window.partitionBy("conv_id", "prompt_idx").orderBy(
        F.col("reward").desc(), F.col("turn_idx").asc()
    )
    ranked = resp.withColumn("rn", F.row_number().over(w_b))

    g = ranked.groupBy(
        "conv_id", F.col("prompt_idx").cast("int").alias("prompt_idx")
    ).agg(
        F.max("prompt_text").alias("p_text"),
        F.count(F.lit(1)).cast("int").alias("n_candidates"),
        F.max(F.when(F.col("rn") == 1, F.col("turn_idx")))
        .cast("int")
        .alias("best_idx"),
        F.max(F.when(F.col("rn") == 1, F.col("reward"))).alias("best_reward"),
        F.max(F.when(F.col("rn") == 1, F.col("text"))).alias("b_text"),
        F.sum("reward").cast("bigint").alias("sum_reward"),
    )
    return g.select(
        "conv_id",
        "prompt_idx",
        digest56(F.col("p_text")).alias("prompt_digest"),
        "n_candidates",
        "best_idx",
        "best_reward",
        F.expr("CAST(sum_reward DIV n_candidates AS BIGINT)").alias(
            "mean_reward"
        ),
        (F.col("best_reward") >= _BON_MIN_REWARD)
        .cast("int")
        .alias("accepted"),
        digest56(F.col("b_text")).alias("best_digest"),
    ).orderBy("conv_id", "prompt_idx")


SQL_BEST_OF_N = f"""
WITH {_DUCK_ATTRIBUTION_CTES}, resp AS (
  SELECT conv_id, prompt_idx, prompt_text, turn_idx, text,
         CAST(1000 * CAST({{wc}} AS BIGINT) + length(text) AS BIGINT) AS reward
  FROM ctx WHERE role = 'assistant' AND prompt_idx IS NOT NULL
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY conv_id, prompt_idx
                            ORDER BY reward DESC, turn_idx ASC) AS rn
  FROM resp
), g AS (
  SELECT conv_id, CAST(prompt_idx AS INT) AS prompt_idx,
         MAX(prompt_text) AS p_text,
         CAST(COUNT(*) AS INT) AS n_candidates,
         CAST(MAX(CASE WHEN rn = 1 THEN turn_idx END) AS INT) AS best_idx,
         MAX(CASE WHEN rn = 1 THEN reward END) AS best_reward,
         MAX(CASE WHEN rn = 1 THEN text END) AS b_text,
         CAST(SUM(reward) AS BIGINT) AS sum_reward
  FROM ranked GROUP BY conv_id, prompt_idx
)
SELECT conv_id, prompt_idx,
       ('0x' || substr(md5(p_text), 1, 14))::BIGINT AS prompt_digest,
       n_candidates, best_idx, best_reward,
       CAST(sum_reward // n_candidates AS BIGINT) AS mean_reward,
       CAST(CASE WHEN best_reward >= {_BON_MIN_REWARD} THEN 1 ELSE 0 END AS INT)
         AS accepted,
       ('0x' || substr(md5(b_text), 1, 14))::BIGINT AS best_digest
FROM g
ORDER BY conv_id, prompt_idx
"""


ENTRY_REGISTRY["best_of_n"] = {
    "builder": q_best_of_n,
    "sql_fn": lambda: SQL_BEST_OF_N.format(wc=_sql_java_word_count("text")),
}
