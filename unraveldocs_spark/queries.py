"""Operator inventory (SURVEY.md §2) as (Spark builder, DuckDB oracle SQL)
pairs, plus the training-data operators (dedup / similarity / text
analysis) over the driver-provided tables.

Every entry in ``REGISTRY`` maps a query name to:
- ``builder(spark, sf_dir) -> DataFrame`` — the Spark-first implementation;
- ``sql`` — an equivalent ANSI-SQL string for DuckDB over the same parquet
  views, or ``None`` for genuinely non-SQL-expressible operators (those are
  verified against pure-Python oracles in pytest instead).

Parity rules used throughout (the driver hash-compares values):
- money aggregates go through DECIMAL(18,2) so sums are exact and
  order-independent on both engines;
- ratio outputs are scaled to integers (ROUND(x * 10^k) AS BIGINT) instead
  of emitting floats;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import semantics as S
from .rollup import status_rollup
from .scanfan import materialize, scan


# ---------------------------------------------------------------------------
# Flagship: pricing-summary scan+agg (the admin-stats style GROUP BY of
# DocumentCollectionRepository.java:24-37, at lineitem scale)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """groupBy two low-cardinality keys; partial aggregation map-side, one
    shuffle; money sums exact via DECIMAL(18,2)."""
    li = scan(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Upload validation + outcome rollup
# (DocumentUploadImpl.java:84-144, FileType.java:6-35, FileSize.java:7-19)
# ---------------------------------------------------------------------------

_LANG_ALLOWLIST = ("en", "es", "de", "fr")  # MIME-allowlist analog
_SIZE_CAP = 260  # byte-cap analog against n_chars


def q_upload_validation(spark, sf_dir):
    docs = scan(spark, sf_dir, "documents")
    status = (
        F.when(~F.col("lang").isin(*_LANG_ALLOWLIST), F.lit("FAILED_VALIDATION"))
        .when(F.col("n_chars") > _SIZE_CAP, F.lit("FAILED_SIZE"))
        .otherwise(F.lit("UPLOADED"))
    )
    per_file = docs.select(F.col("source"), status.alias("upload_status"))
    return (
        per_file.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_files"),
            F.sum(F.when(F.col("upload_status") == "UPLOADED", 1).otherwise(0)).alias("uploaded"),
        )
        .withColumn(
            "collection_status",
            F.when(F.col("uploaded") == F.col("total_files"), F.lit("COMPLETED"))
            .when(F.col("uploaded") > 0, F.lit("PARTIALLY_COMPLETED"))
            .otherwise(F.lit("FAILED_UPLOAD")),
        )
        .orderBy("source")
    )


SQL_UPLOAD_VALIDATION = f"""
WITH per_file AS (
  SELECT source,
         CASE WHEN lang NOT IN {repr(tuple(_LANG_ALLOWLIST))}
              THEN 'FAILED_VALIDATION'
              WHEN n_chars > {_SIZE_CAP} THEN 'FAILED_SIZE'
              ELSE 'UPLOADED' END AS upload_status
  FROM documents
)
SELECT source,
       COUNT(*) AS total_files,
       CAST(SUM(CASE WHEN upload_status = 'UPLOADED' THEN 1 ELSE 0 END) AS BIGINT) AS uploaded,
       CASE WHEN SUM(CASE WHEN upload_status = 'UPLOADED' THEN 1 ELSE 0 END) = COUNT(*)
            THEN 'COMPLETED'
            WHEN SUM(CASE WHEN upload_status = 'UPLOADED' THEN 1 ELSE 0 END) > 0
            THEN 'PARTIALLY_COMPLETED'
            ELSE 'FAILED_UPLOAD' END AS collection_status
FROM per_file GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Collection status ladder (ProcessOcr.java:185-217) over a derived status
# ---------------------------------------------------------------------------

def q_collection_rollup(spark, sf_dir):
    docs = scan(spark, sf_dir, "documents")
    status = (
        F.when(F.col("doc_id") % 10 < 7, F.lit("COMPLETED"))
        .when(F.col("doc_id") % 10 < 9, F.lit("FAILED"))
        .otherwise(F.lit("PENDING"))
    )
    per_doc = docs.select(F.col("source").alias("conv_id"), status.alias("status"))
    return status_rollup(per_doc.groupBy("conv_id"), total="total").orderBy("conv_id")


SQL_COLLECTION_ROLLUP = """
WITH per_doc AS (
  SELECT source AS conv_id,
         CASE WHEN doc_id % 10 < 7 THEN 'COMPLETED'
              WHEN doc_id % 10 < 9 THEN 'FAILED'
              ELSE 'PENDING' END AS status
  FROM documents
), agg AS (
  SELECT conv_id, COUNT(*) AS total,
         CAST(SUM(CASE WHEN status='COMPLETED' THEN 1 ELSE 0 END) AS BIGINT) AS completed,
         CAST(SUM(CASE WHEN status='FAILED' THEN 1 ELSE 0 END) AS BIGINT) AS failed
  FROM per_doc GROUP BY conv_id
)
SELECT conv_id, total, completed, failed,
       CASE WHEN completed = total THEN 'PROCESSED'
            WHEN completed + failed = total THEN 'FAILED_OCR'
            ELSE 'PROCESSING' END AS collection_status
FROM agg ORDER BY conv_id
"""


# ---------------------------------------------------------------------------
# Joins: anti (resume), semi (EXISTS), left+coalesce default, IN-list
# (SURVEY.md §2.3; CustomUserRepositoryImpl.java:38-44,
#  GetCollectionResultImpl.java:39-55, OcrDataRepository.java:14)
# ---------------------------------------------------------------------------

def q_anti_join_resume(spark, sf_dir):
    """Orders with no lineitems — the left-anti resume primitive
    (ExtractTextFromDocumentImpl.java:50-54: skip keys already done)."""
    o = scan(spark, sf_dir, "orders")
    li = scan(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


SQL_ANTI_JOIN_RESUME = """
SELECT o_orderkey, o_orderstatus FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
ORDER BY o_orderkey
"""


def q_semi_join_exists(spark, sf_dir):
    c = scan(spark, sf_dir, "customer")
    o = scan(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


SQL_SEMI_JOIN_EXISTS = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q_left_join_pending_default(spark, sf_dir):
    """orders left-join per-order line counts; missing side defaults to
    PENDING (GetCollectionResultImpl.java:46-52 coalesce-to-PENDING)."""
    o = scan(spark, sf_dir, "orders")
    li = (
        scan(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            F.when(F.col("n_lines").isNull(), F.lit("PENDING"))
            .otherwise(F.lit("COMPLETED"))
            .alias("line_status"),
        )
        .orderBy("o_orderkey")
    )


SQL_LEFT_JOIN_PENDING_DEFAULT = """
SELECT o_orderkey,
       COALESCE(n_lines, 0) AS n_lines,
       CASE WHEN n_lines IS NULL THEN 'PENDING' ELSE 'COMPLETED' END AS line_status
FROM orders
LEFT JOIN (SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY l_orderkey) li
  ON o_orderkey = li.l_orderkey
ORDER BY o_orderkey
"""


def q_in_list_lookup(spark, sf_dir):
    """documentId IN (:ids) batch lookup (OcrDataRepository.java:14) —
    broadcastable isin over a small key list."""
    n = scan(spark, sf_dir, "nation")
    c = scan(spark, sf_dir, "customer")
    keys = [
        r.n_nationkey for r in n.filter(F.col("n_nationkey") % 5 == 0).collect()
    ]
    return (
        c.filter(F.col("c_nationkey").isin(keys))
        .select("c_custkey", "c_nationkey")
        .orderBy("c_custkey")
    )


SQL_IN_LIST_LOOKUP = """
SELECT c_custkey, c_nationkey FROM customer
WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_nationkey % 5 = 0)
ORDER BY c_custkey
"""


def q_broadcast_star_join(spark, sf_dir):
    """customer ⋈ nation ⋈ region with explicit broadcast of the dims —
    the plan a 100TB fact scan wants (small sides broadcast, no shuffle
    of the fact table)."""
    c = scan(spark, sf_dir, "customer")
    n = scan(spark, sf_dir, "nation")
    r = scan(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_acctbal"),
        )
        .orderBy("r_name")
    )


SQL_BROADCAST_STAR_JOIN = """
SELECT r_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# ---------------------------------------------------------------------------
# Filters / search / sort / pagination (SURVEY.md §2.2, §2.7)
# ---------------------------------------------------------------------------

def q_search_filter(spark, sf_dir):
    """3-way lower-contains OR search (CustomUserRepositoryImpl.java:47-51
    / DocumentSearchRepository.java:51-66)."""
    d = scan(spark, sf_dir, "documents")
    q = "merge"
    cond = (
        F.lower(F.col("text")).contains(q)
        | F.lower(F.col("source")).contains(q)
        | F.lower(F.col("lang")).contains(q)
    )
    return d.filter(cond).select("doc_id", "source", "lang").orderBy("doc_id")


SQL_SEARCH_FILTER = """
SELECT doc_id, source, lang FROM documents
WHERE lower(text) LIKE '%merge%' OR lower(source) LIKE '%merge%' OR lower(lang) LIKE '%merge%'
ORDER BY doc_id
"""


def q_topn_recent(spark, sf_dir):
    """newest-first + page size (DocumentSearchService.java:174-186) with a
    unique tiebreak so the top-N set is deterministic."""
    o = scan(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .limit(10)
    )


SQL_TOPN_RECENT = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 10
"""


def q_paginate_offset(spark, sf_dir):
    """offset/limit pagination via row_number (CustomUserRepositoryImpl
    .java:115-120) — page 2, size 10, ordered by a unique key.

    PARITY-HARNESS SHAPE ONLY: the unpartitioned Window.orderBy funnels
    every row through one task — fine for a 10-row oracle check, wrong in
    a pipeline.  At scale use ``orderBy(...).limit(offset+size)`` (top-K
    fold, what q_topn_recent does) or keyset pagination on the sort key;
    do not copy this window into production paths."""
    o = scan(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > 10) & (F.col("rn") <= 20))
        .select("o_orderkey", "rn")
    )


SQL_PAGINATE_OFFSET = """
SELECT o_orderkey, CAST(rn AS INT) AS rn FROM (
  SELECT o_orderkey,
         ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn > 10 AND rn <= 20
"""


def q_time_window_counts(spark, sf_dir):
    """counts by status after a time boundary
    (DashboardMetricsCacheService.java:40-58) — single-pass conditional agg."""
    e = scan(spark, sf_dir, "events")
    cutoff = "2024-06-01"
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(F.col("ts") >= F.lit(cutoff).cast("timestamp"), 1).otherwise(0)).alias(
                "recent"
            ),
        )
        .orderBy("event_type")
    )


SQL_TIME_WINDOW_COUNTS = """
SELECT event_type, COUNT(*) AS total,
       CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-06-01' THEN 1 ELSE 0 END) AS BIGINT) AS recent
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_distinct_count(spark, sf_dir):
    """COUNT(DISTINCT ...) pagination totals (CustomUserRepositoryImpl.java:24)."""
    o = scan(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
        .orderBy("o_orderstatus")
    )


SQL_DISTINCT_COUNT = """
SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_group_stats(spark, sf_dir):
    """GROUP BY fileType count/sum (DocumentCollectionRepository.java:24-37)."""
    d = scan(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


SQL_GROUP_STATS = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY lang ORDER BY lang
"""


_SP_SEGMENT = "BUILDING"
_SP_CUTOFF = "1998-06-01"


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: customer(segment filter) JOIN orders(date filter)
    JOIN lineitem(date filter), revenue rollup per order, top 10 by
    (revenue desc, orderdate) — the classic selective multi-way join.

    Scale notes: both date/segment filters reach the parquet scans
    (pushdown), customer-after-filter is the small side (Catalyst/AQE
    broadcasts it under the threshold), and the orders-lineitem join
    shuffles on the shared o_orderkey/l_orderkey — at 100 TB both big
    tables would be bucketed by orderkey to make that join co-located.
    Money through DECIMAL(18,4) per the FP-parity rules; TakeOrdered
    caps the result driver-side."""
    cutoff = F.to_timestamp(F.lit(_SP_CUTOFF))
    c = scan(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == _SP_SEGMENT
    ).select("c_custkey")
    o = scan(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = scan(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    dec = lambda col: F.col(col).cast("decimal(18,2)")
    revenue = F.sum(
        (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
        .cast("decimal(18,4)")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("o_orderkey"))
        .limit(10)
        # epoch, not raw TIMESTAMP: driver-canon stringifies Spark- vs
        # DuckDB-collected timestamps differently (r3 hazard rule)
        .select(
            "o_orderkey",
            F.unix_timestamp(F.col("o_orderdate")).alias("order_es"),
            "o_orderpriority",
            "revenue",
        )
    )


SQL_SHIPPING_PRIORITY = f"""
SELECT o_orderkey, CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS order_es,
       o_orderpriority,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = '{_SP_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{_SP_CUTOFF}'
  AND l_shipdate > TIMESTAMP '{_SP_CUTOFF}'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, o_orderkey
LIMIT 10
"""


def q_group_stats_cube(spark, sf_dir):
    """CUBE(lang, source): the admin-stats rollup at every grouping grain
    in one pass — per (lang, source), per lang, per source, and the grand
    total, with NULL as the all-values marker on both engines.

    Scale shape: Spark expands the cube map-side (one Expand node) and
    aggregates through a single shuffle — same cost class as the flat
    groupBy, not 4 separate scans."""
    d = scan(spark, sf_dir, "documents")
    return (
        d.cube("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy(
            F.col("lang").asc_nulls_first(), F.col("source").asc_nulls_first()
        )
    )


SQL_GROUP_STATS_CUBE = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY CUBE (lang, source)
ORDER BY lang NULLS FIRST, source NULLS FIRST
"""


def q_union_shards(spark, sf_dir):
    """unionByName checkpoint-shard stitch (SURVEY.md §2.8)."""
    d = scan(spark, sf_dir, "documents")
    even = d.filter(F.col("doc_id") % 2 == 0)
    odd = d.filter(F.col("doc_id") % 2 == 1)
    return (
        even.unionByName(odd)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


SQL_UNION_SHARDS = """
SELECT lang, COUNT(*) AS n_docs FROM (
  SELECT * FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT * FROM documents WHERE doc_id % 2 = 1
) GROUP BY lang ORDER BY lang
"""


def q_pdf_extension_predicate(spark, sf_dir):
    """strip query string, lowercase, endswith '.pdf'
    (ExtractImageURL.java:78-85) over a deterministically derived URL."""
    d = scan(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://cdn/"),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".pdf?sig=abc"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".PDF"))
        .otherwise(F.lit(".png")),
    )
    with_url = d.select("doc_id", url.alias("file_url"))
    is_pdf = F.lower(F.regexp_replace(F.col("file_url"), r"\?.*$", "")).endswith(".pdf")
    return with_url.filter(is_pdf).select("doc_id", "file_url").orderBy("doc_id")


SQL_PDF_EXTENSION_PREDICATE = """
WITH with_url AS (
  SELECT doc_id,
         'https://cdn/' || source || '/' || CAST(doc_id AS VARCHAR) ||
         CASE WHEN doc_id % 3 = 0 THEN '.pdf?sig=abc'
              WHEN doc_id % 3 = 1 THEN '.PDF' ELSE '.png' END AS file_url
  FROM documents
)
SELECT doc_id, file_url FROM with_url
WHERE lower(regexp_replace(file_url, '\\?.*$', '')) LIKE '%.pdf'
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# String transforms (SURVEY.md §2.5) — all pure built-ins, whole-stage codegen
# ---------------------------------------------------------------------------

def q_text_preview(spark, sf_dir):
    """text[:S.PREVIEW_LIMIT] + '...' (DocumentSearchService.java:188-194)."""
    d = scan(spark, sf_dir, "documents")
    n = S.PREVIEW_LIMIT
    preview = F.when(
        F.length("text") > n, F.concat(F.substring("text", 1, n), F.lit("..."))
    ).otherwise(F.col("text"))
    return d.select("doc_id", preview.alias("preview")).orderBy("doc_id")


def _text_preview_sql() -> str:
    return f"""
SELECT doc_id,
       CASE WHEN length(text) > {S.PREVIEW_LIMIT} THEN substr(text, 1, {S.PREVIEW_LIMIT}) || '...' ELSE text END AS preview
FROM documents ORDER BY doc_id
"""


def q_tag_split(spark, sf_dir):
    """split(',') -> trim -> drop empties (GetOcrDataImpl.java:65-71) via
    higher-order functions."""
    d = scan(spark, sf_dir, "documents")
    tags_raw = F.concat(F.lit(" "), F.col("lang"), F.lit(" , "), F.col("source"), F.lit(" ,, misc ,"))
    tags = F.filter(
        F.transform(F.split(tags_raw, ","), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    # joined-string output: the one array-valued oracle column would
    # otherwise depend on how the driver's hasher canonicalizes lists
    return d.select(
        "doc_id", F.array_join(tags, "|").alias("tags_joined")
    ).orderBy("doc_id")


SQL_TAG_SPLIT = """
SELECT doc_id,
       array_to_string(
         list_filter(list_transform(string_split(' ' || lang || ' , ' || source || ' ,, misc ,', ','),
                                    x -> trim(x)),
                     x -> x <> ''), '|') AS tags_joined
FROM documents ORDER BY doc_id
"""


def q_fence_strip(spark, sf_dir):
    """markdown fence strip (AiClassificationService.java:155-159) as
    pure regexp built-ins over a deterministically fenced payload."""
    d = scan(spark, sf_dir, "documents")
    fenced = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("```json\n"), F.col("text"), F.lit("\n```")),
    ).when(
        F.col("doc_id") % 3 == 1,
        F.concat(F.lit("```\n"), F.col("text"), F.lit("\n```")),
    ).otherwise(F.col("text"))
    src = d.select("doc_id", fenced.alias("fenced"))
    stripped = F.when(
        F.col("fenced").startswith("```"),
        F.regexp_replace(
            F.regexp_replace(F.col("fenced"), r"^```(json)?\s*", ""), r"\s*```$", ""
        ),
    ).otherwise(F.col("fenced"))
    return src.select("doc_id", stripped.alias("content")).orderBy("doc_id")


SQL_FENCE_STRIP = """
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN '```json' || chr(10) || text || chr(10) || '```'
              WHEN doc_id % 3 = 1 THEN '```' || chr(10) || text || chr(10) || '```'
              ELSE text END AS fenced
  FROM documents
)
SELECT doc_id,
       CASE WHEN fenced LIKE '```%'
            THEN regexp_replace(regexp_replace(fenced, '^```(json)?\\s*', ''), '\\s*```$', '')
            ELSE fenced END AS content
FROM src ORDER BY doc_id
"""


def q_truncate_text(spark, sf_dir):
    """AI input truncation text[:N] (AiClassificationService.java:191-198),
    N scaled down to the synthetic doc sizes."""
    d = scan(spark, sf_dir, "documents")
    cap = 120
    return d.select(
        "doc_id",
        F.when(F.length("text") > cap, F.substring("text", 1, cap))
        .otherwise(F.col("text"))
        .alias("truncated"),
        (F.length("text") > cap).alias("was_truncated"),
    ).orderBy("doc_id")


SQL_TRUNCATE_TEXT = """
SELECT doc_id,
       CASE WHEN length(text) > 120 THEN substr(text, 1, 120) ELSE text END AS truncated,
       length(text) > 120 AS was_truncated
FROM documents ORDER BY doc_id
"""


# OcrResult.getWordCount: isBlank() guard, then split("\\s+") on the
# UNTRIMMED text — a leading whitespace run adds one empty token, trailing
# empties are dropped (Java split limit 0).  Equivalently: (count of
# non-whitespace runs) + (1 if the text starts with whitespace).  Java \s
# is the ASCII class [ \t\n\x0B\f\r]; the parity queries assume ASCII
# document text (the Python oracle, semantics.word_count, carries the full
# Character.isWhitespace fidelity for the extraction path).
_ASCII_WS = " \\t\\n\\x0B\\f\\r"


def _spark_java_word_count(col):
    blank = col.rlike(f"^[{_ASCII_WS}]*$")
    runs = F.regexp_count(col, F.lit(f"[^{_ASCII_WS}]+"))
    leading = F.when(col.rlike(f"^[{_ASCII_WS}]"), F.lit(1)).otherwise(F.lit(0))
    return F.when(blank, F.lit(0)).otherwise(runs + leading).cast("int")


def _sql_java_word_count(expr: str) -> str:
    ws = " \\t\\n\\x0B\\f\\r"
    return (
        f"CAST(CASE WHEN regexp_matches({expr}, '^[{ws}]*$') THEN 0 "
        f"ELSE len(regexp_extract_all({expr}, '[^{ws}]+')) "
        f"+ CASE WHEN regexp_matches({expr}, '^[{ws}]') THEN 1 ELSE 0 END "
        f"END AS INT)"
    )


def q_word_char_counts(spark, sf_dir):
    """getCharacterCount/getWordCount (OcrResult.java:76-88): untrimmed
    ASCII-\\s split with isBlank guard."""
    d = scan(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_text"),
        _spark_java_word_count(F.col("text")).alias("n_words"),
    ).orderBy("doc_id")


SQL_WORD_CHAR_COUNTS = f"""
SELECT doc_id, CAST(length(text) AS INT) AS n_chars_text,
       {_sql_java_word_count('text')} AS n_words
FROM documents ORDER BY doc_id
"""


def q_error_type_sanitize(spark, sf_dir):
    """metric-tag sanitizer (OcrMetrics.java:162-170)."""
    e = scan(spark, sf_dir, "events")
    sanitized = F.substring(
        F.regexp_replace(F.lower(F.col("props")), "[^a-z0-9_]", "_"), 1, S.ERROR_TYPE_CAP
    )
    return (
        e.select("event_id", sanitized.alias("error_type"))
        .orderBy("event_id")
        .limit(500)
    )


def _error_type_sanitize_sql() -> str:
    return f"""
SELECT event_id, substr(regexp_replace(lower(props), '[^a-z0-9_]', '_', 'g'), 1, {S.ERROR_TYPE_CAP}) AS error_type
FROM events ORDER BY event_id LIMIT 500
"""


def q_log_sanitize(spark, sf_dir):
    """CR/LF strip (SanitizeLogging.java)."""
    d = scan(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.regexp_replace("text", "[\r\n]", "").alias("log_safe")
    ).orderBy("doc_id")


SQL_LOG_SANITIZE = """
SELECT doc_id, regexp_replace(text, '[\\r\\n]', '', 'g') AS log_safe
FROM documents ORDER BY doc_id
"""


def turn_number():
    """A document's 0-based turn index in its conversation (source), in
    doc_id order: the turn order of every documents-derived transcript."""
    w = Window.partitionBy("source").orderBy("doc_id")
    return (F.row_number().over(w) - 1).cast("int")


def q_turn_window(spark, sf_dir):
    """row_number over (partition, order) — the per-conversation turn
    check (SURVEY.md §2.8)."""
    d = scan(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "source", turn_number().alias("turn_idx")
    ).orderBy("doc_id")


SQL_TURN_WINDOW = """
SELECT doc_id, source,
       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS turn_idx
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, dict] = {
    "pricing_summary": {"builder": q_pricing_summary, "sql": SQL_PRICING_SUMMARY},
    "upload_validation": {"builder": q_upload_validation, "sql": SQL_UPLOAD_VALIDATION},
    "collection_rollup": {"builder": q_collection_rollup, "sql": SQL_COLLECTION_ROLLUP},
    "anti_join_resume": {"builder": q_anti_join_resume, "sql": SQL_ANTI_JOIN_RESUME},
    "semi_join_exists": {"builder": q_semi_join_exists, "sql": SQL_SEMI_JOIN_EXISTS},
    "left_join_pending_default": {
        "builder": q_left_join_pending_default,
        "sql": SQL_LEFT_JOIN_PENDING_DEFAULT,
    },
    "in_list_lookup": {"builder": q_in_list_lookup, "sql": SQL_IN_LIST_LOOKUP},
    "broadcast_star_join": {"builder": q_broadcast_star_join, "sql": SQL_BROADCAST_STAR_JOIN},
    "search_filter": {"builder": q_search_filter, "sql": SQL_SEARCH_FILTER},
    "topn_recent": {"builder": q_topn_recent, "sql": SQL_TOPN_RECENT},
    "paginate_offset": {"builder": q_paginate_offset, "sql": SQL_PAGINATE_OFFSET},
    "time_window_counts": {"builder": q_time_window_counts, "sql": SQL_TIME_WINDOW_COUNTS},
    "distinct_count": {"builder": q_distinct_count, "sql": SQL_DISTINCT_COUNT},
    "group_stats": {"builder": q_group_stats, "sql": SQL_GROUP_STATS},
    "group_stats_cube": {"builder": q_group_stats_cube, "sql": SQL_GROUP_STATS_CUBE},
    "shipping_priority": {
        "builder": q_shipping_priority,
        "sql": SQL_SHIPPING_PRIORITY,
    },
    "union_shards": {"builder": q_union_shards, "sql": SQL_UNION_SHARDS},
    "pdf_extension_predicate": {
        "builder": q_pdf_extension_predicate,
        "sql": SQL_PDF_EXTENSION_PREDICATE,
    },
    "text_preview": {"builder": q_text_preview, "sql_fn": _text_preview_sql},
    "tag_split": {"builder": q_tag_split, "sql": SQL_TAG_SPLIT},
    "fence_strip": {"builder": q_fence_strip, "sql": SQL_FENCE_STRIP},
    "truncate_text": {"builder": q_truncate_text, "sql": SQL_TRUNCATE_TEXT},
    "word_char_counts": {"builder": q_word_char_counts, "sql": SQL_WORD_CHAR_COUNTS},
    "error_type_sanitize": {"builder": q_error_type_sanitize, "sql_fn": _error_type_sanitize_sql},
    "log_sanitize": {"builder": q_log_sanitize, "sql": SQL_LOG_SANITIZE},
    "turn_window": {"builder": q_turn_window, "sql": SQL_TURN_WINDOW},
}


# ---------------------------------------------------------------------------
# Additional reference operators (SURVEY.md §2.4/§2.5)
# ---------------------------------------------------------------------------

def q_filename_rewrite(spark, sf_dir):
    """DOCX filename derivation name[:lastIndexOf('.')] + '.docx'
    (DownloadOcrServiceImpl.java:71-72) + collection default name
    'Collection-' + timestamp (DocumentUploadImpl.java:66-69)."""
    d = scan(spark, sf_dir, "documents")
    fname = F.concat(
        F.col("source"), F.lit("-"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(".pdf")).otherwise(F.lit(".tar.gz")),
    )
    src = d.select("doc_id", fname.alias("original_name"))
    docx = F.concat(
        F.regexp_replace(F.col("original_name"), r"\.[^.]*$", ""), F.lit(".docx")
    )
    return src.select(
        "doc_id",
        "original_name",
        docx.alias("export_name"),
        F.concat(F.lit("Collection-"), F.lit("2026-01-01-000000")).alias(
            "default_collection_name"
        ),
    ).orderBy("doc_id")


SQL_FILENAME_REWRITE = """
WITH src AS (
  SELECT doc_id,
         source || '-' || CAST(doc_id AS VARCHAR) ||
         CASE WHEN doc_id % 2 = 0 THEN '.pdf' ELSE '.tar.gz' END AS original_name
  FROM documents
)
SELECT doc_id, original_name,
       regexp_replace(original_name, '\\.[^.]*$', '') || '.docx' AS export_name,
       'Collection-2026-01-01-000000' AS default_collection_name
FROM src ORDER BY doc_id
"""


def q_classify_parse(spark, sf_dir):
    """AI classification response parse with per-field defaults
    (AiClassificationService.java:160-178): document_type -> 'other',
    confidence -> 0.5, over deterministically constructed JSON payloads."""
    d = scan(spark, sf_dir, "documents")
    payload = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('{"document_type":"'), F.col("lang"),
                F.lit('","confidence":0.9}'),
            ),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit('{"tags":["a","b"]}'))
        .otherwise(F.lit("not json"))
    )
    src = d.select("doc_id", payload.alias("resp"))
    parsed = F.from_json(
        F.col("resp"), "document_type STRING, confidence DOUBLE"
    )
    return src.select(
        "doc_id",
        F.coalesce(parsed["document_type"], F.lit("other")).alias("document_type"),
        F.round(F.coalesce(parsed["confidence"], F.lit(0.5)) * 100)
        .cast("bigint")
        .alias("confidence_e2"),
    ).orderBy("doc_id")


SQL_CLASSIFY_PARSE = """
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN '{"document_type":"' || lang || '","confidence":0.9}'
              WHEN doc_id % 3 = 1 THEN '{"tags":["a","b"]}'
              ELSE 'not json' END AS resp
  FROM documents
)
SELECT doc_id,
       COALESCE(CASE WHEN json_valid(resp) THEN json_extract_string(resp, '$.document_type') END,
                'other') AS document_type,
       CAST(ROUND(COALESCE(CASE WHEN json_valid(resp)
                                THEN CAST(json_extract(resp, '$.confidence') AS DOUBLE) END,
                           0.5) * 100) AS BIGINT) AS confidence_e2
FROM src ORDER BY doc_id
"""


def q_array_mean_confidence(spark, sf_dir):
    """mean of an array column — the Vision block-confidence average
    (GoogleVisionOcrProvider.java:283-295) over the embedding vectors."""
    e = scan(spark, sf_dir, "embeddings")
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mean = F.aggregate(dv, F.lit(0.0), lambda acc, x: acc + x) / F.size("embedding")
    return e.select(
        "vec_id", F.round(mean * 10000).cast("bigint").alias("mean_e4")
    ).orderBy("vec_id")


SQL_ARRAY_MEAN_CONFIDENCE = """
SELECT vec_id,
       CAST(ROUND(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum')
                  / len(embedding) * 10000) AS BIGINT) AS mean_e4
FROM embeddings ORDER BY vec_id
"""


def q_daily_quota(spark, sf_dir):
    """daily OCR quota counter: groupBy(user, day).count vs tier limit
    (OcrQuotaService.java:60-87, limits OcrProperties.java:85-116)."""
    e = scan(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        e.groupBy(F.col("user_id"), day.alias("day"))
        .agg(F.count(F.lit(1)).alias("n_requests"))
        .withColumn("over_free_quota", F.col("n_requests") > 2)
        .orderBy("user_id", "day")
    )


SQL_DAILY_QUOTA = """
SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_requests,
       COUNT(*) > 2 AS over_free_quota
FROM events GROUP BY user_id, strftime(ts, '%Y-%m-%d') ORDER BY user_id, day
"""


REGISTRY.update(
    {
        "filename_rewrite": {"builder": q_filename_rewrite, "sql": SQL_FILENAME_REWRITE},
        "classify_parse": {"builder": q_classify_parse, "sql": SQL_CLASSIFY_PARSE},
        "array_mean_confidence": {
            "builder": q_array_mean_confidence,
            "sql": SQL_ARRAY_MEAN_CONFIDENCE,
        },
        "daily_quota": {"builder": q_daily_quota, "sql": SQL_DAILY_QUOTA},
    }
)


def q_explode_unnest(spark, sf_dir):
    """Collection ⋈ files 1:N unnest (DocumentCollectionRepository.java:24-37
    `JOIN c.files f`): documents grouped into per-source arrays, exploded
    back out with per-element position."""
    d = scan(spark, sf_dir, "documents")
    collections = d.groupBy("source").agg(
        F.sort_array(F.collect_list("doc_id")).alias("file_ids")
    )
    return (
        collections.select(
            "source", F.posexplode("file_ids").alias("file_pos", "doc_id")
        )
        .orderBy("source", "file_pos")
    )


SQL_EXPLODE_UNNEST = """
WITH collections AS (
  SELECT source, list_sort(list(doc_id)) AS file_ids FROM documents GROUP BY source
)
SELECT source,
       CAST(u.i - 1 AS INT) AS file_pos,
       file_ids[u.i] AS doc_id
FROM collections,
     UNNEST(range(1, len(file_ids) + 1)) AS u(i)
ORDER BY source, file_pos
"""


def q_soft_delete_filter(spark, sf_dir):
    """`deletedAt IS NULL` baseline predicate
    (CustomUserRepositoryImpl.java:27) over a derived deleted_at column."""
    d = scan(spark, sf_dir, "documents")
    deleted_at = F.when(
        F.col("doc_id") % 7 == 0, F.lit("2026-02-01")
    ).otherwise(F.lit(None))
    src = d.select("doc_id", "lang", deleted_at.alias("deleted_at"))
    return (
        src.filter(F.col("deleted_at").isNull())
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


SQL_SOFT_DELETE_FILTER = """
WITH src AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 7 = 0 THEN '2026-02-01' END AS deleted_at
  FROM documents
)
SELECT doc_id, lang FROM src WHERE deleted_at IS NULL ORDER BY doc_id
"""


REGISTRY.update(
    {
        "explode_unnest": {"builder": q_explode_unnest, "sql": SQL_EXPLODE_UNNEST},
        "soft_delete_filter": {
            "builder": q_soft_delete_filter,
            "sql": SQL_SOFT_DELETE_FILTER,
        },
    }
)


# ---------------------------------------------------------------------------
# Relevance-ranked search — deterministic analog of the boosted
# should-query (DocumentSearchRepository.java:51-66): must term(userId) +
# should [match(extractedText)^2, match(fileName)^1.5,
# wildcard(fileName)*q*^1], minimum_should_match 1.
# ---------------------------------------------------------------------------

_SR_QUERY = "data"
_SR_LANG = "en"  # userId-analog must-term

# Lucene EnglishAnalyzer stop set — the `_english_` stopwords the reference
# index config applies to extractedText (document-settings.json:1-14,
# DocumentSearchIndex.java:78-79).  Public Lucene constant.
ES_ENGLISH_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)

# the standard analyzer's word segmentation, approximated for this ASCII
# corpus: lowercase, split on any non-alphanumeric run.  Token match —
# NOT substring: query 'art' no longer scores against 'startup'.
_SR_TOKEN_SPLIT = "[^a-z0-9]+"


def q_search_ranked(spark, sf_dir):
    """Deterministic analog of the boosted should-query
    (DocumentSearchRepository.java:51-66) with ES-analyzer-faithful text
    matching: extractedText is analyzed (standard tokenizer + English
    stopwords, document-settings.json:1-14), so the match clause scores
    2.0 x the frequency of q among ANALYZED TOKENS — lowercased,
    non-alphanumeric-split, stopwords dropped — not raw substrings.
    + 1.5 when q is a '-'-token of the derived file name (match on the
    name field), + 1.0 when the file name merely contains q (the wildcard
    clause, which in ES really is un-analyzed substring semantics).
    min_should_match 1 -> keep score > 0; order by (score desc, doc_id)
    like the ES _score sort with a deterministic tiebreak.  Score emitted
    as ROUND(score*100) BIGINT (exact: 2a + 1.5b + c is a multiple of
    0.5)."""
    q = _SR_QUERY
    d = scan(spark, sf_dir, "documents", fan=True).filter(F.col("lang") == _SR_LANG)
    fname = F.lower(
        F.concat(F.col("source"), F.lit("-"), F.col("doc_id").cast("string"))
    )
    toks = F.split(F.lower(F.col("text")), _SR_TOKEN_SPLIT)
    stop_arr = F.array(*[F.lit(w) for w in ES_ENGLISH_STOPWORDS])
    tf_text = F.size(
        F.filter(
            toks, lambda t: (t == F.lit(q)) & ~F.array_contains(stop_arr, t)
        )
    )
    name_token = F.array_contains(F.split(fname, "-"), q).cast("int")
    name_wild = fname.contains(q).cast("int")
    score_e2 = (
        F.lit(200) * tf_text + F.lit(150) * name_token + F.lit(100) * name_wild
    ).cast("bigint")
    return (
        d.select("doc_id", score_e2.alias("score_e2"))
        .filter(F.col("score_e2") > 0)
        .orderBy(F.col("score_e2").desc(), F.col("doc_id"))
    )


# ---------------------------------------------------------------------------
# BM25-proxy relevance ranking (r4 verdict "What's missing" #4): the same
# boosted should-query as search_ranked, but with the match clause scored
# by BM25 — idf x saturated-tf x length-norm — instead of raw tf, closing
# the gap to ES's actual _score (DocumentSearchRepository.java:51-66; ES
# default similarity is BM25 with k1=1.2, b=0.75).
#
# Everything engine-decisive is integer-exact rational arithmetic:
# - k1=6/5, b=3/4 as rationals, so the length norm
#   K = k1*(1-b+b*dl/avgdl) = (3*avgdl_e2 + 900*dl) / (10*avgdl_e2)
#   with avgdl_e2 = ROUND(100*sum_dl/N) a pre-rounded integer;
# - the idf term is the exact-rational core of Lucene's idf argument,
#   (N - df + 1/2)/(df + 1/2) = (2N-2df+1)/(2df+1) — the ln() wrapper is
#   monotone and transcendental, so the proxy keeps the rational and
#   drops the log (documented proxy, not bit-for-bit Lucene);
# - each clause contribution is ROUND(1e6 * boost * idf * tf/(tf+K))
#   computed as one integer floor-division (2A+B) DIV (2B) — identical
#   half-away rounding on both engines, summed as BIGINTs.
# Magnitude bound (sf0.1: N=2059, sum_dl=108k, tf<=9): A ~ 8e15 << 2^63;
# a 100x corpus stays within BIGINT.  At true web scale the stats side
# (N, df, sum_dl) is the same single tiny broadcast aggregate.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("dup", "scan", "query")  # varied df: rare / common / common


def _eq_lit(term):
    # closure factory: a 2-arg lambda in F.filter would bind (elem, index)
    return lambda x: x == F.lit(term)


def q_search_bm25(spark, sf_dir):
    """BM25-scored multi-term should-query over analyzed tokens, plus the
    name-field boost clauses of search_ranked (1.5 token / 1.0 wildcard,
    as e6 integers).  Scale shape: per-doc tf/dl are pure column
    expressions over the split-token array (zero explode, zero shuffle);
    corpus stats (N, sum_dl, per-term df) are ONE global aggregate row
    broadcast back — a single Exchange, then an embarrassingly parallel
    scoring scan + TakeOrdered."""
    d = scan(spark, sf_dir, "documents", fan=True).filter(F.col("lang") == _SR_LANG)
    # isin -> codegen InSet hash probe per token (array_contains was a
    # 33-element linear scan per token); identical membership semantics
    stops = list(ES_ENGLISH_STOPWORDS)
    toks = F.filter(
        F.split(F.lower(F.col("text")), _SR_TOKEN_SPLIT),
        lambda t: (t != F.lit("")) & ~t.isin(*stops),
    )
    fname = F.lower(
        F.concat(F.col("source"), F.lit("-"), F.col("doc_id").cast("string"))
    )
    # narrow per-doc stats table consumed twice (corpus stats agg + the
    # scoring join): truncate lineage so the tokenizing scan runs once
    per_doc = materialize(d.select(
        "doc_id",
        fname.alias("fname"),
        F.size(toks).cast("bigint").alias("dl"),
        *[
            F.size(F.filter(toks, _eq_lit(t))).cast("bigint").alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    ), "bm25_per_doc")
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    ).filter(
        # empty-corpus contract: if the lang filter matches zero docs the
        # stats row is dropped (n_docs=0 would divide-by-zero under ANSI)
        # and the inner broadcast join degrades the query to zero rows
        F.col("n_docs") > 0
    ).withColumn(
        # ROUND(100*sum_dl/N) half-away as pure integer floor-division
        "avgdl_e2",
        F.expr("(200 * sum_dl + n_docs) DIV (2 * n_docs)"),
    )
    j = per_doc.join(F.broadcast(stats))
    for i in range(len(_BM25_TERMS)):
        # A = 2e6 * idf_num * tf_num  (boost 2.0 folded into the 2e6)
        # B = idf_den * tf_den ; contrib_e6 = ROUND(A/B) = (2A+B) DIV 2B
        j = j.withColumn(
            f"c{i}",
            F.expr(
                f"((2 * (2000000 * (2*n_docs - 2*df{i} + 1)"
                f"      * (tf{i} * 10 * avgdl_e2)))"
                f" + ((2*df{i} + 1) * (10*tf{i}*avgdl_e2 + 3*avgdl_e2 + 900*dl)))"
                f" DIV (2 * ((2*df{i} + 1)"
                f"      * (10*tf{i}*avgdl_e2 + 3*avgdl_e2 + 900*dl)))"
            ),
        )
    term_arr = F.array(*[F.lit(t) for t in _BM25_TERMS])
    name_token = F.arrays_overlap(F.split(F.col("fname"), "-"), term_arr).cast(
        "bigint"
    )
    name_wild = (
        sum(
            (F.col("fname").contains(t).cast("int") for t in _BM25_TERMS),
            F.lit(0),
        )
        > 0
    ).cast("bigint")
    score = (
        sum((F.col(f"c{i}") for i in range(len(_BM25_TERMS))), F.lit(0).cast("bigint"))
        + F.lit(1500000) * name_token
        + F.lit(1000000) * name_wild
    )
    return (
        j.select("doc_id", score.alias("score_e6"))
        .filter(F.col("score_e6") > 0)
        .orderBy(F.col("score_e6").desc(), "doc_id")
    )


def _bm25_sql() -> str:
    stops = list(ES_ENGLISH_STOPWORDS)
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    contribs = " + ".join(
        f"((2 * (2000000 * (2*n_docs - 2*df{i} + 1) * (tf{i} * 10 * avgdl_e2)))"
        f" + ((2*df{i} + 1) * (10*tf{i}*avgdl_e2 + 3*avgdl_e2 + 900*dl)))"
        f" // (2 * ((2*df{i} + 1) * (10*tf{i}*avgdl_e2 + 3*avgdl_e2 + 900*dl)))"
        for i in range(len(_BM25_TERMS))
    )
    name_wild = " OR ".join(f"fname LIKE '%{t}%'" for t in _BM25_TERMS)
    terms_sql = "[" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + "]"
    return f"""
WITH d AS (
  SELECT doc_id,
         lower(source || '-' || CAST(doc_id AS VARCHAR)) AS fname,
         list_filter(string_split_regex(lower(text), '{_SR_TOKEN_SPLIT}'),
                     x -> x <> '' AND NOT list_contains({stops!r}, x)) AS toks
  FROM documents WHERE lang = '{_SR_LANG}'
), pd AS (
  SELECT doc_id, fname, CAST(len(toks) AS BIGINT) AS dl,
         {tf_cols}
  FROM d
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         {df_cols}
  FROM pd
), st2 AS (
  SELECT *, (200 * sum_dl + n_docs) // (2 * n_docs) AS avgdl_e2 FROM st
  WHERE n_docs > 0
), scored AS (
  SELECT doc_id,
         CAST({contribs}
           + 1500000 * CASE WHEN list_has_any(string_split(fname, '-'),
                                              {terms_sql}) THEN 1 ELSE 0 END
           + 1000000 * CASE WHEN {name_wild} THEN 1 ELSE 0 END
          AS BIGINT) AS score_e6
  FROM pd CROSS JOIN st2
)
SELECT doc_id, score_e6 FROM scored WHERE score_e6 > 0
ORDER BY score_e6 DESC, doc_id
"""


_BM25F_BOOSTS = {"t": 2_000_000, "n": 1_500_000}  # e6: text 2.0, name 1.5


def _bm25f_contrib(fk: str, i: int, div: str) -> str:
    """Field ``fk``'s BM25 contribution for term ``i`` as one integer
    expression over the tf/dl/df/avgdl/n_docs columns; ``div`` is the
    engine's integer division (Spark ``DIV``, DuckDB ``//``)."""
    den = (
        f"((2*df{i}_{fk} + 1) * (10*tf{i}_{fk}*avgdl_{fk}"
        f" + 3*avgdl_{fk} + 900*dl_{fk}))"
    )
    return (
        f"((2 * ({_BM25F_BOOSTS[fk]} * (2*n_docs - 2*df{i}_{fk} + 1)"
        f" * (tf{i}_{fk} * 10 * avgdl_{fk})) + {den})"
        f" {div} (2 * {den}))"
    )


def q_search_bm25f(spark, sf_dir):
    """Multi-field BM25 (BM25F-lite): the should-query scored as the sum
    of per-field BM25 contributions — the analyzed text field at boost
    2.0 and the '-'-tokenized name field at boost 1.5 — each field with
    its OWN tf/dl/df/avgdl statistics, which is how ES actually scores a
    multi_match best-of-fields query (DocumentSearchRepository.java:51-66
    with per-field boosts).  Same integer-exact rational machinery as
    search_bm25: exact-rational idf core, pre-rounded avgdl_e2, each
    contribution one integer floor-division, boosts folded into the e6
    numerator (2e6 text / 1.5e6 name).

    Scale shape: identical to search_bm25 — zero explode, one global
    stats aggregate broadcast back, embarrassingly parallel scoring."""
    d = scan(spark, sf_dir, "documents").filter(F.col("lang") == _SR_LANG)
    stop_arr = F.array(*[F.lit(w) for w in ES_ENGLISH_STOPWORDS])
    toks = F.filter(
        F.split(F.lower(F.col("text")), _SR_TOKEN_SPLIT),
        lambda t: (t != F.lit("")) & ~F.array_contains(stop_arr, t),
    )
    ntoks = F.filter(
        F.split(
            F.lower(
                F.concat(F.col("source"), F.lit("-"), F.col("doc_id").cast("string"))
            ),
            "-",
        ),
        lambda t: t != F.lit(""),
    )
    fields = {"t": toks, "n": ntoks}
    cols = ["doc_id"]
    for fk, arr in fields.items():
        cols.append(F.size(arr).cast("bigint").alias(f"dl_{fk}"))
        cols.extend(
            F.size(F.filter(arr, _eq_lit(term))).cast("bigint").alias(f"tf{i}_{fk}")
            for i, term in enumerate(_BM25_TERMS)
        )
    per_doc = d.select(*cols)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    for fk in fields:
        aggs.append(F.sum(f"dl_{fk}").alias(f"sum_dl_{fk}"))
        aggs.extend(
            F.sum((F.col(f"tf{i}_{fk}") > 0).cast("bigint")).alias(f"df{i}_{fk}")
            for i in range(len(_BM25_TERMS))
        )
    # empty-corpus contract (same as search_bm25): drop the stats row
    # before the avgdl divisions so n_docs=0 yields zero rows, not an
    # ANSI divide-by-zero
    stats = per_doc.agg(*aggs).filter(F.col("n_docs") > 0)
    for fk in fields:
        stats = stats.withColumn(
            f"avgdl_{fk}",
            F.expr(f"(200 * sum_dl_{fk} + n_docs) DIV (2 * n_docs)"),
        )
    j = per_doc.join(F.broadcast(stats))
    score = F.expr(" + ".join(
        _bm25f_contrib(fk, i, "DIV") for fk in fields for i in range(len(_BM25_TERMS))
    ))
    return (
        j.select("doc_id", score.alias("score_e6"))
        .filter(F.col("score_e6") > 0)
        .orderBy(F.col("score_e6").desc(), "doc_id")
    )


def _bm25f_sql() -> str:
    stops = list(ES_ENGLISH_STOPWORDS)
    fields = {
        "t": (
            "list_filter(string_split_regex(lower(text), "
            f"'{_SR_TOKEN_SPLIT}'), x -> x <> '' AND NOT "
            f"list_contains({stops!r}, x))"
        ),
        "n": (
            "list_filter(string_split(lower(source || '-' || "
            "CAST(doc_id AS VARCHAR)), '-'), x -> x <> '')"
        ),
    }
    pd_cols, st_cols, av_cols, contribs = [], [], [], []
    for fk, arr in fields.items():
        pd_cols.append(f"CAST(len({arr}) AS BIGINT) AS dl_{fk}")
        st_cols.append(f"CAST(SUM(dl_{fk}) AS BIGINT) AS sum_dl_{fk}")
        av_cols.append(
            f"(200 * sum_dl_{fk} + n_docs) // (2 * n_docs) AS avgdl_{fk}"
        )
        for i, term in enumerate(_BM25_TERMS):
            pd_cols.append(
                f"CAST(len(list_filter({arr}, x -> x = '{term}')) AS BIGINT)"
                f" AS tf{i}_{fk}"
            )
            st_cols.append(
                f"CAST(SUM(CASE WHEN tf{i}_{fk} > 0 THEN 1 ELSE 0 END)"
                f" AS BIGINT) AS df{i}_{fk}"
            )
            contribs.append(_bm25f_contrib(fk, i, "//"))
    sep = ",\n         "
    pd_sql, st_sql, av_sql = sep.join(pd_cols), sep.join(st_cols), sep.join(av_cols)
    score_sql = " + ".join(contribs)
    return f"""
WITH pd AS (
  SELECT doc_id,
         {pd_sql}
  FROM documents WHERE lang = '{_SR_LANG}'
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         {st_sql}
  FROM pd
), st2 AS (
  SELECT *,
         {av_sql}
  FROM st
  WHERE n_docs > 0
), scored AS (
  SELECT doc_id,
         CAST({score_sql} AS BIGINT) AS score_e6
  FROM pd CROSS JOIN st2
)
SELECT doc_id, score_e6 FROM scored WHERE score_e6 > 0
ORDER BY score_e6 DESC, doc_id
"""


SQL_SEARCH_RANKED = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(200 * len(list_filter(
                    string_split_regex(lower(text), '{_SR_TOKEN_SPLIT}'),
                    t -> t = '{_SR_QUERY}'
                         AND NOT list_contains({list(ES_ENGLISH_STOPWORDS)!r}, t)))
              + 150 * CASE WHEN list_contains(
                    string_split(lower(source || '-' || CAST(doc_id AS VARCHAR)), '-'),
                    '{_SR_QUERY}') THEN 1 ELSE 0 END
              + 100 * CASE WHEN lower(source || '-' || CAST(doc_id AS VARCHAR))
                           LIKE '%{_SR_QUERY}%' THEN 1 ELSE 0 END AS BIGINT) AS score_e2
  FROM documents WHERE lang = '{_SR_LANG}'
)
SELECT doc_id, score_e2 FROM scored WHERE score_e2 > 0
ORDER BY score_e2 DESC, doc_id
"""


# ---------------------------------------------------------------------------
# Vision metrics — per-turn confidence + detected language
# (GoogleVisionOcrProvider.java:272-332 via extract.vision_metrics_stage)
# ---------------------------------------------------------------------------


def q_vision_metrics(spark, sf_dir):
    """Vision payloads constructed deterministically from documents (four
    response shapes: full-text with 0-2 blocks, full-text + competing
    annotation, annotation-only, empty), pushed through the REAL
    vision_metrics_stage (Arrow-batched JSON shaping in Python); the
    DuckDB oracle computes the expected confidence/language from the same
    arithmetic — independent of the JSON path."""
    from .extract import vision_metrics_stage

    d = scan(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 3).cast("int")  # 0..2 blocks
    mode = (F.col("doc_id") % 4).cast("int")

    def conf_str(i):
        return F.concat(
            F.lit('{"confidence":0.'),
            ((F.col("doc_id") * 7 + i * 13) % 50 + 50).cast("string"),
            F.lit("}"),
        )

    blocks = (
        F.when(k == 0, F.lit(""))
        .when(k == 1, conf_str(0))
        .otherwise(F.concat(conf_str(0), F.lit(","), conf_str(1)))
    )
    langs = F.when(F.col("doc_id") % 2 == 0, F.lit('["en"]')).otherwise(F.lit("[]"))
    full_text = F.concat(
        F.lit('"full_text":{"text":"vision '),
        F.col("doc_id").cast("string"),
        F.lit('","blocks":['),
        blocks,
        F.lit('],"languages":'),
        langs,
        F.lit("}"),
    )
    # two-digit hundredths ("0.05", not "0.5") so e4 = score100 * 100
    ann_score = F.concat(
        F.lit("0."), F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0")
    )
    annotation = F.concat(
        F.lit('"annotations":[{"description":"ann '),
        F.col("doc_id").cast("string"),
        F.lit('","score":'),
        ann_score,
        F.lit(',"locale":"'),
        F.when(F.col("doc_id") % 2 == 0, F.lit("es")).otherwise(F.lit("")),
        F.lit('"}]'),
    )
    payload = (
        F.when(mode == 0, F.concat(F.lit('{"kind":"vision",'), full_text, F.lit("}")))
        .when(
            mode == 1,
            F.concat(
                F.lit('{"kind":"vision",'), full_text, F.lit(","),
                F.lit('"annotations":[{"description":"IGNORED","score":0.9,"locale":"fr"}]}'),
            ),
        )
        .when(mode == 2, F.concat(F.lit('{"kind":"vision",'), annotation, F.lit("}")))
        .otherwise(F.lit('{"kind":"vision"}'))
    )
    t = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        payload.alias("text"),
    )
    out = vision_metrics_stage(t)
    return out.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        F.round(F.col("confidence") * 10000).cast("bigint").alias("confidence_e4"),
        "language_detected",
    ).orderBy("doc_id")


SQL_VISION_METRICS = """
WITH src AS (
  SELECT doc_id,
         CAST(doc_id % 4 AS INT) AS mode,
         CAST(doc_id % 3 AS INT) AS k,
         (doc_id * 7) % 50 + 50 AS c0,
         (doc_id * 7 + 13) % 50 + 50 AS c1,
         doc_id % 100 AS score100
  FROM documents
)
SELECT doc_id,
       CASE
         WHEN mode IN (0, 1) AND k = 1 THEN CAST(c0 * 100 AS BIGINT)
         WHEN mode IN (0, 1) AND k = 2 THEN CAST(50 * (c0 + c1) AS BIGINT)
         WHEN mode = 1 AND k = 0 THEN 9000
         WHEN mode = 2 AND score100 > 0 THEN CAST(score100 * 100 AS BIGINT)
       END AS confidence_e4,
       CASE
         WHEN mode IN (0, 1) AND doc_id % 2 = 0 THEN 'en'
         WHEN mode = 1 THEN 'fr'
         WHEN mode = 2 AND doc_id % 2 = 0 THEN 'es'
       END AS language_detected
FROM src ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Edited-content MERGE (UpdateOcrContentImpl.java:52-116 via edits.apply_edits)
# ---------------------------------------------------------------------------


def q_edit_upsert(spark, sf_dir):
    """Edited-content lifecycle end-to-end: extraction-like rows derived
    from documents (COMPLETED/FAILED/PENDING ladder), MARKDOWN edits for
    every 6th doc, merged through edits.apply_edits — the COMPLETED guard
    rejects edits on unfinished rows with the reference's message, and
    extracted_text is PRESERVED on edited rows.  Output is the merged
    view the store's upsert would publish."""
    from .edits import ERR_NOT_COMPLETED, apply_edits

    d = scan(spark, sf_dir, "documents")
    status = (
        F.when(F.col("doc_id") % 10 < 7, F.lit("COMPLETED"))
        .when(F.col("doc_id") % 10 < 9, F.lit("FAILED"))
        .otherwise(F.lit("PENDING"))
    )
    results = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("text").alias("extracted_text"),
        F.lit(None).cast("array<struct<start:int,end:int,kind:string>>").alias("spans"),
        status.alias("status"),
        F.lit(None).cast("string").alias("error_message"),
        F.lit("MARKDOWN").alias("content_format"),
        F.lit("plain").alias("rule"),
        F.length("text").cast("int").alias("n_chars"),
        F.lit(0).cast("int").alias("n_words"),
        F.lit(None).cast("string").alias("edited_content"),
        F.lit(None).cast("string").alias("edited_by"),
    )
    edits = d.filter(F.col("doc_id") % 6 == 0).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.concat(F.lit("**edited** "), F.substring("text", 1, 40)).alias(
            "edited_content"
        ),
        F.lit("MARKDOWN").alias("content_format"),
        F.lit("editor-1").alias("edited_by"),
    )
    updated, rejected = apply_edits(results, edits)
    merged = results.join(
        updated.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
    ).unionByName(updated)
    out = merged.join(
        rejected.select("conv_id", "turn_idx", "edit_error"),
        ["conv_id", "turn_idx"],
        "left",
    )
    return out.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "status",
        "extracted_text",
        "edited_content",
        "edited_by",
        "edit_error",
    ).orderBy("doc_id")


SQL_EDIT_UPSERT = """
WITH r AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 10 < 7 THEN 'COMPLETED'
              WHEN doc_id % 10 < 9 THEN 'FAILED'
              ELSE 'PENDING' END AS status
  FROM documents
)
SELECT doc_id, status, text AS extracted_text,
       CASE WHEN doc_id % 6 = 0 AND status = 'COMPLETED'
            THEN '**edited** ' || substr(text, 1, 40) END AS edited_content,
       CASE WHEN doc_id % 6 = 0 AND status = 'COMPLETED'
            THEN 'editor-1' END AS edited_by,
       CASE WHEN doc_id % 6 = 0 AND status <> 'COMPLETED'
            THEN 'Cannot edit content for a document that has not completed OCR processing. Current status: '
                 || status END AS edit_error
FROM r ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Plan/credit provider resolution (OcrProcessingService.java:113-133):
# paid -> GOOGLE_VISION (no deduction); free with credits -> GOOGLE_VISION
# (credit deducted per request); free without -> TESSERACT.
# ---------------------------------------------------------------------------


def q_provider_resolution(spark, sf_dir):
    """Broadcast a tiny user-plan dim (customer-derived: plan + credit
    balance) onto the request stream (events), resolve each request's
    provider with the reference's when-ladder — a free user's first
    ``credits`` requests (in (ts, event_id) order) use Vision and deduct,
    the rest fall back to Tesseract — then roll up per user.  The dim
    broadcast means the fact scan never shuffles for the join; the only
    shuffle is the per-user window/rollup."""
    e = scan(spark, sf_dir, "events")
    c = scan(spark, sf_dir, "customer")
    dim = c.select(
        F.col("c_custkey").alias("user_id"),
        (F.col("c_custkey") % 5 == 0).alias("is_paid"),
        (F.col("c_custkey") % 4).cast("int").alias("credits"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    reqs = (
        e.join(F.broadcast(dim), "user_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "provider",
            F.when(F.col("is_paid"), F.lit("GOOGLE_VISION"))
            .when(F.col("rn") <= F.col("credits"), F.lit("GOOGLE_VISION"))
            .otherwise(F.lit("TESSERACT")),
        )
        .withColumn(
            "deducted",
            (~F.col("is_paid") & (F.col("provider") == "GOOGLE_VISION")).cast("int"),
        )
    )
    return (
        reqs.groupBy("user_id", "is_paid")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum(F.when(F.col("provider") == "GOOGLE_VISION", 1).otherwise(0)).alias(
                "n_vision"
            ),
            F.sum(F.when(F.col("provider") == "TESSERACT", 1).otherwise(0)).alias(
                "n_tesseract"
            ),
            F.sum("deducted").alias("credits_deducted"),
        )
        .orderBy("user_id")
    )


SQL_PROVIDER_RESOLUTION = """
WITH dim AS (
  SELECT c_custkey AS user_id,
         c_custkey % 5 = 0 AS is_paid,
         CAST(c_custkey % 4 AS INT) AS credits
  FROM customer
), reqs AS (
  SELECT e.user_id, d.is_paid,
         CASE WHEN d.is_paid THEN 'GOOGLE_VISION'
              WHEN ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)
                   <= d.credits THEN 'GOOGLE_VISION'
              ELSE 'TESSERACT' END AS provider
  FROM events e JOIN dim d ON e.user_id = d.user_id
)
SELECT user_id, is_paid, COUNT(*) AS n_requests,
       CAST(SUM(CASE WHEN provider = 'GOOGLE_VISION' THEN 1 ELSE 0 END) AS BIGINT) AS n_vision,
       CAST(SUM(CASE WHEN provider = 'TESSERACT' THEN 1 ELSE 0 END) AS BIGINT) AS n_tesseract,
       CAST(SUM(CASE WHEN NOT is_paid AND provider = 'GOOGLE_VISION' THEN 1 ELSE 0 END) AS BIGINT)
         AS credits_deducted
FROM reqs GROUP BY user_id, is_paid ORDER BY user_id
"""


REGISTRY.update(
    {
        "search_ranked": {"builder": q_search_ranked, "sql": SQL_SEARCH_RANKED},
        "search_bm25": {"builder": q_search_bm25, "sql_fn": _bm25_sql},
        "search_bm25f": {"builder": q_search_bm25f, "sql_fn": _bm25f_sql},
        "vision_metrics": {"builder": q_vision_metrics, "sql": SQL_VISION_METRICS},
        "edit_upsert": {"builder": q_edit_upsert, "sql": SQL_EDIT_UPSERT},
        "provider_resolution": {
            "builder": q_provider_resolution,
            "sql": SQL_PROVIDER_RESOLUTION,
        },
    }
)


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: regional revenue through a five-way join
# ---------------------------------------------------------------------------

_RR_REGION = "ASIA"
_RR_START = "1996-01-01"
_RR_END = "1997-01-01"


def q_regional_revenue(spark, sf_dir):
    """TPC-H Q5 shape: revenue per nation for one region and one order
    year, with the local-supplier constraint (supplier and customer in
    the SAME nation) — the classic snowflake join chain
    region->nation->customer->orders->lineitem->supplier.

    Scale notes: region/nation collapse to ONE broadcast dim before
    touching any fact table; supplier is broadcast with the
    s_nationkey == c_nationkey constraint folded into the join condition;
    the only big shuffles are customer-orders (custkey) and
    orders-lineitem (orderkey) — at 100 TB both fact tables are bucketed
    on those keys.  The date filter reaches the orders scan.  Money
    through DECIMAL per the FP-parity rules."""
    r = (
        scan(spark, sf_dir, "region")
        .filter(F.col("r_name") == _RR_REGION)
        .select("r_regionkey")
    )
    n = scan(spark, sf_dir, "nation")
    nr = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name")
    )
    s = scan(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (
        scan(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit(_RR_START)))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit(_RR_END)))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    dec = lambda col: F.col(col).cast("decimal(18,2)")
    revenue = F.sum(
        (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
        .cast("decimal(18,4)")
    )
    return (
        c.join(nr, c.c_nationkey == nr.n_nationkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == F.col("n_nationkey")),
        )
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


SQL_REGIONAL_REVENUE = f"""
SELECT n_name,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name = '{_RR_REGION}'
  AND o_orderdate >= TIMESTAMP '{_RR_START}'
  AND o_orderdate < TIMESTAMP '{_RR_END}'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


REGISTRY.update(
    {
        "regional_revenue": {
            "builder": q_regional_revenue,
            "sql": SQL_REGIONAL_REVENUE,
        },
    }
)


# ---------------------------------------------------------------------------
# Delete/retract reclaim rollup — DocumentDeleteImpl.java:52-79,141:
# on collection delete, storage-to-reclaim is the SUM of fileSize over the
# collection's files with uploadStatus == SUCCESS (failed uploads never
# consumed storage), credited back via updateStorageUsed(user, -reclaim);
# the deletion notification carries the collection's file count.
# ---------------------------------------------------------------------------

_DELETE_COLLECTION_MOD = 5  # deterministic "deleted collections" subset


def q_delete_reclaim(spark, sf_dir):
    """Reclaimed-storage rollup for deleted collections: per collection
    (source), total files, SUCCESS files, and bytes to reclaim — the
    batch analog of DocumentDeleteImpl's reclaim accounting, with
    upload_status derived exactly as q_upload_validation does.

    Scale shape: the deleted-collection predicate filters BEFORE the
    single groupBy(source) shuffle; at 100 TB the deleted-key set would
    broadcast into a semi-join against a source-bucketed table instead of
    the derived modulus."""
    d = scan(spark, sf_dir, "documents")
    coll_num = F.substring(F.col("source"), 4, 10).cast("int")
    status = (
        F.when(~F.col("lang").isin(*_LANG_ALLOWLIST), F.lit("FAILED_VALIDATION"))
        .when(F.col("n_chars") > _SIZE_CAP, F.lit("FAILED_SIZE"))
        .otherwise(F.lit("UPLOADED"))
    )
    ok = F.col("upload_status") == "UPLOADED"
    return (
        d.select("source", "n_chars", status.alias("upload_status"), coll_num.alias("_cn"))
        .filter(F.col("_cn") % _DELETE_COLLECTION_MOD == 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_files"),
            F.sum(ok.cast("int")).cast("int").alias("n_success"),
            F.sum(F.when(ok, F.col("n_chars")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("reclaimed_bytes"),
        )
        .orderBy("source")
    )


SQL_DELETE_RECLAIM = f"""
WITH per_file AS (
  SELECT source, n_chars,
         CASE WHEN lang NOT IN {repr(tuple(_LANG_ALLOWLIST))}
              THEN 'FAILED_VALIDATION'
              WHEN n_chars > {_SIZE_CAP} THEN 'FAILED_SIZE'
              ELSE 'UPLOADED' END AS upload_status
  FROM documents
  WHERE CAST(SUBSTR(source, 4) AS INT) % {_DELETE_COLLECTION_MOD} = 0
)
SELECT source,
       CAST(COUNT(*) AS INT) AS n_files,
       CAST(SUM(CASE WHEN upload_status = 'UPLOADED' THEN 1 ELSE 0 END) AS INT) AS n_success,
       CAST(SUM(CASE WHEN upload_status = 'UPLOADED' THEN n_chars ELSE 0 END) AS BIGINT) AS reclaimed_bytes
FROM per_file GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Encrypted-entry admin stats — FileEntry.isEncrypted/encryptionIv
# (FileEntry.java:46-51) and the filtered admin count
# countEncryptedDocuments (DocumentCollectionRepository.java:36-37), plus
# the sibling totals countTotalFiles/sumTotalStorageBytes (:24-28).
# ---------------------------------------------------------------------------

_ENCRYPTED_MOD = 11  # deterministic is_encrypted derivation: doc_id % 11 == 3


def q_encrypted_stats(spark, sf_dir):
    """Per-collection admin stats with the encrypted-entry filter:
    total files, total bytes, encrypted count, and iv-present count
    (must equal the encrypted count — every encrypted entry carries an
    IV, FileEntry.java:50-51).

    Scale shape: one groupBy(source) hash aggregate; the encrypted count
    is a conditional agg inside it, not a second scan."""
    d = scan(spark, sf_dir, "documents")
    is_enc = (F.col("doc_id") % _ENCRYPTED_MOD) == 3
    iv = F.when(is_enc, F.hex(F.col("doc_id")))  # else NULL
    return (
        d.select("source", "n_chars", is_enc.alias("is_encrypted"), iv.alias("encryption_iv"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("total_files"),
            F.sum("n_chars").cast("bigint").alias("total_bytes"),
            F.sum(F.col("is_encrypted").cast("int")).cast("int").alias("n_encrypted"),
            F.count("encryption_iv").cast("int").alias("n_with_iv"),
        )
        .orderBy("source")
    )


SQL_ENCRYPTED_STATS = f"""
WITH per_file AS (
  SELECT source, n_chars,
         doc_id % {_ENCRYPTED_MOD} = 3 AS is_encrypted,
         CASE WHEN doc_id % {_ENCRYPTED_MOD} = 3 THEN hex(doc_id) END AS encryption_iv
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS INT) AS total_files,
       CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
       CAST(SUM(CASE WHEN is_encrypted THEN 1 ELSE 0 END) AS INT) AS n_encrypted,
       CAST(COUNT(encryption_iv) AS INT) AS n_with_iv
FROM per_file GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# AI enrichment stage — AiSummarizationService.java:95-110,165-171
# (status gate, isBlank gate, truncate, setAiSummary) +
# AiClassificationService.java:96-103,152-186 (fence strip, parse with
# per-field defaults, setDocumentType, setAiTags = String.join(",", tags))
# + V54__add_ai_fields_to_ocr_data.sql (the three columns).  The "model
# call" is a deterministic fixture transform (first-6-token summary),
# per the north rule's no-external-services constraint.
# ---------------------------------------------------------------------------

_AI_TRUNCATE_CAP = 120  # maxInputLength analog scaled to synthetic docs
_AI_SUMMARY_TOKENS = 6


def q_ai_enrich(spark, sf_dir):
    """End-to-end enrichment: COMPLETED-status + non-blank gates ->
    truncate -> deterministic summary -> fence-strip + classification
    parse with defaults -> (ai_summary, document_type, ai_tags) — the
    three V54 columns, ready for the keyed upsert
    (tests/test_checkpoint_store.py drives them through store.upsert).

    Parse-failure rows get ('other', 'unclassified', 0.0) — the
    CLASSIFY_DEFAULTS triple; valid JSON missing a field gets per-field
    defaults ('other', '', 0.5).  Scale shape: pure narrow transforms,
    zero shuffles before the final presentation sort."""
    d = scan(spark, sf_dir, "documents", fan=True)
    status = (
        F.when(F.col("doc_id") % 10 < 7, F.lit("COMPLETED"))
        .when(F.col("doc_id") % 10 < 9, F.lit("FAILED"))
        .otherwise(F.lit("PROCESSING"))
    )
    gated = (
        d.select("doc_id", "lang", "text", status.alias("status"))
        .filter(F.col("status") == "COMPLETED")
        .filter(~F.col("text").rlike(f"^[{_ASCII_WS}]*$"))
    )
    truncated = F.when(
        F.length("text") > _AI_TRUNCATE_CAP,
        F.substring("text", 1, _AI_TRUNCATE_CAP),
    ).otherwise(F.col("text"))
    summary = F.concat(
        F.lit("Summary: "),
        F.array_join(
            F.slice(F.split(F.trim(truncated), r"\s+"), 1, _AI_SUMMARY_TOKENS), " "
        ),
    )
    resp = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('```json\n{"document_type":"report","tags":[" a","b ",""],'
                      '"confidence":0.8}\n```'),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit('{"document_type":"'), F.col("lang"), F.lit('","tags":["x"]}')),
        )
        .when(F.col("doc_id") % 4 == 2, F.lit('{"tags":[]}'))
        .otherwise(F.lit("broken"))
    )
    stripped = F.when(
        resp.startswith("```"),
        F.regexp_replace(F.regexp_replace(resp, r"^```(json)?\s*", ""), r"\s*```$", ""),
    ).otherwise(resp)
    # PERMISSIVE from_json yields a struct of NULLs (not a null struct)
    # for malformed input, so parse failure must be detected via the
    # corrupt-record column, not isNull()
    parsed = F.from_json(
        stripped,
        "document_type STRING, tags ARRAY<STRING>, confidence DOUBLE, _corrupt STRING",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    parse_failed = parsed["_corrupt"].isNotNull()
    return gated.select(
        "doc_id",
        summary.alias("ai_summary"),
        F.when(parse_failed, F.lit("other"))
        .otherwise(F.coalesce(parsed["document_type"], F.lit("other")))
        .alias("document_type"),
        F.when(parse_failed, F.lit("unclassified"))
        .otherwise(F.array_join(F.coalesce(parsed["tags"], F.array()), ","))
        .alias("ai_tags"),
        F.round(
            F.when(parse_failed, F.lit(0.0))
            .otherwise(F.coalesce(parsed["confidence"], F.lit(0.5)))
            * 100
        )
        .cast("bigint")
        .alias("confidence_e2"),
    ).orderBy("doc_id")


SQL_AI_ENRICH = f"""
WITH gated AS (
  SELECT doc_id, lang, text
  FROM documents
  WHERE doc_id % 10 < 7
    AND NOT regexp_matches(text, '^[ \\t\\n\\x0B\\f\\r]*$')
), prepared AS (
  SELECT doc_id,
         'Summary: ' || array_to_string(
            list_slice(regexp_split_to_array(
              trim(CASE WHEN length(text) > {_AI_TRUNCATE_CAP}
                        THEN substr(text, 1, {_AI_TRUNCATE_CAP}) ELSE text END),
              '\\s+'), 1, {_AI_SUMMARY_TOKENS}), ' ') AS ai_summary,
         CASE WHEN doc_id % 4 = 0
              THEN '```json' || chr(10) ||
                   '{{"document_type":"report","tags":[" a","b ",""],"confidence":0.8}}'
                   || chr(10) || '```'
              WHEN doc_id % 4 = 1
              THEN '{{"document_type":"' || lang || '","tags":["x"]}}'
              WHEN doc_id % 4 = 2 THEN '{{"tags":[]}}'
              ELSE 'broken' END AS resp
  FROM gated
), stripped AS (
  SELECT doc_id, ai_summary,
         CASE WHEN resp LIKE '```%'
              THEN regexp_replace(regexp_replace(resp, '^```(json)?\\s*', ''), '\\s*```$', '')
              ELSE resp END AS resp
  FROM prepared
)
SELECT doc_id, ai_summary,
       CASE WHEN NOT json_valid(resp) THEN 'other'
            ELSE COALESCE(json_extract_string(resp, '$.document_type'), 'other') END
         AS document_type,
       CASE WHEN NOT json_valid(resp) THEN 'unclassified'
            ELSE COALESCE(array_to_string(CAST(json_extract(resp, '$.tags') AS VARCHAR[]), ','), '')
            END AS ai_tags,
       CAST(ROUND(CASE WHEN NOT json_valid(resp) THEN 0.0
                       ELSE COALESCE(CAST(json_extract(resp, '$.confidence') AS DOUBLE), 0.5)
                  END * 100) AS BIGINT) AS confidence_e2
FROM stripped ORDER BY doc_id
"""


REGISTRY.update(
    {
        "delete_reclaim": {"builder": q_delete_reclaim, "sql": SQL_DELETE_RECLAIM},
        "encrypted_stats": {"builder": q_encrypted_stats, "sql": SQL_ENCRYPTED_STATS},
        "ai_enrich": {"builder": q_ai_enrich, "sql": SQL_AI_ENRICH},
    }
)


# ---------------------------------------------------------------------------
# Storage-quota admission (StorageAllocationService.java:50-110,
# resolveEffectiveTeamContext 355-366, StorageQuotaExceededException fields)
# ---------------------------------------------------------------------------
# Deterministic subscription/team dim derived from customer keys (shared
# with dashboard_kpi — keep the two in sync):
#   has_sub          c % 11 != 0        (findByUserId empty -> NO_SUBSCRIPTION)
#   sub from TEAM    has_sub AND c % 3 == 0   (SubscriptionSource.TEAM)
#   team_id          c % 40
#   team allowed     team_id % 5 != 0   (team.isAccessAllowed; else fall back
#                                        to the INDIVIDUAL ladder, java:357-365)
#   individual plan  tier = c % 4; tier 3 -> NULL limit (unlimited, java:78-80)
#                    else (tier+1)*200000; storageUsed = (c*37) % 100000
#   team plan        team_id % 6 == 0 -> NULL limit (Enterprise, java:100-103)
#                    else ((team_id % 3)+1)*500000; used = (team_id*911) % 300000


def q_storage_admission(spark, sf_dir):
    """Upload-side storage admission: every upload request (events; bytes
    = the ROUND(value*100) money idiom) resolves its storage OWNER with
    the reference's team-first ladder — a TEAM-sourced subscription whose
    team still grants access charges the TEAM pool, anything else the
    individual pool (StorageAllocationService.java:50-58) — then the
    batch replay of ``storageUsed + required > limit`` admits or rejects
    each request against the pool's base usage plus the bytes of all
    PRIOR requests on that pool, emitting the exception's
    (requiredBytes, availableStorage, storageLimit) triple.

    Scale shape: the user->team->plan dim is customer-derived and
    broadcast, so the event scan never shuffles for the join; the ONE
    Exchange is the per-owner admission window, keyed by owner pool —
    team pools are the natural hot keys and would be salted upstream
    exactly like the conv_id extraction pipeline."""
    e = scan(spark, sf_dir, "events", cols=["event_id", "user_id", "ts", "value"])
    c = scan(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    team_id = (ck % 40).cast("bigint")
    has_sub = ck % 11 != 0
    team_ctx = has_sub & (ck % 3 == 0) & (team_id % 5 != 0)
    tier = ck % 4
    ind_limit = F.when(tier == 3, F.lit(None).cast("bigint")).otherwise(
        ((tier + 1) * 200000).cast("bigint")
    )
    team_limit = F.when(team_id % 6 == 0, F.lit(None).cast("bigint")).otherwise(
        (((team_id % 3) + 1) * 500000).cast("bigint")
    )
    dim = c.select(
        ck.alias("user_id"),
        has_sub.alias("has_sub"),
        F.when(team_ctx, F.concat(F.lit("team:"), team_id.cast("string")))
        .otherwise(F.concat(F.lit("user:"), ck.cast("string")))
        .alias("owner_key"),
        F.when(team_ctx, team_limit).otherwise(ind_limit).alias("storage_limit"),
        F.when(team_ctx, (team_id * 911) % 300000)
        .otherwise((ck * 37) % 100000)
        .cast("bigint")
        .alias("base_used"),
    )
    req = e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("required_bytes"),
    ).join(F.broadcast(dim), "user_id")
    w = (
        Window.partitionBy("owner_key")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("required_bytes").over(w), F.lit(0).cast("bigint"))
    avail = F.col("storage_limit") - F.col("base_used") - prior
    verdict = (
        F.when(~F.col("has_sub"), F.lit("NO_SUBSCRIPTION"))
        .when(F.col("storage_limit").isNull(), F.lit("UNLIMITED_ADMIT"))
        .when(F.col("required_bytes") > avail, F.lit("REJECT"))
        .otherwise(F.lit("ADMIT"))
    )
    return (
        req.select(
            "event_id",
            "user_id",
            "owner_key",
            "required_bytes",
            F.col("storage_limit"),
            avail.alias("available_bytes"),
            verdict.alias("verdict"),
        )
        .orderBy("event_id")
    )


SQL_STORAGE_ADMISSION = """
WITH dim AS (
  SELECT c_custkey AS user_id,
         c_custkey % 11 <> 0 AS has_sub,
         CASE WHEN c_custkey % 11 <> 0 AND c_custkey % 3 = 0
                   AND (c_custkey % 40) % 5 <> 0
              THEN 'team:' || CAST(c_custkey % 40 AS VARCHAR)
              ELSE 'user:' || CAST(c_custkey AS VARCHAR) END AS owner_key,
         CASE WHEN c_custkey % 11 <> 0 AND c_custkey % 3 = 0
                   AND (c_custkey % 40) % 5 <> 0
              THEN CASE WHEN (c_custkey % 40) % 6 = 0 THEN NULL
                        ELSE (((c_custkey % 40) % 3) + 1) * 500000 END
              ELSE CASE WHEN c_custkey % 4 = 3 THEN NULL
                        ELSE ((c_custkey % 4) + 1) * 200000 END
         END AS storage_limit,
         CASE WHEN c_custkey % 11 <> 0 AND c_custkey % 3 = 0
                   AND (c_custkey % 40) % 5 <> 0
              THEN ((c_custkey % 40) * 911) % 300000
              ELSE (c_custkey * 37) % 100000 END AS base_used
  FROM customer
), req AS (
  SELECT e.event_id, e.user_id, e.ts,
         CAST(ROUND(e.value * 100) AS BIGINT) AS required_bytes,
         d.has_sub, d.owner_key,
         CAST(d.storage_limit AS BIGINT) AS storage_limit,
         CAST(d.base_used AS BIGINT) AS base_used
  FROM events e JOIN dim d ON e.user_id = d.user_id
), scanned AS (
  SELECT event_id, user_id, owner_key, required_bytes, storage_limit,
         has_sub,
         CAST(storage_limit - base_used
           - COALESCE(SUM(required_bytes) OVER (
               PARTITION BY owner_key ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS available_bytes
  FROM req
)
SELECT event_id, user_id, owner_key, required_bytes, storage_limit,
       available_bytes,
       CASE WHEN NOT has_sub THEN 'NO_SUBSCRIPTION'
            WHEN storage_limit IS NULL THEN 'UNLIMITED_ADMIT'
            WHEN required_bytes > available_bytes THEN 'REJECT'
            ELSE 'ADMIT' END AS verdict
FROM scanned ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# Dashboard KPI one-scan battery (DashboardMetricsCacheService.java:30-127)
# ---------------------------------------------------------------------------
# User/subscription flags derived from customer keys (the subscription
# fields has_sub / status / plan / storage_used stay consistent with
# q_storage_admission's dim):
#   deleted     c % 13 == 0     (deletedAt IS NULL filter on user KPIs)
#   is_active   c % 2 == 0      is_verified  c % 3 != 0
#   blocked     c % 17 == 0     (LoginAttemptsRepository.countByIsBlockedTrue
#                                — deliberately NOT deletedAt-filtered,
#                                mirroring java:44)
#   status      c % 5 -> ACTIVE/TRIAL/CANCELLED/EXPIRED/PENDING
#   plan        c % 4 -> FREE/BASIC/PRO/ENTERPRISE
# createdAt/lastLogin analogs come from the event stream (min/max ts per
# user); "now" is the corpus max ts, so every window is deterministic.

_KPI_STATUSES = ("ACTIVE", "TRIAL", "CANCELLED", "EXPIRED", "PENDING")
_KPI_PLANS = ("FREE", "BASIC", "PRO", "ENTERPRISE")


def q_dashboard_kpi(spark, sf_dir):
    """All ~20 dashboard KPI counts in ONE pass per entity table: the
    user ladder (total/active/verified/unverified), creation and
    last-login windows (today / 7d / 30d, strict After per the repository
    methods), blocked count, the usersByPlan / usersByStatus maps
    flattened to per-bucket conditional sums (driver-hostile map columns
    are banned), subscription status counts, total storage and the
    reference's asymmetric averageStorageUsed = totalStorage /
    totalUsers (storage summed over SUBSCRIPTIONS, divided by non-deleted
    USERS — java:64-66), emitted as an e2 integer.

    Scale shape: customer is scanned once into the conditional-sum
    battery; events are scanned once into a per-user (min, max) ts
    aggregate whose 1-row global max ("now") broadcasts back; the final
    rollup is a single-row aggregate — partial map-side sums everywhere,
    no wide shuffle at any size."""
    c = scan(spark, sf_dir, "customer")
    # NOT fanned out: the per-user min/max aggregation collapses 1M rows
    # map-side during the scan, so a pre-aggregation shuffle would move
    # more bytes than it saves (fan-out only pays when per-row work
    # dominates; measured 1.15s unfanned vs 2.1s fanned at sf1.0)
    e = scan(spark, sf_dir, "events")
    # per-user activity is read twice (global "now" + the user join):
    # materialize the narrow #users-sized aggregate once
    activity = materialize(e.groupBy(F.col("user_id")).agg(
        F.min("ts").alias("created_ts"), F.max("ts").alias("last_login")
    ), "kpi_activity")
    now_df = activity.agg(F.max("last_login").alias("now_ts"))
    ck = F.col("c_custkey")
    u = c.select(
        ck.alias("user_id"),
        (ck % 13 == 0).alias("deleted"),
        (ck % 2 == 0).alias("is_active"),
        (ck % 3 != 0).alias("is_verified"),
        (ck % 17 == 0).alias("blocked"),
        (ck % 11 != 0).alias("has_sub"),
        (ck % 5).cast("int").alias("status_k"),
        (ck % 4).cast("int").alias("plan_k"),
        ((ck * 37) % 100000).cast("bigint").alias("storage_used"),
    )
    j = (
        u.join(activity, "user_id", "left")
        .crossJoin(F.broadcast(now_df))
        .withColumn("start_today", F.date_trunc("day", F.col("now_ts")))
        .withColumn("start_week", F.expr("now_ts - INTERVAL 7 DAY"))
        .withColumn("start_month", F.expr("now_ts - INTERVAL 30 DAY"))
    )
    live = ~F.col("deleted")

    def n(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    aggs = [
        n(live).alias("total_users"),
        n(live & F.col("is_active") & F.col("is_verified")).alias("active_users"),
        n(live & F.col("is_verified")).alias("verified_users"),
        n(live & ~F.col("is_verified")).alias("unverified_users"),
        n(F.col("blocked")).alias("blocked_users"),
        n(live & (F.col("created_ts") > F.col("start_today"))).alias(
            "new_users_today"
        ),
        n(live & (F.col("created_ts") > F.col("start_week"))).alias(
            "new_users_week"
        ),
        n(live & (F.col("created_ts") > F.col("start_month"))).alias(
            "new_users_month"
        ),
        n(live & (F.col("last_login") > F.col("start_today"))).alias("dau"),
        n(live & (F.col("last_login") > F.col("start_week"))).alias("wau"),
        n(live & (F.col("last_login") > F.col("start_month"))).alias("mau"),
    ]
    aggs += [
        n(F.col("has_sub") & (F.col("status_k") == k)).alias(
            f"subs_{s.lower()}"
        )
        for k, s in enumerate(_KPI_STATUSES)
    ]
    aggs += [
        n(F.col("has_sub") & (F.col("plan_k") == k)).alias(
            f"users_plan_{p.lower()}"
        )
        for k, p in enumerate(_KPI_PLANS)
    ]
    aggs += [
        F.sum(F.when(F.col("has_sub"), F.col("storage_used")).otherwise(0))
        .cast("bigint")
        .alias("total_storage_used"),
    ]
    out = j.agg(*aggs)
    # averageStorageUsed (java:66): totalStorage / totalUsers, e2 integer
    # via half-away floor-division; zero-user corpora emit NULL
    return out.withColumn(
        "avg_storage_e2",
        F.when(
            F.col("total_users") > 0,
            F.expr(
                "(200 * total_storage_used + total_users)"
                " DIV (2 * total_users)"
            ),
        ).cast("bigint"),
    )


def _kpi_sql() -> str:
    subs = ",\n       ".join(
        f"CAST(SUM(CASE WHEN has_sub AND status_k = {k} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS subs_{s.lower()}"
        for k, s in enumerate(_KPI_STATUSES)
    )
    plans = ",\n       ".join(
        f"CAST(SUM(CASE WHEN has_sub AND plan_k = {k} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS users_plan_{p.lower()}"
        for k, p in enumerate(_KPI_PLANS)
    )
    return f"""
WITH activity AS (
  SELECT user_id, MIN(ts) AS created_ts, MAX(ts) AS last_login
  FROM events GROUP BY user_id
), now_row AS (
  SELECT MAX(last_login) AS now_ts FROM activity
), u AS (
  SELECT c_custkey AS user_id,
         c_custkey % 13 = 0 AS deleted,
         c_custkey % 2 = 0 AS is_active,
         c_custkey % 3 <> 0 AS is_verified,
         c_custkey % 17 = 0 AS blocked,
         c_custkey % 11 <> 0 AS has_sub,
         CAST(c_custkey % 5 AS INT) AS status_k,
         CAST(c_custkey % 4 AS INT) AS plan_k,
         CAST((c_custkey * 37) % 100000 AS BIGINT) AS storage_used
  FROM customer
), j AS (
  SELECT u.*, a.created_ts, a.last_login, n.now_ts,
         date_trunc('day', n.now_ts) AS start_today,
         n.now_ts - INTERVAL 7 DAY AS start_week,
         n.now_ts - INTERVAL 30 DAY AS start_month
  FROM u LEFT JOIN activity a ON u.user_id = a.user_id CROSS JOIN now_row n
), agg AS (
SELECT CAST(SUM(CASE WHEN NOT deleted THEN 1 ELSE 0 END) AS BIGINT) AS total_users,
       CAST(SUM(CASE WHEN NOT deleted AND is_active AND is_verified THEN 1 ELSE 0 END) AS BIGINT) AS active_users,
       CAST(SUM(CASE WHEN NOT deleted AND is_verified THEN 1 ELSE 0 END) AS BIGINT) AS verified_users,
       CAST(SUM(CASE WHEN NOT deleted AND NOT is_verified THEN 1 ELSE 0 END) AS BIGINT) AS unverified_users,
       CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS blocked_users,
       CAST(SUM(CASE WHEN NOT deleted AND created_ts > start_today THEN 1 ELSE 0 END) AS BIGINT) AS new_users_today,
       CAST(SUM(CASE WHEN NOT deleted AND created_ts > start_week THEN 1 ELSE 0 END) AS BIGINT) AS new_users_week,
       CAST(SUM(CASE WHEN NOT deleted AND created_ts > start_month THEN 1 ELSE 0 END) AS BIGINT) AS new_users_month,
       CAST(SUM(CASE WHEN NOT deleted AND last_login > start_today THEN 1 ELSE 0 END) AS BIGINT) AS dau,
       CAST(SUM(CASE WHEN NOT deleted AND last_login > start_week THEN 1 ELSE 0 END) AS BIGINT) AS wau,
       CAST(SUM(CASE WHEN NOT deleted AND last_login > start_month THEN 1 ELSE 0 END) AS BIGINT) AS mau,
       {subs},
       {plans},
       CAST(SUM(CASE WHEN has_sub THEN storage_used ELSE 0 END) AS BIGINT) AS total_storage_used
FROM j
)
SELECT *,
       CASE WHEN total_users > 0
            THEN CAST((200 * total_storage_used + total_users)
                      // (2 * total_users) AS BIGINT)
            ELSE NULL END AS avg_storage_e2
FROM agg
"""


# ---------------------------------------------------------------------------
# Phrase / proximity match (DocumentSearchRepository.java match family —
# the ES match_phrase clause, deterministically integer-scored)
# ---------------------------------------------------------------------------

_PHRASE_W1, _PHRASE_W2 = "table", "scan"


def q_search_phrase(spark, sf_dir):
    """ES ``match_phrase`` over the analyzed text field: standard-analyzer
    tokens (lowercase, punctuation split, NO stop filter — phrase
    adjacency is position-sensitive, and the ES standard analyzer keeps
    stopwords), counting exact-adjacency occurrences of the two-term
    phrase plus a slop-1 proximity variant (one intervening token), with
    the integer score 100*exact + 50*slop1.

    Scale shape: token positions never explode — both counts are pure
    array expressions (transform over the token array with
    ``try_element_at`` lookahead, NULL-safe at the array tail), so the
    whole query is one embarrassingly parallel scan plus the
    presentation sort; the lang filter pushes to the parquet scan."""
    d = scan(spark, sf_dir, "documents", fan=True).filter(F.col("lang") == _SR_LANG)
    toks = F.filter(
        F.split(F.lower(F.col("text")), _SR_TOKEN_SPLIT),
        lambda t: t != F.lit(""),
    )
    d2 = d.select("doc_id", toks.alias("toks"))
    # transform's 0-based index i -> this element is element_at i+1
    # (1-based); its successor is i+2, the slop-1 successor i+3.
    # try_element_at returns NULL past the tail (ANSI-safe), and
    # `true AND NULL` is NULL, which filter() drops.
    n_phrase = F.expr(
        f"size(filter(transform(toks, (x, i) -> x = '{_PHRASE_W1}'"
        f" AND try_element_at(toks, i + 2) = '{_PHRASE_W2}'), b -> b))"
    ).cast("bigint")
    n_slop1 = F.expr(
        f"size(filter(transform(toks, (x, i) -> x = '{_PHRASE_W1}'"
        f" AND try_element_at(toks, i + 2) <> '{_PHRASE_W2}'"
        f" AND try_element_at(toks, i + 3) = '{_PHRASE_W2}'), b -> b))"
    ).cast("bigint")
    return (
        d2.select(
            "doc_id",
            n_phrase.alias("n_phrase"),
            n_slop1.alias("n_slop1"),
        )
        .withColumn(
            "score_e2", (F.col("n_phrase") * 100 + F.col("n_slop1") * 50)
        )
        .filter(F.col("score_e2") > 0)
        .orderBy(F.col("score_e2").desc(), "doc_id")
    )


SQL_SEARCH_PHRASE = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '{_SR_TOKEN_SPLIT}'),
                     x -> x <> '') AS toks
  FROM documents WHERE lang = '{_SR_LANG}'
), counted AS (
  SELECT doc_id,
         CAST(len(list_filter(toks, (x, i) -> x = '{_PHRASE_W1}'
                  AND toks[i + 1] = '{_PHRASE_W2}')) AS BIGINT) AS n_phrase,
         CAST(len(list_filter(toks, (x, i) -> x = '{_PHRASE_W1}'
                  AND toks[i + 1] <> '{_PHRASE_W2}'
                  AND toks[i + 2] = '{_PHRASE_W2}')) AS BIGINT) AS n_slop1
  FROM d
)
SELECT doc_id, n_phrase, n_slop1,
       n_phrase * 100 + n_slop1 * 50 AS score_e2
FROM counted WHERE n_phrase * 100 + n_slop1 * 50 > 0
ORDER BY score_e2 DESC, doc_id
"""


REGISTRY.update(
    {
        "storage_admission": {
            "builder": q_storage_admission,
            "sql": SQL_STORAGE_ADMISSION,
        },
        "dashboard_kpi": {"builder": q_dashboard_kpi, "sql_fn": _kpi_sql},
        "search_phrase": {"builder": q_search_phrase, "sql": SQL_SEARCH_PHRASE},
    }
)
