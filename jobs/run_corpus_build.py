"""spark-submit entry point for the corpus-build (training-data export)
pipeline: Gopher quality gate -> C4 chunk-grain boilerplate drop ->
benchmark decontamination -> per-lang token-budget shard packing.

Deploy:
    tools/build_pyfiles.sh                       # -> dist/unraveldocs_spark.zip
    spark-submit --py-files dist/unraveldocs_spark.zip \
        jobs/run_corpus_build.py \
        --input  <documents parquet dir> \
        --store  <snapshot store root> \
        [--partitions N]

Idempotent per input: the run_id is derived from the input content
fingerprint (count + doc_id checksum), so re-submitting the same corpus
after a crash skips the already-published snapshot instead of appending
a duplicate — the same commit-property protocol run_extraction uses.
"""

from __future__ import annotations

import argparse
import json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet dir")
    ap.add_argument("--store", required=True, help="snapshot store root")
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from unraveldocs_spark.checkpoint import DirCheckpointStore
    from unraveldocs_spark.scanfan import scan
    from unraveldocs_spark.schemas import (
        CORPUS_LINEAGE_SCHEMA,
        CORPUS_SHARDS_SCHEMA,
    )
    from unraveldocs_spark.trainingdata import q_corpus_export_shards

    spark = SparkSession.builder.appName("unraveldocs-corpus-build").getOrCreate()
    if args.partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.partitions))

    import os

    sf_dir = args.input.rstrip("/")
    if os.path.basename(sf_dir) == "documents.parquet":
        sf_dir = os.path.dirname(sf_dir)

    docs = scan(spark, sf_dir, "documents")
    # content fingerprint via XOR of per-row hashes: order-independent and
    # overflow-free at any corpus size (a SUM of products throws under
    # ANSI once doc_id * constant exceeds BIGINT at ~10^12-scale ids)
    fp = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.col("doc_id"))).alias("ck"),
    ).first()
    run_id = f"corpus-{fp.n}-{fp.ck}"

    # declared schemas for THIS store's row types: reading the published
    # parquet back under the default EXTRACTIONS_SCHEMA/LINEAGE_SCHEMA
    # would yield silently all-null columns
    store = DirCheckpointStore(
        args.store,
        results_schema=CORPUS_SHARDS_SCHEMA,
        lineage_schema=CORPUS_LINEAGE_SCHEMA,
    )
    if store.has_run(run_id):
        print(json.dumps({"run_id": run_id, "snapshot_id": None, "resumed": True}))
        spark.stop()
        return

    shards = q_corpus_export_shards(spark, sf_dir)
    lineage = shards.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum("shard_tokens").alias("lang_tokens"),
        F.sum("n_docs").alias("lang_docs"),
    )
    snap_id = store.append(shards, lineage=lineage, run_id=run_id)
    stats = shards.agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("shard_tokens").alias("total_tokens"),
    ).first()
    print(
        json.dumps(
            {
                "run_id": run_id,
                "snapshot_id": snap_id,
                "resumed": False,
                "n_shards": stats.n_shards,
                "n_docs": int(stats.n_docs or 0),
                "total_tokens": int(stats.total_tokens or 0),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
