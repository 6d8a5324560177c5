"""spark-submit entry point for the extraction pipeline.

Deploy:
    tools/build_pyfiles.sh                       # -> dist/unraveldocs_spark.zip
    spark-submit --py-files dist/unraveldocs_spark.zip \
        jobs/run_extraction.py \
        --input  <transcripts path or iceberg table> \
        --store  <checkpoint root> \
        --partitions <num shuffle partitions>

On a cluster, pass the usual --master/--num-executors/--executor-cores;
the job is resumable — rerunning it after a failure skips completed
(conv_id, turn_idx) keys via the snapshot anti-join.
"""

from __future__ import annotations

import argparse
import json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir or iceberg table of transcripts")
    ap.add_argument("--store", required=True, help="checkpoint root (dir store) or results-table id")
    ap.add_argument("--lineage-table", default=None, help="iceberg lineage table (with --iceberg)")
    ap.add_argument("--iceberg", action="store_true", help="treat --input/--store as iceberg tables")
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from unraveldocs_spark.checkpoint import DirCheckpointStore, IcebergCheckpointStore
    from unraveldocs_spark.pipeline import run_extraction

    spark = SparkSession.builder.appName("unraveldocs-extract").getOrCreate()

    if args.iceberg:
        transcripts = spark.read.table(args.input)
        store = IcebergCheckpointStore(args.store, args.lineage_table or args.store + "_lineage")
    else:
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        transcripts = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(args.input)
        store = DirCheckpointStore(args.store)

    result = run_extraction(
        spark,
        transcripts,
        store=store,
        num_partitions=args.partitions,
    )
    rollup_counts = (
        result["rollup"].groupBy("collection_status").count().collect()
    )
    print(
        json.dumps(
            {
                "run_id": result["run_id"],
                "snapshot_id": result["snapshot_id"],
                "new_rows": result["new_rows"],
                "rollup": {r.collection_status: r["count"] for r in rollup_counts},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
