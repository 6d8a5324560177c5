"""SparkSession builder with the confs this pipeline relies on.

Tuned for the extraction workload (SURVEY.md §4):
- AQE on, with coalescing and skew-join handling — runtime re-planning is
  the first line of defense at 100 TB;
- Arrow execution on with a bounded records-per-batch — the UDF stage's
  throughput knob (the analog of the reference's Kafka 16KB/linger
  batching, api_docs.md:384-387);
- shuffle partitions sized for the local harness; a real cluster run
  overrides via spark-submit --conf (see BENCH/BASELINE.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 1024  # extraction payloads are KB-sized; keep batches ~MBs


def build_session(
    app_name: str = "unraveldocs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # scanfan.tasks' one-task-per-core rule, applied by AQE when it
        # coalesces every other shuffle (shuffle_partitions above is
        # still the starting width): with parallelismFirst (the default)
        # coalescing targets totalBytes/cores per partition, but never
        # below this floor.  The 1m default collapses BYTE-small
        # shuffles (narrow band/candidate rows) to 1-2 partitions and
        # serializes the compute-heavy stage that reads them; without
        # the floor, at sf0.1 on 4 cores, dedup_embedding_cosine went
        # 5.4 -> 7.5 s, dedup_paragraph 4.2 -> 4.9 s and semantic_dedup
        # 11.3 -> 12.8 s.  At production volumes totalBytes/cores >> 64k:
        # inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        # 128m is right for a real cluster reading 100 TB; the local bench
        # overrides via env so tiny sf files still fan out across cores
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
