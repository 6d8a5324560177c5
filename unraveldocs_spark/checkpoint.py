"""Snapshot checkpoint / resume protocol.

North rule: processing at 10^12-turn scale is resumable via Iceberg
snapshot checkpoints with per-partition lineage rows and metrics.  The
protocol here has two interchangeable stores:

- ``IcebergCheckpointStore``: used when an Iceberg catalog is configured on
  the session (``spark.sql.catalog.<name>``).  Each run appends results +
  lineage in one transaction; Iceberg's snapshot atomicity plays the role
  of the reference's after-commit outbox
  (BulkDocumentUploadExtractionImpl.java:157-166 — downstream never sees
  half-written state).
- ``DirCheckpointStore``: sandbox fallback with the same semantics over
  plain parquet: results + lineage are written to a ``_tmp-*`` staging dir
  and published by a single atomic directory rename — a snapshot either
  fully exists or doesn't.  (No Iceberg runtime jar ships in this
  environment; the interface is identical so swapping stores is a config
  change, not a code change.)

Resume (the idempotency primitive — ProcessOcr.java:71-74,
ExtractTextFromDocumentImpl.java:50-54) is a LEFT ANTI join of the input
against the committed keys:

    input.join(done, ["conv_id", "turn_idx"], "left_anti")

Scale note (100 TB / 10^12 turns): the anti-join shuffles both sides on
(conv_id, turn_idx).  Both the input table and the checkpoint output
should be written bucketed/partitioned by conv_id so the join co-locates;
additionally the lineage table records which conversations are fully
complete, letting a resume first drop whole conversations via a broadcast
anti-join on conv_id (cheap) before the key-level anti-join handles the
partially-complete remainder.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from .schemas import EXTRACTIONS_SCHEMA, LINEAGE_SCHEMA

KEYS = ["conv_id", "turn_idx"]


class DirCheckpointStore:
    """Parquet-directory snapshot store with atomic publish-by-rename."""

    def __init__(self, root: str, results_schema=None, keys=None,
                 lineage_schema=None):
        self.root = root
        self.snap_dir = os.path.join(root, "snapshots")
        os.makedirs(self.snap_dir, exist_ok=True)
        # declared (not inferred) result schema; the extraction pipeline's
        # by default, overridable for stores of other row types (e.g. the
        # streaming dedup ingest's digest table).  Reading published
        # parquet with a mismatched declared schema yields silently
        # all-null columns — every non-extraction store MUST pass its own
        # schemas (the corpus-build job passes CORPUS_SHARDS_SCHEMA /
        # CORPUS_LINEAGE_SCHEMA).
        self.results_schema = results_schema or EXTRACTIONS_SCHEMA
        self.lineage_schema = lineage_schema or LINEAGE_SCHEMA
        # merge/delete key columns; (conv_id, turn_idx) for the extraction
        # store, overridable for stores of other grains (e.g. doc_id for
        # the AI-enrichment OcrData analog)
        self.keys = list(keys) if keys is not None else list(KEYS)
        # manifest cache keyed by snapshot name: manifests are immutable
        # once published (atomic rename), so each is parsed at most once
        # per store instance — has_run on every micro-batch is then
        # O(new snapshots), not O(all snapshots) (O(n^2) over a stream)
        self._manifest_cache: dict[str, dict] = {}

    @staticmethod
    def _snap_num(name: str) -> int:
        return int(name.split("-", 1)[1])

    def _manifest(self, snap: str) -> dict:
        m = self._manifest_cache.get(snap)
        if m is None:
            with open(os.path.join(self.snap_dir, snap, "_manifest.json")) as f:
                m = json.load(f)
            self._manifest_cache[snap] = m
        return m

    # -- inspection -----------------------------------------------------
    def snapshots(self) -> list[str]:
        # ordered by snapshot NUMBER: names are zero-padded to 6 digits,
        # so lexicographic order silently misorders past snap-999999 —
        # relevant at 10^12-turn stream lifetimes
        return sorted(
            (
                d
                for d in os.listdir(self.snap_dir)
                if d.startswith("snap-")
                and os.path.exists(os.path.join(self.snap_dir, d, "_manifest.json"))
            ),
            key=self._snap_num,
        )

    def committed_run_ids(self) -> set[str]:
        """run_ids of all committed snapshots (from their manifests)."""
        return {self._manifest(s).get("run_id") for s in self.snapshots()}

    def has_run(self, run_id: str) -> bool:
        """True if a committed snapshot already carries ``run_id`` — the
        idempotent-foreachBatch dedup primitive (a replayed micro-batch
        re-appends under the same run_id and must be skipped)."""
        return run_id in self.committed_run_ids()

    def _next_snapshot_id(self) -> str:
        # consider every snap-* directory, committed or not: a crashed
        # (unmanifested) snapshot must not block future appends by
        # colliding on the rename target
        existing = [
            self._snap_num(d)
            for d in os.listdir(self.snap_dir)
            if d.startswith("snap-")
        ]
        return f"snap-{(max(existing) + 1 if existing else 1):06d}"

    # -- write ------------------------------------------------------------
    def append(
        self,
        results: DataFrame,
        lineage: DataFrame | None = None,
        run_id: str | None = None,
        compacted: bool = False,
    ) -> str:
        """Write one snapshot atomically: stage results (+lineage) under a
        _tmp dir, fsync a manifest, then rename into place.  A snapshot
        marked ``compacted`` carries the FULL current state (see
        :meth:`upsert`); readers start from the latest compacted one."""
        run_id = run_id or uuid.uuid4().hex[:12]
        staging = os.path.join(self.root, f"_tmp-{uuid.uuid4().hex}")
        results.write.mode("overwrite").parquet(os.path.join(staging, "results"))
        if lineage is not None:
            lineage.write.mode("overwrite").parquet(os.path.join(staging, "lineage"))
        manifest = {
            "run_id": run_id,
            "has_lineage": lineage is not None,
            "compacted": compacted,
        }
        with open(os.path.join(staging, "_manifest.json"), "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        snap_id = self._next_snapshot_id()
        final = os.path.join(self.snap_dir, snap_id)
        os.rename(staging, final)  # atomic publish
        return snap_id

    # -- upsert (MERGE equivalent) ---------------------------------------
    def upsert(self, updates: DataFrame, spark: SparkSession,
               run_id: str | None = None) -> str:
        """Replace rows by (conv_id, turn_idx) — the batch analog of the
        reference's edited-content save (UpdateOcrContentImpl.java:72-78)
        and of ``MERGE INTO`` on the Iceberg path.

        Copy-on-write: the new snapshot holds (current results ANTI-JOIN
        update keys) UNION updates and is marked ``compacted``, so readers
        see exactly one version of every key.  The rewrite is atomic (same
        staging+rename publish), and a crash mid-upsert leaves the prior
        state untouched."""
        current = self.results(spark)
        merged = current.join(
            updates.select(*self.keys), self.keys, "left_anti"
        ).unionByName(updates)
        return self.append(merged, run_id=run_id, compacted=True)

    # -- delete (retract) -------------------------------------------------
    def delete(self, keys: DataFrame, spark: SparkSession,
               run_id: str | None = None) -> str:
        """Remove rows by key — the right-to-be-forgotten primitive and
        the batch analog of the reference's collection/file delete
        (DocumentDeleteImpl.java:61,117: remove the entry, reclaim its
        storage, drop the search-index row) and of ``MERGE ... WHEN
        MATCHED THEN DELETE`` on the Iceberg path.

        Copy-on-write like :meth:`upsert`: the new snapshot is (current
        results ANTI-JOIN delete keys), marked ``compacted``, published
        atomically.  Deleted keys vanish from :meth:`results` and
        :meth:`completed_keys` — so on resume they re-extract, which is
        exactly the retract-then-reprocess semantics a training-corpus
        store needs.  A crash mid-delete leaves the prior state
        untouched."""
        current = self.results(spark)
        remaining = current.join(keys.select(*self.keys), self.keys, "left_anti")
        return self.append(remaining, run_id=run_id, compacted=True)

    # -- read -------------------------------------------------------------
    def _live_snapshots(self, upto: str | None = None) -> list[str]:
        """Snapshots a reader must scan for the state AS OF ``upto``
        (default: the latest): the most recent compacted snapshot <=
        ``upto`` (which holds full state) plus every append after it."""
        snaps = self.snapshots()
        if upto is not None:
            snaps = [s for s in snaps if self._snap_num(s) <= self._snap_num(upto)]
            if not snaps or snaps[-1] != upto:
                raise ValueError(f"unknown snapshot {upto!r}")
        compacted = [s for s in snaps if self._manifest(s).get("compacted")]
        if not compacted:
            return snaps
        cutoff = self._snap_num(compacted[-1])
        return [s for s in snaps if self._snap_num(s) >= cutoff]

    def results(self, spark: SparkSession) -> DataFrame:
        paths = [
            os.path.join(self.snap_dir, s, "results")
            for s in self._live_snapshots()
        ]
        if not paths:
            return spark.createDataFrame([], self.results_schema)
        return spark.read.schema(self.results_schema).parquet(*paths)

    def lineage(self, spark: SparkSession) -> DataFrame:
        paths = [
            os.path.join(self.snap_dir, s, "lineage")
            for s in self.snapshots()
            if os.path.exists(os.path.join(self.snap_dir, s, "lineage"))
        ]
        if not paths:
            return spark.createDataFrame([], self.lineage_schema)
        return spark.read.schema(self.lineage_schema).parquet(*paths)

    def completed_keys(self, spark: SparkSession) -> DataFrame:
        return self.results(spark).select(*self.keys)

    # -- maintenance ------------------------------------------------------
    def expire_snapshots(self) -> list[str]:
        """Remove snapshots fully superseded by the latest compacted one
        (which holds complete current state) — the DirCheckpointStore
        analog of Iceberg's ``expire_snapshots`` maintenance procedure.
        At 10^12-turn stream lifetimes the snapshot list grows one entry
        per micro-batch; without expiry every ``results()`` read lists
        (and every resume scans) an unbounded directory.

        Keeps: the latest compacted snapshot and everything after it
        (the live set), so readers are unaffected.  Lineage directories
        of expired snapshots are preserved under ``expired-lineage/``
        first — lineage is the audit record and must outlive the data
        compaction.  Returns the expired snapshot names."""
        import shutil

        live = set(self._live_snapshots())
        expired = [s for s in self.snapshots() if s not in live]
        keep_dir = os.path.join(self.root, "expired-lineage")
        for s in expired:
            src = os.path.join(self.snap_dir, s, "lineage")
            if os.path.exists(src):
                os.makedirs(keep_dir, exist_ok=True)
                os.rename(src, os.path.join(keep_dir, s))
            shutil.rmtree(os.path.join(self.snap_dir, s))
            self._manifest_cache.pop(s, None)
        return expired

    def maybe_compact(self, spark: SparkSession, threshold: int = 32,
                      expire: bool = True) -> str | None:
        """Auto-compaction policy: when the live snapshot list exceeds
        ``threshold``, rewrite full current state as one compacted
        snapshot (and optionally expire the superseded ones).  The
        operational loop a long-lived micro-batch ingest runs every N
        commits so ``results()`` never unions an unbounded directory —
        the DirCheckpointStore analog of Iceberg's rewrite_data_files +
        expire_snapshots maintenance pair.  Returns the new snapshot id
        or None if under threshold."""
        if len(self._live_snapshots()) <= threshold:
            return None
        snap = self.append(self.results(spark), compacted=True)
        if expire:
            self.expire_snapshots()
        return snap

    def snapshot_diff(self, spark: SparkSession, snap_a: str,
                      snap_b: str) -> DataFrame:
        """Key-level audit of what changed between two snapshots of this
        store: rows keyed ``added`` (in b, not a) or ``removed`` (in a,
        not b) — the inspection surface for upsert/delete compactions
        (which keys did that retract actually remove?).  Mirrors the
        Iceberg changelog read (``table_changes``) the production path
        gets for free.  Both snapshots must still exist (run before
        expire_snapshots)."""
        from pyspark.sql import functions as F

        def keys_at(s):
            paths = [
                os.path.join(self.snap_dir, x, "results")
                for x in self._live_snapshots(upto=s)
            ]
            return (
                spark.read.schema(self.results_schema).parquet(*paths)
                .select(*self.keys)
            )

        a, b = keys_at(snap_a), keys_at(snap_b)
        added = b.join(a, self.keys, "left_anti").withColumn(
            "change", F.lit("added")
        )
        removed = a.join(b, self.keys, "left_anti").withColumn(
            "change", F.lit("removed")
        )
        return added.unionByName(removed)


RUN_ID_SNAPSHOT_PROPERTY = "run-id"


def iceberg_merge_sql(results_table: str, updates_view: str = "_upsert_updates") -> str:
    """The MERGE the Iceberg upsert path executes — rendered by a pure
    function so the SQL is unit-pinned even though the sandbox has no
    Iceberg jar to execute it against (the batch analog of the reference's
    edited-content save, UpdateOcrContentImpl.java:72-78)."""
    return (
        f"MERGE INTO {results_table} t USING {updates_view} u "
        "ON t.conv_id = u.conv_id AND t.turn_idx = u.turn_idx "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def iceberg_delete_sql(results_table: str, keys_view: str = "_delete_keys",
                       keys=None) -> str:
    """The keyed delete the Iceberg retract path executes (rendered pure
    so the SQL is unit-pinned without an Iceberg jar) — the
    ``MERGE ... WHEN MATCHED THEN DELETE`` analog of the reference's
    collection/file delete (DocumentDeleteImpl.java:61,117)."""
    keys = list(keys) if keys is not None else list(KEYS)
    on = " AND ".join(f"t.{k} = u.{k}" for k in keys)
    return (
        f"MERGE INTO {results_table} t USING {keys_view} u "
        f"ON {on} "
        "WHEN MATCHED THEN DELETE"
    )


def iceberg_maintenance_sql(results_table: str,
                            older_than: str = "current_timestamp() - INTERVAL 7 DAYS",
                            retain_last: int = 10) -> tuple[str, str]:
    """The maintenance pair the Iceberg production path runs on the same
    cadence as DirCheckpointStore.maybe_compact (rendered pure so the
    SQL is unit-pinned without an Iceberg jar): small-file compaction
    plus snapshot expiry with a retained-history floor.  ``catalog`` is
    the first identifier segment of ``results_table``."""
    catalog = results_table.split(".", 1)[0]
    rewrite = (
        f"CALL {catalog}.system.rewrite_data_files(table => '{results_table}')"
    )
    expire = (
        f"CALL {catalog}.system.expire_snapshots("
        f"table => '{results_table}', "
        f"older_than => {older_than}, "
        f"retain_last => {retain_last})"
    )
    return rewrite, expire


def iceberg_has_run_sql(results_table: str, run_id: str) -> str:
    """Lookup of a committed run_id in the table's snapshot log (the
    ``<table>.snapshots`` metadata table): appends stamp the run_id into
    the snapshot summary via the ``snapshot-property.*`` write option, so
    a replayed micro-batch finds its own prior commit here — the standard
    idempotent-foreachBatch pattern on Iceberg."""
    if "'" in run_id:
        raise ValueError(f"run_id must not contain quotes: {run_id!r}")
    return (
        "SELECT count(*) AS n "  # noqa: S608 — identifiers, not user data
        f"FROM {results_table}.snapshots "
        f"WHERE summary['{RUN_ID_SNAPSHOT_PROPERTY}'] = '{run_id}'"
    )


class IcebergCheckpointStore:
    """Iceberg-backed store: same interface, transactional appends.

    Requires an Iceberg catalog on the session (spark.sql.catalog.*) and
    the iceberg-spark-runtime jar; ``results_table``/``lineage_table`` are
    fully-qualified identifiers.  MERGE-free by design: appends only, with
    resume by anti-join, so concurrent writers only need snapshot
    isolation.  The SQL this class executes is rendered by the module-level
    ``iceberg_*_sql`` functions and pinned by unit tests, since the sandbox
    has no Iceberg runtime jar to execute it against.
    """

    def __init__(self, results_table: str, lineage_table: str,
                 spark: SparkSession | None = None):
        self.results_table = results_table
        self.lineage_table = lineage_table
        self._spark = spark

    def _session(self) -> SparkSession:
        spark = self._spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("no active SparkSession for Iceberg store")
        return spark

    def has_run(self, run_id: str) -> bool:
        """True if a committed snapshot's summary carries ``run_id`` —
        stamped by :meth:`append` via the snapshot-property write option."""
        rows = self._session().sql(
            iceberg_has_run_sql(self.results_table, run_id)
        ).collect()
        return rows[0]["n"] > 0

    def upsert(self, updates: DataFrame, spark: SparkSession,
               run_id: str | None = None) -> str:
        """Replace rows by (conv_id, turn_idx) via ``MERGE INTO`` —
        Iceberg copy-on-write/merge-on-read handles the rewrite."""
        updates.createOrReplaceTempView("_upsert_updates")
        spark.sql(iceberg_merge_sql(self.results_table))
        return run_id or "iceberg-merge"

    def delete(self, keys: DataFrame, spark: SparkSession,
               run_id: str | None = None) -> str:
        """Remove rows by key via ``MERGE ... WHEN MATCHED THEN DELETE``
        (same retract semantics as DirCheckpointStore.delete)."""
        keys.createOrReplaceTempView("_delete_keys")
        spark.sql(iceberg_delete_sql(self.results_table))
        return run_id or "iceberg-delete"

    def append(self, results: DataFrame, lineage: DataFrame | None = None,
               run_id: str | None = None, compacted: bool = False) -> str:
        writer = results.writeTo(self.results_table)
        if run_id is not None:
            # stamped into the commit's snapshot summary; read back by
            # has_run for idempotent micro-batch replay
            writer = writer.option(
                f"snapshot-property.{RUN_ID_SNAPSHOT_PROPERTY}", run_id
            )
        writer.append()
        if lineage is not None:
            lineage.writeTo(self.lineage_table).append()
        return run_id or "iceberg-append"

    def results(self, spark: SparkSession) -> DataFrame:
        return spark.read.table(self.results_table)

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.table(self.lineage_table)

    def completed_keys(self, spark: SparkSession) -> DataFrame:
        return self.results(spark).select(*KEYS)


def write_bucketed(df: DataFrame, table: str, buckets: int = 16,
                   by: str = "conv_id") -> None:
    """Write a table bucketed by ``by`` so resume joins co-locate.

    At 10^12 turns the conv-grain prune (phase 1 of resume_filter) joins
    input and completed keys on conv_id; when both sides are bucketed by
    conv_id with matching bucket counts, that join runs shuffle-FREE
    (bucket-local sort-merge) — the plan-tested property.  The Iceberg
    production path is the same idea as a partition transform:
    ``PARTITIONED BY (bucket(N, conv_id))`` with storage-partitioned
    joins; this helper is the builtin-catalog equivalent for the
    sandbox."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, by)
        .sortBy(by)
        .format("parquet")
        .saveAsTable(table)
    )


def resume_filter(
    transcripts: DataFrame, store, spark: SparkSession, two_phase: bool = True
) -> DataFrame:
    """Drop already-extracted turns: the left-anti resume join
    (SURVEY.md §2.2 'idempotency predicate').

    Two-phase at scale: first drop whole conversations whose completed
    count matches the input count (an anti-join on conv_id — small keys,
    broadcastable when few convs remain incomplete), then key-level
    anti-join only against the partially-complete remainder.  At 10^12
    turns this shrinks the right side of the expensive (conv_id, turn_idx)
    anti-join from every completed key to only the keys of interrupted
    conversations.

    A conversation counts as complete only when every INPUT key has a
    matching done key (semi-join before the count, not a raw done count):
    raw counts would let net-zero input drift — one turn added, another
    removed — pass the equality and silently skip the new turn forever.
    With the semi-join, any unprocessed input key makes matched < total
    and the conversation falls through to the key-level anti-join."""
    from pyspark.sql import functions as F

    done = store.completed_keys(spark)
    if not two_phase:
        return transcripts.join(done, KEYS, "left_anti")

    input_keys = transcripts.select(*KEYS)
    done_counts = (
        done.join(input_keys, KEYS, "left_semi")
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("_done_n"))
    )
    input_counts = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("_total_n")
    )
    complete_convs = (
        done_counts.join(input_counts, "conv_id")
        .filter(F.col("_done_n") == F.col("_total_n"))
        .select("conv_id")
    )
    remaining = transcripts.join(complete_convs, "conv_id", "left_anti")
    partial_done = done.join(complete_convs, "conv_id", "left_anti")
    return remaining.join(partial_done, KEYS, "left_anti")
