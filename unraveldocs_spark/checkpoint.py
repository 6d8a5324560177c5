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
  change, not a code change.)  Edits and deletes are merge-on-read, the
  analog of Iceberg's ``write.update.mode`` / ``write.delete.mode =
  merge-on-read``: an upsert publishes only its rows and a delete only
  its keys, and readers fold them into the state; only
  ``maybe_compact`` rewrites the full state, when the live snapshot count
  passes its threshold or the retraction files the fold broadcasts pass
  ``spark.sql.autoBroadcastJoinThreshold``.  Every table is written as
  zstd parquet (Iceberg's default codec), set per write in ``_publish``.
  The full-row tables are split-sized, the analog of Iceberg's
  ``write.target-file-size-bytes``: the extraction append and the
  compaction rewrite coalesce to ``scanfan.files`` files, one per read
  split (``spark.sql.files.maxPartitionBytes``).  Each coalesces a frame
  with no Python stage below it (the cached extraction result, the
  store's own fold), so the narrow coalesce narrows no Python work.
  Upsert and delete tables keep their tasks' layout (sizing them needs a
  shuffle); compaction folds their files away.

Resume (the idempotency primitive — ProcessOcr.java:71-74,
ExtractTextFromDocumentImpl.java:50-54) is a LEFT ANTI join of the input
against the committed keys:

    input.join(done, ["conv_id", "turn_idx"], "left_anti")

Scale note (100 TB / 10^12 turns): the anti-join shuffles both sides on
(conv_id, turn_idx) once, so a hot conversation spreads over its turns.
A conversation-grain prune in front of it (drop whole completed
conversations by an anti-join on conv_id) does not pay: to stay correct
under input drift it must first semi-join the completed keys against the
input keys, which is the same key-level join, and it adds two
aggregations, a conv_id join and two conv_id anti-joins that shuffle the
payload on conv_id alone, the skewed key.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

from .scanfan import files
from .schemas import EXTRACTIONS_SCHEMA, LINEAGE_SCHEMA

KEYS = ["conv_id", "turn_idx"]  # every store's merge and delete key
UPSERT_VIEW = "_upsert_updates"  # the temp views the Iceberg MERGEs read
DELETE_VIEW = "_delete_keys"


def _empty(spark: SparkSession, schema) -> DataFrame:
    """A 0-row frame of ``schema`` that Catalyst sees is empty (a
    ``LocalRelation``): joins against it fold away at plan time.  An
    empty ``createDataFrame([])`` is a Python RDD instead, which runs
    Python tasks and hides its emptiness from the optimizer."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)


def _loose(t):
    """``t`` with every nullability flag and field metadata set to the
    default, at every nesting level: the type a column compares by."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _loose(f.dataType)) for f in t])
    if isinstance(t, ArrayType):
        return ArrayType(_loose(t.elementType))
    if isinstance(t, MapType):
        return MapType(_loose(t.keyType), _loose(t.valueType))
    return t


def _bytes(dirs: list[str]) -> int:
    """On-disk bytes of the data files under ``dirs``: the bytes Spark
    estimates a parquet scan's size from, counted with no Spark job."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d in dirs
        for f in os.listdir(d)
        if not f.startswith(("_", "."))  # Spark's data-file filter
    )


def _snap_of_file():
    """The snapshot number of the file a row was read from: the
    ``snap-NNNNNN`` segment of its path (the last one, so a store root
    whose own path holds ``snap-`` still tags right)."""
    return F.regexp_extract(
        F.col("_metadata.file_path"), r".*/snap-(\d+)/", 1
    ).cast("long")


class DirCheckpointStore:
    """Parquet-directory snapshot store with atomic publish-by-rename.

    A snapshot directory holds a ``_manifest.json`` and some of:
    ``results/`` (rows), ``lineage/`` (per-partition lineage) and
    ``removed/`` (deleted keys).  The manifest flags ``compacted`` (the
    results are the full state; readers start here), ``replacing`` (an
    upsert: its rows' keys retract earlier rows) and ``removed`` (a
    delete).  Stores that predate the last two flags wrote upserts and
    deletes as compacted snapshots, which read the same.  A compacted
    manifest also lists the ``run_ids`` of the snapshots it folds, so
    :meth:`has_run` still finds them once they expire."""

    def __init__(self, root: str, results_schema=None, lineage_schema=None):
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

    def _run_ids(self, snaps: list[str]) -> list[str]:
        """The caller-given run ids ``snaps`` committed, those a
        compacted one folded included."""
        return [r for m in map(self._manifest, snaps)
                for r in (m.get("run_id"), *m.get("run_ids", ()))
                if r is not None]

    def has_run(self, run_id: str) -> bool:
        """True if a committed snapshot already carries ``run_id`` — the
        idempotent-foreachBatch dedup primitive (a replayed micro-batch
        re-appends under the same run_id and must be skipped).  Runs
        folded by compaction count, also after their snapshots expire."""
        return run_id in self._run_ids(self.snapshots())

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
    def _publish(self, tables: dict, run_id: str | None = None,
                 base: str | None = None, **flags) -> str | None:
        """Write one snapshot atomically: stage each table under a _tmp
        dir, fsync a manifest, then rename into place — a snapshot
        either fully exists or doesn't.  The manifest carries ``run_id``
        only when the caller gave one, the id a replay asks
        :meth:`has_run` about.

        A rename onto an id another writer took first retries with the
        next id, unless the snapshot was built from ``base``: then it
        publishes only at the id after ``base``, and a taken id means
        another writer committed after the base, so the staging dir is
        removed and nothing is published (None).  This is Iceberg's
        optimistic-concurrency check, with the atomic rename as the
        compare-and-swap.  Any other failure removes the staging dir
        before re-raising.

        Every table is zstd parquet at the codec's default level, the
        default of the store this stands in for (Iceberg's
        ``write.parquet.compression-codec``).  It is a per-write option,
        not a session conf, so other parquet writes keep Spark's
        default; readers need nothing, since parquet records the codec
        per column chunk and older snappy snapshots fold unchanged."""
        staging = os.path.join(self.root, f"_tmp-{uuid.uuid4().hex}")
        try:
            for name, df in tables.items():
                df.write.mode("overwrite").option("compression", "zstd").parquet(
                    os.path.join(staging, name))
            manifest = {"has_lineage": "lineage" in tables, **flags}
            if run_id is not None:
                manifest["run_id"] = run_id
            with open(os.path.join(staging, "_manifest.json"), "w") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())
            while True:
                snap_id = (self._next_snapshot_id() if base is None
                           else f"snap-{self._snap_num(base) + 1:06d}")
                try:
                    os.rename(staging, os.path.join(self.snap_dir, snap_id))  # atomic publish
                    break
                except OSError as e:
                    if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
                        raise
                    if base is not None:
                        shutil.rmtree(staging, ignore_errors=True)
                        return None
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return snap_id

    def append(self, results: DataFrame, lineage: DataFrame | None = None,
               run_id: str | None = None) -> str:
        """Publish results (+lineage) as one snapshot."""
        tables = {"results": results}
        if lineage is not None:
            tables["lineage"] = lineage
        return self._publish(tables, run_id)

    # -- upsert (MERGE equivalent) ---------------------------------------
    def upsert(self, updates: DataFrame, spark: SparkSession) -> str:
        """Replace rows by key — the batch analog of the reference's
        edited-content save (UpdateOcrContentImpl.java:72-78) and of
        ``MERGE INTO`` on the Iceberg path.

        Merge-on-read (Iceberg's ``write.update.mode = merge-on-read``):
        the new snapshot holds ONLY ``updates``, flagged ``replacing`` in
        its manifest.  Readers fold it in (:meth:`_state`): the keys of
        its rows retract every earlier row with the same key, so readers
        see exactly one version of every replaced key, and an update of
        an unknown key is an insert.  ``updates`` is evaluated once, by
        the one write; the publish is atomic, so a crash mid-upsert
        leaves the prior state untouched.  Only :meth:`maybe_compact`
        rewrites full state.

        ``updates`` must have the columns of ``results_schema``, by name
        and type (nullability aside): readers apply the declared schema,
        so a missing or misnamed column would read back as all NULL.  A
        mismatch raises ``ValueError`` naming the column."""
        want, got = (
            {f.name: _loose(f.dataType) for f in schema}
            for schema in (self.results_schema, updates.schema)
        )
        for name in sorted(want.keys() | got.keys()):
            if want.get(name) != got.get(name):
                raise ValueError(
                    f"upsert column {name!r} is {got.get(name)}, "
                    f"results_schema declares {want.get(name)}"
                )
        return self._publish({"results": updates}, replacing=True)

    # -- delete (retract) -------------------------------------------------
    def delete(self, keys: DataFrame, spark: SparkSession) -> str:
        """Remove rows by key — the right-to-be-forgotten primitive and
        the batch analog of the reference's collection/file delete
        (DocumentDeleteImpl.java:61,117: remove the entry, reclaim its
        storage, drop the search-index row) and of ``MERGE ... WHEN
        MATCHED THEN DELETE`` on the Iceberg path.

        Merge-on-read (Iceberg's ``write.delete.mode = merge-on-read``,
        a position-free equality delete): the new snapshot holds ONLY a
        ``removed/`` table of the keys, published atomically.  Readers
        drop every earlier row with one of those keys, so deleted keys
        vanish from :meth:`results` and :meth:`completed_keys` — on
        resume they re-extract, which is exactly the
        retract-then-reprocess semantics a training-corpus store needs.
        Deleting an unknown or already-deleted key is a no-op.

        Storage is reclaimed at compaction: the deleted rows stay in the
        older snapshots' files until :meth:`maybe_compact` rewrites the
        state without them and :meth:`expire_snapshots` removes the
        superseded snapshots (lineage is kept under
        ``expired-lineage/``)."""
        removed = keys.select(
            *(F.col(k).cast(self.results_schema[k].dataType) for k in KEYS)
        )
        return self._publish({"removed": removed}, removed=True)

    # -- read -------------------------------------------------------------
    def _live_snapshots(self, upto: str | None = None) -> list[str]:
        """Snapshots a reader must scan for the state AS OF ``upto``
        (default: the latest): the most recent compacted snapshot <=
        ``upto`` (which holds full state) plus every snapshot after it."""
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

    def _chain(self, upto: str | None = None) -> tuple[list[str], list[str]]:
        """The live chain AS OF ``upto`` as two lists of table dirs: the
        ``results/`` dirs that hold rows, and the retraction dirs — the
        ``results/`` of ``replacing`` snapshots and the ``removed/`` of
        deletes."""
        rows, retract = [], []
        for s in self._live_snapshots(upto):
            m, d = self._manifest(s), os.path.join(self.snap_dir, s)
            if m.get("replacing"):
                retract.append(os.path.join(d, "results"))
            if m.get("removed"):
                retract.append(os.path.join(d, "removed"))
            else:
                rows.append(os.path.join(d, "results"))
        return rows, retract

    def _state(self, spark: SparkSession, upto: str | None = None) -> DataFrame:
        """The merge-on-read fold: the results AS OF ``upto`` (default:
        the latest snapshot).

        Without a retraction in the live chain this is one multi-path
        scan of its ``results/`` directories.  Otherwise that scan is
        tagged with each row's snapshot number (from
        ``_metadata.file_path``, so it stays ONE scan) and left-anti
        joined against one scan of the retraction keys — the
        ``results/`` keys of ``replacing`` snapshots and the ``removed/``
        keys of deletes, tagged the same way — on keys equal and
        retraction newer than row.  The planner broadcasts the retraction
        side from its file-size estimate, under
        ``spark.sql.autoBroadcastJoinThreshold`` like any other join, and
        shuffles both sides when that conf rules a broadcast out.  The
        retraction side is as large as the edits and deletes since the
        last compaction; :meth:`maybe_compact` folds it away."""
        rows, retract = self._chain(upto)
        if not rows:
            return _empty(spark, self.results_schema)
        scan = spark.read.schema(self.results_schema).parquet(*rows)
        if not retract:
            return scan
        key_schema = StructType([self.results_schema[k] for k in KEYS])
        gone = spark.read.schema(key_schema).parquet(*retract).select(
            *(F.col(k).alias(f"_retract_{k}") for k in KEYS),
            _snap_of_file().alias("_retract_snap"),
        )
        tagged = scan.withColumn("_row_snap", _snap_of_file())
        cond = [tagged[k] == gone[f"_retract_{k}"] for k in KEYS]
        cond.append(gone["_retract_snap"] > tagged["_row_snap"])
        return tagged.join(gone, cond, "left_anti").drop("_row_snap")

    def results(self, spark: SparkSession) -> DataFrame:
        return self._state(spark)

    def lineage(self, spark: SparkSession) -> DataFrame:
        """Every run's lineage rows: the live snapshots' ``lineage/``
        dirs and those :meth:`expire_snapshots` moved to
        ``expired-lineage/``, so compaction never drops an audit row."""
        kept = os.path.join(self.root, "expired-lineage")
        paths = [
            os.path.join(kept, s)
            for s in sorted(os.listdir(kept), key=self._snap_num)
        ] if os.path.isdir(kept) else []
        paths += [
            os.path.join(self.snap_dir, s, "lineage")
            for s in self.snapshots()
            if os.path.exists(os.path.join(self.snap_dir, s, "lineage"))
        ]
        if not paths:
            return _empty(spark, self.lineage_schema)
        return spark.read.schema(self.lineage_schema).parquet(*paths)

    def completed_keys(self, spark: SparkSession) -> DataFrame:
        return self.results(spark).select(*KEYS)

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
        ``threshold``, or the retraction side :meth:`_state` broadcasts
        outgrows Spark's own limit for a broadcast side, rewrite full
        current state as one compacted snapshot (and optionally expire
        the superseded ones).  Its manifest lists the run ids of the
        snapshots it folds, so :meth:`has_run` outlives their expiry.
        The retraction side is measured as the on-disk bytes of the live
        ``replacing`` ``results/`` and ``removed/`` files — the bytes
        Spark estimates a parquet scan's size from — against
        ``spark.sql.autoBroadcastJoinThreshold`` when that is positive;
        one large upsert then compacts at once instead of being broadcast
        by every later read.

        The rewrite is built from one listing: its base is the newest
        snapshot then, and it folds the state as of that base.  It
        publishes only at the id after the base, so a commit that lands
        while the rewrite is written is never hidden behind it: the
        compaction publishes nothing and returns None, and the next call
        folds that commit too.

        This is the only full-state rewrite: it folds in every upsert and
        delete, so the retraction join goes away and, once the superseded
        snapshots expire, deleted rows leave the disk.  The operational
        loop a long-lived micro-batch ingest runs every N commits so
        ``results()`` never unions an unbounded directory — the
        DirCheckpointStore analog of Iceberg's rewrite_data_files +
        expire_snapshots maintenance pair.  The rewrite is split-sized by
        :func:`scanfan.files` over the on-disk bytes of the live
        ``results/`` files, not one file per scan task.  Returns the new
        snapshot id, or None if under both limits or another writer
        committed after the base."""
        # Spark's own parse of the byte-string conf ("10485760b", "32k", -1)
        limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        snaps = self.snapshots()
        if not snaps:
            return None
        base = snaps[-1]
        live = self._live_snapshots(base)
        rows, retract = self._chain(base)
        if len(live) <= threshold and not 0 < limit < _bytes(retract):
            return None
        state = self._state(spark, upto=base).coalesce(files(spark, _bytes(rows)))
        snap = self._publish({"results": state}, base=base, compacted=True,
                             run_ids=self._run_ids(live))
        if snap is not None and expire:
            self.expire_snapshots()
        return snap

    def snapshot_diff(self, spark: SparkSession, snap_a: str,
                      snap_b: str) -> DataFrame:
        """Key-level audit of what changed between two snapshots of this
        store: rows keyed ``added`` (in b, not a) or ``removed`` (in a,
        not b) — the inspection surface for upserts and deletes (which
        keys did that retract actually remove?).  Mirrors the
        Iceberg changelog read (``table_changes``) the production path
        gets for free.  Both snapshots must still exist (run before
        expire_snapshots)."""
        a, b = (self._state(spark, upto=s).select(*KEYS)
                for s in (snap_a, snap_b))
        added = b.join(a, KEYS, "left_anti").withColumn(
            "change", F.lit("added")
        )
        removed = a.join(b, KEYS, "left_anti").withColumn(
            "change", F.lit("removed")
        )
        return added.unionByName(removed)


RUN_ID_SNAPSHOT_PROPERTY = "run-id"


def _on_keys() -> str:
    return " AND ".join(f"t.{k} = u.{k}" for k in KEYS)


def iceberg_merge_sql(results_table: str) -> str:
    """The MERGE the Iceberg upsert path executes — rendered by a pure
    function so the SQL is unit-pinned even though the sandbox has no
    Iceberg jar to execute it against (the batch analog of the reference's
    edited-content save, UpdateOcrContentImpl.java:72-78)."""
    return (
        f"MERGE INTO {results_table} t USING {UPSERT_VIEW} u ON {_on_keys()} "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def iceberg_delete_sql(results_table: str) -> str:
    """The keyed delete the Iceberg retract path executes (rendered pure
    so the SQL is unit-pinned without an Iceberg jar) — the
    ``MERGE ... WHEN MATCHED THEN DELETE`` analog of the reference's
    collection/file delete (DocumentDeleteImpl.java:61,117)."""
    return (
        f"MERGE INTO {results_table} t USING {DELETE_VIEW} u ON {_on_keys()} "
        "WHEN MATCHED THEN DELETE"
    )


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
    fully-qualified identifiers.  Appends and resume (an anti-join) need
    only snapshot isolation, so concurrent appenders never conflict.
    :meth:`upsert` and :meth:`delete` run ``MERGE INTO``, which rewrites
    or retracts rows it read: a MERGE concurrent with another writer to
    the same keys needs serializable isolation (Iceberg's
    ``write.merge.isolation-level``, serializable by default) and may
    fail its commit validation.  The SQL this class executes is rendered by the module-level
    ``iceberg_*_sql`` functions and pinned by unit tests, since the sandbox
    has no Iceberg runtime jar to execute it against.
    """

    def __init__(self, results_table: str, lineage_table: str):
        self.results_table = results_table
        self.lineage_table = lineage_table

    def _session(self) -> SparkSession:
        spark = SparkSession.getActiveSession()
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

    def upsert(self, updates: DataFrame, spark: SparkSession) -> str:
        """Replace rows by (conv_id, turn_idx) via ``MERGE INTO`` —
        Iceberg copy-on-write/merge-on-read handles the rewrite."""
        updates.createOrReplaceTempView(UPSERT_VIEW)
        spark.sql(iceberg_merge_sql(self.results_table))
        return "iceberg-merge"

    def delete(self, keys: DataFrame, spark: SparkSession) -> str:
        """Remove rows by key via ``MERGE ... WHEN MATCHED THEN DELETE``
        (same retract semantics as DirCheckpointStore.delete)."""
        keys.createOrReplaceTempView(DELETE_VIEW)
        spark.sql(iceberg_delete_sql(self.results_table))
        return "iceberg-delete"

    def append(self, results: DataFrame, lineage: DataFrame | None = None,
               run_id: str | None = None) -> str:
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


def resume_filter(transcripts: DataFrame, store, spark: SparkSession) -> DataFrame:
    """Drop already-extracted turns: the left-anti resume join
    (SURVEY.md §2.2 'idempotency predicate', ProcessOcr.java:71-74), one
    join of the input against the completed keys on ``KEYS``.  No
    conversation-grain prune runs first; the module's scale note says
    why."""
    return transcripts.join(store.completed_keys(spark), KEYS, "left_anti")
