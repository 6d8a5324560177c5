"""Merge-on-read DirCheckpointStore: an upsert publishes only its rows, a
delete only its keys, and readers fold them in.  Every test here checks
the fold against the copy-on-write semantics it replaces — each
operation rewriting the whole state — computed in pure Python."""

import hashlib
import io
import os
import random
from contextlib import redirect_stdout

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unraveldocs_spark import generator as G
from unraveldocs_spark import oracle as O
from unraveldocs_spark.checkpoint import DirCheckpointStore
from unraveldocs_spark.pipeline import run_extraction
from unraveldocs_spark.schemas import (
    EXTRACTIONS_SCHEMA,
    LINEAGE_SCHEMA,
    TRANSCRIPTS_SCHEMA,
    map_rows,
)

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("summary", T.StringType(), True),
    T.StructField("version", T.IntegerType(), True),
])


def _canon(row) -> tuple:
    """A row as plain tuples (nested structs included), for comparing a
    collected Row with a model row."""
    return tuple(
        [tuple(s) for s in v] if isinstance(v, list) else v for v in row
    )


class Fold:
    """The copy-on-write reference: the state is a list of rows and every
    operation rewrites it whole.  ``at`` keeps the state as of each
    snapshot, for ``snapshot_diff``."""

    def __init__(self, n_keys: int):
        self.n_keys, self.rows, self.at = n_keys, [], {}

    def key(self, row) -> tuple:
        return tuple(row[: self.n_keys])

    def keys(self, rows=None) -> set:
        return {self.key(r) for r in (self.rows if rows is None else rows)}

    def append(self, rows):
        self.rows = self.rows + [_canon(r) for r in rows]

    def upsert(self, rows):
        rows = [_canon(r) for r in rows]
        gone = self.keys(rows)
        self.rows = [r for r in self.rows if self.key(r) not in gone] + rows

    def delete(self, keys):
        gone = set(map(tuple, keys))
        self.rows = [r for r in self.rows if self.key(r) not in gone]

    def diff(self, a: str, b: str) -> list:
        ka, kb = self.keys(self.at[a]), self.keys(self.at[b])
        return sorted(
            [self.key(r) + ("added",) for r in self.at[b] if self.key(r) not in ka]
            + [self.key(r) + ("removed",) for r in self.at[a] if self.key(r) not in kb]
        )

    def check(self, spark, store: DirCheckpointStore, snap: str | None):
        """results() equals the fold; with a new ``snap``, snapshot_diff
        from the previous snapshot equals the fold's key diff."""
        got = sorted((_canon(r) for r in store.results(spark).collect()), key=repr)
        assert got == sorted(self.rows, key=repr)
        if snap is None:
            return
        prev = list(self.at)[-1] if self.at else None
        self.at[snap] = list(self.rows)
        if prev is not None:
            diff = store.snapshot_diff(spark, prev, snap).collect()
            assert sorted(tuple(r) for r in diff) == self.diff(prev, snap)


def _extracted(rows) -> list:
    """What extraction writes for transcript ``rows``, from the oracle."""
    out = []
    for conv_id, turn_idx, role, text, tool, _ts in rows:
        e = O.extract_turn(role, tool, text)
        out.append((
            conv_id, turn_idx, e.extracted_text, [tuple(s) for s in e.spans],
            e.status, e.error_message, e.content_format, e.rule, e.n_chars,
            e.n_words, None, None,
        ))
    return out


def _edited(row, tag: str) -> tuple:
    return row[:10] + (f"<p>{tag}</p>", tag)


def test_extraction_store_matches_copy_on_write_fold(spark, tmp_path):
    """A scripted then seeded-random run of append, upsert, delete,
    compaction and resume-run_extraction on an extraction store; after
    every operation results() and snapshot_diff equal the fold."""
    inputs = list(G.transcript_rows(4, median_turns=4, hot_factor=2,
                                    include_oversize=False))
    full = spark.createDataFrame(inputs, TRANSCRIPTS_SCHEMA)
    by_key = {r[:2]: r for r in inputs}
    base = inputs[: len(inputs) // 2]
    store = DirCheckpointStore(str(tmp_path / "x"))
    fold = Fold(2)

    def upsert(rows):
        snap = store.upsert(spark.createDataFrame(rows, EXTRACTIONS_SCHEMA), spark)
        fold.upsert(rows)
        fold.check(spark, store, snap)

    def delete(keys):
        snap = store.delete(
            spark.createDataFrame(keys, "conv_id string, turn_idx int"), spark
        )
        fold.delete(keys)
        fold.check(spark, store, snap)

    def resume(transcripts, rows):
        missing = [r for r in rows if r[:2] not in fold.keys()]
        out = run_extraction(spark, transcripts, store=store, num_partitions=2)
        assert out["new_rows"] == len(missing)
        fold.append(_extracted(missing))
        fold.check(spark, store, out["snapshot_id"])

    resume(spark.createDataFrame(base, TRANSCRIPTS_SCHEMA), base)
    k1 = min(fold.keys())
    row = {fold.key(r): r for r in fold.rows}
    new = ("conv-new", 0, "x", [], "COMPLETED", None, "MARKDOWN", "plain", 1, 1,
           None, None)
    upsert([_edited(new, "insert"), _edited(row[k1], "edit")])  # insert + edit
    delete([("conv-new", 0), k1])  # upsert, then delete, of the same keys
    delete([("conv-new", 0), k1, ("conv-ghost", 9)])  # repeated + unknown
    resume(full, inputs)  # delete, then re-extraction, of k1
    assert k1 in fold.keys() and ("conv-new", 0) not in fold.keys()

    # updates read lazily from the store itself
    before = {fold.key(r): r for r in fold.rows}
    lazy = store.results(spark).limit(3).withColumn("edited_by", F.lit("lazy"))
    snap = store.upsert(lazy, spark)
    written = spark.read.schema(EXTRACTIONS_SCHEMA).parquet(
        os.path.join(store.snap_dir, snap, "results")).collect()
    assert len(written) == 3
    assert all(_canon(r)[:11] == before[_canon(r)[:2]][:11]
               and r.edited_by == "lazy" for r in written)
    fold.upsert(written)
    fold.check(spark, store, snap)

    rng = random.Random(14)
    for step in range(8):
        op = rng.choice(["append", "upsert", "delete", "resume", "compact"])
        present = sorted(fold.keys())
        if op == "append":
            absent = [by_key[k] for k in sorted(by_key) if k not in fold.keys()]
            if not absent:
                continue
            rows = _extracted(rng.sample(absent, min(2, len(absent))))
            snap = store.append(spark.createDataFrame(rows, EXTRACTIONS_SCHEMA))
            fold.append(rows)
            fold.check(spark, store, snap)
        elif op == "upsert":
            cur = {fold.key(r): r for r in fold.rows}
            upsert([_edited(cur[k], f"s{step}")
                    for k in rng.sample(present, min(3, len(present)))])
        elif op == "delete":
            delete(rng.sample(present, min(2, len(present))) + [("conv-ghost", step)])
        elif op == "resume":
            resume(full, inputs)
        else:
            snap = store.maybe_compact(spark, threshold=0, expire=False)
            fold.check(spark, store, snap)


def test_doc_keyed_store_matches_copy_on_write_fold(spark, tmp_path):
    """The same fold on a doc_id-keyed store with its own results_schema:
    a seeded random run of append, upsert (edit and insert), delete and
    compaction."""
    store = DirCheckpointStore(str(tmp_path / "d"), results_schema=DOC_SCHEMA,
                               keys=["doc_id"])
    fold = Fold(1)
    rng = random.Random(7)
    next_id = 0
    for step in range(14):
        op = "append" if step == 0 else rng.choice(
            ["append", "upsert", "upsert", "delete", "compact"])
        present = sorted(fold.keys())
        if op == "append":
            rows = [(next_id + i, f"a{step}", step) for i in range(4)]
            next_id += 4
            snap = store.append(spark.createDataFrame(rows, DOC_SCHEMA))
            fold.append(rows)
        elif op == "upsert":
            ids = [k[0] for k in rng.sample(present, min(2, len(present)))]
            rows = [(i, f"u{step}", step) for i in ids + [next_id]]  # + an insert
            next_id += 1
            snap = store.upsert(spark.createDataFrame(rows, DOC_SCHEMA), spark)
            fold.upsert(rows)
        elif op == "delete":
            keys = rng.sample(present, min(2, len(present))) + [(10**6,)]
            snap = store.delete(spark.createDataFrame(keys, "doc_id long"), spark)
            fold.delete(keys)
        else:
            snap = store.maybe_compact(spark, threshold=0, expire=False)
        fold.check(spark, store, snap)


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_results_plan_is_one_scan_and_one_broadcast_anti_join(spark, tmp_path):
    """Appends alone read as one scan, no join.  After an upsert and a
    delete, one scan reads the rows and one broadcast left-anti join
    drops the retracted ones — no Union of per-snapshot scans."""
    store = DirCheckpointStore(str(tmp_path / "p"), results_schema=DOC_SCHEMA,
                               keys=["doc_id"])
    for lo in (0, 10):
        store.append(spark.createDataFrame(
            [(i, "a", 0) for i in range(lo, lo + 10)], DOC_SCHEMA))
    plan = _plan(store.results(spark))
    assert plan.count("FileScan") == 1 and "Join" not in plan

    store.upsert(spark.createDataFrame([(1, "u", 1)], DOC_SCHEMA), spark)
    store.delete(spark.createDataFrame([(2,)], "doc_id long"), spark)
    plan = _plan(store.results(spark))
    scans = [line for line in plan.splitlines() if "FileScan" in line]
    row_scans = [s for s in scans if "summary" in s.split("ReadSchema")[1]]
    assert len(row_scans) == 1 and len(scans) == 2
    joins = [line for line in plan.splitlines() if "Join" in line]
    assert len(joins) == 1
    assert "BroadcastHashJoin" in joins[0] and "LeftAnti" in joins[0]
    assert "Union" not in plan


def test_results_plan_shuffles_when_broadcast_is_off(spark, tmp_path):
    """The retraction join is the planner's choice: with
    spark.sql.autoBroadcastJoinThreshold at -1 nothing is broadcast and
    results() is the same fold."""
    conf = "spark.sql.autoBroadcastJoinThreshold"
    store = DirCheckpointStore(str(tmp_path / "nb"), results_schema=DOC_SCHEMA,
                               keys=["doc_id"])
    store.append(spark.createDataFrame([(i, "a", 0) for i in range(10)], DOC_SCHEMA))
    store.upsert(spark.createDataFrame([(1, "u", 1)], DOC_SCHEMA), spark)
    store.delete(spark.createDataFrame([(2,)], "doc_id long"), spark)
    state = sorted(tuple(r) for r in store.results(spark).collect())
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "-1")
        df = store.results(spark)
        assert sorted(tuple(r) for r in df.collect()) == state
        plan = _plan(df)
        assert "LeftAnti" in plan and "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set(conf, saved)


def test_lineage_outlives_compaction(spark, tmp_path):
    """expire_snapshots moves the expired runs' lineage to
    expired-lineage/; lineage() and lineage_metrics still read it."""
    from unraveldocs_spark.pipeline import lineage_metrics

    pdf = G.transcripts_pandas(3, median_turns=4, hot_factor=2,
                               include_oversize=False)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    store = DirCheckpointStore(str(tmp_path / "l"))
    run_extraction(spark, sdf, store=store, num_partitions=2)

    def audit():
        lin = store.lineage(spark)
        turns = lineage_metrics(store, spark).agg(F.sum("turns_processed"))
        return lin.count(), lin.agg(F.sum("turns_processed")).first()[0], \
            turns.first()[0]

    before = audit()
    assert before[0] > 0 and before[1] == before[2] == len(pdf)
    assert store.maybe_compact(spark, threshold=0)
    assert os.listdir(os.path.join(store.root, "expired-lineage"))
    assert audit() == before


def test_compaction_reclaims_deleted_rows(spark, tmp_path):
    """Deleted rows stay in older files until compaction; after
    maybe_compact and expire_snapshots no parquet file under snapshots/
    holds a deleted key, the state is unchanged, and the expired
    lineage sits under expired-lineage/."""
    pdf = G.transcripts_pandas(3, median_turns=4, hot_factor=2,
                               include_oversize=False)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    store = DirCheckpointStore(str(tmp_path / "r"))
    run_extraction(spark, sdf, store=store, num_partitions=2)
    first = store.snapshots()[0]
    victims = sorted(
        (r.conv_id, r.turn_idx) for r in store.completed_keys(spark).collect()
    )[:3]
    store.upsert(store.results(spark).filter(
        (F.col("conv_id") == victims[0][0]) & (F.col("turn_idx") == victims[0][1])
    ).withColumn("edited_by", F.lit("e")), spark)
    store.delete(spark.createDataFrame(victims, "conv_id string, turn_idx int"), spark)
    state = sorted(_canon(r) for r in store.results(spark).collect())

    def keys_on_disk():
        held = set()
        for d, _, fs in os.walk(store.snap_dir):
            for f in fs:
                if f.endswith(".parquet") and not d.endswith("lineage"):
                    t = pq.read_table(os.path.join(d, f), columns=["conv_id", "turn_idx"])
                    held |= set(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        return held

    assert set(victims) <= keys_on_disk()
    assert store.maybe_compact(spark, threshold=0)
    store.expire_snapshots()
    assert not keys_on_disk() & set(victims)
    assert sorted(_canon(r) for r in store.results(spark).collect()) == state
    assert first in os.listdir(os.path.join(store.root, "expired-lineage"))


@pytest.mark.parametrize("op", ["upsert", "delete"])
def test_retraction_on_an_empty_store(spark, tmp_path, op):
    """An upsert on an empty store is an insert; a delete leaves it empty."""
    store = DirCheckpointStore(str(tmp_path / op), results_schema=DOC_SCHEMA,
                               keys=["doc_id"])
    if op == "upsert":
        store.upsert(spark.createDataFrame([(1, "u", 1)], DOC_SCHEMA), spark)
        assert [tuple(r) for r in store.results(spark).collect()] == [(1, "u", 1)]
    else:
        store.delete(spark.createDataFrame([(1,)], "doc_id long"), spark)
        assert store.results(spark).count() == 0


@pytest.mark.parametrize("change", ["missing", "extra", "retyped"])
def test_upsert_rejects_columns_off_the_schema(spark, tmp_path, change):
    """A frame whose columns differ from results_schema by name or type
    would read back with all-NULL columns; upsert raises naming the
    column and publishes nothing."""
    store = DirCheckpointStore(str(tmp_path / change), results_schema=DOC_SCHEMA,
                               keys=["doc_id"])
    rows = spark.createDataFrame([(1, "u", 1)], DOC_SCHEMA)
    bad, column = {
        "missing": (rows.drop("version"), "version"),
        "extra": (rows.withColumn("note", F.lit("x")), "note"),
        "retyped": (rows.withColumn("version", F.col("version").cast("string")),
                    "version"),
    }[change]
    with pytest.raises(ValueError, match=f"'{column}'"):
        store.upsert(bad, spark)
    assert store.snapshots() == []


def test_upsert_accepts_apply_edits_output(spark, tmp_path):
    """The edit step's frame (nullable where EXTRACTIONS_SCHEMA nests a
    NOT NULL struct field) passes the column check and publishes."""
    from unraveldocs_spark.edits import apply_edits

    pdf = G.transcripts_pandas(2, median_turns=4, hot_factor=2,
                               include_oversize=False)
    store = DirCheckpointStore(str(tmp_path / "e"))
    run_extraction(spark, spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA),
                   store=store, num_partitions=2)
    done = store.results(spark).filter(F.col("status") == "COMPLETED").first()
    edits = spark.createDataFrame(
        [(done.conv_id, done.turn_idx, "<p>edit</p>", "HTML", "t")],
        "conv_id string, turn_idx int, edited_content string, "
        "content_format string, edited_by string",
    )
    updated, _ = apply_edits(store.results(spark), edits)
    assert updated.schema != EXTRACTIONS_SCHEMA  # only nullability differs
    store.upsert(updated, spark)
    got = store.results(spark).filter(
        (F.col("conv_id") == done.conv_id) & (F.col("turn_idx") == done.turn_idx)
    ).collect()
    assert [(r.edited_by, r.extracted_text) for r in got] == [("t", done.extracted_text)]


def _parquet_files(root: str) -> list:
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root)
        for f in fs if f.endswith(".parquet")
    )


def _codecs(path: str) -> set:
    """The codec of every column chunk of one parquet file."""
    meta = pq.ParquetFile(path).metadata
    return {
        meta.row_group(g).column(c).compression
        for g in range(meta.num_row_groups) for c in range(meta.num_columns)
    }


def _edit_run(spark, store) -> list:
    """An extraction run, then an upsert, a delete and a second append on
    ``store``; returns the snapshot names."""
    pdf = G.transcripts_pandas(3, median_turns=4, hot_factor=2,
                               include_oversize=False)
    run_extraction(spark, spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA),
                   store=store, num_partitions=2)
    keys = sorted(
        (r.conv_id, r.turn_idx) for r in store.completed_keys(spark).collect()
    )
    store.upsert(store.results(spark).filter(
        (F.col("conv_id") == keys[0][0]) & (F.col("turn_idx") == keys[0][1])
    ).withColumn("edited_by", F.lit("e")), spark)
    store.delete(spark.createDataFrame(keys[1:3], "conv_id string, turn_idx int"),
                 spark)
    new = ("conv-new", 0, "x", [], "COMPLETED", None, "MARKDOWN", "plain", 1, 1,
           None, None)
    store.append(spark.createDataFrame([new], EXTRACTIONS_SCHEMA))
    return store.snapshots()


def test_every_published_table_is_zstd(spark, tmp_path):
    """Fresh results and lineage, an upsert's rows, a delete's removed/
    keys and a compaction's rewrite: every column chunk of every parquet
    file under snapshots/ is zstd, and each table has some."""
    store = DirCheckpointStore(str(tmp_path / "z"))
    _edit_run(spark, store)
    assert store.maybe_compact(spark, threshold=0, expire=False)
    by_table = {}
    for f in _parquet_files(store.snap_dir):  # empty part files add no chunks
        by_table.setdefault(os.path.basename(os.path.dirname(f)), set()).update(
            _codecs(f))
    assert by_table == {t: {"ZSTD"} for t in ("results", "lineage", "removed")}


def test_snappy_snapshots_fold_with_zstd_ones(spark, tmp_path):
    """A store whose first snapshot was written snappy (as before the
    codec was set) reads the same: results(), completed_keys() and a
    snapshot_diff equal those of the all-zstd store."""
    store = DirCheckpointStore(str(tmp_path / "m"))
    snaps = _edit_run(spark, store)

    def reads():
        return (
            sorted((_canon(r) for r in store.results(spark).collect()), key=repr),
            sorted(tuple(r) for r in store.completed_keys(spark).collect()),
            sorted(tuple(r) for r in
                   store.snapshot_diff(spark, snaps[0], snaps[-1]).collect()),
        )

    want = reads()
    first = _parquet_files(os.path.join(store.snap_dir, snaps[0], "results"))
    for f in first:
        pq.write_table(pq.read_table(f), f, compression="snappy")
        # Hadoop's local filesystem checks a file against its .crc sibling
        d, name = os.path.split(f)
        os.remove(os.path.join(d, f".{name}.crc"))
    assert {c for f in first for c in _codecs(f)} == {"SNAPPY"}
    assert reads() == want


def test_failed_publish_removes_its_staging_dir(spark, tmp_path):
    """An append whose lineage frame fails in its Python stage publishes
    nothing and leaves no _tmp-* dir; the prior state still reads."""
    store = DirCheckpointStore(str(tmp_path / "f"), results_schema=DOC_SCHEMA,
                               keys=["doc_id"])
    rows = spark.createDataFrame([(1, "a", 0), (2, "b", 0)], DOC_SCHEMA)
    store.append(rows)
    before = store.snapshots()

    def boom(*row):
        raise RuntimeError("lineage stage failed")

    with pytest.raises(Exception, match="lineage stage failed"):
        store.append(rows, lineage=map_rows(rows, boom, LINEAGE_SCHEMA))
    assert not [e for e in os.listdir(store.root) if e.startswith("_tmp-")]
    assert store.snapshots() == before
    assert sorted(tuple(r) for r in store.results(spark).collect()) == [
        (1, "a", 0), (2, "b", 0)]


def test_large_retraction_side_compacts(spark, tmp_path):
    """Under a snapshot-count threshold it never reaches, a store
    compacts once its retraction files outgrow
    spark.sql.autoBroadcastJoinThreshold: a small upsert does not, a
    large one does, and a non-positive limit never does."""
    conf = "spark.sql.autoBroadcastJoinThreshold"
    store = DirCheckpointStore(str(tmp_path / "s"), results_schema=DOC_SCHEMA,
                               keys=["doc_id"])
    store.append(spark.createDataFrame([(i, "a", 0) for i in range(10)], DOC_SCHEMA))
    store.upsert(spark.createDataFrame([(1, "u", 1)], DOC_SCHEMA), spark)
    big = [(i, hashlib.sha256(str(i).encode()).hexdigest() * 4, 2)
           for i in range(4000)]
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "32k")
        assert store.maybe_compact(spark, threshold=32) is None
        store.upsert(spark.createDataFrame(big, DOC_SCHEMA), spark)
        spark.conf.set(conf, "-1")
        assert store.maybe_compact(spark, threshold=32) is None
        spark.conf.set(conf, "32k")
        state = sorted(tuple(r) for r in store.results(spark).collect())
        snap = store.maybe_compact(spark, threshold=32)
        assert snap is not None and store.snapshots() == [snap]
        assert sorted(tuple(r) for r in store.results(spark).collect()) == state
        assert "Join" not in _plan(store.results(spark))
    finally:
        spark.conf.set(conf, saved)


def _data_files(table_dir: str) -> list:
    return [f for f in os.listdir(table_dir) if not f.startswith(("_", "."))]


def _twelve(spark):
    """Twelve conversations: enough turns that all four extraction
    partitions of a 4-way run hold rows."""
    return spark.createDataFrame(
        G.transcripts_pandas(12, median_turns=4, hot_factor=2,
                             include_oversize=False),
        schema=TRANSCRIPTS_SCHEMA)


def _sized_run(spark, root: str):
    """run_extraction at 4 partitions into a fresh store at ``root``;
    returns the store, its one snapshot's results/ dir, the run's output
    and the plan of the frame append was handed, read while the
    extraction frame is still cached."""
    store = DirCheckpointStore(root)
    written = []
    append = store.append

    def spy(results, *args, **kwargs):
        written.append(_plan(results))
        return append(results, *args, **kwargs)

    store.append = spy
    out = run_extraction(spark, _twelve(spark), store=store, num_partitions=4)
    table = os.path.join(store.snap_dir, out["snapshot_id"], "results")
    return store, table, out, written[0]


def _rows(spark, store) -> list:
    return sorted((_canon(r) for r in store.results(spark).collect()), key=repr)


def test_extraction_append_writes_one_file_per_split(spark, tmp_path):
    """At the default split a small run writes ONE results/ file, while
    its lineage keeps one row per non-empty extraction partition.  The
    written frame is a Coalesce over the cached extraction, so the
    Python stage does not run again."""
    from unraveldocs_spark.pipeline import salted_repartition

    store, table, out, plan = _sized_run(spark, str(tmp_path / "one"))
    assert len(_data_files(table)) == 1
    lin = store.lineage(spark).collect()
    parts = salted_repartition(_twelve(spark), 4).groupBy(F.spark_partition_id()).count()
    assert len(lin) == parts.count() > 1
    assert sum(r.turns_processed for r in lin) == out["new_rows"]

    # the operators above the cached relation, AQE's wrapper aside
    physical = plan.split("== Physical Plan ==")[-1].strip().splitlines()
    ops = [line.strip(" +-").split(" ")[0] for line in physical]
    assert "InMemoryRelation" in ops  # the append reads the cache
    above = [op for op in ops[: ops.index("InMemoryRelation")]
             if op != "AdaptiveSparkPlan"]
    assert above == ["Coalesce", "InMemoryTableScan"]
    assert "Coalesce 1" in plan


def test_extraction_append_splits_by_max_partition_bytes(spark, tmp_path):
    """With spark.sql.files.maxPartitionBytes lowered below the cached
    bytes, the append writes min(4, ceil(cached / split)) files, and the
    results equal those of the one-file run."""
    from unraveldocs_spark.extract import extract_stage
    from unraveldocs_spark.pipeline import salted_repartition

    one, _, _, _ = _sized_run(spark, str(tmp_path / "one"))
    probe = extract_stage(salted_repartition(_twelve(spark), 4)).persist()
    probe.count()
    cached = probe._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    probe.unpersist()
    split = cached // 3 + 1  # three splits' worth of cached bytes
    conf = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, str(split))
        many, table, _, _ = _sized_run(spark, str(tmp_path / "many"))
    finally:
        spark.conf.set(conf, saved)
    want = min(4, -(-cached // split))
    assert want > 1 and len(_data_files(table)) == want
    assert _rows(spark, many) == _rows(spark, one)


def test_compaction_writes_one_file_per_split(spark, tmp_path):
    """A five-snapshot store (two extraction runs, an upsert, a delete
    and an append) compacts to ONE results/ file at the default split;
    its results, completed keys and lineage are unchanged."""
    pdf = G.transcripts_pandas(6, median_turns=4, hot_factor=2,
                               include_oversize=False)
    full = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    store = DirCheckpointStore(str(tmp_path / "c"))
    run_extraction(spark, full.filter(F.col("turn_idx") % 2 == 0), store=store,
                   num_partitions=4)
    keys = sorted(
        (r.conv_id, r.turn_idx) for r in store.completed_keys(spark).collect()
    )
    store.upsert(store.results(spark).filter(
        (F.col("conv_id") == keys[0][0]) & (F.col("turn_idx") == keys[0][1])
    ).withColumn("edited_by", F.lit("e")), spark)
    store.delete(spark.createDataFrame(keys[1:3], "conv_id string, turn_idx int"),
                 spark)
    run_extraction(spark, full, store=store, num_partitions=4)
    new = ("conv-new", 0, "x", [], "COMPLETED", None, "MARKDOWN", "plain", 1, 1,
           None, None)
    store.append(spark.createDataFrame([new], EXTRACTIONS_SCHEMA))
    assert len(store.snapshots()) == 5

    def reads():
        return (
            _rows(spark, store),
            sorted(tuple(r) for r in store.completed_keys(spark).collect()),
            sorted(tuple(r) for r in store.lineage(spark).collect()),
        )

    want = reads()
    snap = store.maybe_compact(spark, threshold=0)
    assert store.snapshots() == [snap]
    assert len(_data_files(os.path.join(store.snap_dir, snap, "results"))) == 1
    assert reads() == want
