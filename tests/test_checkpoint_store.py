"""Store-level invariants that need no SparkSession: snapshot ordering,
manifest caching, and the pinned Iceberg SQL for the production path the
sandbox cannot execute (no Iceberg runtime jar)."""

import json
import os

import pytest

from unraveldocs_spark.checkpoint import (
    DirCheckpointStore,
    IcebergCheckpointStore,
    iceberg_has_run_sql,
    iceberg_merge_sql,
)


def _fake_snapshot(store, num: int, run_id: str, compacted: bool = False):
    d = os.path.join(store.snap_dir, f"snap-{num:06d}")
    os.makedirs(d)
    with open(os.path.join(d, "_manifest.json"), "w") as f:
        json.dump({"run_id": run_id, "has_lineage": False, "compacted": compacted}, f)


def test_snapshot_ordering_is_numeric_past_six_digits(tmp_path):
    """snap-%06d names stop sorting lexicographically at snap-1000000
    (a 10^12-turn stream outlives 999999 micro-batches); ordering,
    id allocation, and the compaction cutoff must all compare the
    integer suffix."""
    store = DirCheckpointStore(str(tmp_path))
    _fake_snapshot(store, 999999, "r-a")
    _fake_snapshot(store, 1000000, "r-b", compacted=True)
    _fake_snapshot(store, 1000001, "r-c")

    assert store.snapshots() == ["snap-999999", "snap-1000000", "snap-1000001"]
    assert store._next_snapshot_id() == "snap-1000002"
    # reader scans from the latest compacted snapshot onward — numerically
    assert store._live_snapshots() == ["snap-1000000", "snap-1000001"]


def test_manifests_parsed_at_most_once(tmp_path):
    """has_run runs on EVERY micro-batch; manifests are immutable once
    published, so each must be parsed at most once per store instance
    (O(new snapshots) per batch, not O(all snapshots))."""
    store = DirCheckpointStore(str(tmp_path))
    for i in range(1, 4):
        _fake_snapshot(store, i, f"run-{i}")
    assert store.has_run("run-2")

    # corrupt every manifest on disk: cached metadata must still serve
    for snap in store.snapshots():
        with open(os.path.join(store.snap_dir, snap, "_manifest.json"), "w") as f:
            f.write("NOT JSON")
    assert store.has_run("run-3")
    assert not store.has_run("run-9")

    # a NEW snapshot is still picked up (cache is per-manifest, not global)
    _fake_snapshot(store, 4, "run-4")
    assert store.has_run("run-4")


def test_iceberg_merge_sql_pinned(monkeypatch):
    from unraveldocs_spark import checkpoint

    assert iceberg_merge_sql("cat.db.results") == (
        "MERGE INTO cat.db.results t USING _upsert_updates u "
        "ON t.conv_id = u.conv_id AND t.turn_idx = u.turn_idx "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    monkeypatch.setattr(checkpoint, "KEYS", ["doc_id"])
    assert iceberg_merge_sql("cat.db.ocr") == (
        "MERGE INTO cat.db.ocr t USING _upsert_updates u ON t.doc_id = u.doc_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )


def test_iceberg_has_run_sql_pinned():
    assert iceberg_has_run_sql("cat.db.results", "stream-batch-7") == (
        "SELECT count(*) AS n FROM cat.db.results.snapshots "
        "WHERE summary['run-id'] = 'stream-batch-7'"
    )
    with pytest.raises(ValueError):
        iceberg_has_run_sql("cat.db.results", "x' OR '1'='1")


def test_iceberg_append_stamps_run_id_snapshot_property():
    """append must stamp the run_id into the commit's snapshot summary —
    has_run reads it back for idempotent micro-batch replay.  Exercised
    against a writer double since the sandbox lacks the Iceberg jar."""

    class WriterDouble:
        def __init__(self):
            self.options = {}
            self.appended = False

        def option(self, k, v):
            self.options[k] = v
            return self

        def append(self):
            self.appended = True

    class ResultsDouble:
        def __init__(self):
            self.writer = WriterDouble()
            self.table = None

        def writeTo(self, table):
            self.table = table
            return self.writer

    store = IcebergCheckpointStore("cat.db.results", "cat.db.lineage")
    results = ResultsDouble()
    store.append(results, run_id="stream-batch-3")
    assert results.table == "cat.db.results"
    assert results.writer.options == {"snapshot-property.run-id": "stream-batch-3"}
    assert results.writer.appended

    # no run_id -> no snapshot property (plain append)
    results2 = ResultsDouble()
    store.append(results2)
    assert results2.writer.options == {}
    assert results2.writer.appended


def test_iceberg_delete_sql_pinned(monkeypatch):
    from unraveldocs_spark import checkpoint
    from unraveldocs_spark.checkpoint import iceberg_delete_sql

    assert iceberg_delete_sql("cat.db.results") == (
        "MERGE INTO cat.db.results t USING _delete_keys u "
        "ON t.conv_id = u.conv_id AND t.turn_idx = u.turn_idx "
        "WHEN MATCHED THEN DELETE"
    )
    monkeypatch.setattr(checkpoint, "KEYS", ["doc_id"])
    assert iceberg_delete_sql("cat.db.ocr") == (
        "MERGE INTO cat.db.ocr t USING _delete_keys u "
        "ON t.doc_id = u.doc_id "
        "WHEN MATCHED THEN DELETE"
    )
