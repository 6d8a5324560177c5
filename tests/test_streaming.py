"""Structured Streaming path: same extraction semantics, incremental
micro-batches, snapshot-store commits (availableNow trigger)."""

from unraveldocs_spark import generator as G
from unraveldocs_spark.checkpoint import DirCheckpointStore
from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA
from unraveldocs_spark.streaming import stream_extract


def test_stream_matches_batch_oracle(spark, tmp_path):
    from unraveldocs_spark import oracle as O

    pdf = G.transcripts_pandas(6, hot_factor=2, include_oversize=False)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    input_dir = str(tmp_path / "in")
    sdf.repartition(4).write.parquet(input_dir)

    store = DirCheckpointStore(str(tmp_path / "store"))
    q = stream_extract(spark, input_dir, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {(r.conv_id, r.turn_idx): r for r in store.results(spark).collect()}
    rows = list(zip(pdf.conv_id, pdf.turn_idx, pdf.role, pdf.text, pdf.tool))
    expected = O.oracle_rows(rows)
    assert len(got) == len(expected)
    for e in expected:
        r = got[(e["conv_id"], e["turn_idx"])]
        assert r.extracted_text == e["extracted_text"]
        assert r.status == e["status"]

    # multiple snapshots committed (one per micro-batch), all manifest-published
    assert len(store.snapshots()) >= 1


def test_replayed_micro_batch_is_deduped(spark, tmp_path):
    """foreachBatch is at-least-once: simulate a crash-replay by deleting
    the streaming checkpoint and re-running the stream over the same
    input.  Every batch re-runs under the same batch_id/run_id and the
    idempotent commit must skip it — no duplicate (conv_id, turn_idx)."""
    import shutil

    pdf = G.transcripts_pandas(4, hot_factor=2, include_oversize=False)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    input_dir = str(tmp_path / "replay-in")
    sdf.repartition(2).write.parquet(input_dir)

    store = DirCheckpointStore(str(tmp_path / "replay-store"))
    ckpt = str(tmp_path / "replay-ckpt")
    q = stream_extract(spark, input_dir, store, ckpt)
    q.awaitTermination(120)
    n_rows = store.results(spark).count()
    n_snaps = len(store.snapshots())
    assert n_rows == len(pdf)

    # replay: wipe the source-offset checkpoint, keep the store
    shutil.rmtree(ckpt)
    q2 = stream_extract(spark, input_dir, store, ckpt)
    q2.awaitTermination(120)

    assert len(store.snapshots()) == n_snaps  # replayed appends skipped
    results = store.results(spark)
    assert results.count() == n_rows
    assert (
        results.select("conv_id", "turn_idx").distinct().count() == n_rows
    ), "replay introduced duplicate keys"


def test_windowed_rollup_with_watermark(spark, tmp_path):
    """Watermarked windowed rollup: append mode emits only finalized
    windows; counts match the batch ladder per (conv, window)."""
    from pyspark.sql import functions as F

    from unraveldocs_spark.streaming_windows import run_windowed_rollup

    pdf = G.transcripts_pandas(5, hot_factor=2, include_oversize=False)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    input_dir = str(tmp_path / "win-in")
    sdf.repartition(3).write.parquet(input_dir)

    out_dir = str(tmp_path / "win-out")
    q = run_windowed_rollup(
        spark, input_dir, out_dir, str(tmp_path / "win-ckpt"),
        window="1 hour", watermark="10 minutes",
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    rows = got.collect()
    # append mode withholds windows the watermark hasn't closed; at least
    # the early windows of each conversation must have been finalized
    assert len(rows) > 0
    assert set(got.columns) == {
        "window_start", "window_end", "conv_id",
        "total_turns", "completed", "failed", "collection_status",
    }
    # cross-check one emitted window against a batch recomputation
    from unraveldocs_spark.extract import extract_stage

    batch = extract_stage(sdf, carry_ts=True)
    for r in rows[:5]:
        n = (
            batch.filter(
                (F.col("conv_id") == r.conv_id)
                & (F.col("ts") >= r.window_start)
                & (F.col("ts") < r.window_end)
            ).count()
        )
        assert n == r.total_turns, (r.conv_id, r.window_start)
        assert r.collection_status in ("PROCESSED", "FAILED_OCR", "PROCESSING")


def test_stateful_rollup_matches_batch_ladder(spark, tmp_path):
    """applyInPandasWithState running rollup: the LAST emitted row per
    conversation must equal the batch ladder computed from scratch, and
    interim counts are monotonically non-decreasing."""
    from pyspark.sql import functions as F

    from unraveldocs_spark.extract import extract_stage
    from unraveldocs_spark.rollup import conversation_rollup
    from unraveldocs_spark.streaming_state import stateful_rollup_stream

    pdf = G.transcripts_pandas(5, hot_factor=2, include_oversize=False)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    input_dir = str(tmp_path / "st-in")
    # many small files so multiple micro-batches exercise state carry-over
    sdf.repartition(8).write.parquet(input_dir)

    out_dir = str(tmp_path / "st-out")
    # drain mode: no idle timeout (processing-time timers would keep an
    # availableNow query scheduling empty batches forever)
    q = stateful_rollup_stream(
        spark, input_dir, out_dir, str(tmp_path / "st-ckpt")
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir).collect()
    assert got, "no stateful output emitted"
    # last (max total_turns) row per conversation == batch recomputation
    last = {}
    for r in got:
        if r.conv_id not in last or r.total_turns >= last[r.conv_id].total_turns:
            last[r.conv_id] = r
    batch = {
        r.conv_id: r
        for r in conversation_rollup(extract_stage(sdf)).collect()
    }
    assert set(last) == set(batch)
    for conv_id, b in batch.items():
        s = last[conv_id]
        assert (s.total_turns, s.completed, s.failed) == (
            b.total_turns, b.completed, b.failed), conv_id
        assert s.collection_status == b.collection_status
    # interim rows never decrease
    by_conv = {}
    for r in sorted(got, key=lambda r: r.total_turns):
        prev = by_conv.get(r.conv_id)
        if prev is not None:
            assert r.completed >= prev.completed and r.failed >= prev.failed
        by_conv[r.conv_id] = r


def test_stateful_rollup_rejects_timeout_with_available_now(spark, tmp_path):
    """idle_timeout_ms selects ProcessingTimeTimeout, which never lets an
    availableNow query terminate — the combination must raise, not hang."""
    import pytest

    from unraveldocs_spark.streaming_state import stateful_rollup_stream

    with pytest.raises(ValueError, match="availableNow"):
        stateful_rollup_stream(
            spark, str(tmp_path / "x-in"), str(tmp_path / "x-out"),
            str(tmp_path / "x-ckpt"), idle_timeout_ms=1000,
        )


def test_stateful_rollup_idle_timeout_evicts(spark, tmp_path):
    """Continuous (processingTime) deployment: a conversation idle past
    idle_timeout_ms must emit a terminal is_final=true row and drop its
    state — the branch that bounds state to O(live conversations).  This
    test fails if the hasTimedOut eviction branch is deleted (no other
    code path emits is_final=true)."""
    import time

    from unraveldocs_spark.extract import extract_stage
    from unraveldocs_spark.rollup import conversation_rollup
    from unraveldocs_spark.streaming_state import stateful_rollup_stream

    pdf = G.transcripts_pandas(3, hot_factor=1, include_oversize=False)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    input_dir = str(tmp_path / "ev-in")
    sdf.repartition(2).write.parquet(input_dir)

    out_dir = str(tmp_path / "ev-out")
    q = stateful_rollup_stream(
        spark, input_dir, out_dir, str(tmp_path / "ev-ckpt"),
        idle_timeout_ms=1500, trigger={"processingTime": "1 second"},
    )
    try:
        # all input arrives in the first batches; then the stream idles and
        # empty timeout batches must evict every conversation
        deadline = time.monotonic() + 120
        finals = {}
        while time.monotonic() < deadline:
            try:
                rows = spark.read.parquet(out_dir).collect()
            except Exception:  # sink dir not created yet
                rows = []
            finals = {r.conv_id: r for r in rows if r.is_final}
            if len(finals) == len(set(pdf.conv_id)):
                break
            time.sleep(1)
    finally:
        q.stop()

    assert set(finals) == set(pdf.conv_id), (
        f"eviction rows missing: {set(pdf.conv_id) - set(finals)}"
    )
    # terminal rows carry the full ladder state at eviction time
    batch = {
        r.conv_id: r for r in conversation_rollup(extract_stage(sdf)).collect()
    }
    for conv_id, b in batch.items():
        f = finals[conv_id]
        assert (f.total_turns, f.completed, f.failed) == (
            b.total_turns, b.completed, b.failed), conv_id
        assert f.collection_status == b.collection_status


def test_stream_dedup_ingest_commits_each_digest_once(spark, tmp_path):
    """Incremental exact dedup: duplicate texts arriving in LATER
    micro-batches (and duplicated within a batch) must not reach the
    committed corpus; replaying the whole stream must not re-add them."""
    import shutil

    from pyspark.sql import functions as F

    from unraveldocs_spark.schemas import DEDUP_INGEST_SCHEMA
    from unraveldocs_spark.streaming import stream_dedup_ingest

    pdf1 = G.transcripts_pandas(3, hot_factor=1, include_oversize=False)
    # batch 2: same texts under new conversation ids (pure cross-batch
    # duplicates) plus one genuinely new row
    pdf2 = pdf1.copy()
    pdf2["conv_id"] = pdf2["conv_id"] + "-dup"
    new_row = pdf1.iloc[[0]].copy()
    new_row["conv_id"] = "conv-new"
    new_row["text"] = "genuinely new text"
    pdf2 = __import__("pandas").concat([pdf2, new_row], ignore_index=True)

    input_dir = str(tmp_path / "dd-in")
    spark.createDataFrame(pdf1, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)
    spark.createDataFrame(pdf2, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    store = DirCheckpointStore(
        str(tmp_path / "dd-store"), results_schema=DEDUP_INGEST_SCHEMA
    )
    ckpt = str(tmp_path / "dd-ckpt")
    q = stream_dedup_ingest(spark, input_dir, store, ckpt)
    q.awaitTermination(120)

    results = store.results(spark)
    n_distinct_texts = len(set(pdf1.text) | {"genuinely new text"})
    assert results.count() == n_distinct_texts
    assert results.select("digest").distinct().count() == n_distinct_texts
    # keepers are deterministic minima: no keeper comes from a -dup conv
    # unless its text only ever appeared there
    dup_keepers = results.filter(F.col("conv_id").endswith("-dup")).count()
    assert dup_keepers == 0

    # full replay (wipe source offsets, keep store): no duplicates added
    n_snaps = len(store.snapshots())
    shutil.rmtree(ckpt)
    q2 = stream_dedup_ingest(spark, input_dir, store, ckpt)
    q2.awaitTermination(120)
    assert len(store.snapshots()) == n_snaps
    assert store.results(spark).count() == n_distinct_texts


def test_stream_stream_join_matches_batch_join(spark, tmp_path):
    """Watermarked stream-stream correlation: matched pairs and latencies
    must equal the batch inner join with the same time-range predicate;
    results outside [req_ts, req_ts + max_lag] never match."""
    from pyspark.sql import functions as F

    from unraveldocs_spark.streaming_windows import (
        REQUEST_STREAM_SCHEMA,
        RESULT_STREAM_SCHEMA,
        run_stream_correlation,
    )

    pdf = G.transcripts_pandas(3, hot_factor=2, include_oversize=False)
    base = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).select(
        "conv_id", "turn_idx", "ts"
    )
    req = base.select("conv_id", "turn_idx", F.col("ts").alias("req_ts"))
    # deterministic completion events: ~90% of turns complete, with a
    # turn-keyed delay; every 7th completion lands beyond max_lag and
    # must therefore not match
    res = (
        base.filter(F.pmod("turn_idx", F.lit(10)) != 9)
        .select(
            "conv_id",
            "turn_idx",
            F.when(F.pmod("turn_idx", F.lit(3)) == 0, "FAILED")
            .otherwise("COMPLETED")
            .alias("status"),
            F.when(
                F.pmod("turn_idx", F.lit(7)) == 6,
                F.col("ts") + F.expr("INTERVAL 90 MINUTES"),
            )
            .otherwise(
                F.col("ts") + F.make_dt_interval(secs=F.pmod("turn_idx", F.lit(5)) * 60)
            )
            .alias("done_ts"),
        )
    )
    req_dir, res_dir = str(tmp_path / "req"), str(tmp_path / "res")
    req.repartition(1).write.parquet(req_dir)
    res.repartition(1).write.parquet(res_dir)

    out_dir = str(tmp_path / "corr-out")
    q = run_stream_correlation(
        spark, req_dir, res_dir, out_dir, str(tmp_path / "corr-ckpt"),
        watermark="10 minutes", max_lag_minutes=60,
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    expected = (
        req.join(res, ["conv_id", "turn_idx"])
        .filter(
            (F.col("done_ts") >= F.col("req_ts"))
            & (F.col("done_ts") <= F.col("req_ts") + F.expr("INTERVAL 60 MINUTES"))
        )
        .select(
            "conv_id",
            "turn_idx",
            (F.unix_timestamp("done_ts") - F.unix_timestamp("req_ts")).alias(
                "latency_s"
            ),
        )
    )
    assert got.count() == expected.count() > 0
    # beyond-max-lag completions are excluded
    assert got.filter(F.col("latency_s") > 3600).count() == 0
    # exact pair + latency equality
    diff = (
        got.select("conv_id", "turn_idx", "latency_s")
        .exceptAll(expected)
        .count()
    )
    assert diff == 0


def test_streaming_session_windows_match_batch_sessionize(spark, tmp_path):
    """F.session_window sessions must agree with the batch gap
    sessionization (q_sessionize) on session count, per-session event
    count, and session start — same 30-minute gap rule."""
    from pyspark.sql import functions as F

    from unraveldocs_spark.streaming_windows import run_session_rollup
    from unraveldocs_spark.trainingdata import q_sessionize

    sf = "/root/testdata/sf0.001"
    in_dir = str(tmp_path / "sess-in")  # readStream needs a directory
    spark.read.parquet(f"{sf}/events.parquet").repartition(2).write.parquet(in_dir)
    out_dir = str(tmp_path / "sess-out")
    q = run_session_rollup(spark, in_dir, out_dir, str(tmp_path / "sess-ckpt"))
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir).select("user_id", "start_epoch", "n_events")
    batch = q_sessionize(spark, sf).select(
        "user_id", "start_epoch", "n_events"
    )
    # append mode withholds sessions the watermark never closed (the
    # last session per user at end-of-stream stays open), so the
    # streaming result must be a SUBSET of the batch sessions — and must
    # cover every batch session that is not the user's last one.
    assert got.count() > 0
    assert got.exceptAll(batch).count() == 0
    w_last = batch.groupBy("user_id").agg(F.max("start_epoch").alias("start_epoch"))
    non_last = batch.join(w_last, ["user_id", "start_epoch"], "left_anti")
    missing = non_last.exceptAll(got).count()
    assert missing == 0, f"{missing} finalized sessions missing from the stream"


def test_stream_dedup_ingest_drops_null_text(spark, tmp_path):
    """A NULL-text turn digests to NULL; the anti-join on digest never
    matches NULL, so without the filter the same row re-commits every
    restart — the committed corpus must exclude NULL-text rows entirely
    and stay stable across a replay."""
    import shutil

    from unraveldocs_spark.schemas import DEDUP_INGEST_SCHEMA
    from unraveldocs_spark.streaming import stream_dedup_ingest

    pdf = G.transcripts_pandas(2, hot_factor=1, include_oversize=False)
    pdf.loc[len(pdf)] = ["conv-null", 0, "user", None, None, pdf.ts.iloc[0]]

    input_dir = str(tmp_path / "nn-in")
    spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    store = DirCheckpointStore(
        str(tmp_path / "nn-store"), results_schema=DEDUP_INGEST_SCHEMA
    )
    ckpt = str(tmp_path / "nn-ckpt")
    stream_dedup_ingest(spark, input_dir, store, ckpt).awaitTermination(120)

    res = store.results(spark)
    n = res.count()
    assert res.filter("text IS NULL OR digest IS NULL").count() == 0
    assert n == len(set(t for t in pdf.text if t is not None))

    # replay: the NULL row must not re-commit (the unbounded-duplicates
    # failure mode the filter exists to prevent)
    shutil.rmtree(ckpt)
    stream_dedup_ingest(spark, input_dir, store, ckpt).awaitTermination(120)
    assert store.results(spark).count() == n


def test_quota_enforcer_matches_batch_ranking(spark, tmp_path):
    """Streamed per-(user, day) admission must equal the batch oracle's
    row_number ranking: first `limit` events of a user's day ALLOWED,
    the rest DENIED — including counts carried ACROSS micro-batches
    (the input is staged as two ts-ordered files)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from unraveldocs_spark.streaming_state import quota_enforcer_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ordered = events.orderBy("ts", "event_id")
    n = ordered.count()
    half_ts = ordered.limit(n // 2).agg(F.max("ts")).first()[0]

    input_dir = str(tmp_path / "q-in")
    # two files split at the ts midpoint, arriving in time order
    ordered.filter(F.col("ts") <= half_ts).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)
    ordered.filter(F.col("ts") > half_ts).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    out = str(tmp_path / "q-out")
    ckpt = str(tmp_path / "q-ckpt")
    LIMIT = 3
    q = quota_enforcer_stream(spark, input_dir, out, ckpt, daily_limit=LIMIT)
    q.awaitTermination(180)

    got = {
        r.event_id: (r.n_in_day, r.allowed)
        for r in spark.read.parquet(out).collect()
    }
    w = Window.partitionBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd")
    ).orderBy("ts", "event_id")
    expect = {
        r.event_id: (r.rk, r.rk <= LIMIT)
        for r in events.select(
            "event_id", F.row_number().over(w).alias("rk")
        ).collect()
    }
    assert len(got) == n
    assert got == expect
    assert any(not a for _, a in got.values()), "need some DENIED rows"


def test_stream_extracts_encrypted_payloads(spark, tmp_path):
    """Encrypted uploads flow through the SAME streaming extraction path
    with no special casing: the micro-batch extract stage's shared
    dispatch decrypts each {kind:encrypted} envelope before routing
    (oracle.extract_turn step 2.5), so the committed results equal the
    plaintext corpus's extraction per turn — the async-upload analog of
    the reference's decrypt-at-fetch (DocumentUploadImpl.java:55-63)."""
    import pytest

    from unraveldocs_spark import crypto
    from unraveldocs_spark import oracle as O
    from unraveldocs_spark.extract import encrypt_stage

    if not crypto.HAVE_AESGCM:
        pytest.skip("cryptography not installed")

    pdf = G.transcripts_pandas(5, hot_factor=2, include_oversize=False)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    enc = encrypt_stage(sdf)
    assert enc.filter("is_encrypted = 1").count() > 0
    input_dir = str(tmp_path / "in")
    # the stream reads the TRANSCRIPTS schema: store the encrypted text,
    # drop the upload-side metadata columns
    enc.select(*[f.name for f in TRANSCRIPTS_SCHEMA.fields]).repartition(
        4
    ).write.parquet(input_dir)

    store = DirCheckpointStore(str(tmp_path / "store"))
    q = stream_extract(spark, input_dir, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {(r.conv_id, r.turn_idx): r for r in store.results(spark).collect()}
    rows = list(zip(pdf.conv_id, pdf.turn_idx, pdf.role, pdf.text, pdf.tool))
    expected = O.oracle_rows(rows)  # oracle over the PLAINTEXT corpus
    assert len(got) == len(expected)
    for e in expected:
        r = got[(e["conv_id"], e["turn_idx"])]
        assert r.extracted_text == e["extracted_text"]
        assert r.status == e["status"]
        assert r.rule == e["rule"]
