"""Distributed-pipeline correctness: per-turn exact text equality vs the
single-threaded oracle (BASELINE.json input_hint), stable ordering under
salted repartitioning, resume idempotency, rollup ladder."""

import os

import pandas as pd
import pytest

from unraveldocs_spark import checkpoint
from unraveldocs_spark import generator as G
from unraveldocs_spark import oracle as O
from unraveldocs_spark.checkpoint import DirCheckpointStore
from unraveldocs_spark.extract import extract_stage
from unraveldocs_spark.pipeline import run_extraction, salted_repartition
from unraveldocs_spark.rollup import conversation_rollup

N_CONVS = 20  # sf-smoke (FIXTURES.md §5)
HOT_FACTOR = 25  # hot conversation = 25x median for the smoke tier


@pytest.fixture(scope="module")
def smoke_pdf():
    return G.transcripts_pandas(N_CONVS, hot_factor=HOT_FACTOR)


@pytest.fixture(scope="module")
def expected(smoke_pdf):
    rows = list(
        zip(
            smoke_pdf.conv_id,
            smoke_pdf.turn_idx,
            smoke_pdf.role,
            [None if t is None else t for t in smoke_pdf.text],
            [None if t is None else t for t in smoke_pdf.tool],
        )
    )
    return {(r["conv_id"], r["turn_idx"]): r for r in O.oracle_rows(rows)}


@pytest.fixture(scope="module")
def smoke_sdf(spark, smoke_pdf):
    from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

    return spark.createDataFrame(smoke_pdf, schema=TRANSCRIPTS_SCHEMA)


class TestExactEquality:
    def test_per_turn_text_equality(self, spark, smoke_sdf, expected):
        got = extract_stage(salted_repartition(smoke_sdf, 16)).collect()
        assert len(got) == len(expected)
        mismatches = []
        for row in got:
            exp = expected[(row.conv_id, row.turn_idx)]
            if row.extracted_text != exp["extracted_text"]:
                mismatches.append((row.conv_id, row.turn_idx))
        assert mismatches == [], f"{len(mismatches)} text mismatches: {mismatches[:5]}"

    def test_status_error_spans_equality(self, spark, smoke_sdf, expected):
        got = extract_stage(smoke_sdf).collect()
        for row in got:
            exp = expected[(row.conv_id, row.turn_idx)]
            assert row.status == exp["status"], (row.conv_id, row.turn_idx)
            assert row.error_message == exp["error_message"]
            got_spans = [(s.start, s.end, s.kind) for s in (row.spans or [])]
            exp_spans = [(s["start"], s["end"], s["kind"]) for s in exp["spans"]]
            assert got_spans == exp_spans, (row.conv_id, row.turn_idx)
            assert row.rule == exp["rule"]

    def test_all_families_present(self, expected):
        rules = {e["rule"] for e in expected.values()}
        assert {
            O.RULE_PLAIN,
            O.RULE_HTML,
            O.RULE_PAGES_DIRECT,
            O.RULE_PAGES_OCR_FALLBACK,
            O.RULE_TOOL_FENCE,
            O.RULE_ERROR_NO_DATA,
            O.RULE_ERROR_UNSUPPORTED,
            O.RULE_ERROR_OVERSIZE,
            O.RULE_VISION,
        } <= rules

    def test_spans_index_into_text(self, spark, smoke_sdf):
        for row in extract_stage(smoke_sdf).collect():
            if row.extracted_text is None:
                continue
            for s in row.spans or []:
                assert 0 <= s.start <= s.end <= len(row.extracted_text)


class TestOrdering:
    def test_sort_within_partitions_stable(self, spark, smoke_sdf):
        """Within every task partition, rows are (conv_id, turn_idx)
        ordered after the salted repartition (F8 ordering stress)."""
        from pyspark.sql import functions as F

        staged = salted_repartition(smoke_sdf, 16)

        def check(batches):
            import pandas as pd

            for pdf in batches:
                keys = list(zip(pdf.conv_id, pdf.turn_idx))
                yield pd.DataFrame({"ok": [keys == sorted(keys)]})

        oks = staged.mapInPandas(check, schema="ok boolean").collect()
        assert all(r.ok for r in oks)

    def test_hot_conversation_spread(self, spark, smoke_sdf):
        """The hot conversation must occupy more than one task partition
        (salting defuses the skew a plain repartition(conv_id) would pin)."""
        from pyspark.sql import functions as F

        staged = salted_repartition(smoke_sdf, 16)
        n_parts = (
            staged.filter(F.col("conv_id") == G.conv_name(0))
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
        assert n_parts > 1


class TestResume:
    def test_kill_and_resume(self, spark, smoke_sdf, expected, tmp_path):
        from pyspark.sql import functions as F

        store = DirCheckpointStore(str(tmp_path / "ckpt"))

        # run 1: only even turns survive the "crash" (partial snapshot)
        first_half = smoke_sdf.filter(F.col("turn_idx") % 2 == 0)
        r1 = run_extraction(spark, first_half, store=store, num_partitions=8)
        assert r1["snapshot_id"] == "snap-000001"
        n_half = first_half.count()
        assert r1["new_rows"] == n_half

        # run 2: full input; resume must process ONLY the missing rows
        r2 = run_extraction(spark, smoke_sdf, store=store, num_partitions=8)
        assert r2["new_rows"] == len(expected) - n_half

        # run 3: nothing left to do (idempotency, ProcessOcr.java:71-74)
        r3 = run_extraction(spark, smoke_sdf, store=store, num_partitions=8)
        assert r3["new_rows"] == 0

        # final state equals the oracle exactly, no duplicates
        final = store.results(spark).collect()
        assert len(final) == len(expected)
        for row in final:
            exp = expected[(row.conv_id, row.turn_idx)]
            assert row.extracted_text == exp["extracted_text"]

    def test_lineage_rows(self, spark, smoke_sdf, tmp_path):
        import json

        store = DirCheckpointStore(str(tmp_path / "ckpt2"))
        run_extraction(spark, smoke_sdf, store=store, num_partitions=8)
        lineage = store.lineage(spark).collect()
        assert len(lineage) > 0
        total = sum(r.turns_processed for r in lineage)
        assert total == smoke_sdf.count()
        assert all(r.bytes_parsed >= 0 for r in lineage)
        hits = json.loads(lineage[0].rule_hits)
        assert isinstance(hits, dict) and hits


class TestRollup:
    def test_matches_reference_ladder(self, spark, smoke_sdf, expected):
        from unraveldocs_spark import semantics as S

        got = {
            r.conv_id: r
            for r in conversation_rollup(extract_stage(smoke_sdf)).collect()
        }
        # compute expected ladder from oracle rows
        per_conv = {}
        for (conv_id, _), e in expected.items():
            tot, ok, ko = per_conv.get(conv_id, (0, 0, 0))
            per_conv[conv_id] = (
                tot + 1,
                ok + (e["status"] == "COMPLETED"),
                ko + (e["status"] == "FAILED"),
            )
        assert set(got) == set(per_conv)
        for conv_id, (tot, ok, ko) in per_conv.items():
            row = got[conv_id]
            assert (row.total_turns, row.completed, row.failed) == (tot, ok, ko)
            assert row.collection_status == S.rollup_status(tot, ok, ko)

    def test_ladder_values(self, spark):
        pdf = pd.DataFrame(
            {
                "conv_id": ["a", "a", "b", "b", "c", "c"],
                "status": ["COMPLETED", "COMPLETED", "COMPLETED", "FAILED", "COMPLETED", "PENDING"],
            }
        )
        sdf = spark.createDataFrame(pdf)
        got = {r.conv_id: r.collection_status for r in conversation_rollup(sdf).collect()}
        assert got == {"a": "PROCESSED", "b": "FAILED_OCR", "c": "PROCESSING"}


class TestGeneratorParity:
    def test_spark_generator_matches_pandas(self, spark):
        pdf = G.transcripts_pandas(6, hot_factor=3, include_oversize=False)
        sdf = G.transcripts_spark(spark, 6, hot_factor=3, include_oversize=False)
        got = sdf.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        exp = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)


class TestSkewBalance:
    def test_salted_partitions_are_balanced_under_extreme_skew(self, spark):
        """F8 stress: one conversation 200x the median must not pin a
        task — after salting, the largest partition stays within a small
        factor of the mean."""
        from pyspark.sql import functions as F

        pdf = G.transcripts_pandas(12, median_turns=10, hot_factor=200,
                                   include_oversize=False)
        sdf = spark.createDataFrame(pdf)
        n_parts = 16
        staged = salted_repartition(sdf, n_parts)
        sizes = (
            staged.groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        )
        counts = [r["count"] for r in sizes]
        mean = sum(counts) / n_parts
        assert max(counts) <= 2 * mean, (sorted(counts), mean)

        # contrast: an UNSALTED repartition(conv_id) pins the hot conv
        unsalted = sdf.repartition(n_parts, F.col("conv_id"))
        u_sizes = [
            r["count"]
            for r in unsalted.groupBy(F.spark_partition_id().alias("p")).count().collect()
        ]
        assert max(u_sizes) > max(counts), "salting should beat conv-only partitioning"

    def test_run_extraction_spreads_hot_conv_past_16_tasks(self, spark):
        """run_extraction leaves the salt count to salted_repartition's
        max(16, 4P) rule: at 32 partitions a 200x-hot conversation must
        reach more than the 16 tasks a fixed 16-way salt could address."""
        from pyspark.sql import functions as F

        pdf = G.transcripts_pandas(12, median_turns=10, hot_factor=200,
                                   include_oversize=False)
        hot = pdf["conv_id"].value_counts().idxmax()
        out = run_extraction(spark, spark.createDataFrame(pdf), num_partitions=32)
        n_tasks = (
            out["extractions"]
            .filter(F.col("conv_id") == hot)
            .select(F.spark_partition_id())
            .distinct()
            .count()
        )
        assert n_tasks > 16, n_tasks


class TestTwoPhaseResume:
    def test_complete_convs_pruned_then_keys(self, spark, tmp_path):
        """Conversation 0 fully done, conversation 1 half done: the
        two-phase resume must return exactly the missing keys."""
        from pyspark.sql import functions as F

        from unraveldocs_spark.checkpoint import resume_filter
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = G.transcripts_pandas(4, median_turns=8, hot_factor=2,
                                   include_oversize=False)
        sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        store = DirCheckpointStore(str(tmp_path / "tp"))
        done_input = sdf.filter(
            (F.col("conv_id") == G.conv_name(0))
            | ((F.col("conv_id") == G.conv_name(1)) & (F.col("turn_idx") % 2 == 0))
        )
        run_extraction(spark, done_input, store=store, num_partitions=4)

        remaining = resume_filter(sdf, store, spark)
        got = {(r.conv_id, r.turn_idx) for r in remaining.select("conv_id", "turn_idx").collect()}
        expected = {
            (c, t)
            for c, t in zip(pdf.conv_id, pdf.turn_idx)
            if not (
                c == G.conv_name(0)
                or (c == G.conv_name(1) and t % 2 == 0)
            )
        }
        assert got == expected

    def test_net_zero_drift_not_skipped(self, spark, tmp_path):
        """Input drift with equal counts (one turn added, one removed since
        the snapshot) must NOT pass the conversation-complete check: the
        new turn has to come back from resume (ADVICE r1: compare key
        sets via semi-join, not raw counts)."""
        from pyspark.sql import functions as F

        from unraveldocs_spark.checkpoint import resume_filter
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = G.transcripts_pandas(3, median_turns=8, hot_factor=2,
                                   include_oversize=False)
        sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        conv = G.conv_name(1)
        n_turns = int((pdf.conv_id == conv).sum())
        store = DirCheckpointStore(str(tmp_path / "drift"))
        # snapshot completes ALL of conversation 1 as it existed then
        run_extraction(
            spark, sdf.filter(F.col("conv_id") == conv), store=store,
            num_partitions=4,
        )
        # drift: turn 0 removed, turn n_turns appended — count unchanged
        drifted = sdf.filter(
            ~((F.col("conv_id") == conv) & (F.col("turn_idx") == 0))
        ).unionByName(
            sdf.filter((F.col("conv_id") == conv) & (F.col("turn_idx") == 1))
            .withColumn("turn_idx", F.lit(n_turns))
        )
        got = {
            (r.conv_id, r.turn_idx)
            for r in resume_filter(drifted, store, spark)
            .select("conv_id", "turn_idx")
            .collect()
        }
        # the appended turn must be processed; conversations 0/2 were
        # never extracted so every one of their turns remains
        expected = {
            (c, t) for c, t in zip(pdf.conv_id, pdf.turn_idx) if c != conv
        } | {(conv, n_turns)}
        assert got == expected


class TestEmptyStore:
    def test_fresh_run_plans_no_resume_join(self, spark, tmp_path, monkeypatch):
        """On an empty store, the frame handed to the extraction stage has
        no resume join and no Python-RDD scan left in its plan."""
        from unraveldocs_spark import pipeline
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = G.transcripts_pandas(3, median_turns=4, hot_factor=2,
                                   include_oversize=False)
        path = str(tmp_path / "in")
        spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).write.parquet(path)
        seen = []

        def spy(df, *args, **kwargs):
            seen.append(df)
            return extract_stage(df, *args, **kwargs)

        monkeypatch.setattr(pipeline, "extract_stage", spy)
        store = DirCheckpointStore(str(tmp_path / "store"))
        out = run_extraction(spark, spark.read.parquet(path), store=store,
                             num_partitions=2)
        assert out["new_rows"] == len(pdf)
        qe = seen[0]._jdf.queryExecution()
        assert "Join" not in qe.optimizedPlan().toString()
        assert "ExistingRDD" not in qe.executedPlan().toString()

    def test_empty_reads_keep_declared_schemas(self, spark, tmp_path):
        store = DirCheckpointStore(str(tmp_path / "empty"))
        results, lineage = store.results(spark), store.lineage(spark)
        assert results.schema == store.results_schema
        assert lineage.schema == store.lineage_schema
        assert results.count() == 0 and lineage.count() == 0


class TestSnapshotAtomicity:
    def test_unmanifested_snapshot_is_invisible(self, spark, tmp_path):
        """A snapshot directory without its manifest (simulated mid-write
        crash) must be invisible to readers and resume."""
        import os

        from pyspark.sql import functions as F

        pdf = G.transcripts_pandas(3, median_turns=4, hot_factor=2,
                                   include_oversize=False)
        sdf = spark.createDataFrame(pdf)
        store = DirCheckpointStore(str(tmp_path / "atom"))
        run_extraction(spark, sdf, store=store, num_partitions=4)
        assert store.snapshots() == ["snap-000001"]
        n = store.results(spark).count()

        # simulate a crash mid-publish: snapshot dir present, manifest gone
        crashed = os.path.join(store.snap_dir, "snap-000002")
        os.makedirs(os.path.join(crashed, "results"))
        with open(os.path.join(crashed, "results", "junk.parquet"), "w") as f:
            f.write("not parquet")
        assert store.snapshots() == ["snap-000001"]
        assert store.results(spark).count() == n

        # a later append must skip the crashed id (no rename collision)
        # and the crashed dir stays invisible forever
        extra = store.results(spark).limit(1)
        snap = store.append(extra)
        assert snap == "snap-000003"
        assert store.snapshots() == ["snap-000001", "snap-000003"]
        assert store.results(spark).count() == n + 1
        assert os.path.exists(crashed)  # untouched, still unmanifested


class TestVisionMetrics:
    def test_metrics_match_pure_semantics(self, spark, smoke_sdf, smoke_pdf):
        import json

        from unraveldocs_spark import semantics as S
        from unraveldocs_spark.extract import vision_metrics_stage

        got = {
            (r.conv_id, r.turn_idx): (r.confidence, r.language_detected)
            for r in vision_metrics_stage(smoke_sdf).collect()
        }
        expected = {}
        for c, t, text in zip(smoke_pdf.conv_id, smoke_pdf.turn_idx, smoke_pdf.text):
            if isinstance(text, str) and S.try_parse_envelope(text) is not None \
                    and S.try_parse_envelope(text).kind == "vision":
                _, conf, lang = S.extract_vision(json.loads(text))
                expected[(c, t)] = (conf, lang)
        assert got == expected
        assert expected, "smoke tier must contain vision payloads"


class TestNullPayloads:
    """NULL ``text``/``tool`` reach the per-row functions as ``None``: an
    all-NULL batch and a mixed batch through the Spark stages equal the
    per-row ``extract_turn``/``encrypt_turn`` results."""

    @pytest.fixture(scope="class", params=["all_null", "mixed"])
    def rows(self, request):
        import datetime as dt

        ts = dt.datetime(2026, 1, 1)
        if request.param == "all_null":
            roles = ("user", "assistant", "tool")
            return [
                (f"conv-n{i % 3}", i, roles[i % 3], None, None, ts) for i in range(12)
            ]
        out = []
        for i in range(40):
            role, text, tool = G.make_turn(i % 7, i, False)
            if i % 4 == 0:
                text = None
            if i % 5 == 0:
                tool = None
            out.append((f"conv-m{i % 7}", i, role, text, tool, ts))
        return out

    @pytest.fixture(scope="class")
    def sdf(self, spark, rows):
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        # one partition: every row rides in the same Arrow batch
        return spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).coalesce(1)

    def test_extract_stage_matches_per_row(self, sdf, rows):
        got = {(r.conv_id, r.turn_idx): r for r in extract_stage(sdf).collect()}
        assert len(got) == len(rows)
        for conv_id, turn_idx, role, text, tool, _ in rows:
            exp = O.extract_turn(role, tool, text)
            r = got[(conv_id, turn_idx)]
            assert (
                r.extracted_text, [tuple(s) for s in r.spans], r.status,
                r.error_message, r.content_format, r.rule, r.n_chars, r.n_words,
                r.edited_content, r.edited_by,
            ) == (
                exp.extracted_text, list(exp.spans), exp.status,
                exp.error_message, exp.content_format, exp.rule, exp.n_chars,
                exp.n_words, None, None,
            ), (conv_id, turn_idx)

    def test_encrypt_stage_matches_per_row(self, sdf, rows):
        from unraveldocs_spark.crypto import encrypt_turn
        from unraveldocs_spark.extract import encrypt_stage

        got = {(r.conv_id, r.turn_idx): r for r in encrypt_stage(sdf).collect()}
        assert len(got) == len(rows)
        for conv_id, turn_idx, role, text, tool, ts in rows:
            r = got[(conv_id, turn_idx)]
            assert (r.role, r.tool, r.ts) == (role, tool, ts)
            assert (r.text, r.is_encrypted, r.iv_b64) == encrypt_turn(
                conv_id, turn_idx, text
            ), (conv_id, turn_idx)


class TestEditUpsert:
    def test_edit_lifecycle_preserves_extracted_text(self, spark, tmp_path):
        """UpdateOcrContentImpl semantics through the store: only
        COMPLETED rows accept an edit, edited rows keep their original
        extracted_text, the HTML edit is safelist-sanitized, and a
        replaced key appears exactly once after the upsert."""
        from pyspark.sql import functions as F

        from unraveldocs_spark.edits import ERR_NOT_COMPLETED, apply_edits
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = G.transcripts_pandas(4, median_turns=6, hot_factor=2,
                                   include_oversize=False)
        # guarantee one FAILED row (null text -> ERR_NO_DATA)
        pdf.loc[len(pdf)] = ["conv-fail", 0, "user", None, None, pdf.ts.iloc[0]]
        sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        store = DirCheckpointStore(str(tmp_path / "edit"))
        run_extraction(spark, sdf, store=store, num_partitions=4)
        results = store.results(spark)

        completed = results.filter(F.col("status") == "COMPLETED").first()
        failed = results.filter(F.col("status") == "FAILED").first()
        assert completed is not None and failed is not None

        edits = spark.createDataFrame(
            [
                (completed.conv_id, completed.turn_idx,
                 '<p onclick="evil()">new <b>text</b></p><script>x</script>',
                 "HTML", "editor-9"),
                (failed.conv_id, failed.turn_idx, "nope", "MARKDOWN", "editor-9"),
                ("conv-none", 999, "ghost", "MARKDOWN", "editor-9"),
            ],
            "conv_id string, turn_idx int, edited_content string, "
            "content_format string, edited_by string",
        )
        updated, rejected = apply_edits(results, edits)
        rej = {(r.conv_id, r.turn_idx): r.edit_error for r in rejected.collect()}
        assert rej[(failed.conv_id, failed.turn_idx)] == ERR_NOT_COMPLETED.format(
            status="FAILED"
        )
        assert ("conv-none", 999) in rej
        up = updated.collect()
        assert len(up) == 1
        row = up[0]
        # sanitized: onclick and script gone, formatting kept
        assert "onclick" not in row.edited_content
        assert "<script" not in row.edited_content
        assert "<b>text</b>" in row.edited_content
        # original extraction preserved verbatim
        assert row.extracted_text == completed.extracted_text
        assert row.edited_by == "editor-9"

        n_before = results.count()
        store.upsert(updated, spark)
        after = store.results(spark)
        assert after.count() == n_before  # replace, not append
        got = after.filter(
            (F.col("conv_id") == completed.conv_id)
            & (F.col("turn_idx") == completed.turn_idx)
        ).collect()
        assert len(got) == 1
        assert got[0].edited_content == row.edited_content
        assert got[0].extracted_text == completed.extracted_text
        # untouched rows keep null edit fields
        others = after.filter(F.col("edited_content").isNull()).count()
        assert others == n_before - 1

    def test_resume_unaffected_by_upsert(self, spark, tmp_path):
        """After an upsert compaction, resume still sees every completed
        key exactly once (no re-processing, no loss)."""
        from pyspark.sql import functions as F

        from unraveldocs_spark.checkpoint import resume_filter
        from unraveldocs_spark.edits import apply_edits
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = G.transcripts_pandas(3, median_turns=5, hot_factor=2,
                                   include_oversize=False)
        sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        store = DirCheckpointStore(str(tmp_path / "edit2"))
        run_extraction(spark, sdf, store=store, num_partitions=4)
        target = store.results(spark).filter(F.col("status") == "COMPLETED").first()
        edits = spark.createDataFrame(
            [(target.conv_id, target.turn_idx, "v2", "MARKDOWN", "e")],
            "conv_id string, turn_idx int, edited_content string, "
            "content_format string, edited_by string",
        )
        updated, _ = apply_edits(store.results(spark), edits)
        store.upsert(updated, spark)
        assert resume_filter(sdf, store, spark).count() == 0

    def test_upsert_evaluates_updates_once(self, spark, tmp_path):
        """Every update row passes through the updates frame's Python
        function once, the upsert snapshot holds just the updates, and
        the merged state holds each key once."""
        from pyspark.sql import functions as F

        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = G.transcripts_pandas(3, median_turns=6, hot_factor=2,
                                   include_oversize=False)
        sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        store = DirCheckpointStore(str(tmp_path / "once"))
        run_extraction(spark, sdf, store=store, num_partitions=4)
        n_before = store.results(spark).count()
        log = str(tmp_path / "seen.tsv")

        def record(batches):
            for b in batches:
                with open(log, "a") as f:
                    f.writelines(f"{c}\t{t}\n" for c, t in zip(b.conv_id, b.turn_idx))
                yield b

        targets = store.results(spark).filter(F.col("turn_idx") % 2 == 0)
        n_updates = targets.count()
        updates = targets.withColumn("edited_by", F.lit("once")).mapInPandas(
            record, schema=targets.schema
        )
        snap = store.upsert(updates, spark)

        with open(log) as f:
            seen = f.read().splitlines()
        assert len(seen) == n_updates and len(set(seen)) == n_updates
        written = spark.read.parquet(
            os.path.join(store.snap_dir, snap, "results")
        )
        assert written.count() == n_updates
        state = store.results(spark)
        assert state.count() == n_before
        assert state.select("conv_id", "turn_idx").distinct().count() == n_before
        assert state.filter(F.col("edited_by") == "once").count() == n_updates


class TestSearchRankedAnalyzer:
    def test_token_tf_not_substring_tf(self, spark, tmp_path):
        """ES analyzes extractedText (standard tokenizer + English
        stopwords) before matching, so the match clause must score
        ANALYZED-TOKEN frequency: query 'data' scores 'data stream' but
        not 'database' (substring-tf would score both)."""
        import pandas as pd

        from unraveldocs_spark.queries import q_search_ranked

        docs = pd.DataFrame(
            {
                # doc 1: q appears only INSIDE words -> token tf 0, no
                # name match -> must be absent from the ranked results
                "doc_id": [1, 2, 3],
                "lang": ["en", "en", "en"],
                "source": ["x", "x", "data"],
                "text": [
                    "database metadata datasets",
                    "data stream and more data",
                    "nothing relevant here",
                ],
            }
        )
        sf_dir = str(tmp_path)
        spark.createDataFrame(docs).write.parquet(f"{sf_dir}/documents.parquet")
        got = {r.doc_id: r.score_e2 for r in q_search_ranked(spark, sf_dir).collect()}
        # doc 2: 2 tokens x 2.0 -> 400; doc 3: name token 1.5 + wildcard 1.0 -> 250
        assert got == {2: 400, 3: 250}

    def test_stopword_query_scores_zero_text_tf(self, spark, tmp_path, monkeypatch):
        """A stopword query is dropped by the analyzer: its text-match tf
        must be 0 even when the token literally occurs (the wildcard
        filename clause, un-analyzed in ES, may still fire)."""
        import pandas as pd

        from unraveldocs_spark import queries as Q

        assert "the" in Q.ES_ENGLISH_STOPWORDS
        monkeypatch.setattr(Q, "_SR_QUERY", "the")
        docs = pd.DataFrame(
            {
                "doc_id": [1],
                "lang": ["en"],
                "source": ["thesis"],  # wildcard clause: 'thesis-1' contains 'the'
                "text": ["the the the"],
            }
        )
        sf_dir = str(tmp_path)
        spark.createDataFrame(docs).write.parquet(f"{sf_dir}/documents.parquet")
        got = {r.doc_id: r.score_e2 for r in Q.q_search_ranked(spark, sf_dir).collect()}
        assert got == {1: 100}  # wildcard only; analyzed tf contributes 0


class TestDeleteRetract:
    def test_delete_removes_keys_and_resume_reprocesses(self, spark, tmp_path):
        """DocumentDeleteImpl analog through the store: deleted keys
        vanish from results() and completed_keys(), surviving rows are
        untouched, and resume_filter re-selects exactly the deleted
        turns (retract-then-reprocess)."""
        from pyspark.sql import functions as F

        from unraveldocs_spark.checkpoint import resume_filter
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = G.transcripts_pandas(4, median_turns=6, hot_factor=2,
                                   include_oversize=False)
        sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        store = DirCheckpointStore(str(tmp_path / "del"))
        run_extraction(spark, sdf, store=store, num_partitions=4)
        before = store.results(spark)
        n_before = before.count()
        victims = before.select("conv_id", "turn_idx").orderBy(
            "conv_id", "turn_idx"
        ).limit(2)
        victim_rows = {(r.conv_id, r.turn_idx) for r in victims.collect()}
        assert len(victim_rows) == 2

        store.delete(victims, spark)

        after = store.results(spark)
        assert after.count() == n_before - 2
        remaining = {(r.conv_id, r.turn_idx) for r in
                     after.select("conv_id", "turn_idx").collect()}
        assert not (victim_rows & remaining)
        done = {(r.conv_id, r.turn_idx) for r in
                store.completed_keys(spark).collect()}
        assert not (victim_rows & done)
        # retract-then-reprocess: resume selects exactly the deleted turns
        todo = resume_filter(sdf, store, spark)
        assert {(r.conv_id, r.turn_idx) for r in
                todo.select("conv_id", "turn_idx").collect()} == victim_rows

    def test_delete_is_idempotent_and_keeps_row_payloads(self, spark, tmp_path):
        """Deleting already-deleted or unknown keys is a no-op, and the
        surviving rows' extracted_text is byte-identical to before
        (copy-on-write must not mutate survivors)."""
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = G.transcripts_pandas(3, median_turns=5, hot_factor=2,
                                   include_oversize=False)
        sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        store = DirCheckpointStore(str(tmp_path / "del2"))
        run_extraction(spark, sdf, store=store, num_partitions=4)
        before = {
            (r.conv_id, r.turn_idx): r.extracted_text
            for r in store.results(spark).collect()
        }
        victim = sorted(before)[0]
        keys = spark.createDataFrame(
            [victim, ("conv-ghost", 999)], "conv_id string, turn_idx int"
        )
        store.delete(keys, spark)
        store.delete(keys, spark)  # idempotent second delete
        after = {
            (r.conv_id, r.turn_idx): r.extracted_text
            for r in store.results(spark).collect()
        }
        expected = dict(before)
        del expected[victim]
        assert after == expected


class TestAiEnrichUpsertPath:
    def test_ai_fields_flow_through_keyed_store(self, spark, tmp_path, monkeypatch):
        """The V54 AI columns (ai_summary/document_type/ai_tags) written
        through a doc_id-keyed store: upsert replaces the enriched rows
        in place and delete retracts one (AiSummarizationService.java:
        165-171 persistence, composed with the store lifecycle)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from unraveldocs_spark.queries import q_ai_enrich

        schema = T.StructType([
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("ai_summary", T.StringType(), True),
            T.StructField("document_type", T.StringType(), True),
            T.StructField("ai_tags", T.StringType(), True),
            T.StructField("confidence_e2", T.LongType(), True),
        ])
        monkeypatch.setattr(checkpoint, "KEYS", ["doc_id"])
        store = DirCheckpointStore(str(tmp_path / "ai"), results_schema=schema)
        enriched = q_ai_enrich(spark, "/root/testdata/sf0.001").limit(20)
        store.append(enriched)
        n = store.results(spark).count()
        assert n == 20

        # re-enrich two docs (summary changes) -> upsert replaces in place
        redo = (
            store.results(spark).orderBy("doc_id").limit(2)
            .withColumn("ai_summary", F.lit("Summary: v2"))
        )
        store.upsert(redo, spark)
        res = store.results(spark)
        assert res.count() == n
        assert res.filter(F.col("ai_summary") == "Summary: v2").count() == 2

        # retract one enriched doc
        victim = res.orderBy("doc_id").limit(1).select("doc_id")
        vid = victim.first().doc_id
        store.delete(victim, spark)
        res2 = store.results(spark)
        assert res2.count() == n - 1
        assert res2.filter(F.col("doc_id") == vid).count() == 0


class TestStoreMaintenance:
    def _seed_store(self, spark, tmp_path, name):
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = G.transcripts_pandas(3, median_turns=5, hot_factor=2,
                                   include_oversize=False)
        sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        store = DirCheckpointStore(str(tmp_path / name))
        run_extraction(spark, sdf, store=store, num_partitions=4)
        return store

    def test_snapshot_diff_reports_delete_and_upsert(self, spark, tmp_path):
        """snapshot_diff(a, b) on cumulative state: a delete compaction
        shows exactly the removed keys; an upsert shows neither added
        nor removed (replace-in-place)."""
        store = self._seed_store(spark, tmp_path, "diff")
        s1 = store.snapshots()[-1]
        before = store.results(spark)
        victims = before.select("conv_id", "turn_idx").orderBy(
            "conv_id", "turn_idx").limit(3)
        victim_keys = {(r.conv_id, r.turn_idx) for r in victims.collect()}
        store.delete(victims, spark)
        s2 = store.snapshots()[-1]

        diff = store.snapshot_diff(spark, s1, s2).collect()
        assert {(r.conv_id, r.turn_idx) for r in diff} == victim_keys
        assert all(r.change == "removed" for r in diff)
        # upsert leaves the key set unchanged
        redo = store.results(spark).limit(2)
        store.upsert(redo, spark)
        s3 = store.snapshots()[-1]
        assert store.snapshot_diff(spark, s2, s3).count() == 0

        with pytest.raises(ValueError):
            store.snapshot_diff(spark, s1, "snap-999999")

    def test_expire_snapshots_keeps_live_state_and_lineage(self, spark, tmp_path):
        """After a compaction, expiry removes the superseded snapshots,
        results()/resume are byte-identical, and expired lineage moves to
        the audit directory instead of being destroyed."""
        import os

        store = self._seed_store(spark, tmp_path, "gc")
        # second append so there are >=2 snapshots before compaction
        extra = store.results(spark).limit(0)
        store.append(extra, run_id="noop-append")
        n_snaps_before = len(store.snapshots())
        assert n_snaps_before >= 2
        state_before = {
            (r.conv_id, r.turn_idx) for r in store.completed_keys(spark).collect()
        }
        assert store.maybe_compact(spark, threshold=0, expire=False)

        expired = store.expire_snapshots()
        assert len(expired) == n_snaps_before
        assert len(store.snapshots()) == 1  # just the compacted one
        state_after = {
            (r.conv_id, r.turn_idx) for r in store.completed_keys(spark).collect()
        }
        assert state_after == state_before
        # lineage of the expired extraction run is preserved for audit
        keep_dir = os.path.join(store.root, "expired-lineage")
        assert os.path.isdir(keep_dir) and os.listdir(keep_dir)
        # idempotent: nothing left to expire
        assert store.expire_snapshots() == []


class TestLineageMetrics:
    def test_rollup_matches_results_and_rule_hits_resum(self, spark, tmp_path):
        """lineage_metrics totals must equal what the results table says
        (turns/completed/failed), and the per-run rule_hits map must
        re-sum the per-partition JSON maps exactly."""
        import json as _json

        from pyspark.sql import functions as F

        from unraveldocs_spark.pipeline import lineage_metrics
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = G.transcripts_pandas(4, median_turns=6, hot_factor=2,
                                   include_oversize=False)
        sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        store = DirCheckpointStore(str(tmp_path / "lm"))
        out = run_extraction(spark, sdf, store=store, num_partitions=4)

        m = lineage_metrics(store, spark).collect()
        assert len(m) == 1 and m[0].run_id == out["run_id"]
        res = store.results(spark)
        assert m[0].turns_processed == res.count()
        assert m[0].completed == res.filter(F.col("status") == "COMPLETED").count()
        assert m[0].failed == res.filter(F.col("status") == "FAILED").count()
        assert m[0].n_partitions >= 1 and m[0].wall_ms >= 0

        rolled = _json.loads(m[0].rule_hits)
        expect = {
            r.rule: r.n
            for r in res.groupBy("rule").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert rolled == expect

        # a second run over the same input is a resume no-op: no new
        # lineage rows, metrics unchanged
        run_extraction(spark, sdf, store=store, num_partitions=4)
        assert lineage_metrics(store, spark).count() == 1


class TestAutoCompact:
    def test_maybe_compact_threshold_and_state_identity(self, spark, tmp_path):
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        pdf = G.transcripts_pandas(3, median_turns=4, hot_factor=2,
                                   include_oversize=False)
        sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        store = DirCheckpointStore(str(tmp_path / "ac"))
        run_extraction(spark, sdf, store=store, num_partitions=4)
        empty = store.results(spark).limit(0)
        for i in range(3):
            store.append(empty, run_id=f"noop-{i}")
        state = {(r.conv_id, r.turn_idx)
                 for r in store.completed_keys(spark).collect()}

        assert store.maybe_compact(spark, threshold=10) is None  # under
        assert len(store.snapshots()) == 4
        snap = store.maybe_compact(spark, threshold=2)
        assert snap is not None
        assert store.snapshots() == [snap]  # compacted + expired
        assert {(r.conv_id, r.turn_idx)
                for r in store.completed_keys(spark).collect()} == state
