"""Plan-quality tests: the physical plans the 100 TB design depends on.
These assert optimizer-visible properties (pushdown, pruning, broadcast,
partitioning), not timings — the properties that survive a 1000x scale-up."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


class TestScanPruning:
    def test_column_pruning_reaches_scan(self, spark):
        """A 2-column projection must not read all 11 lineitem columns
        (ReadSchema shows only what's needed)."""
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        plan = plan_of(li.select("l_orderkey", "l_quantity"))
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "l_orderkey" in read_schema and "l_quantity" in read_schema
        assert "l_extendedprice" not in read_schema
        assert "l_shipdate" not in read_schema

    def test_filter_pushdown_reaches_scan(self, spark):
        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(d.filter(F.col("doc_id") > 100).select("doc_id", "lang"))
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
        assert "GreaterThan(doc_id,100)" in pushed

    def test_pricing_summary_prunes_unused_columns(self, spark):
        from unraveldocs_spark.queries import q_pricing_summary

        plan = plan_of(q_pricing_summary(spark, SF))
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "l_shipdate" not in read_schema
        assert "l_partkey" not in read_schema


class TestJoinStrategies:
    def test_star_join_broadcasts_dims(self, spark):
        from unraveldocs_spark.queries import q_broadcast_star_join

        plan = plan_of(q_broadcast_star_join(spark, SF), "simple")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_anti_join_no_cartesian(self, spark):
        from unraveldocs_spark.queries import q_anti_join_resume

        plan = plan_of(q_anti_join_resume(spark, SF), "simple")
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan

    def test_blocked_pair_joins_are_equi(self, spark):
        """Dedup candidate joins must be hash/merge equi-joins on the
        blocking keys, never nested-loop over the full table."""
        from unraveldocs_spark.trainingdata import q_dedup_ngram_jaccard

        plan = plan_of(q_dedup_ngram_jaccard(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_ngram_jaccard_candidates_use_minhash_bands(self, spark):
        """The self-join key must include the data-dependent MinHash band
        key — not a fixed-cardinality block like (lang, len_bucket) that
        goes O(n^2) at scale (VERDICT r1 item 2)."""
        from unraveldocs_spark.trainingdata import q_dedup_ngram_jaccard

        plan = plan_of(q_dedup_ngram_jaccard(spark, SF), "simple")
        assert "band_key" in plan
        assert "len_bucket" not in plan

    def test_paragraph_dedup_candidates_use_minhash_bands(self, spark):
        """Paragraph-grain near-dup reuses the banded candidate generator:
        the pair join must key on the data-dependent MinHash band key and
        never degrade to a nested-loop/cartesian over all paragraph
        pairs (VERDICT r2 item 3)."""
        from unraveldocs_spark.trainingdata import q_dedup_paragraph

        plan = plan_of(q_dedup_paragraph(spark, SF), "simple")
        assert "band_key" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_shipping_priority_pushes_filters_and_broadcasts_customer(self, spark):
        """Q3 shape: the segment and date predicates must reach the
        parquet scans, the filtered customer side must broadcast, and the
        plan must end in a TakeOrdered, not a global sort."""
        from unraveldocs_spark.queries import q_shipping_priority

        plan = plan_of(q_shipping_priority(spark, SF), "formatted")
        pushed = "\n".join(l for l in plan.splitlines() if "PushedFilters" in l)
        assert "c_mktsegment" in pushed
        assert "o_orderdate" in pushed and "l_shipdate" in pushed
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan

    def test_sessionize_plans_a_single_hash_exchange(self, spark):
        """Gap sessionization must reuse ONE user_id partitioning for the
        lag window, the running-sum window, and the rollup — a plan with
        a second hashpartitioning Exchange re-shuffles the event log."""
        from unraveldocs_spark.trainingdata import q_sessionize

        plan = plan_of(q_sessionize(spark, SF), "simple")
        assert plan.count("hashpartitioning") == 1
        assert "CartesianProduct" not in plan

    def test_asof_lookup_plans_one_hash_exchange(self, spark):
        """The as-of lookup is a window, not a range join: exactly one
        user_id Exchange, no join operator at all."""
        from unraveldocs_spark.trainingdata import q_asof_last_error

        plan = plan_of(q_asof_last_error(spark, SF), "simple")
        assert plan.count("hashpartitioning") == 1
        assert "Join" not in plan

    def test_percentiles_share_the_lang_partitioning(self, spark):
        """Rank window and the final rollup must reuse one lang
        partitioning — exact percentiles cost one shuffle, not two."""
        from unraveldocs_spark.trainingdata import q_corpus_percentiles

        plan = plan_of(q_corpus_percentiles(spark, SF), "simple")
        assert plan.count("hashpartitioning") == 1

    def test_corpus_sample_broadcasts_rates_and_never_shuffles_corpus(self, spark):
        """Stratified sampling must be a broadcast rate dim + per-row hash
        filter: the corpus itself is never hash-shuffled (the only Exchange
        allowed is the broadcast of the tiny rate dim and the final
        rangepartitioning for deterministic output order)."""
        from unraveldocs_spark.trainingdata import q_corpus_sample

        plan = plan_of(q_corpus_sample(spark, SF), "simple")
        assert "BroadcastHashJoin" in plan
        assert "hashpartitioning" not in plan

    def test_knn_join_uses_signature_bands(self, spark):
        """The all-pairs kNN join must generate candidates from the LSH
        band values — never a cross join of the vector table."""
        from unraveldocs_spark.trainingdata import q_knn_join

        plan = plan_of(q_knn_join(spark, SF), "simple")
        assert "band_key" in plan and "shiftright(signature" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_embedding_cosine_candidates_use_signature_bands(self, spark):
        """Cosine near-dup must join on LSH signature bands, not the
        fixed-cardinality label column (VERDICT r1 item 2)."""
        from unraveldocs_spark.trainingdata import q_dedup_embedding_cosine

        plan = plan_of(q_dedup_embedding_cosine(spark, SF), "simple")
        assert "band_key" in plan and "shiftright(signature" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_doc_fingerprint_has_no_per_char_array(self, spark):
        """The rolling-hash fold must walk bounded substr chunks, never
        split the whole text into one per-character array (VERDICT r1
        item 8): split() may only appear applied to substr(...)."""
        from unraveldocs_spark.trainingdata import q_doc_fingerprint

        plan = plan_of(q_doc_fingerprint(spark, SF), "formatted")
        assert "substr" in plan
        import re

        for m in re.finditer(r"split\(", plan):
            tail = plan[m.end(): m.end() + 30]
            assert tail.startswith("substr") or tail.startswith("substring"), (
                "unchunked split over full text: ..." + plan[m.start() - 40 : m.end() + 40]
            )


class TestExtractionPlan:
    def test_salted_partitioning_and_arrow_stage(self, spark):
        from unraveldocs_spark.extract import extract_stage
        from unraveldocs_spark.generator import transcripts_spark
        from unraveldocs_spark.pipeline import salted_repartition

        t = transcripts_spark(spark, 4, hot_factor=2, include_oversize=False)
        staged = extract_stage(salted_repartition(t, 8))
        plan = plan_of(staged, "simple")
        # one Arrow-batched python stage, partitioned by (conv_id, salt)
        assert "MapInArrow" in plan and "MapInPandas" not in plan
        assert "hashpartitioning(conv_id" in plan
        assert "pmod(hash(turn_idx" in plan
        # stable order restored within partitions
        assert "Sort [conv_id" in plan

    def test_partial_aggregation_map_side(self, spark):
        """Aggregations must combine map-side before the shuffle (the
        property that keeps the conv-rollup shuffle tiny at 10^12 rows).
        (WholeStageCodegen spans only appear in the post-execution AQE
        plan, so we assert the partial-agg structure instead.)"""
        from unraveldocs_spark.queries import q_pricing_summary

        plan = plan_of(q_pricing_summary(spark, SF))
        assert "partial_sum" in plan
        assert "partial_count" in plan
        # exactly one data shuffle before the final agg (plus the sort)
        assert plan.count("Exchange hashpartitioning") <= 1


class TestResumePlan:
    def test_resume_is_anti_join(self, spark, tmp_path):
        from unraveldocs_spark.checkpoint import DirCheckpointStore, resume_filter
        from unraveldocs_spark.generator import transcripts_spark
        from unraveldocs_spark.pipeline import run_extraction

        t = transcripts_spark(spark, 4, hot_factor=2, include_oversize=False)
        store = DirCheckpointStore(str(tmp_path / "ckpt"))
        # a non-empty store: against an empty one the anti-join folds away
        run_extraction(spark, t.limit(2), store=store, num_partitions=2)
        plan = plan_of(resume_filter(t, store, spark), "simple")
        # one key-level anti-join, no conversation-grain prune in front
        assert plan.count("LeftAnti") == 1, plan
        assert "LeftSemi" not in plan, plan


class TestRound2Plans:
    def test_provider_resolution_broadcasts_dim(self, spark):
        """The user-plan dim must broadcast: the request-stream scan never
        shuffles for the join (the 100TB fact-side property)."""
        from unraveldocs_spark.queries import q_provider_resolution

        plan = plan_of(q_provider_resolution(spark, SF), "simple")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_edit_upsert_equi_joins_only(self, spark):
        from unraveldocs_spark.queries import q_edit_upsert

        plan = plan_of(q_edit_upsert(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestCorpusFilterPlans:
    """Plan shapes for the web-corpus filter battery (Gopher/C4/CCNet)."""

    def test_quality_gopher_never_shuffles(self, spark):
        """The Gopher gate is pure per-row arithmetic: no hash Exchange,
        no join — at 100 TB it must run at parquet-scan speed (the only
        Exchange allowed is the presentation rangepartitioning)."""
        from unraveldocs_spark.trainingdata import q_quality_gopher

        plan = plan_of(q_quality_gopher(spark, SF), "simple")
        assert "hashpartitioning" not in plan
        assert "Join" not in plan

    def test_pii_redact_never_shuffles(self, spark):
        """PII detection/redaction is per-row regex work inside codegen —
        same zero-shuffle contract as the Gopher gate."""
        from unraveldocs_spark.trainingdata import q_pii_redact

        plan = plan_of(q_pii_redact(spark, SF), "simple")
        assert "hashpartitioning" not in plan
        assert "Join" not in plan

    def test_contamination_check_broadcasts_benchmark(self, spark):
        """The benchmark n-gram set must broadcast (eval suites are MBs,
        the corpus is TBs): the corpus side gets exactly one hash
        Exchange — the final groupBy(doc_id) — and never a cartesian."""
        from unraveldocs_spark.trainingdata import q_contamination_check

        plan = plan_of(q_contamination_check(spark, SF), "simple")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # two hash Exchanges max: the benchmark-side distinct (bounded by
        # eval-suite size) and the final corpus groupBy(doc_id)
        assert plan.count("hashpartitioning") <= 2, plan

    def test_line_dedup_equi_joins_on_chunk_hash(self, spark):
        """C4 line dedup joins the chunk table to the cross-corpus
        frequency table on the chunk hash — an equi-join, never a
        cartesian; the frequency side is NOT assumed broadcastable (one
        row per distinct chunk grows with content diversity)."""
        from unraveldocs_spark.trainingdata import q_line_dedup

        plan = plan_of(q_line_dedup(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_quality_repetition_two_stage_agg(self, spark):
        """Repetition signals use explode -> two-stage aggregation (the
        distributed shape); the doc-grain O(L^2) higher-order alternative
        is rejected.  At most two hash Exchanges, no join."""
        from unraveldocs_spark.trainingdata import q_quality_repetition

        plan = plan_of(q_quality_repetition(spark, SF), "simple")
        assert "Join" not in plan
        assert plan.count("hashpartitioning") <= 2, plan

    def test_corpus_mix_weights_single_scan_single_group_shuffle(self, spark):
        """Mix weights must scan the corpus ONCE and group-shuffle it
        once; the totals come from a window over the tiny grouped result
        (a separately aggregated totals branch made Catalyst scan and
        shuffle the corpus twice — the bug this test pins)."""
        from unraveldocs_spark.trainingdata import q_corpus_mix_weights

        plan = plan_of(q_corpus_mix_weights(spark, SF), "simple")
        assert plan.count("FileScan") == 1, plan
        assert plan.count("hashpartitioning") == 1, plan
        assert "Join" not in plan


class TestVocabAndPQPlans:
    def test_ann_pq_scan_is_shuffle_free_takeordered(self, spark):
        """The PQ ADC scan reads only the code column, scores with integer
        lookups, and folds to top-k via TakeOrdered — no Exchange at all
        (the 100-TB contract: queries never touch raw vectors)."""
        from unraveldocs_spark.entry_queries import q_ann_pq

        plan = plan_of(q_ann_pq(spark, SF), "simple")
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan, plan

    def test_vocab_topk_is_takeordered_not_global_sort(self, spark):
        """Top-K vocabulary must fold with TakeOrdered after the token
        aggregation — a global Sort of the full vocabulary is the
        scale-killer this pins against."""
        from unraveldocs_spark.trainingdata import q_vocab_topk

        plan = plan_of(q_vocab_topk(spark, SF), "simple")
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan

    def test_lang_confusion_single_exchange(self, spark):
        """Prediction is per-row JVM work; the only hash Exchange is the
        #langs^2-cardinality confusion groupBy."""
        from unraveldocs_spark.trainingdata import q_lang_confusion

        plan = plan_of(q_lang_confusion(spark, SF), "simple")
        assert plan.count("hashpartitioning") == 1, plan
        assert "Join" not in plan


class TestRoundThreeLatePlans:
    def test_regional_revenue_broadcasts_dims_no_cartesian(self, spark):
        """Q5 shape: nation x region collapse to one broadcast dim,
        supplier broadcasts with the local-supplier constraint folded in,
        the orders date filter reaches the scan, and no cartesian/NLJ
        appears anywhere in the five-way chain."""
        from unraveldocs_spark.queries import q_regional_revenue

        plan = plan_of(q_regional_revenue(spark, SF), "formatted")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        pushed = "\n".join(l for l in plan.splitlines() if "PushedFilters" in l)
        assert "o_orderdate" in pushed and "r_name" in pushed

    def test_moving_window_single_exchange(self, spark):
        """All three frame aggregates share ONE user_id partitioning."""
        from unraveldocs_spark.trainingdata import q_moving_window_stats

        plan = plan_of(q_moving_window_stats(spark, SF), "simple")
        assert plan.count("hashpartitioning") == 1, plan
        assert "Join" not in plan

    def test_corpus_export_shards_no_cartesian_broadcast_bench(self, spark):
        """The export capstone: benchmark side broadcasts, every join is
        an equi-join, shard packing + rollup share the lang partitioning
        (no second lang Exchange after the window)."""
        from unraveldocs_spark.trainingdata import q_corpus_export_shards

        plan = plan_of(q_corpus_export_shards(spark, SF), "simple")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # lang appears in exactly one hashpartitioning (window); the
        # final groupBy(lang, shard_id) must reuse it
        lang_parts = [
            l for l in plan.splitlines()
            if "hashpartitioning(lang" in l
        ]
        assert len(lang_parts) <= 1, plan


class TestAnalyticsOperatorPlans:
    def test_fuzzy_search_broadcasts_vocab(self, spark):
        """Edit distance runs on the DISTINCT vocabulary side only; the
        matched-vocab set broadcasts back — the corpus-side token scan
        never computes a Levenshtein."""
        from unraveldocs_spark.trainingdata import q_fuzzy_search

        plan = plan_of(q_fuzzy_search(spark, SF), "simple")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        # vocab distinct + doc rollup; no further corpus shuffles
        assert plan.count("hashpartitioning") <= 3, plan

    def test_event_pivot_explicit_values_no_extra_job(self, spark):
        """Explicit pivot values mean no distinct-values scan and no
        join; Spark's standard two-stage pivot plan ((user, type) partial
        agg, then pivotfirst per user — the second shuffle moves one row
        per (user, type)) is the accepted shape."""
        from unraveldocs_spark.trainingdata import q_event_type_pivot

        plan = plan_of(q_event_type_pivot(spark, SF), "simple")
        assert plan.count("hashpartitioning") <= 2, plan
        assert "Join" not in plan
        assert "pivotfirst" in plan

    def test_quartiles_collapse_before_ntile(self, spark):
        """Event volume collapses to per-user totals (map-side combine)
        BEFORE the ntile window touches anything."""
        from unraveldocs_spark.trainingdata import q_user_value_quartiles

        plan = plan_of(q_user_value_quartiles(spark, SF), "simple")
        assert plan.count("hashpartitioning") >= 1
        assert "Join" not in plan
        assert "partial_sum" in plan.lower() or "HashAggregate" in plan

    def test_length_histogram_single_tiny_shuffle(self, spark):
        from unraveldocs_spark.trainingdata import q_doc_length_histogram

        plan = plan_of(q_doc_length_histogram(spark, SF), "simple")
        assert plan.count("hashpartitioning") == 1, plan
        assert "Join" not in plan


class TestFunnelDqPlans:
    def test_funnel_joins_on_user_only(self, spark):
        """Both funnel stages key on user_id — conditional-min first
        stage, equi-join purchase leg; no cartesian anywhere."""
        from unraveldocs_spark.trainingdata import q_funnel_conversion

        plan = plan_of(q_funnel_conversion(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_dq_referential_checks_are_anti_joins(self, spark):
        """Orphan checks must plan as anti-joins on the key columns,
        never NOT IN rewritten to a nested loop."""
        from unraveldocs_spark.trainingdata import q_dq_checks

        plan = plan_of(q_dq_checks(spark, SF), "simple")
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_topk_per_lang_single_exchange(self, spark):
        from unraveldocs_spark.trainingdata import q_topk_docs_per_lang

        plan = plan_of(q_topk_docs_per_lang(spark, SF), "simple")
        assert plan.count("hashpartitioning") == 1, plan
        assert "Join" not in plan


class TestTransitionTfidfPlans:
    def test_status_transitions_one_user_exchange(self, spark):
        from unraveldocs_spark.trainingdata import q_status_transitions

        plan = plan_of(q_status_transitions(spark, SF), "simple")
        assert plan.count("hashpartitioning") <= 2, plan
        assert "Join" not in plan

    def test_tfidf_equi_joins_vocab(self, spark):
        """df joins back on the token key — equi-join, no cartesian; the
        rank window is the only doc_id partitioning."""
        from unraveldocs_spark.trainingdata import q_tfidf_topk

        plan = plan_of(q_tfidf_topk(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRangeJoinPlan:
    def test_range_join_is_bucketed_equi_never_nested_loop(self, spark):
        """Interval containment must plan as an equi-join on
        (user_id, bucket) with the range predicate as a post-filter —
        the nested-loop a naive BETWEEN join degrades to is forbidden."""
        from unraveldocs_spark.trainingdata import q_range_join_bucketed

        plan = plan_of(q_range_join_bucketed(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "bucket" in plan


class TestSemanticDedupPlan:
    def test_pairs_join_on_centroid_never_cross(self, spark):
        """SemDeDup pairs join on centroid_id (cluster-scoped) — never a
        cross join of the vector table."""
        from unraveldocs_spark.trainingdata import q_semantic_dedup

        plan = plan_of(q_semantic_dedup(spark, SF), "simple")
        assert "centroid_id" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestTokenizePackPlan:
    def test_single_lang_exchange(self, spark):
        """Packing is one lang-partitioned running sum + per-row integer
        arithmetic: exactly one hash Exchange, no join."""
        from unraveldocs_spark.trainingdata import q_tokenize_pack

        plan = plan_of(q_tokenize_pack(spark, SF), "simple")
        assert plan.count("hashpartitioning") == 1, plan
        assert "Join" not in plan


class TestRound4Plans:
    def test_exact_substring_dedup_no_nested_loop(self, spark):
        """Gram counting must be a hash aggregate and the dup-gram join an
        equi-join — never a cartesian/nested-loop over positions."""
        from unraveldocs_spark.trainingdata import q_exact_substring_dedup

        plan = plan_of(q_exact_substring_dedup(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "HashAggregate" in plan

    def test_shard_manifest_single_lang_exchange(self, spark):
        """Packing window and the (lang, shard) groupBy must SHARE one
        lang-rooted hash partitioning — one Exchange total."""
        from unraveldocs_spark.trainingdata import q_shard_manifest

        plan = plan_of(q_shard_manifest(spark, SF), "simple")
        # final orderBy adds a rangepartitioning; hash exchanges must be 1
        assert plan.count("Exchange hashpartitioning") == 1

    def test_vocab_drift_broadcasts_totals_and_takeordered(self, spark):
        """The 1-row totals dim must broadcast (never shuffle the token
        table against it) and the top-K must fold driver-side."""
        from unraveldocs_spark.trainingdata import q_vocab_drift

        plan = plan_of(q_vocab_drift(spark, SF), "simple")
        assert "BroadcastExchange" in plan
        assert "TakeOrderedAndProject" in plan

    def test_stratified_split_label_join_is_equi(self, spark):
        from unraveldocs_spark.trainingdata import q_stratified_split

        plan = plan_of(q_stratified_split(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_ai_enrich_single_scan_no_shuffle_before_sort(self, spark):
        """Pure narrow transforms: the only exchange is the presentation
        sort's range partitioning."""
        from unraveldocs_spark.queries import q_ai_enrich

        plan = plan_of(q_ai_enrich(spark, SF), "simple")
        assert plan.count("Exchange hashpartitioning") == 0

    def test_delete_reclaim_filter_before_single_aggregate(self, spark):
        from unraveldocs_spark.queries import q_delete_reclaim

        plan = plan_of(q_delete_reclaim(spark, SF), "simple")
        assert plan.count("Exchange hashpartitioning") == 1  # one groupBy
        assert "Filter" in plan


class TestSearchBm25Plan:
    def test_zero_explode_one_stats_exchange_broadcast_back(self, spark):
        """BM25 scoring: per-doc tf/dl are array expressions (no
        Generate), corpus stats are ONE single-partition aggregate
        broadcast back, scoring is an embarrassingly parallel scan."""
        from unraveldocs_spark.queries import q_search_bm25

        plan = plan_of(q_search_bm25(spark, SF), "simple")
        assert "Generate" not in plan  # no explode
        assert "BroadcastExchange" in plan  # 1-row stats dim
        assert plan.count("Exchange hashpartitioning") == 0
        assert "CartesianProduct" not in plan


class TestStorageAdmissionPlan:
    def test_broadcast_dim_single_owner_window_exchange(self, spark):
        """The user->team->plan dim must broadcast (no shuffle on the
        event scan for the join); the only hash Exchange is the per-owner
        admission window."""
        from unraveldocs_spark.queries import q_storage_admission

        plan = plan_of(q_storage_admission(spark, SF), "simple")
        assert "BroadcastExchange" in plan
        assert plan.count("Exchange hashpartitioning") == 1  # owner window
        assert "CartesianProduct" not in plan


class TestDashboardKpiPlan:
    def test_one_scan_per_entity_no_explode(self, spark):
        """Customer feeds the conditional-sum battery once; events feed
        the per-user activity aggregate once (+ its 1-row global max);
        no Generate, no cartesian fact-fact product."""
        from unraveldocs_spark.queries import q_dashboard_kpi

        plan = plan_of(q_dashboard_kpi(spark, SF), "simple")
        assert "Generate" not in plan
        assert plan.count("customer.parquet") == 1
        assert "CartesianProduct" not in plan


class TestSearchPhrasePlan:
    def test_zero_explode_zero_shuffle_scan(self, spark):
        """Phrase counting is pure array expressions — no Generate and no
        hash Exchange; only the presentation sort partitions."""
        from unraveldocs_spark.queries import q_search_phrase

        plan = plan_of(q_search_phrase(spark, SF), "simple")
        assert "Generate" not in plan
        assert plan.count("Exchange hashpartitioning") == 0


class TestStorageAdmissionLadder:
    def test_team_first_resolution_and_verdicts(self, spark, tmp_path):
        """Pins the StorageAllocationService.java:50-110 ladder on a
        constructed fixture: no subscription -> NO_SUBSCRIPTION; a
        TEAM-sourced subscription with an access-allowed team charges the
        SHARED team pool (two members drain it together); a TEAM-sourced
        subscription whose team is blocked falls back to the INDIVIDUAL
        ladder (java:357-365); a NULL storage limit admits unlimited
        (java:78-80); and required > available rejects with the
        exception's (required, available, limit) fields.  The batch
        replay charges each request against base_used plus ALL prior
        requests on the pool, in (ts, event_id) order."""
        from unraveldocs_spark.queries import q_storage_admission

        custs = [
            (0, "no-sub"),  # 0 % 11 == 0 -> NO_SUBSCRIPTION
            (9, "team"),  # TEAM source, team 9 allowed, limit 500000
            (129, "team"),  # second member of team 9 (129 % 40 == 9)
            (15, "blocked-team"),  # team 15 blocked -> individual tier 3
            (1, "individual"),  # tier 1 -> limit 400000, used 37
        ]
        spark.createDataFrame(
            [(k, f"c{k}", 0, 0.0, m) for k, m in custs],
            "c_custkey bigint, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string",
        ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
        from datetime import datetime

        base = "2024-01-01 00:00:0"
        events = [
            (1, f"{base}1", 0, 100.0),  # no-sub user
            (2, f"{base}2", 9, 2000.0),  # team:9, 200000 bytes
            (3, f"{base}3", 129, 2000.0),  # team:9, sees member 9's bytes
            (4, f"{base}4", 9, 2000.0),  # team:9, over the shared pool
            (5, f"{base}5", 15, 9999.0),  # blocked team -> user:15 unlimited
            (6, f"{base}6", 1, 5000.0),  # user:1, 500000 > 400000-37
        ]
        spark.createDataFrame(
            [
                (i, datetime.fromisoformat(ts), u, "upload", v, "{}")
                for i, ts, u, v in events
            ],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

        rows = {
            r["event_id"]: r
            for r in q_storage_admission(spark, str(tmp_path)).collect()
        }
        assert rows[1]["verdict"] == "NO_SUBSCRIPTION"
        # team 9: limit 500000, base_used = 9*911 % 300000 = 8199
        assert rows[2]["owner_key"] == "team:9"
        assert rows[3]["owner_key"] == "team:9"  # team-first for member 129
        assert rows[2]["available_bytes"] == 500000 - 8199
        assert rows[2]["verdict"] == "ADMIT"
        # member 129's request sees member 9's 200000 already charged
        assert rows[3]["available_bytes"] == 500000 - 8199 - 200000
        assert rows[3]["verdict"] == "ADMIT"
        # third request: 200000 > 500000 - 8199 - 400000
        assert rows[4]["available_bytes"] == 500000 - 8199 - 400000
        assert rows[4]["verdict"] == "REJECT"
        # blocked team falls back to the individual ladder: tier 15%4==3
        # has a NULL storage limit -> unlimited admit on the USER pool
        assert rows[5]["owner_key"] == "user:15"
        assert rows[5]["storage_limit"] is None
        assert rows[5]["verdict"] == "UNLIMITED_ADMIT"
        # individual reject carries the exception triple
        assert rows[6]["owner_key"] == "user:1"
        assert rows[6]["storage_limit"] == 400000
        assert rows[6]["required_bytes"] == 500000
        assert rows[6]["available_bytes"] == 400000 - 37
        assert rows[6]["verdict"] == "REJECT"


class TestSearchPhraseSemantics:
    def test_adjacency_slop_and_analyzer(self, spark, tmp_path):
        """match_phrase pins: exact adjacency counts overlapping
        occurrences, slop-1 requires EXACTLY one intervening token,
        reversed order never matches, punctuation splits like the
        standard analyzer, and stopwords stay position-significant."""
        from unraveldocs_spark.queries import q_search_phrase

        docs = [
            (1, "table scan table scan", "en"),  # 2 exact
            (2, "table x scan", "en"),  # 1 slop-1
            (3, "table x y scan", "en"),  # too far
            (4, "scan table", "en"),  # reversed
            (5, "table-scan!", "en"),  # punctuation splits -> exact
            (6, "table the scan", "en"),  # stopword intervenes -> slop-1
            (7, "table scan", "zh"),  # lang filter drops
            (8, "table", "en"),  # tail lookahead is NULL-safe
        ]
        spark.createDataFrame(
            [(i, t, l, "src0", len(t)) for i, t, l in docs],
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["doc_id"]: (r["n_phrase"], r["n_slop1"], r["score_e2"])
            for r in q_search_phrase(spark, str(tmp_path)).collect()
        }
        assert got == {
            1: (2, 0, 200),
            2: (0, 1, 50),
            5: (1, 0, 100),
            6: (0, 1, 50),
        }


class TestSearchBm25EmptyCorpus:
    def test_zero_lang_matches_degrades_to_zero_rows(self, spark, tmp_path):
        """Empty-corpus contract: when the lang filter matches no
        documents, the stats row is dropped before the avgdl division
        (n_docs=0 would raise divide-by-zero under ANSI) and both BM25
        variants return zero rows instead of erroring."""
        from unraveldocs_spark.queries import q_search_bm25, q_search_bm25f

        spark.createDataFrame(
            [(1, "table scan", "zh", "src0", 10), (2, "query dup", "fr", "src1", 9)],
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        assert q_search_bm25(spark, str(tmp_path)).count() == 0
        assert q_search_bm25f(spark, str(tmp_path)).count() == 0


class TestPreferencePairsPlan:
    def test_two_exchanges_no_self_join(self, spark):
        """Pair construction must stay two hash Exchanges (conv_id
        attribution window; (conv_id, prompt_idx) ranks + groupBy share
        the second) — no self-join, no explode, no cartesian."""
        from unraveldocs_spark.entry_queries import q_preference_pairs

        plan = plan_of(q_preference_pairs(spark, SF), "simple")
        assert "Generate" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("documents.parquet") == 1  # never self-joins
        assert plan.count("Exchange hashpartitioning") == 2


class TestPreferencePairsSemantics:
    def test_attribution_selection_and_ties(self, spark, tmp_path):
        """Pins the pairing rules under the positional role derivation
        (turn 0,3,6.. user; turn 7 tool; else assistant): responses
        attribute to the nearest PRECEDING user turn, chosen/rejected
        are the extreme-reward responses, reward ties emit NO pair, a
        prompt whose only response slot is a tool turn emits no pair."""
        from unraveldocs_spark.entry_queries import q_preference_pairs

        s1 = [  # turns 0..5: u a a u a a
            "what is spark",
            "short",
            "a much longer and better answer",
            "second prompt",
            "tie text",  # 2 words, 8 chars -> 2008
            "text tie",  # 2008: tie -> prompt 3 emits no pair
        ]
        s2 = [  # turns 0..8: u a a u a a u TOOL a
            "first prompt",
            "one",
            "two words",
            "next prompt",
            "alpha beta gamma",
            "zz",
            "last prompt",
            "tool noise ignored",
            "lonely answer",  # single response -> no pair
        ]
        docs = [(100 + i, t, "s1") for i, t in enumerate(s1)]
        docs += [(200 + i, t, "s2") for i, t in enumerate(s2)]
        spark.createDataFrame(
            [(i, t, "en", s, len(t)) for i, t, s in docs],
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        rows = {
            (r["conv_id"], r["prompt_idx"]): r
            for r in q_preference_pairs(spark, str(tmp_path)).collect()
        }
        assert set(rows) == {("s1", 0), ("s2", 0), ("s2", 3)}
        r1 = rows[("s1", 0)]
        assert (r1["n_responses"], r1["chosen_idx"], r1["rejected_idx"]) == (2, 2, 1)
        # reward = 1000*java_word_count + n_chars
        assert (r1["chosen_reward"], r1["rejected_reward"]) == (6031, 1005)
        assert r1["margin"] == 5026
        assert r1["chosen_digest"] != r1["rejected_digest"]
        r2 = rows[("s2", 0)]
        assert (r2["chosen_idx"], r2["rejected_idx"]) == (2, 1)
        assert (r2["chosen_reward"], r2["rejected_reward"]) == (2009, 1003)
        r3 = rows[("s2", 3)]
        assert (r3["chosen_idx"], r3["rejected_idx"]) == (4, 5)
        assert (r3["chosen_reward"], r3["rejected_reward"]) == (3016, 1002)


class TestEncryptStagePlan:
    def test_encrypt_stage_is_zero_shuffle_arrow(self, spark):
        """Upload-side encryption must be one narrow Arrow stage — no
        Exchange between the generator skeleton and the encrypt map."""
        from unraveldocs_spark.extract import encrypt_stage
        from unraveldocs_spark.generator import transcripts_spark

        t = transcripts_spark(spark, 2, hot_factor=1, include_oversize=False)
        plan = plan_of(encrypt_stage(t), "simple")
        # the two repartitions belong to the generator skeleton; the
        # encrypt map itself adds none
        assert plan.count("Exchange") == plan_of(t, "simple").count("Exchange")
        assert "MapInArrow" in plan and "MapInPandas" not in plan


class TestDsirImportancePlan:
    def test_bucket_weights_broadcast_no_cartesian(self, spark):
        """The B-row bucket-weight table must ride a broadcast into the
        per-(doc, bucket) counts.  r7: the token explode runs ONCE — the
        (doc, bucket) aggregate is materialized and the corpus-wide
        bucket stats derive from IT, so the visible plan is the bstats
        groupBy (inside the broadcast subtree) plus the final per-doc
        agg — two hash Exchanges, with the single explode+md5 pass
        behind the checkpoint."""
        from unraveldocs_spark.trainingdata import q_dsir_importance

        plan = plan_of(q_dsir_importance(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastExchange" in plan
        assert plan.count("Exchange hashpartitioning") == 2


class TestNgramLmScorePlan:
    def test_no_cartesian_one_row_v_broadcast(self, spark):
        """V (vocab size) is a single-row broadcast — the only nested-
        loop join allowed; the count-table joins are keyed (hash or
        sort-merge, never cartesian)."""
        from unraveldocs_spark.trainingdata import q_ngram_lm_score

        plan = plan_of(q_ngram_lm_score(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") == 1
        assert plan.count("Exchange hashpartitioning") <= 5


class TestBpeEncodePlan:
    def test_encode_pass_is_shuffle_free(self, spark):
        """The encode stage is one Arrow-batched pass: no hash Exchange
        beyond the generator's parallelism spread (the ORDER BY is a
        presentation-only range partitioning)."""
        from unraveldocs_spark.trainingdata import q_bpe_encode

        plan = plan_of(q_bpe_encode(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "MapInArrow" in plan and "MapInPandas" not in plan
        assert plan.count("Exchange hashpartitioning") <= 1


class TestBestOfNPlan:
    def test_two_exchanges_no_self_join(self, spark):
        """Best-of-n shares preference_pairs' shape: conv attribution
        window + (conv, prompt) rank/groupBy on one shared Exchange —
        two hash Exchanges, single scan, no explode/cartesian."""
        from unraveldocs_spark.entry_queries import q_best_of_n

        plan = plan_of(q_best_of_n(spark, SF), "simple")
        assert "Generate" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("documents.parquet") == 1
        assert plan.count("Exchange hashpartitioning") == 2


class TestDomainMixPlan:
    def test_no_explode_broadcast_totals(self, spark):
        """Token counting stays JVM-side (size(filter(split)) — no
        Generate/explode); the totals row joins via a 1-row broadcast;
        the only hash Exchanges are the #domains-sized groupBy on
        source (printed once per consuming branch)."""
        from unraveldocs_spark.trainingdata import q_domain_mix

        plan = plan_of(q_domain_mix(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "Generate" not in plan
        assert plan.count("BroadcastNestedLoopJoin") == 1
        assert plan.count("Exchange hashpartitioning") <= 2


class TestCurriculumOrderPlan:
    def test_histogram_cdf_not_global_sort(self, spark):
        """Stages come from the difficulty histogram's CDF: the doc rows
        never shuffle (stage map joins back as a broadcast hash join);
        the single-partition window runs over the histogram only."""
        from unraveldocs_spark.trainingdata import q_curriculum_order

        plan = plan_of(q_curriculum_order(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "Generate" not in plan
        assert "BroadcastHashJoin" in plan
        assert plan.count("Exchange hashpartitioning") == 1


class TestClassifierTrainsetPlan:
    def test_corpus_shuffle_free(self, spark):
        """The labeled-trainset build never shuffles the corpus: token
        stats are JVM-side (no Generate), the (n_pos, n_neg) stats row
        is a 1-row broadcast, and negative sampling is a stateless hash
        filter — zero hash Exchanges, no window, no global sort funnel."""
        from unraveldocs_spark.trainingdata import q_classifier_trainset

        plan = plan_of(q_classifier_trainset(spark, SF), "simple")
        assert "CartesianProduct" not in plan
        assert "Generate" not in plan
        assert "Window" not in plan
        assert plan.count("BroadcastNestedLoopJoin") == 1
        assert plan.count("Exchange hashpartitioning") == 0


class TestDedupIncrementPlan:
    def test_asymmetric_band_join_batch_filter_pushed(self, spark):
        """The increment never pairs existing x existing: the b-side of
        the band join is the new batch only.  r7: the signature table is
        materialized once (the table production persists between runs),
        so the doc_id >= t batch filters now apply to the checkpointed
        signatures instead of pushing to a re-scan of the parquet — the
        asymmetry invariant is the >= t Filter on the b-side band branch
        AND on the new-doc spine."""
        from unraveldocs_spark.trainingdata import q_dedup_increment

        df = q_dedup_increment(spark, SF)
        plan = plan_of(df, "simple")
        assert "CartesianProduct" not in plan
        fmt = plan_of(df, "formatted")
        cond_lines = [
            l for l in fmt.splitlines()
            if "doc_id" in l and ">=" in l and "Condition" in l
        ]
        assert len(cond_lines) >= 2, fmt  # bands_new branch AND newdocs spine


class TestSimhashNearDupesPlan:
    def test_python_stage_runs_once_and_band_join_carries_ids(
        self, spark, patch_materialize
    ):
        """SimHash candidates come from the shared band builder: the
        signature table is materialized once, so across the query and
        every table it checkpoints exactly one MapInArrow runs (the
        pre-builder plan ran the Python stage once per self-join side),
        and the band self-join's rows hold only ids and band keys — the
        simhash joins back after the id-pair dedup."""
        import re

        from unraveldocs_spark.entry_queries import q_simhash_near_dupes

        materialized = []

        def spy(df, label):
            materialized.append(plan_of(df))
            return real(df, label)

        real = patch_materialize(spy)
        plan = plan_of(q_simhash_near_dupes(spark, SF))
        arrow = [
            len(re.findall(r"^\(\d+\) MapInArrow", p, re.M))
            for p in [*materialized, plan]
        ]
        assert sum(arrow) == 1 and arrow[-1] == 0, arrow
        blocks = plan.split("\n\n")
        band_join = [
            i for i, b in enumerate(blocks)
            if re.search(r"Left keys \[2\]: \[band_idx#\d+, band_key#", b)
        ]
        assert len(band_join) == 1
        carried = re.search(r"Input \[\d+\]: \[(.*)\]", blocks[band_join[0] + 1])
        names = set(re.findall(r"(\w+)#\d+", carried.group(1)))
        assert names == {"id", "band_idx", "band_key"}
        assert "CartesianProduct" not in plan


class TestScanFanOut:
    """scanfan.scan(fan=True): round-robin fan-out to defaultParallelism
    behind a checkpoint barrier only when the parquet input has fewer row
    groups than cores; identity otherwise."""

    @staticmethod
    def _write(tmp_path, name, n_rows, row_group_size):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table({
            "a": list(range(n_rows)),
            "b": [i * 3 for i in range(n_rows)],
            "c": [f"wide-{i}" for i in range(n_rows)],
        })
        pq.write_table(tbl, tmp_path / f"{name}.parquet",
                       row_group_size=row_group_size)
        assert pq.ParquetFile(tmp_path / f"{name}.parquet").num_row_groups == (
            -(-n_rows // row_group_size)
        )

    def test_narrow_scan_fans_out_behind_a_barrier(self, spark, tmp_path):
        from unraveldocs_spark.scanfan import scan

        cores = spark.sparkContext.defaultParallelism
        assert cores > 1
        self._write(tmp_path, "t", 64, 64)  # one row group < cores
        df = scan(spark, str(tmp_path), "t", fan=True)
        assert df.rdd.getNumPartitions() == cores
        derived = df.withColumn("d", F.col("a") * 2).filter(F.col("d") > 10)
        plan = plan_of(derived, "formatted")
        # the derived-column filter runs on the checkpointed rows: the
        # parquet scan is not in the plan at all, so nothing re-derives
        # the expression on the unsplit single-task scan
        assert "Scan ExistingRDD" in plan
        assert "Scan parquet" not in plan and "PushedFilters" not in plan
        assert "Filter" in plan
        assert derived.count() == 64 - 6

    def test_wide_scan_is_identity(self, spark, tmp_path):
        from unraveldocs_spark.scanfan import scan

        cores = spark.sparkContext.defaultParallelism
        self._write(tmp_path, "t", 16 * cores, 16)  # row groups == cores
        df = scan(spark, str(tmp_path), "t", fan=True)
        plan = plan_of(df, "formatted")
        assert "Scan parquet" in plan
        assert "Exchange" not in plan and "ExistingRDD" not in plan

    def test_fan_out_checkpoints_only_selected_columns(self, spark, tmp_path):
        from unraveldocs_spark.scanfan import scan

        self._write(tmp_path, "t", 64, 64)
        df = scan(spark, str(tmp_path), "t", cols=["a", "b"], fan=True)
        assert df.columns == ["a", "b"]
        (rdd_line,) = [
            l for l in plan_of(df, "simple").splitlines() if "ExistingRDD" in l
        ]
        assert "a#" in rdd_line and "b#" in rdd_line and "c#" not in rdd_line
