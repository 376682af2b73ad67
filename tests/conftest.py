from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_process_for_fraud_transactions_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("etl-fraud-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    return con


def register_views(con, sf_dir: str) -> None:
    """Mirror the driver's DuckDB setup: each parquet table as a view."""
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def scd2_apply_replay(job, wh, date: str) -> dict:
    """Apply `date`'s staged dimensions to `wh` with the single-table
    operator scd2_apply (the reference's full-history rewrite) and
    return the four histories: the model the daily job's partitioned
    SCD2 is compared with. Call it before the job archives the date's
    input files."""
    from etl_process_for_fraud_transactions_spark.functions.core import (
        ddmmyyyy_to_date,
    )
    from etl_process_for_fraud_transactions_spark.operators.scd2 import scd2_apply
    from etl_process_for_fraud_transactions_spark.schemas import DIMENSIONS

    staged = {name: job._stage_source_table(name) for name in ("clients", "accounts", "cards")}
    staged["terminals"] = job._stage_terminals(date)
    for name, (keys, attrs) in DIMENSIONS.items():
        table = f"dim_{name}_hist"
        dim = wh.read(table) if wh.exists(table) else None
        wh.overwrite(table, scd2_apply(dim, staged[name], keys, attrs, ddmmyyyy_to_date(date)))
    return {name: wh.read(f"dim_{name}_hist") for name in DIMENSIONS}


def written_and_replayed_report(job, dims: dict, date: str) -> tuple:
    """`date`'s fraud report as the job wrote it to rep_fraud, and as
    assemble_report rebuilds it from the job's facts over `dims`: two
    sorted row lists without report_dt."""
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.functions.core import (
        ddmmyyyy_to_date,
    )
    from etl_process_for_fraud_transactions_spark.operators.report import (
        assemble_report,
    )

    batch = ddmmyyyy_to_date(date)
    written = job.wh.read("rep_fraud").filter(F.col("report_dt") == batch)
    replayed = assemble_report(
        job.wh.read("fact_transactions").drop("batch_dt"),
        dims["cards"], dims["accounts"], dims["clients"], dims["terminals"],
        job.wh.read("fact_passport_blacklist"),
        report_dt=batch,
    )
    return tuple(
        sorted(map(tuple, df.drop("report_dt").collect())) for df in (written, replayed)
    )


@contextlib.contextmanager
def spark_jobs(spark):
    """Collects into the yielded list the ids of the Spark jobs started
    inside the block (a job group unique to the block; the listener bus
    is drained before the ids are read). Jobs the block submits from
    other driver threads (`session.run_concurrently`) carry no job
    group; those started after the block began are counted too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    floor = max(tracker.getJobIdsForGroup(None), default=-1)
    group = f"count-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "counted block")
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(tracker.getJobIdsForGroup(group))
        jobs.extend(j for j in tracker.getJobIdsForGroup(None) if j > floor)


def compare_with_oracle(spark, con, fn, sql, sf_dir, float_rel=1e-12):
    """Local replica of the driver's t2 gate: row count, column names,
    order-insensitive values."""
    import math

    sdf = fn(spark, sf_dir).toPandas()
    register_views(con, sf_dir)
    odf = con.execute(sql).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"columns differ: {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"row count {len(sdf)} vs {len(odf)}"
    cols = sorted(sdf.columns)

    def norm(df):
        rows = []
        for tup in df[cols].itertuples(index=False):
            row = []
            for v in tup:
                if v is None or (isinstance(v, float) and math.isnan(v)):
                    row.append(None)
                elif isinstance(v, float):
                    row.append(round(v, 9))
                else:
                    row.append(str(v))
            rows.append(tuple(row))
        return sorted(rows, key=lambda r: tuple(str(x) for x in r))

    a, b = norm(sdf), norm(odf)
    mismatches = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:5]
    assert a == b, f"value mismatch at sorted rows {mismatches}: " + "; ".join(
        f"{a[i]} != {b[i]}" for i in mismatches
    )


# ---------------------------------------------------------------------------
# Core tier (pytest.ini: two-tier rhythm, VERDICT r15 #5). Whole fast
# modules by name, plus one representative end-to-end test per index
# family from the heavy modules. Everything else runs at round edges.
# ---------------------------------------------------------------------------

CORE_MODULES = {
    "test_plan_invariants",  # registry/oracle guards + plan lint
    "test_scd2",
    "test_rules",
    "test_writer_race",      # multi-writer contract, all families
    "test_bench_drift",
    # r16: driver-side metadata I/O fast path + §2.6 overlap helper —
    # every index family's pointer flip rides these primitives now
    "test_warehouse_fastpath",
}

CORE_TESTS = {
    # one per index family (build + serve + store round-trip)
    "test_bm25_index_serves_parity_with_in_plan",
    "test_pq_index_store_guard_and_versioned_flip",
    "test_ivf_matches_bruteforce_with_full_probe",
    "test_filter_new_matches_union_near_dedup",
    # sources: the atomic-overwrite contract everything sits on
    "test_atomic_overwrite_same_path",
    # the daily job's SCD2 apply: semantics against a model, job count
    "test_partitioned_matches_driver_model",
    "test_warm_apply_batch_runs_at_most_two_jobs",
    # the daily batch's job count, and staging that starts no job
    "test_warm_batch_job_count",
    "test_staging_reads_run_no_spark_job",
    # cap_per_domain releases its private-API checkpoint handle
    "test_cap_per_domain_return_persisted_tuple",
}




# ---------------------------------------------------------------------------
# Slow tier (r17, VERDICT r16 item 3): the full suite reached ~58 min
# wall (565 tests; driver-measured 59:32 in r16), which overflows the
# driver's verification window — VERIFY_r16 truncated mid-run with no
# failure in evidence. The DEFAULT selection (pytest.ini addopts
# `-m "not slow"`) now excludes the tests below: every test whose call
# time was >= 5 s in the full r17 duration capture
# (2878 of 3433 s of call time across 146 tests), EXCEPT the two
# global plan lints (broadcast-hint audit, no-cartesian audit), which
# stay in the default run despite ~54 s — they are the repo-wide
# scale guards. Measured default selection: ~9 min call time.
#
#   python -m pytest tests/ -q                    # default (fast) tier
#   python -m pytest -m core -q                   # per-commit tier
#                                                 # (INCLUDES its slow members)
#   python -m pytest tests/ -q -m "slow or not slow"   # full suite (round edges)
#
# Matching is by node name (Class::name[param] after the module path),
# so parametrized entries exclude only the heavy parameters (e.g. 5 of
# the 50 oracle checks; the driver's own CORRECTNESS gate re-runs all
# 50 independently of pytest). A renamed test silently leaves this
# set and re-enters the default tier — caught at the next round-edge
# duration capture, never a lost pin.
# ---------------------------------------------------------------------------

SLOW_TESTS = {
    # tests/test_bpe.py
    "test_distributed_trainer_matches_driver_trainer",
    "test_training_job_emits_input_ids",
    # tests/test_compaction.py
    "test_bm25_compact_layout_stats_merge_and_replay",
    "test_bm25_compact_through_keeps_live_epochs_replayable",
    "test_bm25_versioned_compact_flips_pointer",
    "test_compact_files_per_partition_salts_fat_partitions",
    "test_compact_live_mode_derives_the_bound",
    "test_ivf_absorb_resolves_pointer_in_one_read",
    "test_ivf_compact_layout_replay_and_crash_window",
    "test_ivf_compact_through_keeps_live_epochs_replayable",
    "test_ivf_prune_versions_keep",
    "test_ivf_versioned_compact_flips_pointer_and_retrain_carries_wm",
    "test_neardup_compact_watermark_and_asof_refusal",
    "test_neardup_sink_skips_replay_of_merged_epoch",
    "test_pq_compact_codes_byte_identical_and_through",
    "test_pq_versioned_compact_flips_pointer_calibrate_preserves_wm",
    "test_sink_compact_every_amortized_in_stream",
    "test_sink_prune_keep_bounds_versions_in_stream",
    # tests/test_daily_job.py
    "test_incremental_report_only_batch_rows",
    "test_partitioned_scd2_matches_scd2_apply_replay",
    "test_scd2_change_across_batches",
    "test_two_batch_pipeline",
    # tests/test_decontaminate.py
    "TestBloomPrefilter::test_bloom_no_false_negatives_and_bounded_fpp",
    "TestBloomPrefilter::test_bloom_prefiltered_report_identical_to_exact",
    "TestBloomPrefilter::test_decontaminate_threads_prebuilt_bloom",
    "test_contamination_matches_bruteforce_oracle",
    "test_decontaminate_drops_flagged",
    # tests/test_dedup_incremental.py
    "test_absorb_extends_the_index",
    "test_auto_band_threshold_tunes_family_and_meta_guards",
    "test_cross_day_closure_with_absorb_all",
    "test_filter_new_matches_union_near_dedup",
    "test_hashed_store_equivalent_and_smaller",
    "test_over_cap_batch_degrades_to_shuffle_join",
    "test_transitive_chain_through_batch_drops_whole_cluster",
    # tests/test_dedup_text.py
    "test_near_dedup_auto_band_matches_explicit",
    # tests/test_deletes.py
    "test_bm25_delete_duplicate_occurrences_all_tombstoned",
    "test_bm25_delete_equals_rebuild_without",
    "test_bm25_delete_exact_parity_idempotence_and_absorb_ban",
    "test_bm25_versioned_purge_is_atomic_in_the_pointer_flip",
    "test_ivf_delete_filter_ban_purge_and_retrain_carry",
    "test_neardup_delete_unblocks_near_duplicates_and_purges",
    "test_pq_delete_filter_ban_and_versioned_purge",
    # tests/test_extract.py
    "test_curate_corpus_dom_extractor_option",
    # tests/test_graph.py
    "test_small_graph_shortcut_matches_distributed",
    "test_star_contraction_converges_on_10k_path",
    # tests/test_langid.py
    "test_curate_corpus_langid_abstain_drops_out_of_family",
    # tests/test_pipeline_full.py
    "test_curate_corpus_compression_gate",
    "test_curate_corpus_custom_id_col",
    "test_curate_corpus_end_to_end",
    "test_curate_corpus_gopher_gate",
    "test_curate_corpus_html_entry",
    "test_curate_corpus_langid_stage",
    "test_curate_corpus_routed_langid_mapping",
    "test_curate_corpus_span_mask_cascade_option",
    "test_curate_corpus_without_benchmark_keeps_leak",
    # tests/test_plan_invariants.py
    "test_doc_fingerprints_langid_separates_on_driver_probes",
    # tests/test_pq.py
    "test_celled_absorb_keeps_duplicate_id_rows",
    "test_hybrid_topk_composes_with_pq_index",
    "test_ivf_pq_composition",
    "test_opq_build_calibrates_on_rotated_queries",
    "test_opq_composes_with_residual_ivf_pq",
    "test_opq_rotation_beats_raw_pq_on_anisotropic_corpus",
    "test_opq_rotation_refresh_on_drifted_stream",
    "test_pq_absorb_sink_replay_safe_and_in_layout",
    "test_pq_calibrate_nprobe_measured_default",
    "test_pq_cell_skew_and_sink_drift_gate",
    "test_pq_encode_determinism_and_edge_rows",
    "test_pq_index_opq_lifecycle",
    "test_pq_index_store_guard_and_versioned_flip",
    "test_pq_lossless_corpus_recalls_exactly",
    "test_pq_rerank_recall_floor_on_random_corpus",
    "test_pq_topk_keep_adc_carries_shortlist_scores",
    "test_pq_versioned_partitioned_residual_compose",
    "test_residual_absorb_and_pointer_layout_atomicity",
    "test_residual_beats_raw_on_clustered_corpus",
    "test_residual_ivf_pq_lossless_two_cells",
    "test_sampled_codebook_training_parity",
    # tests/test_properties.py
    "test_asof_join_matches_naive",
    "test_fraud_report_matches_sql_oracle",
    "test_prefix_filter_jaccard_matches_bruteforce",
    "test_rrf_fuse_matches_python_replay",
    "test_rule_brute_force_window_matches_sql_oracle",
    "test_rule_diff_city_window_matches_sql_oracle",
    "test_scd2_matches_model",
    "test_scrub_pii_is_identity_without_digits_or_at",
    # tests/test_quality_model.py
    "TestUnigramLM::test_curate_corpus_bigram_gate_catches_word_order_junk",
    "TestUnigramLM::test_curate_corpus_lm_gate",
    "test_curate_corpus_quality_gate",
    # tests/test_queries_oracle.py
    "test_query_matches_oracle[bm25_topk_docs]",
    "test_query_matches_oracle[lsh_embedding_neighbors]",
    "test_query_matches_oracle[minhash_near_duplicates]",
    "test_query_matches_oracle[neardup_incremental_filter]",
    "test_query_matches_oracle[simhash_near_duplicates]",
    # tests/test_repetition.py
    "TestFrequentSpans::test_curate_corpus_span_mask_stage",
    # tests/test_retrieval.py
    "test_bm25_cache_tokens_mode_is_bit_identical",
    "test_bm25_index_absorb_equals_rebuild",
    "test_bm25_index_partitioned_absorb_is_replay_safe",
    "test_bm25_index_serves_parity_with_in_plan",
    "test_bm25_partitioned_replay_does_not_double_count_stats",
    "test_bm25_stats_equal_doclens_aggregate_after_absorbs",
    "test_bm25_topk_docs_row_has_fusion_only_hits",
    "test_bm25_topk_plan_has_no_doclens_scan",
    "test_bm25_versioned_rebuild_atomic_flip",
    "test_hybrid_topk_over_persisted_indexes",
    "test_max_df_guard_drops_saturated_term",
    # tests/test_sampling.py
    "TestSampleToMixture::test_mixture_proportions",
    # tests/test_scd2.py
    "test_null_attr_is_not_a_change",
    "test_three_batch_replay",
    # tests/test_scd2_partitioned.py
    "test_five_batch_daily_job_matches_scd2_apply_replay",
    "test_partitioned_matches_snapshot",
    "test_tuple_repeat_divergence_documented",
    # tests/test_similarity.py
    "test_calibrate_nprobe_measured_default",
    "test_ivf_absorb_sink_skew_probe_every",
    "test_ivf_drift_gate_trips_and_retrain_restores",
    "test_ivf_index_build_assigned_external_quantizer",
    "test_ivf_index_partitioned_absorb_is_replay_safe",
    "test_ivf_index_persisted_serving",
    "test_ivf_index_quantized_store_serves_and_guards",
    "test_ivf_versioned_layout_atomic_retrain",
    # tests/test_streaming_curation.py
    "test_full_streaming_pipeline_with_near_dedup_sink",
    # tests/test_streaming_rules.py
    "test_streaming_diff_city",
    # tests/test_streaming_stateful.py
    "test_streak_matches_model_across_forced_micro_batches",
    "test_streak_spans_micro_batches",
    # tests/test_streaming_upsert.py
    "test_near_dedup_sink_across_microbatches",
    "test_near_dedup_sink_composes_with_auto_band_threshold",
    "test_near_dedup_sink_replayed_epoch_is_idempotent",
    # tests/test_training_job.py
    "test_all_dropped_corpus_reports_zeros",
    "test_build_training_shards_end_to_end",
    "test_mixture_shares_respected",
    "test_renamed_id_col_packs_without_error",
    # tests/test_writer_race.py
    "test_bm25_build_refuses_concurrent_absorb",
    "test_bm25_compact_refuses_competing_compact",
    "test_bm25_compact_refuses_then_rerun_converges",
    "test_ivf_retrain_refuses_competing_retrain",
    "test_ivf_retrain_refuses_then_rerun_converges",
    "test_pq_compact_refuses_concurrent_absorb",
}


def _is_slow(item) -> bool:
    node = item.nodeid.split("::", 1)[-1]
    return node in SLOW_TESTS


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        name = item.name.split("[")[0]
        if mod in CORE_MODULES or name in CORE_TESTS:
            item.add_marker(pytest.mark.core)
        if _is_slow(item):
            item.add_marker(pytest.mark.slow)
