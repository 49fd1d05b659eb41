from __future__ import annotations

import collections
import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_java_spark.session import get_session  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # The suite runs tiny fixtures where wall time is per-action
    # scheduling latency, not compute, so the session is sized to the
    # host: one slot and one shuffle partition per CPU, capped at 8
    # (local[8] is ~17% faster than local[32] on a measured module
    # sample) and never below 4, so multi-partition paths still run.
    # Production sizing (local[$SPARK_GRAFT_CPUS]) is exercised by
    # bench.py and the driver contract, not by unit tests.
    n = max(4, min(8, len(os.sched_getaffinity(0))))
    s = get_session(
        "etl-java-spark-tests", master=f"local[{n}]", shuffle_partitions=n
    )
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture
def reliable_checkpoints(spark, tmp_path):
    """Context manager that selects reliable checkpoints the way a
    session started with ``--conf spark.checkpoint.dir=DIR`` does: the
    context's checkpoint directory plus the SparkConf key the policy in
    plans/checkpoints reads. It yields DIR. On exit the key is removed,
    so later tests run executor-local again; the directory itself
    cannot be unset, and the policy never consults it."""

    @contextlib.contextmanager
    def on():
        ckdir = str(tmp_path / "ck")
        sc = spark.sparkContext
        sc.setCheckpointDir(ckdir)
        conf = sc._jsc.sc().conf()
        conf.set("spark.checkpoint.dir", ckdir)
        try:
            yield ckdir
        finally:
            conf.remove("spark.checkpoint.dir")

    return on


JobCounts = collections.namedtuple("JobCounts", "jobs stages tasks")


@pytest.fixture
def job_counts(spark):
    """Return a function that calls ``fn()`` under a job group of its own
    and returns the Spark work it ran as ``JobCounts(jobs, stages,
    tasks)``, read from ``statusTracker`` (which works with the UI off).
    A stage that ran no task (its shuffle output was reused) is not
    counted, the same rule as perfbench's traced runs."""
    sc = spark.sparkContext

    def run(fn):
        group = f"job-counts-{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job and stage events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = [
            si
            for jid in jobs
            for si in map(st.getStageInfo, st.getJobInfo(jid).stageIds)
            if si is not None and si.numCompletedTasks + si.numFailedTasks > 0
        ]
        return JobCounts(len(jobs), len(stages), sum(si.numTasks for si in stages))

    return run


@pytest.fixture
def codegen_compiles(spark):
    """Return a function that calls ``fn()`` and returns how many classes
    the JVM compiled for generated code meanwhile: the change in the
    count of Spark's ``CodegenMetrics`` compilation-time histogram, which
    records one value per Janino compile and none for a class served
    from the codegen cache. In local mode the executors share the
    driver's JVM, so task-side compiles are counted too."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(fn):
        before = metric.getCount()
        fn()
        return metric.getCount() - before

    return run


@pytest.fixture
def held_rdds(spark):
    """Return a function giving the ids of the RDDs persisted since the
    fixture was set up (local checkpoints and persisted frames)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    return lambda: set(jsc.getPersistentRDDs().keySet()) - before


# ---------------------------------------------------------------------------
# Two-tier suite (r13). The default run (`pytest tests/`) deselects the
# `deep` tier — exhaustive brute-force / Python-replica property tests
# that re-derive an operator's result a second way on larger inputs.
# Every operator marked here keeps faster functional coverage in the
# default tier; the deep tier is the belt-and-braces re-derivation.
# Run EVERYTHING with:  pytest tests/ -m "deep or not deep"
# The deep tier is run (and recorded) at every optimization-round close.
DEEP_TESTS = {
    ("test_r12_ops.py", "test_neardup_guard_batch_split_invariant"),
    ("test_r12_ops.py", "test_neardup_guard_retro_rejects_across_batches"),
    ("test_r12_ops.py", "test_kendalls_w_perfect_reversed_and_ties"),
    ("test_r12_ops.py", "test_ks_two_sample_disjoint_and_identical"),
    ("test_timeseries_fuzzy.py", "test_fuzzy_join_complete_vs_brute_force"),
    ("test_properties_r4b.py", "test_ks_matches_brute_force_property"),
    ("test_properties_r4b.py", "test_equidepth_matches_python_ntile"),
    ("test_properties_r4b.py", "test_assign_global_ids_any_bucket_width"),
    ("test_properties_r4b.py", "test_merge_intervals_matches_brute_force"),
    ("test_properties.py", "test_merge_idempotent_and_complete"),
    ("test_properties.py", "test_cdc_snapshot_scd2_consistency"),
    ("test_properties_r7.py", "test_average_precision_matches_python"),
    ("test_properties_r7.py", "test_kneser_ney_matches_python"),
    ("test_properties_r7.py", "test_winnow_matches_python_reference"),
    ("test_properties_r7.py", "test_fd_audit_matches_python_g3"),
    ("test_streaming.py", "test_left_outer_join_sentinel_flush_matches_batch"),
    ("test_streaming.py", "test_update_mode_merge_batch_order_robust"),
    ("test_r5b_ops.py", "test_perceptual_hashes_roundtrip"),
    ("test_r11_ops.py", "test_raking_weights_hits_both_margins"),
    ("test_r11_ops.py", "test_sinkhorn_plan_converges_to_margins"),
    ("test_properties_r6g.py", "test_theil_sen_matches_python_median_of_slopes"),
    ("test_properties_r6g.py", "test_max_concurrency_matches_brute_force"),
    ("test_properties_r6g.py", "test_rolling_median_matches_python_window_sort"),
    ("test_properties_r6g.py", "test_running_balance_matches_python_fold"),
    ("test_properties_r4c.py", "test_cms_merge_equals_whole_for_any_split"),
    ("test_properties_r4c.py", "test_k_core_min_degree_invariant"),
    ("test_properties_r4c.py", "test_temporal_join_matches_python_reference"),
    ("test_properties_r6.py", "test_prefix_recall_matches_python_ranking"),
    ("test_properties_r6.py", "test_diversity_matches_python_sets"),
    ("test_packing_and_streamjoin.py", "test_stream_stream_join_equals_batch"),
    ("test_properties_r5.py", "test_ngram_jaccard_matches_python_reference"),
    ("test_properties_r5.py", "test_digit_sketch_bucket_contains_rank_element"),
    ("test_r7e_ops.py", "test_pareto_bucketed_matches_unbucketed"),
    ("test_r7_ops.py", "test_markov_attribution_credits_the_gatekeeper"),
    ("test_r5_ops.py", "test_incremental_pairs_side_markers"),
    ("test_r5_ops.py", "test_incremental_pairs_match_full_run_restricted"),
    ("test_r5_ops.py", "test_split_leakage_minhash_strategy_parity"),
    ("test_r5_ops.py", "test_leakage_safe_split_invariant"),
    ("test_dedup_similarity.py", "test_arithmetic_plane_lsh_recall_and_determinism"),
    ("test_r6g_ops.py", "test_xml_roundtrip_escapes_and_types"),
    ("test_bloom_prune.py", "test_bloom_no_false_negatives"),
    ("test_corpus_incremental.py", "test_semantic_dup_pairs_default_fitted_quantizer"),
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        key = (os.path.basename(str(item.fspath)), item.name.split("[")[0])
        if key in DEEP_TESTS:
            item.add_marker(pytest.mark.deep)
