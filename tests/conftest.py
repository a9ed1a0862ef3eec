from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from defimap_data_pipelines_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# ---------------------------------------------------------------------------
# Slow-test tier (r13, r12 verdict item 2): the full suite takes ~30
# minutes single-process, which exceeded the driver's pytest budget
# (VERIFY_r12 recorded a truncated, zero-failure run). The tests below
# — every test whose call time measured >= 5 s in the round-start
# full run (plans/r13/pytest_full_r13start.txt) — carry a ``slow``
# marker, and pyproject's addopts deselects them by default, keeping
# the default invocation (`python -m pytest tests/`) at ~15 minutes.
# The slow tier still runs every round via
#   python -m pytest tests/ -q -m "slow or not slow"
# (a trailing -m overrides the addopts default) and its result is
# recorded in OPTIMIZATION_r13.md. Node ids that disappear simply stop
# matching — renaming a test silently promotes it back to the default
# tier (fail-safe direction).
# ---------------------------------------------------------------------------

SLOW_TESTS = {
    "tests/test_asof_skew_sources.py::test_asof_join_matches_naive_range_join",
    "tests/test_asof_skew_sources.py::test_csv_bronze_roundtrip",
    "tests/test_corpus.py::test_clean_corpus_invariants",
    "tests/test_corpus.py::test_clean_corpus_with_injected_shingles_identical",
    "tests/test_incremental.py::test_incremental_clean_corpus_equals_batch",
    "tests/test_incremental.py::test_incremental_cum_equals_batch",
    "tests/test_incremental.py::test_incremental_dedup_equals_batch",
    "tests/test_incremental.py::test_incremental_equals_batch",
    "tests/test_incremental.py::test_incremental_tvl_equals_batch",
    "tests/test_operators.py::test_degenerate_inputs",
    "tests/test_oracle_parity.py::test_no_decimal_columns_in_any_oracle_output",
    "tests/test_oracle_parity.py::test_query_matches_oracle[markov_attribution]",
    "tests/test_pipelines.py::test_run_curation_demo",
    "tests/test_properties.py::test_holt_matches_plain_recursion",
    "tests/test_properties.py::test_jaccard_strategies_agree",
    "tests/test_properties.py::test_mannwhitney_matches_bruteforce",
    "tests/test_properties.py::test_vocab_ids_dense_and_ordered",
    "tests/test_round10_fixes.py::test_stress_copy_suffix_is_vocab_independent",
    "tests/test_round11_bughunt_minhash.py::test_hyperplane_lsh_banded_path_replay",
    "tests/test_round11_bughunt_minhash.py::test_minhash_lsh_dedup_full_pipeline_replay",
    "tests/test_round2_ops.py::test_cc_property_edge_endpoints_share_component",
    "tests/test_round2_ops.py::test_star_cc_property_matches_bsp",
    "tests/test_round5_ops.py::test_curation_state_survives_parquet_roundtrip",
    "tests/test_round6_ops.py::TestRound6Properties::test_cusum_closed_form_equals_loop",
    "tests/test_round6_ops.py::TestRound6Properties::test_incremental_cc_any_split",
    "tests/test_round7_ops.py::test_jaccard_strategies_agree",
    "tests/test_round7_properties.py::test_backtest_folds_matches_python",
    "tests/test_round7_properties.py::test_bh_fdr_matches_python_reference",
    "tests/test_round7_properties.py::test_decayed_popularity_matches_python",
    "tests/test_round7_properties.py::test_forecast_mase_matches_python",
    "tests/test_round7_properties.py::test_levenshtein_neardup_matches_brute_force",
    "tests/test_round7_properties.py::test_pinball_loss_matches_python",
    "tests/test_round7_properties.py::test_runs_test_matches_brute_force",
    "tests/test_round7_properties.py::test_wasserstein_matches_python",
    "tests/test_round8_fixes.py::test_char_jaccard_bitset_falls_back_when_vocab_gate_trips",
    "tests/test_round8_ops.py::test_ljung_box_matches_python",
    "tests/test_round8_ops.py::test_partial_corr_matches_python",
    "tests/test_round8_ops.py::test_qini_matches_python",
    "tests/test_round9_bughunt.py::test_best_split_ig_matches_python",
    "tests/test_round9_bughunt.py::test_exact_grouped_quantile_is_type1",
    "tests/test_round9_bughunt.py::test_fifo_match_matches_python",
    "tests/test_round9_bughunt.py::test_isotonic_fit_equals_minimax_identity",
    "tests/test_round9_bughunt.py::test_mann_kendall_matches_python",
    "tests/test_round9_bughunt.py::test_theilsen_matches_python",
    "tests/test_round9_bughunt.py::test_weighted_median_matches_python",
    "tests/test_round9_ops.py::test_hhi_matches_python",
    "tests/test_round9_ops.py::test_logloss_binned_matches_python",
    "tests/test_round9_ops.py::test_mrr_at_k_matches_python",
    "tests/test_round9_ops.py::test_omega_ratio_matches_python",
    "tests/test_round9_ops.py::test_recall_at_k_matches_python",
    "tests/test_round9_ops.py::test_two_prop_ztest_matches_python",
    "tests/test_scale_layout.py::test_compact_small_files",
    "tests/test_scale_smoke.py::test_ann_lsh_pairs_hold_at_10x",
    "tests/test_scale_smoke.py::test_components_bounded_on_giant_clique",
    "tests/test_scale_smoke.py::test_curation_holds_at_10x",
    "tests/test_scale_smoke.py::test_packing_holds_at_scale",
    "tests/test_scale_smoke.py::test_prefix_sum_machinery_at_10x",
    "tests/test_scale_smoke.py::test_star_contraction_adversarial_skew_chain_plus_clique",
    "tests/test_streaming.py::test_stream_curation_incremental_equals_batch",
    "tests/test_streaming.py::test_stream_gotk_checkpoint_restart",
    "tests/test_streaming.py::test_stream_join_checkpoint_restart_exactly_once",
    "tests/test_web3_source.py::test_batch_source_equals_ingest_adapter",
}



def pytest_collection_modifyitems(config, items):
    for item in items:
        # full repo-relative node id: two files sharing a base name in
        # different directories must not mark each other's tests slow
        if item.nodeid.replace("\\", "/") in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
