"""Shared Spark fixture. One session per test run — local mode with a
small core count so the suite stays fast; every config the engine
relies on (AQE, Arrow, UTC) comes from the same factory production
uses (flytemosaic_spark.session.get_spark)."""

from __future__ import annotations

import pytest

from flytemosaic_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


# Tests measured >= ~10s each (full-suite --durations sweep, r11):
# together ~40% of suite wall time. Marked `slow` centrally here (one
# list instead of 15 scattered decorators) and deselected by default
# via pytest.ini so the driver's timed `pytest tests/` window fits
# (r10 VERDICT item 7). Entries are (file basename, test function
# name) — ALL parametrizations of a listed function are marked. Run
# the full suite with `-m "slow or not slow"` before milestone
# commits; every listed test has faster siblings covering the same
# operator for per-change regression signal.
_SLOW = {
    ("test_crs.py", "test_reproject_manifest_utm_and_conic_targets"),
    ("test_geotiff.py", "test_width_changes_and_table_reset"),
    ("test_bloom.py", "test_definite_misses_bypass_the_join"),
    ("test_roundnine.py", "test_hand_values"),
    ("test_roundnine.py", "test_matches_python"),
    ("test_edge_cases.py", "test_grid_bbox_join_equals_naive_theta_join"),
    ("test_dedup.py", "test_star_components_match_unionfind"),
    ("test_source_robustness.py", "test_binaryfile_ingest_explodes_all_samples"),
    ("test_streaming.py", "test_throttle_dedup_stream_matches_batch"),
    ("test_partitioner.py", "test_exactly_once_coverage_property"),
    ("test_similarity.py", "test_ivf_pq_recall_vs_brute_force"),
    ("test_functions.py", "test_date_to_period_matches_reference_formula"),
    ("test_streaming.py", "test_streaming_pipeline_end_to_end"),
    ("test_prefix.py", "test_ntile_closed_form_matches_window"),
    ("test_streaming.py", "test_windowed_js_drift_checkpoint_recovery"),
    ("test_crs.py", "test_utm_bbox_envelope"),
    ("test_dedup.py", "test_min_label_components_long_chains"),
    ("test_geotiff.py", "test_windowed_decode_matches_full"),
    ("test_streaming_crawl.py", "test_incremental_drains_match_batch_cdf"),
    ("test_streaming.py", "test_stream_stream_join_matches_batch"),
    ("test_prefix.py", "test_multi_value_cumsum_equals_two_single_passes"),
    ("test_txlog.py", "test_pruned_equals_unpruned_merge"),
    ("test_similarity.py", "test_approx_results_are_subsets_of_corpus"),
    ("test_similarity.py", "test_pq_index_upsert_equals_fixed_codebook_rebuild"),
    ("test_edge_cases.py", "test_spearman_degenerate_inputs"),
    ("test_chunkstore.py", "test_store_roundtrip_property_random_shapes"),
    ("test_streaming.py", "test_cusum_stream_matches_batch"),
    ("test_streaming.py", "test_enrich_stream_static_join_matches_batch_and_sees_dim_refresh"),
    ("test_roundten.py", "test_moves_toward_quantile"),
    ("test_streaming.py", "test_windowed_counts_stream_matches_batch"),
    ("test_streaming.py", "test_windowed_js_drift_stream_matches_batch"),
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        base = item.fspath.basename
        name = item.name.split("[")[0]
        if (base, name) in _SLOW:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8, driver_memory="8g")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001
