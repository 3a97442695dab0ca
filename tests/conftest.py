from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_data_pipeline_ads_spark.catalog import TABLES
from aws_data_pipeline_ads_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_session("pytest", cpus=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


# -- slow-test split (r13, VERDICT item 7) -----------------------------------
#
# The full suite outgrew the driver's verify budget (VERIFY_r12 shows the
# run cut at ~45% with zero failures). The heavy property/stress/randomized
# tests below (each >=8 s; ~1150 s combined, half the suite's wall) are
# marked `slow` and DESELECTED BY DEFAULT via pytest.ini so the driver gate
# finishes; run them with `pytest -m slow` (the nightly set). Every family
# keeps fast representatives in the default run, and the per-query oracle
# mirrors (test_queries_oracle) are never deselected.

_SLOW = {
    "test_plans.py::test_no_nested_loop_joins_on_unbounded_inputs",
    "test_properties.py::test_outer_join_mv_random_revisions",
    "test_properties.py::test_mv_refresh_equals_recompute_under_random_revisions",
    "test_properties.py::test_lake_oplog_matches_model",
    "test_properties.py::test_winnow_fingerprints_partitioning_invariant",
    "test_properties.py::test_incremental_dedup_invariants",
    "test_properties.py::test_kmv_sketch_partitioning_invariant",
    "test_properties.py::test_connected_components_match_union_find",
    "test_properties.py::test_span_dedup_matches_python_reference",
    "test_properties.py::test_sq8_shortlist_contains_quantized_topk_property",
    "test_lakemv.py::test_kmv_null_key_rows_do_not_wedge_growing_source",
    "test_lakemv.py::test_kmv_distinct_appends_match_recompute",
    "test_lakemv.py::test_hierarchical_cagg_stacks_exactly",
    "test_lakemv.py::test_outer_join_mv_minmax_distinct_across_flips",
    "test_lakemv.py::test_hierarchical_over_star_view",
    "test_lakemv.py::test_hierarchical_over_join_view",
    "test_lakemv.py::test_dim_revision_fact_scan_file_pruned_on_clustered_fact",
    "test_lakemv.py::test_outer_join_mv_both_sides_one_refresh",
    "test_lakemv.py::test_outer_join_mv_dim_revisions",
    "test_lakemv.py::test_mv_refresh_exactly_once_under_concurrent_writers",
    "test_lakemv.py::test_minmax_incremental_matches_recompute",
    "test_lakemv.py::test_star_mv_two_subtrees_both_revised",
    "test_lakemv.py::test_derived_bucket_continuous_aggregate",
    "test_lakemv.py::test_outer_join_mv_fact_crossings",
    "test_lakemv.py::test_left_join_mv_minmax_distinct_across_flips",
    "test_lakemv.py::test_join_mv_minmax_and_sumsq",
    "test_lakemv.py::test_star_mv_distinct_count",
    "test_lakemv.py::test_distinct_count_incremental",
    "test_lake_merge.py::test_replicate_to_under_concurrent_source_commits",
    "test_lake_merge.py::test_replicate_to_converges_under_revisions",
    "test_lake_merge.py::test_lake_cdc_sink_streaming_replication",
    "test_lake_merge.py::test_lake_cdc_sink_crash_between_apply_and_ack",
    "test_scale_ops.py::test_incremental_index_append_equals_rebuild",
    "test_scale_ops.py::test_opq_full_shortlist_exact_and_pruned_recall",
    "test_scale_ops.py::test_ivfpq_index_prunes_and_degenerates_to_pq",
    "test_scale_ops.py::test_pq_served_equals_inline",
    "test_scale_ops.py::test_pq_topk_recall_and_degenerate_exact",
    "test_scale_ops.py::test_pq_codes_shape_and_determinism",
    "test_scale_ops.py::test_ivfpq_residual_encoding",
    "test_deploy.py::test_invoke_job_smoke",
    "test_bmp.py::test_dimension_tier_and_resize_wiring",
    "test_chat.py::test_flatten_orders_by_turn_and_budgets",
    "test_lake_column_map.py::test_rename_keeps_bloom_point_lookup",
    "test_operators.py::test_ivf_lloyd_training_improves_recall",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        base = f"{item.fspath.basename}::{item.originalname or item.name}"
        if base in _SLOW:
            item.add_marker(pytest.mark.slow)
