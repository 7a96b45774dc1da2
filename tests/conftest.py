from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from meshinsights_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_T2_DIR", "/root/testdata/sf0.01")


# One fast representative test per operator family (VERDICT r16 item 3:
# the full ~40-min suite outruns the external driver's pytest window, so
# `pytest tests/ -m driver` is a <5-min smoke tier the driver CAN finish;
# the unfiltered suite stays the correctness tier). Keep one entry per
# family; when adding an operator family, add its cheapest synthetic test.
DRIVER_SUBSET = {
    "test_gmm_bimodal_detection",            # analytics variance pipeline
    "test_backward_inclusive_and_null_value",  # asof join
    "test_chain_clique_and_isolated_pair",   # connected components (both)
    "test_filter_valid_cycles_fixture",      # core pipeline + cycles
    "test_rerun_after_rewrite_sees_new_rows_and_leaves_no_cache",  # power pipeline cache
    "test_power_analysis_runs_no_python_udf",  # power pipeline, driver-side variance
    "test_basket_pair_stats",                # basket association
    "test_chunking_exact_split",             # corpus chunking
    "test_neardup_collapse_step",            # corpus pipeline step
    "test_sibling_expansion_m9",             # genai plans
    "test_global_row_number_matches_window", # global rank
    "test_llm_map_adds_completions",         # llm batch map
    "test_minhash_dedup_pairs_verified",     # dedup minhash chain
    "test_valid_cycle_filter_parity",        # reference parity
    "test_gopher_quality_is_map_side",       # plan shapes (corpus)
    "test_basket_pair_stats_broadcast_dims", # plan shapes (basket r17)
    "test_q02_filter_pushed_to_scan",        # TPC-H plan pushdown
    "test_canonical_url_idempotent",         # property tier
    "test_every_oracle_output_type_is_portable",  # oracle portability
    "test_threshold_sink_writes_under_all_low",   # sink stats
    "test_hll_matches_python_mirror_raw_branch",  # sketch family
    "test_salted_agg_matches_plain_groupby",      # skew toolkit
    "test_scd2_change_closes_and_appends",        # snapshot/SCD2
    "test_registry_semantics",                    # sources registry
    "test_streaming_exact_dedup_parity",          # streaming twin
}


def _collects_whole_suite(session, config) -> bool:
    """True when every test module collected and neither -k nor a path or
    node id narrower than this directory selects what is collected. (A
    module that failed to collect is reported on its own; under
    --continue-on-collection-errors the rest of the suite still runs.)"""
    if session.testsfailed or config.option.keyword:
        return False
    here = os.path.dirname(os.path.abspath(__file__))
    for arg in config.args:
        if "::" in arg:
            return False
        path = os.path.abspath(os.path.join(str(config.invocation_params.dir), arg))
        if os.path.commonpath([path, here]) != path:  # not this dir or above it
            return False
    return True


def pytest_collection_modifyitems(session, config, items):
    matched = set()
    for item in items:
        if item.name in DRIVER_SUBSET:
            item.add_marker(pytest.mark.driver)
            matched.add(item.name)
    missing = DRIVER_SUBSET - matched
    if missing and _collects_whole_suite(session, config):
        raise pytest.UsageError(
            f"DRIVER_SUBSET names that match no collected test: {sorted(missing)}"
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mesh-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT
