import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small local parallelism for tests


@pytest.fixture(scope="session")
def spark():
    from flink_cdc_spark.session import get_spark

    s = get_spark("flink_cdc_spark_tests", shuffle_partitions=4)
    yield s


# -- two-tier suite (r17, VERDICT r16 item 5) --------------------------------
#
# The default invocation — what the driver runs — skips the entries below:
# EXTRA trials of randomized differential/property families (at least one
# trial of every family stays in the default tier, chosen to keep each
# distinct crash phase / mode representative where that matters) and a few
# heavyweight single tests whose invariant has overlapping coverage
# elsewhere (noted inline).  `SPARK_GRAFT_SLOW_TESTS=1 pytest tests/` runs
# everything — the builder runs that exhaustive tier at round close.
# Durations from the r17 full-suite profile (quiet host, 35:12 total).
_SLOW_TIER = [
    # extra trials of crash/replay differential families (keepers noted)
    "test_runner_crash_restart_differential.py::*[0-pre]",   # keep 2-post (the idempotent-replay killer case)
    "test_runner_crash_restart_differential.py::*[1-mid]",
    "test_runner_crash_restart_differential.py::*[3-mid]",
    "test_runner_crash_restart_differential.py::*[4-post]",
    "test_runner_crash_restart_differential.py::*[5-mid]",
    "test_routed_ddl_segment_crash_differential.py::*[0-pre]",  # keep 1-seg1, 3-ddl1 (one per crash-site kind)
    "test_routed_ddl_segment_crash_differential.py::*[2-seg2]",
    "test_routed_ddl_segment_crash_differential.py::*[4-post]",
    "test_routed_ddl_segment_crash_differential.py::*[5-seg1]",
    "test_routed_ddl_segment_crash_differential.py::*[6-ddl1]",
    "test_lsm_epoch_replay_property.py::*[1]",  # keep [0]; the compaction-inside-the-replay-window seam stays default-tier in test_replay_after_compaction_of_predecessors
    "test_lsm_epoch_replay_property.py::*[2]",
    "test_lsm_epoch_replay_property.py::*[3]",
    "test_shared_store_interleaving_differential.py::*[1]",  # keep [0]: drives the machines' _merge_epoch by hand
    "test_retract_mixed_epoch_differential.py::*[1]",
    "test_retract_mixed_epoch_differential.py::*[2]",
    "test_streaming_temporal_join.py::test_streaming_temporal_join_matches_model[1-pre]",   # keep 0-None, 2-mid
    "test_streaming_temporal_join.py::test_streaming_temporal_join_matches_model[3-post]",
    "test_crash_restart_differential.py::*[0]",  # keep [1] = the mid-epoch (post-write) phase
    "test_live_pipeline_crash_differential.py::*[3-offset]",  # keep one per site
    "test_compact_replay_window_differential.py::*[1]",
    "test_hudi_differential.py::*[1-*]",  # keep seed 0, both table modes
    "test_lsm_predicate_read_property.py::*[1]",
    "test_lsm_predicate_read_property.py::*[2]",
    "test_lsm_predicate_read_property.py::*[3]",
    "test_iceberg_differential.py::*[1]",
    "test_iceberg_differential.py::*[2]",
    "test_schema_evolution_differential.py::test_evolve_stream_vs_sequential_model[1]",
    "test_schema_evolution_differential.py::test_evolve_stream_vs_sequential_model[2]",
    "test_streaming_differential.py::test_retract_topn_vs_sequential_model[1]",
    "test_streaming_differential.py::test_retract_topn_vs_sequential_model[2]",
    "test_streaming_differential.py::test_retract_aggregate_vs_sequential_model[1]",
    "test_streaming_differential.py::test_retract_aggregate_vs_sequential_model[2]",
    "test_streaming_differential.py::test_interval_join_vs_pairwise_model[1]",  # keep [0]
    # heavyweight singles with overlapping coverage
    "test_contract_schemas.py::test_no_decimal_dtype_in_any_contract_result_schema",  # 116s full-registry sweep; the driver's own oracle gate checks result schemas per window row
    "test_datapipe.py::test_connected_components_long_chain_log_rounds",  # 47s log-round property; CC correctness held by test_connected_components_multi_hop + the oracle row
    "test_streaming.py::test_windowed_watermark_drops_late_rows",  # 27s; late-row semantic pinned by the oracle row streaming_windowed_watermark
    "test_capture_decode_property.py::test_iceberg_commits_match_replay_with_time_travel",  # 23s; iceberg covered by test_iceberg_store + differential[0] + oracle rows
    "test_capture_decode_property.py::test_sqlserver_decode_matches_replay",  # dialect replays with dedicated source suites
    "test_capture_decode_property.py::test_db2_decode_matches_replay",        # + oracle-gated decode rows
    "test_capture_decode_property.py::test_tidb_decode_matches_replay",
    "test_capture_decode_property.py::test_hudi_upsert_matches_replay",
    "test_capture_decode_property.py::test_mongodb_decode_matches_replay",
    "test_capture_decode_property.py::test_debezium_json_roundtrip_matches_replay",  # wire roundtrips held by test_kafka_segment_wire + kafka_codec oracle row
    "test_capture_decode_property.py::test_canal_json_roundtrip_matches_replay",
    "test_ttl_dedup.py::test_emission_schedule_matches_probed_semantics",  # 11s; semantic pinned by the oracle row streaming_ttl_dedup
    "test_retract_topn.py::test_epoch_retry_is_idempotent",  # 10s; idempotence held by the kept crash_restart[1] trial
    "test_analytics.py::test_q1_exact_cents_aggregation",  # 13s; exact-cents output pinned by the oracle hash of tpch_q1_pricing_summary
]


def _slow_tier_regexes():
    # NOT fnmatch: the patterns contain literal "[param]" brackets, which
    # fnmatch would parse as character classes.  `*` is the only wildcard.
    import re

    return [
        re.compile(
            "^" + "".join(
                ".*" if part == "*" else re.escape(part)
                for part in re.split(r"(\*)", pat)
            ) + "$"
        )
        for pat in _SLOW_TIER
    ]


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1":
        return
    skip_slow = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    regexes = _slow_tier_regexes()
    for item in items:
        # "file.py::test[param]": the file's basename, then the test part
        # of the id untouched (a param id may itself contain "/")
        path, _, test = item.nodeid.partition("::")
        nodeid = os.path.basename(path) + "::" + test
        if "slow" in item.keywords or any(r.match(nodeid) for r in regexes):
            item.add_marker(skip_slow)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
