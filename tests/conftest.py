import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


#: Heavy tests excluded from the DEFAULT run (pytest.ini deselects
#: `-m "not slow"`) so the full suite fits a CI/verify window (r12,
#: VERDICT r11 #2: the suite had grown past the driver's pytest budget
#: and an unfinished verify run is an unverified round).  Selection
#: rule: soak/property reps, multi-session A/B parity tests, and the
#: heavier params of parametrized families — every marked test keeps a
#: faster unmarked sibling covering the same operator/protocol, and
#: the driver's 50-query oracle independently pins every declared
#: result.  Run them with:  pytest tests/ -m slow   (or the whole
#: suite with  -m "slow or not slow").
_SLOW = (
    # incremental dedup: heavy protocol reps (ngram siblings kept)
    "TestEmbeddingIncremental::test_reconcile_and_param_guards",
    "TestEmbeddingIncremental::test_cap_active_incremental_is_superset",
    "TestEmbeddingIncremental::test_replayed_probe_matches_first_run",
    "TestEmbeddingIncremental::test_incremental_equals_full_rebuild[7-4]",
    "TestMinHashIncremental::test_incremental_equals_full_rebuild[5-4]",
    "TestNgramIncremental::test_incremental_equals_full_rebuild[3-5]",
    "TestNgramIncremental::test_incremental_equals_full_rebuild[2-3]",
    "TestTaggedAppend::test_tagged_append_is_idempotent",
    "TestBatchBroadcastOff::test_ngram_and_embedding_identical",
    "TestIndexCompact::test_compact_folds_appends_probe_identical",
    # streaming near-dup: the n-gram modality stays as the protocol
    # representative; minhash/embedding share the sequential protocol
    "TestStreamingNearDupEmbedding::test_matches_sequential_protocol_and_expectation",
    "TestStreamingNearDupMinhash::test_matches_sequential_protocol_and_expectation",
    "TestEmbeddingAutoLadder::test_stream_climbs_rung_and_stays_green",
    "TestSurvivorCompaction::test_compacted_stream_matches_uncompacted",
    # multi-arm / A/B parity heavies (both arms re-run per test)
    "TestDedup::test_minhash_small_and_big_arms_identical",
    "TestDedup::test_minhash_banding_matches_fold_reference",
    "TestDedup::test_simhash_votes_fast_path_matches_join_path",
    "TestTextOps::test_sliding_join_matches_transform_reference",
    "TestTextOps::test_fingerprint_matches_per_position_reference",
    "TestConnectedComponents::test_collect_path_matches_distributed[100]",
    # soaks (atomicity/race siblings without the rep loops stay)
    "TestStoreMaintenance::test_promapi_concurrency_soak",
    "TestStoreMaintenance::test_http_write_query_compact_soak",
    "TestServerRetention::test_tier_soak_archive_never_flickers",
    # fuzz/property/metamorphic rep tails (representatives kept)
    "test_any_interleaving_equals_from_scratch[2]",
    "test_any_interleaving_equals_from_scratch[3]",
    "test_any_interleaving_equals_from_scratch[4]",
    "test_any_interleaving_equals_from_scratch[5]",
    "TestCachedEqualsDirect::test_instant_cached_equals_direct_and_hits",
    "test_per_step_independence_property[topk(2, sum by (i, j) (m))]",
    "test_per_step_independence_property[avg_over_time(m[9m]) + scalar(count(m))]",
    "test_per_step_independence_property[sum by (i) (m)]",
    "test_advancing_instants_match[9]",
    "test_pack_prepend_shift_and_append_stability[1]",
    "test_pack_prepend_shift_and_append_stability[2]",
    "test_pack_prepend_shift_and_append_stability[3]",
    "test_pack_greedy_randomized_property",
    # heaviest reference-corpus replays (the remaining five corpus
    # files, test_golden and the oracle stay in the default run)
    "test_upstream_corpus[legacy.test]",
    "test_upstream_corpus[functions.test]",
    "test_upstream_corpus[staleness_lookback.test]",
    "test_upstream_corpus[operators.test]",
    "TestCachedEqualsDirect::test_envelopes_identical[7.5]",
)

#: Seed-fuzz families: the property is checked by the KEPT low seeds
#: every run; the seed tail moves to the slow tier (same property,
#: more random draws).
_SEED_TAILS = (
    (re.compile(r"test_per_step_independence\[(\d+)\]$"), 8),
    (re.compile(r"test_offset_shift\[(?:90|420)-(\d+)\]$"), 6),
    (re.compile(r"test_same_answer_from_all_physical_sources\[(\d+)\]$"), 6),
    (re.compile(r"test_advancing_dashboard_envelopes_match\[(\d+)\]$"), 4),
)


def _is_slow(nodeid: str) -> bool:
    """An exact match on the trailing node-id parts: an entry with a
    param id names that one case, an entry without names every case of
    its test — never a test whose name merely contains the entry."""
    bare = nodeid.split("[", 1)[0]
    return any(
        (nodeid if "[" in pat else bare).endswith("::" + pat) for pat in _SLOW
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        if _is_slow(item.nodeid):
            item.add_marker(pytest.mark.slow)
            continue
        for rx, keep_below in _SEED_TAILS:
            m = rx.search(item.nodeid)
            if m and int(m.group(1)) >= keep_below:
                item.add_marker(pytest.mark.slow)
                break


def _test_cores() -> int:
    """Core count for the shared test session.  The suite is hundreds
    of small Spark jobs over tiny frames, so its wall is stage-wave
    latency: with shuffle.partitions=8 a 4-core master runs every
    exchange in 2+ waves.  Default to enough cores for one wave
    (capped — beyond ~12 the scheduler overhead wins), overridable via
    TIMBALA_TEST_CPUS for constrained CI boxes."""
    env = int(os.environ.get("TIMBALA_TEST_CPUS", "0"))
    if env > 0:
        return env
    return max(4, min(12, os.cpu_count() or 4))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    # NOTE (r12 negative result): disabling whole-stage codegen for the
    # test session was measured 1.65x WORSE on test_golden.py (194 ->
    # 320 s) — the suite's plans are small but evaluate enough rows
    # that interpreted execution loses more than janino compile saves.
    spark = (
        SparkSession.builder.master(f"local[{_test_cores()}]")
        .appName("timbala-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()
