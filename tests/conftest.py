from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("UDC_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------------
# Suite tiering (r21 VERDICT "Next round #2"): the full suite passed
# 717 tests in 34 min on a contended host — past the driver's VERIFY
# window, which cut the r21 run off mid-suite and recorded
# tests_ok:false on a run with zero failures. The default tier
# (pytest.ini: -m "not slow") keeps every single-pass correctness test
# — oracle matches, plan pins, operator semantics, lease/stream
# semantics — and moves only REPETITION to the slow tier: fuzz waves,
# crash-recovery model soaks, multi-writer interleavings, and the
# end-to-end bench probe. One central rule table here instead of marks
# scattered over 15 files.
# ---------------------------------------------------------------------------

_SLOW_FILES = {
    "test_round14_fuzz3.py",   # wave-3 differential/null fuzz (~350 s)
    "test_round12_fuzz2.py",   # wave-2 differential fuzz
    "test_round16_fuzz.py",    # maintenance-window interleaving fuzz
    "test_engine_fuzz.py",     # engine config fuzz
    # state-store model suites (dedup/agg seen-stores, S3 loopback):
    # crash/restart/compaction soaks, ~6 min combined; the stores have
    # no bench/oracle surface and keep full coverage in the slow tier
    "test_s3_state.py",
    "test_dedup_state.py",
    # real-time lease semantics (sleep-based heartbeat/TTL soaks,
    # ~2 min) and hypothesis property fuzz (~50 s): repetition-heavy,
    # no query/oracle surface
    "test_store_lease.py",
    "test_casts_property.py",
}

_SLOW_NAME_PARTS = (
    "crash_fuzz",              # crash-recovery fuzz vs model (state stores)
    "differential_fuzz",       # oracle differential fuzz waves
    "null_injection_fuzz",
    "null_value_fuzz",
    "interleaved_commits",     # multi-writer soak (posix + s3)
    "two_writer_interleaved",  # store fuzz soaks
    "abort_interleaving_fuzz",
    "compaction_cadence_survives",      # restart soaks
    "no_driver_scratch_on_any_s3_merge_path",  # opcount probe
    "bench_json_tail_carries_contention_fields",  # end-to-end bench (~190 s)
    "tumbling_window_and_late_data_drop",       # real-time stream soak (~38 s)
    "stream_stream_interval_join_multi_batch",  # real-time stream soak (~24 s)
    "scaled_contract_holds_at_every_call_site",  # 24-query sweep (~100 s)
    "stream_dedup_within_watermark",            # real-time stream soak (~37 s)
    "session_window_merges_and_splits",         # real-time stream soak (~24 s)
    "stateful_running_totals_across_batches",   # real-time stream soak (~14 s)
    "streaming_compaction_cadence",             # cadence soaks (~22 s)
)


# One fast ``test_smoke_*`` per slow-only file stays in the default
# tier, so every module is touched by the default run.
_DEFAULT_TIER_PREFIX = "test_smoke_"


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = os.path.basename(str(item.fspath))
        slow_file = (fname in _SLOW_FILES
                     and not item.name.startswith(_DEFAULT_TIER_PREFIX))
        if slow_file or any(p in item.name for p in _SLOW_NAME_PARTS):
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from universal_data_connector_spark.session import get_spark
    # bounded driver heap unless the caller sets one: get_spark's 48g
    # default let a long ``-m slow`` run grow the JVM past a 16 GB
    # host's memory until the OOM killer took it
    os.environ.setdefault("SPARK_DRIVER_MEM", "6g")
    s = get_spark("udc-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from tests.oracle_harness import duck_connection
    return duck_connection(SF_DIR)
