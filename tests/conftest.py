import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_stream_flink_user_address_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


# ---------------------------------------------------------------------------
# Driver-completable default run (r19, VERDICT r18 ask #2).
#
# The suite grew to ~1080 tests / ~38-50 min -- past the external
# driver's verify window, so VERIFY_r18 reported tests_ok=false on a
# TIMEOUT (zero failures at cutoff).  The default collection now
# DESELECTS the measured-slowest replication/fuzz suites (durations
# measured with --durations=0 on the full run; the nine modules below
# account for ~1625 of the 2269 duration-seconds) so a plain
#
#     python -m pytest tests/ -x -q
#
# finishes in ~10 minutes.  Nothing is skipped silently: pytest
# reports the deselected count, and
#
#     SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/ -q
#
# restores full collection (how the full-suite results recorded in
# OPTIMIZATION_r19.md are produced).  Cheap structural tests inside
# the slow modules (the driver-window rotation pin, the entry smoke,
# the dtype gate, the rounding-kernel unit tests, the vector-kernel
# oracle pins, one interval-join and one property pin) stay in the
# default run via _FAST_EXCEPTIONS.
_SLOW_MODULES = {
    "test_degenerate_parity.py",        # 587s  full-registry degenerate-corpus oracle sweep
    "test_pq.py",                       # 215s  PQ/IVF-PQ kernel + index-build pins
    "test_unicode_parity.py",           # 135s  full-registry unicode oracle sweep
    "test_edge_whitespace_parity.py",   # 129s  full-registry edge-whitespace oracle sweep
    "test_relational_degenerate_parity.py",  # 126s  degenerate relational oracle sweep
    "test_oracle_parity.py",            # 120s  94-query DuckDB parity (test_query_parity only)
    "test_nonfinite_parity.py",         # 109s  NaN/Inf oracle sweep
    "test_interval_dedup.py",           # 105s  interval/incremental dedup property suite
    "test_property.py",                 #  99s  cross-operator property fuzz
}
_FAST_EXCEPTIONS = {
    "test_entry_smoke",
    "test_every_query_has_oracle_or_is_flagged",
    "test_dtype_gate_catches_uncast_hugeint",
    "test_driver_window_covers_r19_rotation",
    "test_round_half_away_matches_oracle_round",
    "test_round_half_away_property_fuzz",
    # test_pq.py: the one assignment and encode kernel vs the oracle SQL
    "test_assign_kernel_matches_oracle_sql",
    "test_pq_encode_kernel_matches_oracle_sql",
    "test_build_ivfpq_index_rejects_non_finite_vector",
    # test_interval_dedup.py: keyed interval join vs the naive cross join
    "test_interval_join_keyed",
    # test_interval_dedup.py: the shared store compactor (exact store;
    # MinHash store with an inferred id column) and the shared SimHash
    # banding
    "test_compaction_reclaims_replay_duplicates",
    "test_compaction_with_custom_id_col",
    "test_banding_is_exact_for_max_hamming",
    # test_property.py: PII redaction counts vs the placeholders left
    "test_pii_counts_match_placeholders",
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    deselect = [
        it
        for it in items
        if os.path.basename(str(it.fspath)) in _SLOW_MODULES
        and it.name.split("[")[0] not in _FAST_EXCEPTIONS
    ]
    if deselect:
        dropped = set(id(it) for it in deselect)
        items[:] = [it for it in items if id(it) not in dropped]
        config.hook.pytest_deselected(items=deselect)
