from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from traj_sim_spark_spark.session import get_session  # noqa: E402

SF_TEST = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Fast tier (driver verify budget) — see pytest.ini.
#
# The `slow` marker is ASSIGNED HERE, not in the test files, so the tier
# stays declarative and in one place.  Policy: the fast tier keeps every
# hand-written kernel/twin/property test and, for the three full-registry
# parametrized sweeps (oracle, plan audit, partition invariance), the
# subset covering the driver's bench-tracked keys (bench.HEADLINE +
# bench.HEAVY — imported, so the tier tracks the bench list).  Everything
# else in those sweeps, plus the minutes-long degenerate-corpus skew
# sweeps and the batch-vs-single-query equivalence re-runs, is `slow`.
# SPARK_GRAFT_FULL_TESTS=1 disables the assignment entirely (full run).
# ---------------------------------------------------------------------------


def _bench_keys() -> set[str]:
    import bench

    return set(bench.HEADLINE) | set(bench.HEAVY)


_SLOW_FILES = {"test_skew.py"}
# full-registry sweeps where only the bench-key subset of the
# parametrized cases stays fast (their hand-written audits stay fast too)
_SWEEP_FILES = {
    "test_oracle.py",
    "test_plans.py",
}
# partition invariance re-runs each query at several partition counts —
# too heavy per key for the fast tier; keep the keys whose execution was
# rewritten into hand-rolled Arrow kernels (the partition-sensitive risk)
_INVARIANCE_FAST = {
    "traj_segment_intersections",
    "traj_hausdorff_knn_2d",
    "traj_viterbi_map_match",
    "text_setsim_prefix_join",
    "pipe_neardup_dedup",
    "mm_phash_nn",
    "graph_adamic_adar",
    "traj_dtw_knn_batch",
    "traj_dtw_knn_batch_2d",
    "traj_edr_knn_batch_2d",
    "pipe_dedup_funnel",
    "traj_edr_threshold",
    "traj_dtw_threshold_2d",
    "traj_hausdorff_knn_2d_batch",
    "traj_hausdorff_threshold_2d",
    "traj_hausdorff_knn",
    "traj_hausdorff_threshold",
    "traj_hausdorff_knn_batch",
    "traj_hausdorff_segments_knn_2d",
    "traj_hausdorff_segments_knn_batch_2d",
    "traj_hausdorff_segments_threshold_2d",
    "traj_hausdorff_knn_2d_idx",
    "traj_hausdorff_threshold_2d_idx",
    "traj_hausdorff_segments_knn_2d_idx",
    "traj_hausdorff_segments_threshold_2d_idx",
}
# individually minutes-scale tests whose subject is re-certified by the
# oracle gate anyway (numpy-reference dups, batch-vs-single re-runs)
_SLOW_TESTS = {
    "test_emb_kmeans_matches_numpy_lloyd",
    "test_sim_knn_pq_matches_numpy_reference",
    "test_dp_searches_match_duckdb_recursion",
    "test_dp_searches_2d_match_duckdb_recursion",
}
_SLOW_PREFIXES = (
    # extras12/13 batch-vs-single equivalence re-runs (~6 s each)
    "test_dtw_batch",
    "test_frechet_batch",
    "test_erp_batch",
    "test_edr_batch",
    "test_lcss_batch",
    "test_dtw_banded_batch",
)


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    keys = _bench_keys()
    slow = pytest.mark.slow
    for item in items:
        fname = os.path.basename(str(item.fspath))
        base = item.name.split("[", 1)[0]
        # parametrized id is the query key (e.g. ...[traj_resample])
        param = (
            item.name.split("[", 1)[1].rstrip("]")
            if "[" in item.name
            else ""
        )
        if (
            fname in _SLOW_FILES
            or base in _SLOW_TESTS
            or base.startswith(_SLOW_PREFIXES)
            or (fname in _SWEEP_FILES and param and param not in keys)
            or (
                fname == "test_partition_invariance.py"
                and param not in _INVARIANCE_FAST
            )
        ):
            item.add_marker(slow)


@pytest.fixture(scope="session")
def spark():
    s = get_session("pytest", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_TEST
