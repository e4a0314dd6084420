"""The benchmark's workloads: which registered query keys one pass runs.

Every key here has a DuckDB oracle in the registry. One benchmark run
starts its own JVM, sets up five times, verifies one cold pass against
the oracles and then measures whole passes. On four cores the JVM start
and the cold pass alone take about 30 s, so each workload is cut to the
few keys that carry its layers (see README.md for the layer table).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "traj_search",
            ("traj_hausdorff_knn_2d", "traj_dtw_knn_batch"),
            "Hausdorff kNN over 2-D and batch DTW kNN over 1-D trajectories: "
            "trajectory assembly and the pandas refine kernels (MapInPandas) do the work",
        ),
        Workload(
            "interactive_mix",
            (
                "rel_scan_filter",
                "rel_agg_basic",
                "rel_join_smj",
                "rel_win_rank",
                "sim_knn",
                "traj_session_batch",
                "stream_layout_ingest",
            ),
            "short queries where fixed per-query driver cost dominates: table "
            "loads, planning, job launch and the micro-batch lifecycle",
        ),
    )
}
