"""Physical-plan audits — the 100 TB design gates (SURVEY.md §4).

Correctness says the answer is right; these tests say the PLAN is the
one that survives a 1000-executor cluster: predicates pushed into scans,
scans column-pruned, small dims broadcast, and no unbounded cartesian
product anywhere in the registered surface.
"""

from __future__ import annotations

import pytest

from traj_sim_spark_spark import registry
from traj_sim_spark_spark.plans import explain

registry.load_all()

# queries whose plans legitimately contain a (bounded) cross join:
# 1-row aggregate or 1-row query-vector sides under BroadcastNLJ.
_BOUNDED_CROSS_OK = {
    "sim_pair_distance",
    "rel_join_theta_band",
    "sim_knn",
    "sim_knn_ivf",
    "traj_hausdorff_pair",
    "traj_frechet_knn",
    "traj_dtw_pair",
    "text_tfidf",
    "mm_multimodal_join",
}

# streaming queries execute eagerly inside the builder; plan audits here
# cover the batch surface.
_SKIP = {k for k in registry.QUERIES if k.startswith("stream_")}


def test_scan_filter_is_pushed(spark, sf_dir):
    df = registry.QUERIES["rel_scan_filter"](spark, sf_dir)
    assert explain.has_pushed_filters(df), explain.physical_plan(df)


def test_scan_project_prunes_columns(spark, sf_dir):
    df = registry.QUERIES["rel_scan_project"](spark, sf_dir)
    cols = set(explain.scan_read_schema(df))
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"}, cols


def test_small_dim_join_broadcasts(spark, sf_dir):
    df = registry.QUERIES["rel_join_broadcast"](spark, sf_dir)
    assert explain.has_broadcast_join(df), explain.physical_plan(df)


def test_knn_broadcasts_query_side(spark, sf_dir):
    df = registry.QUERIES["sim_knn"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "Broadcast" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    df = registry.QUERIES["rel_topk_global"](spark, sf_dir)
    assert "TakeOrderedAndProject" in explain.physical_plan(df)


def test_pruned_range_query_has_partition_filters(spark, sf_dir):
    """The layout-backed range query must prune cell partitions at the
    scan — the reference's global-index pruning [P §4.2], persistent."""
    df = registry.QUERIES["traj_range_query_2d_pruned"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "PartitionFilters" in plan and "cell" in plan, plan
    assert "PartitionFilters: []" not in plan, plan


@pytest.mark.parametrize(
    "key",
    [
        "traj_hausdorff_knn",
        "traj_hausdorff_knn_batch",
        "traj_hausdorff_threshold",
        "traj_hausdorff_knn_2d",
        "traj_hausdorff_knn_2d_batch",
        "traj_hausdorff_threshold_2d",
        "traj_hausdorff_segments_knn_2d",
        "traj_hausdorff_segments_knn_batch_2d",
        "traj_hausdorff_segments_threshold_2d",
    ],
)
def test_hausdorff_search_is_one_arrow_pass(key, spark, sf_dir):
    """Every Hausdorff search (1-D and 2-D point sets, 2-D segment
    paths) runs the one search kernel: exactly one MapInPandas pass
    over the corpus paired with the BROADCAST query sets or paths,
    with no join gating the probe side."""
    import re

    plan = explain.physical_plan(registry.QUERIES[key](spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan


@pytest.mark.parametrize(
    "key", sorted(k for k in registry.QUERIES if k not in _SKIP)
)
def test_no_unbounded_cartesian(key, spark, sf_dir):
    df = registry.QUERIES[key](spark, sf_dir)
    n = explain.cartesian_products(df)
    if key in _BOUNDED_CROSS_OK:
        return  # cross joins here are against 1-row/broadcast sides
    assert n == 0, f"{key}: CartesianProduct in plan\n{explain.physical_plan(df)}"


def test_bucketed_join_has_single_exchange(spark, sf_dir):
    """rel_bucketed_join: both sides bucketed by the join key, so the
    sort-merge join itself must be shuffle-free — the ONLY Exchange in
    the plan is the final 4-row aggregate's."""
    df = registry.QUERIES["rel_bucketed_join"](spark, sf_dir)
    plan = explain.physical_plan(df)
    n_exchange = plan.count("Exchange")
    assert n_exchange <= 2, f"join side shuffled:\n{plan}"
    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan


def test_clean_pipeline_single_plan(spark, sf_dir):
    """pipe_clean_corpus composes quality gate -> dedup -> accounting in
    one declarative plan: the quality filter must sit below the dedup
    window shuffle (Catalyst pipelines the stages), and nothing in the
    plan is a Python row-at-a-time eval."""
    df = registry.QUERIES["pipe_clean_corpus"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "BatchEvalPython" not in plan, plan
    assert "Window" in plan, plan


def test_ivf_layout_scan_is_partition_pruned(spark, sf_dir):
    """emb_layout_ivf answers the nprobe=2 kNN from the cell-partitioned
    layout: the layout scan must carry non-empty PartitionFilters (the
    IVF-index-as-partition-pruning claim, made physical)."""
    df = registry.QUERIES["emb_layout_ivf"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "PartitionFilters" in plan, plan
    assert "PartitionFilters: []" not in plan, plan


def test_comovement_joins_on_day_and_cell(spark, sf_dir):
    """traj_comovement's pair join must key on BOTH the day bucket and
    the eps-value cell (the banded equi-join that bounds per-key
    fan-out); the eps band itself stays a post-join filter."""
    df = registry.QUERIES["traj_comovement"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "dy" in plan and "cell" in plan, plan


def test_mix_sources_broadcasts_count_dims(spark, sf_dir):
    """pipe_mix_sources joins the corpus to two tiny count dimensions —
    both must broadcast (no data-sized shuffle before the keep filter)."""
    df = registry.QUERIES["pipe_mix_sources"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert plan.count("Broadcast") >= 2, plan


def test_rollup_hypertable_scans_raw_once(spark, sf_dir):
    """The continuous-aggregate chain computes day from hour and total
    from day: exactly ONE parquet scan of events may appear in the
    plan (three scans would mean each grain re-read the raw data)."""
    df = registry.QUERIES["rel_rollup_hypertable"](spark, sf_dir)
    plan = explain.physical_plan(df)
    # formatted explain lists every node twice (tree + detail section)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "Expand" in plan, plan


def test_cms_probe_is_broadcast_and_topk(spark, sf_dir):
    """sketch_cms_topk: the 1024-cell sketch probes via broadcast joins
    and the final top-10 is TakeOrderedAndProject, not a global sort."""
    df = registry.QUERIES["sketch_cms_topk"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "Broadcast" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_funnel_shuffles_only_on_user(spark, sf_dir):
    """rel_funnel: every Exchange in the plan hashes on user_id — the
    three stage aggregates and the two left joins reuse one key."""
    import re as _re

    df = registry.QUERIES["rel_funnel"](spark, sf_dir)
    plan = explain.physical_plan(df)
    for m in _re.finditer(r"Exchange hashpartitioning\(([^,]+),", plan):
        assert "user_id" in m.group(1), plan


def test_interval_overlap_is_day_bucketed(spark, sf_dir):
    """rel_join_interval_overlap must pair sessions through the day
    equi-key (SortMergeJoin/ShuffledHashJoin on dy), never a raw
    interval theta join."""
    df = registry.QUERIES["rel_join_interval_overlap"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "dy" in plan, plan


def test_partitioned_sink_scan_prunes_partitions(spark, sf_dir):
    """sink_partitioned_roundtrip's re-read must resolve the event_type
    predicate as a PartitionFilter on the directory keys, not a data
    filter over row groups."""
    df = registry.QUERIES["sink_partitioned_roundtrip"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "PartitionFilters" in plan, plan
    assert "PartitionFilters: []" not in plan, plan


def test_dual_index_threshold_has_partition_filters(spark, sf_dir):
    """The dual-index (manifest + cell layout) threshold search must
    prune cell partitions at the layout scan — the persistent
    global-index architecture [P §4.1-4.2] end-to-end."""
    df = registry.QUERIES["traj_hausdorff_threshold_2d_idx"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "PartitionFilters" in plan and "cell" in plan, plan
    assert "PartitionFilters: []" not in plan, plan


def test_stream_layout_ingest_read_prunes_band_partitions(spark, sf_dir):
    """The stream-grown layout's read path must prune band partitions at
    the scan, same as the bulk-built layout — index maintenance under
    ingest keeps the pruning contract from the first commit."""
    df = registry.QUERIES["stream_layout_ingest"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "PartitionFilters" in plan and "band" in plan, plan
    assert "PartitionFilters: []" not in plan, plan


def test_pagerank_dispatch_broadcast_vs_shuffle(spark, sf_dir, monkeypatch):
    """The PageRank rank-table join must be cost-dispatched: broadcast
    hint below the node threshold (map-side Jacobi step), NO broadcast
    hint above it (src-keyed shuffle join survives where a forced
    broadcast would OOM at hundreds of millions of nodes). Both
    branches must produce identical fixed-point bits."""
    got_b = registry.QUERIES["graph_pagerank"](spark, sf_dir).collect()
    monkeypatch.setenv("SPARK_GRAFT_PR_BCAST_MAX_NODES", "0")
    got_s = registry.QUERIES["graph_pagerank"](spark, sf_dir).collect()
    assert [tuple(r) for r in got_b] == [tuple(r) for r in got_s]


def test_q1_sum_dispatch_branches_agree(spark, sf_dir, monkeypatch):
    """rel_agg_basic's exact-sum dispatch (bigint micro-units below the
    overflow-safe row threshold, DECIMAL above) must produce identical
    displayed values from both branches: both accumulate the same exact
    <=6-dp rationals, and ROUND(,6) collapses the two double conversion
    paths onto the same decimal."""
    from traj_sim_spark_spark.operators import aggregates as agg

    got_big = registry.QUERIES["rel_agg_basic"](spark, sf_dir).collect()
    monkeypatch.setattr(agg, "_Q1_BIGINT_MAX_ROWS", 0)
    got_dec = registry.QUERIES["rel_agg_basic"](spark, sf_dir).collect()
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert key(got_big) == key(got_dec)


def test_segment_threshold_idx_prunes_partitions(spark, sf_dir):
    """The dual-index segment threshold search must read the layout
    with static PartitionFilters on the cell directories (the global-
    index prune made persistent)."""
    df = registry.QUERIES["traj_hausdorff_segments_threshold_2d_idx"](
        spark, sf_dir
    )
    plan = explain.physical_plan(df)
    assert "PartitionFilters" in plan and "cell" in plan, plan
    assert "PartitionFilters: []" not in plan, plan


def test_knn_idx_is_one_arrow_pass_over_the_layout(spark, sf_dir):
    """Each dual-index kNN row is its scan twin's one search-kernel pass
    read from the cell layout: the plan scans ``events_by_cell`` and
    holds exactly one MapInPandas."""
    import re

    for key in (
        "traj_hausdorff_knn_2d_idx",
        "traj_hausdorff_segments_knn_2d_idx",
    ):
        plan = explain.physical_plan(registry.QUERIES[key](spark, sf_dir))
        assert "events_by_cell" in plan, plan
        n = len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M))
        assert n == 1, plan


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """Under the pinned confs, the optimizer must inject the runtime
    Bloom filter: a bloom_filter_agg over the selective orders slice
    and a might_contain probe pushed into the lineitem scan side."""
    from traj_sim_spark_spark.operators.extras3 import (
        _bloom_confs,
        _bloom_join,
    )

    with _bloom_confs(spark):
        plan = explain.physical_plan(_bloom_join(spark, sf_dir))
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan
    # and the registered query returns the materialized (1-row) result
    out = registry.QUERIES["rel_bloom_runtime"](spark, sf_dir)
    assert out.count() == 1


def test_grid_layout_prunes_both_axes(spark, sf_dir):
    """The 2-D grid-layout windowed range query must carry static
    PartitionFilters on BOTH partition dimensions (day and value
    band)."""
    df = registry.QUERIES["traj_range_window_2d_idx"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "PartitionFilters" in plan, plan
    assert "dcell" in plan and "vcell" in plan, plan
    assert "PartitionFilters: []" not in plan, plan


def test_zorder_probe_pushes_both_rectangle_predicates(spark, sf_dir):
    """The Z-order rectangle probe must push BOTH dimension predicates
    into the Parquet scan (PushedFilters on dcell and vcell) — that is
    what lets row-group min/max stats skip z-runs outside the
    rectangle; no directory partitioning exists on this layout by
    design."""
    df = registry.QUERIES["traj_zorder_layout"](spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "PushedFilters" in plan, plan
    assert "dcell" in plan and "vcell" in plan, plan
    # the probe scan must not fall back to post-scan-only filtering
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("dcell" in p and "vcell" in p for p in pushed), plan
