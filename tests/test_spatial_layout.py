"""Spatial cell-key layout test — the STR-partitioning story (SURVEY.md
§4 O1/O2).

The reference keeps spatial locality with an STR partitioner + driver-side
global index over partition MBRs [P §4.2]; the engine's persistent analog
is Parquet PARTITIONED BY a grid-cell key, where Catalyst's static
partition pruning plays the global index role: a query with a cell-range
predicate must read only the matching cell directories. This test
materializes events partitioned by a value-grid cell, runs a banded
query, and asserts (1) the scan prunes partitions (PartitionFilters in
the plan + fewer files read than the full layout), (2) results equal the
unpartitioned filter.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from traj_sim_spark_spark.plans.explain import physical_plan
from traj_sim_spark_spark.tables import Tables

_CELL = 50.0  # value-axis grid step


@pytest.fixture(scope="module")
def cell_layout(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "events_by_cell")
    t = Tables(spark, sf_dir)
    (
        t.events.withColumn("cell", F.floor(F.col("value") / _CELL))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    return path


def test_cell_partition_pruning(spark, sf_dir, cell_layout):
    df = spark.read.parquet(cell_layout)
    banded = df.filter((F.col("cell") >= 2) & (F.col("cell") <= 4))
    plan = physical_plan(banded)
    assert "PartitionFilters" in plan and "cell" in plan, plan
    # the layout must really cluster by cell: reading ONLY the three
    # matching cell directories reproduces the banded result, and the
    # full layout holds strictly more directories than the band
    only_band = spark.read.option("basePath", cell_layout).parquet(
        f"{cell_layout}/cell=2",
        f"{cell_layout}/cell=3",
        f"{cell_layout}/cell=4",
    )
    assert only_band.count() == banded.count()
    import glob
    all_cells = glob.glob(f"{cell_layout}/cell=*")
    assert len(all_cells) > 3
    # equivalence with the unpartitioned predicate
    t = Tables(spark, sf_dir)
    expect = t.events.filter(
        (F.floor(F.col("value") / _CELL) >= 2)
        & (F.floor(F.col("value") / _CELL) <= 4)
    ).count()
    assert banded.count() == expect


def test_dual_index_threshold_equals_unindexed(spark, sf_dir):
    """The manifest+layout dual-index threshold search must return
    EXACTLY the unindexed full-scan result — every prune step is
    claimed lossless; this pins it end-to-end (beyond the shared
    oracle, which could in principle miss a divergence the driver's
    float normalization forgives)."""
    from traj_sim_spark_spark import registry

    registry.load_all()
    a = sorted(
        tuple(r)
        for r in registry.QUERIES["traj_hausdorff_threshold_2d"](
            spark, sf_dir
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in registry.QUERIES["traj_hausdorff_threshold_2d_idx"](
            spark, sf_dir
        ).collect()
    )
    assert a == b


def test_dual_index_knn_equals_unindexed(spark, sf_dir):
    """The kNN over the cell layout must return EXACTLY the unindexed
    full-scan top-k."""
    from traj_sim_spark_spark import registry

    registry.load_all()
    a = sorted(
        tuple(r)
        for r in registry.QUERIES["traj_hausdorff_knn_2d"](
            spark, sf_dir
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in registry.QUERIES["traj_hausdorff_knn_2d_idx"](
            spark, sf_dir
        ).collect()
    )
    assert a == b
