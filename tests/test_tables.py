"""Table loads read the footer-typed schema and launch no Spark job.

``tables.file_schema`` must equal the schema Spark's own inference read
gives, on every fixture table and on the encodings ``load`` branches on
(pandas-default TIMESTAMP(NANOS) events, a Spark-written directory
root). Building any query then runs no schema-inference job.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from traj_sim_spark_spark import tables

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _inferred_events(spark, path):
    """The pre-footer loader: Spark's inference read, then the ts branch
    on the inferred type."""
    df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("scale", ("sf0.001", "sf0.01", "sf0.1"))
@pytest.mark.parametrize("name", tables.TABLE_NAMES)
def test_file_schema_equals_inferred_schema(spark, sf_dir, scale, name):
    """Every fixture table at each scale (the fixture scales sit side by
    side with the test scale's directory)."""
    path = os.path.join(os.path.dirname(sf_dir.rstrip("/")), scale, f"{name}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no fixture {path}")
    assert tables.file_schema(path) == spark.read.parquet(path).schema


def _nanos_events(n: int = 40) -> pd.DataFrame:
    rng = np.random.default_rng(7)
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            # datetime64[ns]: pandas' default parquet write keeps
            # TIMESTAMP(NANOS)
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10**12, n) * 1000, unit="ns"),
            "user_id": rng.integers(1, 6, n).astype("int64"),
            "event_type": rng.choice(["view", "click"], n),
            "value": np.round(rng.uniform(0, 100, n), 2),
            "props": ['{"k": 1}'] * n,
        }
    )


def test_nanos_events_load_matches_inference_read(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    _nanos_events().to_parquet(path)
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    schema = tables.file_schema(path)
    assert schema == spark.read.parquet(path).schema
    assert schema["ts"].dataType == T.LongType()
    got = tables.load(spark, str(tmp_path), "events")
    want = _inferred_events(spark, path)
    assert got.schema == want.schema
    assert got.schema["ts"].dataType == T.TimestampType()
    assert _rows(got) == _rows(want)


def test_directory_root_load_matches_inference_read(spark, sf_dir, tmp_path):
    path = str(tmp_path / "events.parquet")
    tables.load(spark, sf_dir, "events").repartition(2).write.parquet(path)
    data = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(data) == 2
    assert tables.file_schema(path) == spark.read.parquet(path).schema
    got = tables.load(spark, str(tmp_path), "events")
    want = _inferred_events(spark, path)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    assert _rows(got.select("ts")) == _rows(
        tables.load(spark, sf_dir, "events").select("ts")
    )


def test_required_columns_read_nullable(spark, tmp_path):
    """A file-source read makes every field nullable, REQUIRED parquet
    columns and list elements included."""
    path = str(tmp_path / "embeddings.parquet")
    item = pa.field("item", pa.float32(), nullable=False)
    schema = pa.schema(
        [
            pa.field("vec_id", pa.int64(), nullable=False),
            pa.field("embedding", pa.list_(item), nullable=False),
        ]
    )
    table = pa.table({"vec_id": [1, 2], "embedding": [[1.0], [2.0, 3.0]]}, schema=schema)
    pq.write_table(table, path)
    assert tables.file_schema(path) == spark.read.parquet(path).schema


def test_events_missing_column_raises(spark, tmp_path):
    pq.write_table(
        pa.Table.from_pandas(_nanos_events().drop(columns="props")),
        str(tmp_path / "events.parquet"),
    )
    with pytest.raises(ValueError, match="props"):
        tables.load(spark, str(tmp_path), "events")


def _workload_keys() -> list[str]:
    spec = importlib.util.spec_from_file_location(
        "perfbench_workloads", os.path.join(_ROOT, "perfbench", "workloads.py")
    )
    mod = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return sorted({k for w in mod.WORKLOADS.values() for k in w.keys})


_KNN_KEYS = [
    f"traj_{m}_knn{b}{v}"
    for m in ("dtw", "frechet", "erp", "lcss", "edr")
    for b in ("", "_batch")
    for v in ("", "_2d")
] + [
    f"traj_dtw_knn{b}_banded{v}" for b in ("", "_batch") for v in ("", "_2d")
] + [
    "traj_hausdorff_knn_2d_batch",
    "traj_hausdorff_knn",
    "traj_hausdorff_knn_batch",
    "traj_hausdorff_segments_knn_2d",
    "traj_hausdorff_segments_knn_batch_2d",
]
_THRESHOLD_KEYS = [
    f"traj_{m}_threshold{v}"
    for m in ("dtw", "frechet", "erp", "lcss", "edr")
    for v in ("", "_2d")
] + [
    "traj_dtw_threshold_banded",
    "traj_hausdorff_threshold_2d",
    "traj_hausdorff_threshold",
    "traj_hausdorff_segments_threshold_2d",
]
# the pair rows and the other rows that assemble or project onto a
# trajectory plane (``planes.py``)
_PLANE_KEYS = [
    f"traj_{m}_pair{v}"
    for m in ("dtw", "lcss", "edr", "erp")
    for v in ("", "_2d")
] + [
    "traj_frechet_pair_2d",
    "traj_hausdorff_pair_2d",
    "traj_hausdorff_segments",
    "traj_hausdorff_segments_knn",
    "traj_hausdorff_segments_threshold",
    "traj_hausdorff_segments_pair_2d",
    "traj_range_segments_2d",
    "traj_range_query_2d",
    "traj_simplify_dp",
    "traj_assemble",
    "udtf_segmentize",
]


@pytest.mark.parametrize(
    "key",
    sorted({*_workload_keys(), *_KNN_KEYS, *_THRESHOLD_KEYS, *_PLANE_KEYS}),
)
def test_build_launches_no_jobs(key, spark, sf_dir):
    """Building a benchmark-workload key, a kNN row, a DP-family or
    Hausdorff threshold row, or a pair or segment row runs no Spark
    job: table loads read the footer schema instead of inferring it,
    and the rows are one lazy plan (no query-length count or bound
    phase in the builder, no checkpoint of the query side). A streaming
    key's micro-batches run under the stream's own job group."""
    assert _build_jobs(spark, sf_dir, key) == 0


def _build_jobs(spark, sf_dir: str, key: str) -> int:
    """The Spark jobs that building ``key``'s DataFrame launches, counted
    under a job group of its own."""
    from traj_sim_spark_spark import registry

    registry.load_all()
    sc = spark.sparkContext
    group = f"build-{key}"
    sc.setJobGroup(group, key)
    try:
        registry.QUERIES[key](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "key, max_jobs",
    [
        ("traj_hausdorff_knn_2d_idx", 0),
        ("traj_hausdorff_segments_knn_2d_idx", 0),
        ("traj_hausdorff_threshold_2d_idx", 1),
        ("traj_hausdorff_segments_threshold_2d_idx", 1),
    ],
)
def test_idx_build_jobs_with_index_built(key, max_jobs, spark, sf_dir):
    """With the cell layout and the user manifest already built, a
    dual-index row reads them with their footer schemas and runs no
    job, except the threshold rows' one fetch of the query user's
    manifest row, which fixes their value band."""
    from traj_sim_spark_spark.operators.trajectory import (
        _write_cell_layout,
        _write_user_manifest,
    )

    _write_cell_layout(spark, sf_dir)
    _write_user_manifest(spark, sf_dir)
    assert _build_jobs(spark, sf_dir, key) <= max_jobs
