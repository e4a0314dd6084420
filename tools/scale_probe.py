"""Local scale probe: clone the fixtures N-fold and re-run chosen
queries, so scaling behavior (and scale-only edge bugs) surface without
a cluster.

Methodology (matches the BASELINE.md "20x local scale probe" section):
``events`` is cloned with user_id/event_id offsets (every clone keeps
its intra-user structure, so per-user operators see N times the users),
``documents``/``embeddings`` with doc_id/vec_id offsets; the other
(dimension) tables copy through unchanged. Queries then run against the
cloned sf dir exactly as against a real one — same Tables loaders, same
plans. The probe that built BASELINE's table found a real divide-by-zero
(kNN tau=0 with >= k exact clones) that no fixture-scale test hit.

Usage:
    python tools/scale_probe.py [factor] [sf_dir] [key ...]
    # default: factor=20, sf_dir=/root/testdata/sf0.1, keys = a
    # linear/window/join representative set

Prints one JSON line: {"factor": N, "queries": {key: sec}, ...}.
Timings are MIN of 2 noop-sink runs after one untimed noop-sink run of
the same key, so no key's time carries the fresh JVM's and Python
workers' warm-up (bench.py's convention: warm up untimed, then take the
min of N).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from traj_sim_spark_spark import registry  # noqa: E402
from traj_sim_spark_spark.session import get_session  # noqa: E402
from traj_sim_spark_spark.tables import TABLE_NAMES  # noqa: E402

DEFAULT_KEYS = [
    "rel_agg_basic",
    "rel_win_rank",
    "rel_join_smj",
    "traj_session_batch",
    "text_boilerplate",
    "rel_seasonal_anomaly",
    "traj_grid_dbscan",
    "pipe_quality_prune",
]

# id-space stride between clones; larger than any fixture id
_STRIDE = 10_000_000


def build_clone(src_dir: str, factor: int) -> str:
    """Materialize the N-fold clone under /tmp, keyed by (src, factor);
    reused if already present."""
    tag = os.path.basename(src_dir.rstrip("/"))
    out = f"/tmp/spark_graft_scale/{tag}_x{factor}"
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    # k as BIGINT: at factor >= 215 the k * stride offset overflows
    # INT32 if k keeps DuckDB's default integer literal type
    clones = ", ".join(f"CAST({i} AS BIGINT)" for i in range(factor))
    con.execute(
        f"""
        COPY (
            SELECT event_id + g.k * {_STRIDE} AS event_id, ts,
                   user_id + g.k * {_STRIDE} AS user_id,
                   event_type, value, props
            FROM read_parquet('{src_dir}/events.parquet'),
                 (SELECT UNNEST([{clones}]) AS k) g
        ) TO '{out}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT doc_id + g.k * {_STRIDE} AS doc_id, text, lang, source,
                   n_chars
            FROM read_parquet('{src_dir}/documents.parquet'),
                 (SELECT UNNEST([{clones}]) AS k) g
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT vec_id + g.k * {_STRIDE} AS vec_id, embedding, label
            FROM read_parquet('{src_dir}/embeddings.parquet'),
                 (SELECT UNNEST([{clones}]) AS k) g
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    for t in TABLE_NAMES:
        if t in ("events", "documents", "embeddings"):
            continue
        shutil.copyfile(
            os.path.join(src_dir, f"{t}.parquet"),
            os.path.join(out, f"{t}.parquet"),
        )
    with open(marker, "w") as f:
        f.write("ok\n")
    return out


def _noop_run(spark, key: str, sf_dir: str) -> float:
    """Seconds to run ``key`` end to end into the noop sink."""
    t0 = time.time()
    registry.QUERIES[key](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    return time.time() - t0


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    keys = sys.argv[3:] or DEFAULT_KEYS
    registry.load_all()
    clone = build_clone(src, factor)
    spark = get_session("scale_probe")
    timings: dict[str, float] = {}
    fails: dict[str, str] = {}
    for key in keys:
        try:
            _noop_run(spark, key, clone)  # untimed warm-up
            timings[key] = round(
                min(_noop_run(spark, key, clone) for _ in range(2)), 3
            )
        except Exception as e:  # noqa: BLE001
            fails[key] = f"{type(e).__name__}: {e}"
    print(
        json.dumps(
            {
                "factor": factor,
                "src": src,
                "clone": clone,
                "queries": timings,
                "failures": fails,
            }
        )
    )


if __name__ == "__main__":
    raise SystemExit(main())
