"""Two-phase equivalence (SURVEY.md §5.2-4): every pruned similarity
query must equal its unpruned brute-force twin — the reference's own
validation idea (indexed solutions vs BF* mains, R16), automated.
"""

from __future__ import annotations

import numpy as np

from traj_sim_spark_spark import registry
from traj_sim_spark_spark.functions import kernels
from traj_sim_spark_spark.tables import Tables

registry.load_all()


def _series_by_user(spark, sf_dir):
    t = Tables(spark, sf_dir)
    rows = t.user_points().select("user_id", "seq", "value").collect()
    out: dict[int, list[tuple[int, float]]] = {}
    for r in rows:
        out.setdefault(r["user_id"], []).append((r["seq"], r["value"]))
    return {
        u: np.asarray([v for _, v in sorted(pts)], dtype=np.float64)
        for u, pts in out.items()
    }


def test_frechet_knn_two_phase_is_exact(spark, sf_dir):
    """The Hausdorff-lower-bound pruned kNN must return exactly the
    brute-force top-k (refine every user, no pruning)."""
    series = _series_by_user(spark, sf_dir)
    q = series[1]
    brute = sorted(
        (round(kernels.frechet(s, q), 6), u)
        for u, s in series.items()
        if u != 1
    )[:10]
    pruned = registry.QUERIES["traj_frechet_knn"](spark, sf_dir).collect()
    got = [(r["frechet"], r["user_id"]) for r in pruned]
    assert got == brute, f"two-phase != brute force:\n{got}\n{brute}"


def test_hausdorff_knn_matches_kernel(spark, sf_dir):
    """The SQL Hausdorff (set semantics over distinct values) must equal
    the NumPy kernel (multiplicities are distance-irrelevant)."""
    series = _series_by_user(spark, sf_dir)
    q = series[1]
    brute = sorted(
        (round(kernels.hausdorff(s, q), 6), u)
        for u, s in series.items()
        if u != 1
    )[:10]
    got = [
        (r["hausdorff"], r["user_id"])
        for r in registry.QUERIES["traj_hausdorff_knn"](spark, sf_dir).collect()
    ]
    assert got == brute


def test_dtw_knn_two_phase_is_exact(spark, sf_dir):
    """Same exactness claim for the DTW kNN (Fréchet lb is a DTW lb)."""
    series = _series_by_user(spark, sf_dir)
    q = series[1]
    brute = sorted(
        (round(kernels.dtw(s, q), 6), u)
        for u, s in series.items()
        if u != 1
    )[:10]
    got = [
        (r["dtw"], r["user_id"])
        for r in registry.QUERIES["traj_dtw_knn"](spark, sf_dir).collect()
    ]
    assert got == brute, f"two-phase != brute force:\n{got}\n{brute}"


def test_frechet_threshold_two_phase_is_exact(spark, sf_dir):
    """The lb-gated, tau-abandoning threshold search must return exactly
    the users whose true Fréchet distance is <= tau."""
    from traj_sim_spark_spark.operators.trajectory import _FRECHET_TAU

    series = _series_by_user(spark, sf_dir)
    q = series[1]
    brute = sorted(
        (u, round(kernels.frechet(s, q), 6))
        for u, s in series.items()
        if u != 1 and kernels.frechet(s, q) <= _FRECHET_TAU
    )
    got = sorted(
        (r["user_id"], r["frechet"])
        for r in registry.QUERIES["traj_frechet_threshold"](
            spark, sf_dir
        ).collect()
    )
    assert got == brute, f"threshold != brute force:\n{got}\n{brute}"


def test_dtw_threshold_two_phase_is_exact(spark, sf_dir):
    """The lb-gated, tau-abandoning DTW threshold search must return
    exactly the users whose true DTW cost is <= tau."""
    from traj_sim_spark_spark.operators.trajectory import _DTW_TAU

    series = _series_by_user(spark, sf_dir)
    q = series[1]
    brute = sorted(
        (u, round(kernels.dtw(s, q), 6))
        for u, s in series.items()
        if u != 1 and kernels.dtw(s, q) <= _DTW_TAU
    )
    got = sorted(
        (r["user_id"], r["dtw"])
        for r in registry.QUERIES["traj_dtw_threshold"](
            spark, sf_dir
        ).collect()
    )
    assert got == brute, f"threshold != brute force:\n{got}\n{brute}"


def test_hausdorff_knn_2d_is_exact(spark, sf_dir):
    """The bbox-gap-pruned 2-D Hausdorff kNN must equal the brute-force
    top-k (the bound is a necessary condition only, ergo lossless)."""
    import pyspark.sql.functions as F

    t = Tables(spark, sf_dir)
    t0 = t.events.agg(F.min(F.unix_micros("ts")).alias("t0"))
    rows = (
        t.events.join(F.broadcast(t0))
        .select(
            "user_id",
            ((F.unix_micros("ts") - F.col("t0")) / 86400000000.0).alias("x"),
            F.col("value").alias("y"),
        )
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["x"], r["y"]))
    arrs = {u: np.asarray(p, dtype=np.float64) for u, p in by_user.items()}
    q = arrs[1]
    brute = sorted(
        (round(kernels.hausdorff(a, q), 6), u)
        for u, a in arrs.items()
        if u != 1
    )[:10]
    got = [
        (r["hausdorff_2d"], r["user_id"])
        for r in registry.QUERIES["traj_hausdorff_knn_2d"](
            spark, sf_dir
        ).collect()
    ]
    assert got == brute, f"kNN != brute force:\n{got}\n{brute}"


def test_frechet_pair_2d_consistent_with_sql_hausdorff(spark, sf_dir):
    """2-D kernel path vs 2-D SQL path must agree on Hausdorff (same
    point sets, two independent engines), and Fréchet >= Hausdorff."""
    k = registry.QUERIES["traj_frechet_pair_2d"](spark, sf_dir).head()
    s = registry.QUERIES["traj_hausdorff_pair_2d"](spark, sf_dir).head()
    assert abs(k["hausdorff_2d"] - s["hausdorff_2d"]) < 1e-6
    assert k["frechet_2d"] >= k["hausdorff_2d"] - 1e-9


def test_frechet_knn_2d_two_phase_is_exact(spark, sf_dir):
    """The 2-D Fréchet kNN (the paper's flagship query) must equal the
    brute-force top-k over (time-in-days, value) point sequences."""
    import pyspark.sql.functions as F

    from traj_sim_spark_spark.tables import Tables

    t = Tables(spark, sf_dir)
    t0 = t.events.agg(F.min(F.unix_micros("ts")).alias("t0"))
    pts = (
        t.user_points()
        .join(F.broadcast(t0))
        .select(
            "user_id",
            "seq",
            ((F.unix_micros("ts") - F.col("t0")) / 86400000000.0).alias("x"),
            F.col("value").alias("y"),
        )
        .collect()
    )
    series: dict[int, list] = {}
    for r in pts:
        series.setdefault(r["user_id"], []).append((r["seq"], r["x"], r["y"]))
    arrs = {
        u: np.asarray(
            [(x, y) for _, x, y in sorted(s)], dtype=np.float64
        )
        for u, s in series.items()
    }
    q = arrs[1]
    brute = sorted(
        (round(kernels.frechet(a, q), 6), u)
        for u, a in arrs.items()
        if u != 1
    )[:10]
    got = [
        (r["frechet_2d"], r["user_id"])
        for r in registry.QUERIES["traj_frechet_knn_2d"](
            spark, sf_dir
        ).collect()
    ]
    assert got == brute, f"2-D two-phase != brute force:\n{got}\n{brute}"


def _series_2d_by_user(spark, sf_dir):
    """Per-user (n,2) arrays in the (time-in-days, value) plane."""
    import pyspark.sql.functions as F

    t = Tables(spark, sf_dir)
    t0 = t.events.agg(F.min(F.unix_micros("ts")).alias("t0"))
    pts = (
        t.user_points()
        .join(F.broadcast(t0))
        .select(
            "user_id",
            "seq",
            ((F.unix_micros("ts") - F.col("t0")) / 86400000000.0).alias("x"),
            F.col("value").alias("y"),
        )
        .collect()
    )
    series: dict[int, list] = {}
    for r in pts:
        series.setdefault(r["user_id"], []).append((r["seq"], r["x"], r["y"]))
    return {
        u: np.asarray([(x, y) for _, x, y in sorted(s)], dtype=np.float64)
        for u, s in series.items()
    }


def test_dtw_knn_2d_two_phase_is_exact(spark, sf_dir):
    """The 2-D DTW kNN must equal the brute-force top-k (the Fréchet
    2-D lower bound is also a DTW lower bound)."""
    arrs = _series_2d_by_user(spark, sf_dir)
    q = arrs[1]
    brute = sorted(
        (round(kernels.dtw(a, q), 6), u) for u, a in arrs.items() if u != 1
    )[:10]
    got = [
        (r["dtw_2d"], r["user_id"])
        for r in registry.QUERIES["traj_dtw_knn_2d"](spark, sf_dir).collect()
    ]
    assert got == brute, f"2-D DTW two-phase != brute force:\n{got}\n{brute}"


def test_frechet_threshold_2d_two_phase_is_exact(spark, sf_dir):
    """The lb-gated 2-D Fréchet threshold search must return exactly the
    users whose true 2-D Fréchet distance is <= tau."""
    from traj_sim_spark_spark.operators.trajectory_ext import _FRECHET_TAU_2D

    arrs = _series_2d_by_user(spark, sf_dir)
    q = arrs[1]
    brute = sorted(
        (u, round(kernels.frechet(a, q), 6))
        for u, a in arrs.items()
        if u != 1 and kernels.frechet(a, q) <= _FRECHET_TAU_2D
    )
    got = sorted(
        (r["user_id"], r["frechet_2d"])
        for r in registry.QUERIES["traj_frechet_threshold_2d"](
            spark, sf_dir
        ).collect()
    )
    assert got == brute, f"threshold != brute force:\n{got}\n{brute}"


def test_dtw_threshold_2d_two_phase_is_exact(spark, sf_dir):
    """The lb-gated 2-D DTW threshold search must return exactly the
    users whose true 2-D DTW cost is <= tau."""
    from traj_sim_spark_spark.operators.trajectory_ext import _DTW_TAU_2D

    arrs = _series_2d_by_user(spark, sf_dir)
    q = arrs[1]
    brute = sorted(
        (u, round(kernels.dtw(a, q), 6))
        for u, a in arrs.items()
        if u != 1 and kernels.dtw(a, q) <= _DTW_TAU_2D
    )
    got = sorted(
        (r["user_id"], r["dtw_2d"])
        for r in registry.QUERIES["traj_dtw_threshold_2d"](
            spark, sf_dir
        ).collect()
    )
    assert got == brute, f"threshold != brute force:\n{got}\n{brute}"


def test_dtw_pair_2d_matches_kernel(spark, sf_dir):
    """The registered 2-D DTW pair query must equal the kernel run
    locally on the same arrays, and dominate the 2-D Fréchet pair
    (a sum of non-negative distances >= its maximum)."""
    arrs = _series_2d_by_user(spark, sf_dir)
    row = registry.QUERIES["traj_dtw_pair_2d"](spark, sf_dir).head()
    assert row["user_id"] == 2
    assert row["dtw_2d"] == round(kernels.dtw(arrs[2], arrs[1]), 6)
    fr = registry.QUERIES["traj_frechet_pair_2d"](spark, sf_dir).head()
    assert row["dtw_2d"] >= fr["frechet_2d"] - 1e-9


def test_knn_batch_slice_equals_single_query(spark, sf_dir):
    """traj_hausdorff_knn_batch's qid=1 slice must equal the
    single-query traj_hausdorff_knn (same metric, same top-10) — the
    workload batching changes the pass structure, not the answer."""
    single = [
        (r["user_id"], r["hausdorff"])
        for r in registry.QUERIES["traj_hausdorff_knn"](
            spark, sf_dir
        ).collect()
    ]
    batch = sorted(
        (r["user_id"], r["hausdorff"])
        for r in registry.QUERIES["traj_hausdorff_knn_batch"](spark, sf_dir)
        .filter("qid = 1")
        .collect()
    )
    assert batch == sorted(single)


def test_dtw_banded_knn_two_phase_is_exact(spark, sf_dir):
    """The banded-DTW kNN must equal brute force under the SAME banded
    kernel (exact w.r.t. the banded semantic)."""
    from traj_sim_spark_spark.operators.trajectory_ext import (
        _DTW_BAND_W,
    )

    series = _series_by_user(spark, sf_dir)
    q = series[1]
    brute = sorted(
        (round(kernels.dtw_banded(s, q, w=_DTW_BAND_W), 6), u)
        for u, s in series.items()
        if u != 1
    )[:10]
    got = [
        (r["dtw_banded"], r["user_id"])
        for r in registry.QUERIES["traj_dtw_knn_banded"](
            spark, sf_dir
        ).collect()
    ]
    assert got == brute, f"two-phase != brute force:\n{got}\n{brute}"


def test_dp_searches_match_duckdb_recursion(spark, sf_dir):
    """Engine-independent check of the WEAK DP search rows: the
    multi-user recursive-CTE brute force (every candidate's full DP
    grid inside DuckDB) must reproduce the engine's pruned two-phase
    results exactly — stronger evidence than same-engine brute-force
    equality, at sf0.001 cost."""
    import duckdb

    from traj_sim_spark_spark import registry
    from traj_sim_spark_spark.operators.trajectory import (
        _DTW_TAU,
        _FRECHET_TAU,
        _dp_search_oracle,
    )

    registry.load_all()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    cases = {
        "traj_frechet_knn": _dp_search_oracle(
            "GREATEST(cells.d, MIN(cur.val))",
            "SELECT user_id, ROUND(val, 6) AS frechet FROM finals "
            "ORDER BY ROUND(val, 6), user_id LIMIT 10",
        ),
        "traj_dtw_knn": _dp_search_oracle(
            "cells.d + MIN(cur.val)",
            "SELECT user_id, ROUND(val, 6) AS dtw FROM finals "
            "ORDER BY ROUND(val, 6), user_id LIMIT 10",
        ),
        "traj_frechet_threshold": _dp_search_oracle(
            "GREATEST(cells.d, MIN(cur.val))",
            f"SELECT user_id, ROUND(val, 6) AS frechet FROM finals "
            f"WHERE ROUND(val, 6) <= {_FRECHET_TAU}",
        ),
        "traj_dtw_threshold": _dp_search_oracle(
            "cells.d + MIN(cur.val)",
            f"SELECT user_id, ROUND(val, 6) AS dtw FROM finals "
            f"WHERE ROUND(val, 6) <= {_DTW_TAU}",
        ),
    }
    for key, sql in cases.items():
        got = sorted(
            tuple(r) for r in registry.QUERIES[key](spark, sf_dir).collect()
        )
        want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert got == want, (key, got[:3], want[:3])

def _seg_points_by_user(spark, sf_dir):
    """Per-user integer micro-plane points (the segment family's
    coordinate contract), collected from the engine's own quantizer so
    the test exercises only the search logic."""
    from traj_sim_spark_spark.operators.planes import corpus_t0, points

    t = Tables(spark, sf_dir)
    rows = points(t.user_points(), "seg_micro", corpus_t0(t.events)).collect()
    series: dict[int, list] = {}
    for r in rows:
        series.setdefault(r["user_id"], []).append((r["seq"], r["x"], r["y"]))
    return {
        u: [(x, y) for _, x, y in sorted(s)] for u, s in series.items()
    }


def _seg_d2_py(px, py, x1, y1, x2, y2):
    """Exact point-to-segment squared distance, Python-int cases with
    the identical single float step as both engines."""
    abx, aby = x2 - x1, y2 - y1
    ab2 = abx * abx + aby * aby
    dotp = abx * (px - x1) + aby * (py - y1)
    if ab2 == 0 or dotp <= 0:
        return float((px - x1) ** 2 + (py - y1) ** 2)
    if dotp >= ab2:
        return float((px - x2) ** 2 + (py - y2) ** 2)
    crs = abx * (py - y1) - aby * (px - x1)
    return float(crs) * float(crs) / float(ab2)


def _hseg_brute(series, q_user=1):
    """Per-user segment-Hausdorff to the query user (squared, micro²)."""
    import math

    q = series[q_user]
    qsegs = list(zip(q, q[1:]))
    out = {}
    for u, pts in series.items():
        if u == q_user or len(pts) < 2:
            continue
        segs = list(zip(pts, pts[1:]))
        h1 = max(
            min(_seg_d2_py(px, py, a[0], a[1], b[0], b[1]) for a, b in segs)
            for px, py in q
        )
        h2 = max(
            min(_seg_d2_py(px, py, a[0], a[1], b[0], b[1]) for a, b in qsegs)
            for px, py in pts
        )
        out[u] = max(h1, h2)
    return out


def test_segment_knn_2d_pruned_is_exact(spark, sf_dir):
    """A lower-bound-pruned two-phase kNN over the segment search kernel
    must equal the brute-force top-k. The bbox-side gap bounds H_seg
    from below (a path lies in its points' bbox), so refining the k
    best by bound, closing tau_k, and refining only the users the bound
    cannot rule out — each a ``_knn_batch`` over the ``_seg_paths``
    paths restricted to the id set — is lossless. Phase one refines k,
    not c·k: the fixture has too few users for a c·k over-fetch to
    leave any out."""
    import math

    from pyspark.sql import functions as F

    from traj_sim_spark_spark.operators.extras12 import _HSEG_2D, _knn_batch
    from traj_sim_spark_spark.operators.extras3 import _SK_K, _seg_paths

    series = _seg_points_by_user(spark, sf_dir)
    h = _hseg_brute(series)
    brute = sorted((h2, u) for u, h2 in h.items())[:10]
    brute = [(u, round(math.sqrt(h2) / 1e6, 6)) for h2, u in brute]

    def bbox(pts):
        xs, ys = [x for x, _ in pts], [y for _, y in pts]
        return min(xs), max(xs), min(ys), max(ys)

    qb = bbox(series[1])
    lb2 = {}
    for u, pts in series.items():
        if u == 1 or len(pts) < 2:
            continue
        gap = max(abs(a - b) for a, b in zip(bbox(pts), qb))
        lb2[u] = float(gap) * float(gap)
    assert all(lb2[u] <= h[u] for u in h), "bbox gap is not a lower bound"

    paths = _seg_paths(Tables(spark, sf_dir).events)

    def exact(ids):
        """The top-k (user_id, h2) among the query user and ``ids``."""
        sub = paths.filter(F.col("user_id").isin(1, *ids))
        return [
            (r["user_id"], r["h2"])
            for r in _knn_batch(sub, _HSEG_2D, qids=(1,)).collect()
        ]

    first_ids = sorted(lb2, key=lambda u: (lb2[u], u))[:_SK_K]
    tau = sorted(h2 for _, h2 in exact(first_ids))[_SK_K - 1]
    rest_ids = [u for u in lb2 if lb2[u] <= tau and u not in first_ids]
    assert len(first_ids) + len(rest_ids) < len(lb2), "prune did not engage"
    got = sorted((h2, u) for u, h2 in exact(first_ids + rest_ids))
    got = [(u, round(math.sqrt(h2) / 1e6, 6)) for h2, u in got]
    assert got == brute, f"pruned != brute force:\n{got}\n{brute}"


def test_segment_knn_2d_single_pass_is_exact(spark, sf_dir):
    """The single-pass 2-D segment-Hausdorff kNN must equal the
    brute-force top-k over the integer point-to-segment distances."""
    import math

    h = _hseg_brute(_seg_points_by_user(spark, sf_dir))
    brute = sorted((h2, u) for u, h2 in h.items())[:10]
    brute = [(u, round(math.sqrt(h2) / 1e6, 6)) for h2, u in brute]
    got = [
        (r["user_id"], r["hseg_2d"])
        for r in registry.QUERIES["traj_hausdorff_segments_knn_2d"](
            spark, sf_dir
        ).collect()
    ]
    assert got == brute, f"kNN != brute force:\n{got}\n{brute}"


def test_segment_threshold_2d_matches_int_brute(spark, sf_dir):
    """The broadcast threshold search must return exactly the users
    whose segment-Hausdorff is <= tau, decided by ARBITRARY-PRECISION
    integer arithmetic in Python — an engine-independent exactness
    check with no float anywhere."""
    from traj_sim_spark_spark.operators.extras3 import _SK_TAU_U

    def within(px, py, x1, y1, x2, y2, tau):
        abx, aby = x2 - x1, y2 - y1
        ab2 = abx * abx + aby * aby
        dotp = abx * (px - x1) + aby * (py - y1)
        if ab2 == 0 or dotp <= 0:
            return (px - x1) ** 2 + (py - y1) ** 2 <= tau * tau
        if dotp >= ab2:
            return (px - x2) ** 2 + (py - y2) ** 2 <= tau * tau
        crs = abx * (py - y1) - aby * (px - x1)
        return crs * crs <= tau * tau * ab2

    series = _seg_points_by_user(spark, sf_dir)
    q = series[1]
    qsegs = list(zip(q, q[1:]))
    brute = []
    for u, pts in series.items():
        if u == 1 or len(pts) < 2:
            continue
        segs = list(zip(pts, pts[1:]))
        d1 = all(
            any(
                within(px, py, a[0], a[1], b[0], b[1], _SK_TAU_U)
                for a, b in segs
            )
            for px, py in q
        )
        d2 = d1 and all(
            any(
                within(px, py, a[0], a[1], b[0], b[1], _SK_TAU_U)
                for a, b in qsegs
            )
            for px, py in pts
        )
        if d1 and d2:
            brute.append(u)
    got = sorted(
        r["user_id"]
        for r in registry.QUERIES["traj_hausdorff_segments_threshold_2d"](
            spark, sf_dir
        ).collect()
    )
    assert got == sorted(brute), f"threshold != int brute:\n{got}\n{brute}"


def test_dp_searches_2d_match_duckdb_recursion(spark, sf_dir):
    """Engine-independent check of the 2-D WEAK DP search rows: the
    multi-user recursive-CTE brute force runs the full DP grids inside
    DuckDB with the Euclidean cell metric over the (time-in-days,
    value) projection — the same float DAG as the NumPy kernel — and
    must reproduce the engine's pruned two-phase results exactly."""
    import duckdb

    from traj_sim_spark_spark import registry
    from traj_sim_spark_spark.operators.trajectory import _dp_search_oracle
    from traj_sim_spark_spark.operators.trajectory_ext import (
        _DTW_TAU_2D,
        _FRECHET_TAU_2D,
    )

    registry.load_all()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    coords_2d = (
        "(epoch_us(CAST(ts AS TIMESTAMP)) - "
        "(SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) FROM events))"
        " / 86400000000.0, value"
    )
    dist_2d = (
        "SQRT((av.x - bv.x)*(av.x - bv.x) + (av.y - bv.y)*(av.y - bv.y))"
    )

    def oracle_2d(combine, final):
        return _dp_search_oracle(
            combine, final, dist=dist_2d, coords=coords_2d, cols="x, y"
        )

    cases = {
        "traj_frechet_knn_2d": oracle_2d(
            "GREATEST(cells.d, MIN(cur.val))",
            "SELECT user_id, ROUND(val, 6) AS frechet_2d FROM finals "
            "ORDER BY ROUND(val, 6), user_id LIMIT 10",
        ),
        "traj_dtw_knn_2d": oracle_2d(
            "cells.d + MIN(cur.val)",
            "SELECT user_id, ROUND(val, 6) AS dtw_2d FROM finals "
            "ORDER BY ROUND(val, 6), user_id LIMIT 10",
        ),
        "traj_frechet_threshold_2d": oracle_2d(
            "GREATEST(cells.d, MIN(cur.val))",
            f"SELECT user_id, ROUND(val, 6) AS frechet_2d FROM finals "
            f"WHERE ROUND(val, 6) <= {_FRECHET_TAU_2D}",
        ),
        "traj_dtw_threshold_2d": oracle_2d(
            "cells.d + MIN(cur.val)",
            f"SELECT user_id, ROUND(val, 6) AS dtw_2d FROM finals "
            f"WHERE ROUND(val, 6) <= {_DTW_TAU_2D}",
        ),
    }
    for key, sql in cases.items():
        got = sorted(
            tuple(r) for r in registry.QUERIES[key](spark, sf_dir).collect()
        )
        want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert got == want, (key, got[:3], want[:3])


def test_segment_knn_2d_idx_matches_brute(spark, sf_dir):
    """The manifest-lb + partition-pruned kNN must equal the brute-force
    top-k (MBR bound lossless, pruned layout scan complete per
    candidate)."""
    import math

    h = _hseg_brute(_seg_points_by_user(spark, sf_dir))
    brute = sorted((h2, u) for u, h2 in h.items())[:10]
    brute = [(u, round(math.sqrt(h2) / 1e6, 6)) for h2, u in brute]
    got = [
        (r["user_id"], r["hseg_2d"])
        for r in registry.QUERIES["traj_hausdorff_segments_knn_2d_idx"](
            spark, sf_dir
        ).collect()
    ]
    assert got == brute, f"idx != brute force:\n{got}\n{brute}"


def test_segment_knn_batch_slice_equals_single_query(spark, sf_dir):
    """traj_hausdorff_segments_knn_batch_2d's qid=1 slice must equal
    the single-query traj_hausdorff_segments_knn_2d — batching changes
    the pass structure, not the answer."""
    single = sorted(
        (r["user_id"], r["hseg_2d"])
        for r in registry.QUERIES["traj_hausdorff_segments_knn_2d"](
            spark, sf_dir
        ).collect()
    )
    batch = sorted(
        (r["user_id"], r["hseg_2d"])
        for r in registry.QUERIES["traj_hausdorff_segments_knn_batch_2d"](
            spark, sf_dir
        )
        .filter("qid = 1")
        .collect()
    )
    assert batch == single


def test_dp_banded_matches_duckdb_recursion(spark, sf_dir):
    """Engine-independent check of the LAST unchecked DP row: the
    Sakoe-Chiba banded DTW kNN against the multi-user recursion with
    the band as a cell filter (|i-j| <= max(w, |n-m|))."""
    import duckdb

    from traj_sim_spark_spark import registry
    from traj_sim_spark_spark.operators.trajectory import _dp_search_oracle
    from traj_sim_spark_spark.operators.trajectory_ext import _DTW_BAND_W

    registry.load_all()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    band = (
        f"ABS(av.i - bv.j) <= GREATEST({_DTW_BAND_W}, "
        f"ABS(peru.n - (SELECT m FROM mdim)))"
    )
    sql = _dp_search_oracle(
        "cells.d + MIN(cur.val)",
        "SELECT user_id, ROUND(val, 6) AS dtw_banded FROM finals "
        "ORDER BY ROUND(val, 6), user_id LIMIT 10",
        cell_filter=band,
    )
    got = sorted(
        tuple(r)
        for r in registry.QUERIES["traj_dtw_knn_banded"](
            spark, sf_dir
        ).collect()
    )
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want, (got[:3], want[:3])


def test_dp_banded_2d_matches_duckdb_recursion(spark, sf_dir):
    """Cross-engine check of the 2-D banded DTW kNN: Euclidean cell
    metric + Sakoe-Chiba band filter in the recursion."""
    import duckdb

    from traj_sim_spark_spark import registry
    from traj_sim_spark_spark.operators.trajectory import _dp_search_oracle
    from traj_sim_spark_spark.operators.trajectory_ext import _DTW_BAND_W

    registry.load_all()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    coords_2d = (
        "(epoch_us(CAST(ts AS TIMESTAMP)) - "
        "(SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) FROM events))"
        " / 86400000000.0, value"
    )
    dist_2d = (
        "SQRT((av.x - bv.x)*(av.x - bv.x) + (av.y - bv.y)*(av.y - bv.y))"
    )
    band = (
        f"ABS(av.i - bv.j) <= GREATEST({_DTW_BAND_W}, "
        f"ABS(peru.n - (SELECT m FROM mdim)))"
    )
    sql = _dp_search_oracle(
        "cells.d + MIN(cur.val)",
        "SELECT user_id, ROUND(val, 6) AS dtw_banded_2d FROM finals "
        "ORDER BY ROUND(val, 6), user_id LIMIT 10",
        dist=dist_2d,
        coords=coords_2d,
        cols="x, y",
        cell_filter=band,
    )
    got = sorted(
        tuple(r)
        for r in registry.QUERIES["traj_dtw_knn_banded_2d"](
            spark, sf_dir
        ).collect()
    )
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want, (got[:3], want[:3])


def test_dtw_banded_2d_knn_two_phase_is_exact(spark, sf_dir):
    """The 2-D banded-DTW kNN must equal brute force under the SAME
    banded kernel."""
    from traj_sim_spark_spark.operators.trajectory_ext import _DTW_BAND_W

    arrs = _series_2d_by_user(spark, sf_dir)
    q = arrs[1]
    brute = sorted(
        (round(kernels.dtw_banded(a, q, w=_DTW_BAND_W), 6), u)
        for u, a in arrs.items()
        if u != 1
    )[:10]
    got = [
        (r["dtw_banded_2d"], r["user_id"])
        for r in registry.QUERIES["traj_dtw_knn_banded_2d"](
            spark, sf_dir
        ).collect()
    ]
    assert got == brute, f"two-phase != brute force:\n{got}\n{brute}"


def test_dtw_banded_threshold_is_exact_and_recursion_checked(
    spark, sf_dir
):
    """The banded-DTW threshold search must return exactly the users
    whose banded cost is <= tau (NumPy brute force), and match the
    DuckDB recursion with the band cell filter."""
    import duckdb

    from traj_sim_spark_spark.operators.trajectory import (
        _DTW_TAU,
        _dp_search_oracle,
    )
    from traj_sim_spark_spark.operators.trajectory_ext import _DTW_BAND_W

    series = _series_by_user(spark, sf_dir)
    q = series[1]
    brute = sorted(
        (u, round(kernels.dtw_banded(s, q, w=_DTW_BAND_W), 6))
        for u, s in series.items()
        if u != 1 and kernels.dtw_banded(s, q, w=_DTW_BAND_W) <= _DTW_TAU
    )
    got = sorted(
        (r["user_id"], r["dtw_banded"])
        for r in registry.QUERIES["traj_dtw_threshold_banded"](
            spark, sf_dir
        ).collect()
    )
    assert got == brute, f"threshold != brute force:\n{got}\n{brute}"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    band = (
        f"ABS(av.i - bv.j) <= GREATEST({_DTW_BAND_W}, "
        f"ABS(peru.n - (SELECT m FROM mdim)))"
    )
    sql = _dp_search_oracle(
        "cells.d + MIN(cur.val)",
        f"SELECT user_id, ROUND(val, 6) AS dtw_banded FROM finals "
        f"WHERE ROUND(val, 6) <= {_DTW_TAU}",
        cell_filter=band,
    )
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert sorted(tuple(r) for r in registry.QUERIES[
        "traj_dtw_threshold_banded"](spark, sf_dir).collect()) == want


def test_lcss_threshold_two_phase_is_exact(spark, sf_dir):
    """The envelope-bound-gated banded-LCSS threshold must equal the
    unpruned brute force (refine every user, integer membership)."""
    from traj_sim_spark_spark.operators.extras6 import (
        _LCSS_DELTA,
        _LCSS_TAU_DEN,
        _LCSS_TAU_NUM,
        _SEARCH_EPS,
    )

    series = _series_by_user(spark, sf_dir)
    q = series[1]
    brute = sorted(
        (u, kernels.lcss(s, q, _SEARCH_EPS, _LCSS_DELTA))
        for u, s in series.items()
        if u != 1
        and kernels.lcss(s, q, _SEARCH_EPS, _LCSS_DELTA) * _LCSS_TAU_DEN
        >= min(len(s), len(q)) * _LCSS_TAU_NUM
    )
    got = sorted(
        (r["user_id"], r["lcss_len"])
        for r in registry.QUERIES["traj_lcss_threshold"](
            spark, sf_dir
        ).collect()
    )
    assert got == brute, f"{got}\n{brute}"


def test_lcss_knn_matches_brute_force(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras6 import (
        _LCSS_DELTA,
        _SEARCH_EPS,
        _SEARCH_K,
    )

    series = _series_by_user(spark, sf_dir)
    q = series[1]
    scored = []
    for u, s in series.items():
        if u == 1:
            continue
        ln = kernels.lcss(s, q, _SEARCH_EPS, _LCSS_DELTA)
        scored.append((-(ln / min(len(s), len(q))), u, ln))
    brute = [(u, ln) for _, u, ln in sorted(scored)[:_SEARCH_K]]
    got = [
        (r["user_id"], r["lcss_len"])
        for r in registry.QUERIES["traj_lcss_knn"](spark, sf_dir).collect()
    ]
    assert got == brute, f"{got}\n{brute}"


def test_edr_threshold_two_phase_is_exact(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras6 import (
        _EDR_TAU_DEN,
        _EDR_TAU_NUM,
        _SEARCH_EPS,
    )

    series = _series_by_user(spark, sf_dir)
    q = series[1]
    brute = sorted(
        (u, kernels.edr(s, q, _SEARCH_EPS))
        for u, s in series.items()
        if u != 1
        and kernels.edr(s, q, _SEARCH_EPS) * _EDR_TAU_DEN
        <= max(len(s), len(q)) * _EDR_TAU_NUM
    )
    got = sorted(
        (r["user_id"], r["edr"])
        for r in registry.QUERIES["traj_edr_threshold"](
            spark, sf_dir
        ).collect()
    )
    assert got == brute, f"{got}\n{brute}"


def test_edr_knn_matches_brute_force(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras6 import (
        _SEARCH_EPS,
        _SEARCH_K,
    )

    series = _series_by_user(spark, sf_dir)
    q = series[1]
    scored = []
    for u, s in series.items():
        if u == 1:
            continue
        e = kernels.edr(s, q, _SEARCH_EPS)
        scored.append((e / max(len(s), len(q)), u, e))
    brute = [(u, e) for _, u, e in sorted(scored)[:_SEARCH_K]]
    got = [
        (r["user_id"], r["edr"])
        for r in registry.QUERIES["traj_edr_knn"](spark, sf_dir).collect()
    ]
    assert got == brute, f"{got}\n{brute}"


def _series_2d_q_by_user(spark, sf_dir):
    """Micro-quantized (time-in-days, value) integer series per user,
    ordered like the engine's assemblies."""
    from pyspark.sql import functions as F

    from traj_sim_spark_spark.tables import Tables

    t = Tables(spark, sf_dir)
    t0 = t.events.agg(F.min(F.unix_micros("ts")).alias("t0"))
    rows = (
        t.user_points()
        .join(F.broadcast(t0))
        .select(
            "user_id",
            "seq",
            F.expr(
                "CAST(ROUND((unix_micros(ts) - t0) / 86400000000.0"
                " * 1e6) AS BIGINT)"
            ).alias("qx"),
            F.expr("CAST(ROUND(value * 1e6) AS BIGINT)").alias("qy"),
        )
        .collect()
    )
    out: dict[int, list[tuple[int, int, int]]] = {}
    for r in rows:
        out.setdefault(r["user_id"], []).append((r["seq"], r["qx"], r["qy"]))
    return {
        u: np.asarray(
            [(x, y) for _, x, y in sorted(pts)], dtype=np.int64
        )
        for u, pts in out.items()
    }


def test_lcss_edr_2d_search_match_brute_force(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras6 import (
        _EPS2_MICRO2,
        _EDR_TAU_DEN,
        _EDR_TAU_NUM,
        _LCSS_TAU_DEN,
        _LCSS_TAU_NUM,
        _SEARCH_K,
    )

    series = _series_2d_q_by_user(spark, sf_dir)
    q = series[1]
    lcss_all, edr_all = {}, {}
    for u, s in series.items():
        if u == 1:
            continue
        lcss_all[u] = kernels.lcss_int2d(s, q, _EPS2_MICRO2)
        edr_all[u] = kernels.edr_int2d(s, q, _EPS2_MICRO2)

    brute_lt = sorted(
        (u, ln)
        for u, ln in lcss_all.items()
        if ln * _LCSS_TAU_DEN
        >= min(len(series[u]), len(q)) * _LCSS_TAU_NUM
    )
    got_lt = sorted(
        (r["user_id"], r["lcss_len"])
        for r in registry.QUERIES["traj_lcss_threshold_2d"](
            spark, sf_dir
        ).collect()
    )
    assert got_lt == brute_lt

    scored = sorted(
        (-(ln / min(len(series[u]), len(q))), u, ln)
        for u, ln in lcss_all.items()
    )
    brute_lk = [(u, ln) for _, u, ln in scored[:_SEARCH_K]]
    got_lk = [
        (r["user_id"], r["lcss_len"])
        for r in registry.QUERIES["traj_lcss_knn_2d"](
            spark, sf_dir
        ).collect()
    ]
    assert got_lk == brute_lk

    brute_et = sorted(
        (u, e)
        for u, e in edr_all.items()
        if e * _EDR_TAU_DEN
        <= max(len(series[u]), len(q)) * _EDR_TAU_NUM
    )
    got_et = sorted(
        (r["user_id"], r["edr"])
        for r in registry.QUERIES["traj_edr_threshold_2d"](
            spark, sf_dir
        ).collect()
    )
    assert got_et == brute_et

    scored_e = sorted(
        (e / max(len(series[u]), len(q)), u, e)
        for u, e in edr_all.items()
    )
    brute_ek = [(u, e) for _, u, e in scored_e[:_SEARCH_K]]
    got_ek = [
        (r["user_id"], r["edr"])
        for r in registry.QUERIES["traj_edr_knn_2d"](
            spark, sf_dir
        ).collect()
    ]
    assert got_ek == brute_ek


def _series_q_by_user(spark, sf_dir):
    """Micro-quantized 1-D integer series per user (SQL ROUND)."""
    from pyspark.sql import functions as F

    from traj_sim_spark_spark.tables import Tables

    t = Tables(spark, sf_dir)
    rows = (
        t.user_points()
        .select(
            "user_id",
            "seq",
            F.expr("CAST(ROUND(value * 1e6) AS BIGINT)").alias("qv"),
        )
        .collect()
    )
    out: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        out.setdefault(r["user_id"], []).append((r["seq"], r["qv"]))
    return {
        u: np.asarray([v for _, v in sorted(pts)], dtype=np.int64)
        for u, pts in out.items()
    }


def test_erp_search_matches_brute_force(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras6 import (
        _ERP_TAU_MICRO,
        _SEARCH_K,
    )

    series = _series_q_by_user(spark, sf_dir)
    q = series[1]
    erps = {
        u: kernels.erp(s, q) for u, s in series.items() if u != 1
    }
    brute_t = sorted(
        (u, e) for u, e in erps.items() if e <= _ERP_TAU_MICRO
    )
    got_t = sorted(
        (r["user_id"], r["erp_micro"])
        for r in registry.QUERIES["traj_erp_threshold"](
            spark, sf_dir
        ).collect()
    )
    assert got_t == brute_t

    brute_k = [
        (u, e)
        for e, u in sorted((e, u) for u, e in erps.items())[:_SEARCH_K]
    ]
    got_k = [
        (r["user_id"], r["erp_micro"])
        for r in registry.QUERIES["traj_erp_knn"](spark, sf_dir).collect()
    ]
    assert got_k == brute_k


def test_erp_2d_search_matches_brute_force(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras6 import (
        _ERP2D_TAU_MICRO,
        _SEARCH_K,
    )

    series = _series_2d_q_by_user(spark, sf_dir)
    q = series[1]
    erps = {
        u: kernels.erp_int2d(s, q)
        for u, s in series.items()
        if u != 1
    }
    brute_t = sorted(
        (u, e) for u, e in erps.items() if e <= _ERP2D_TAU_MICRO
    )
    got_t = sorted(
        (r["user_id"], r["erp_micro"])
        for r in registry.QUERIES["traj_erp_threshold_2d"](
            spark, sf_dir
        ).collect()
    )
    assert got_t == brute_t

    brute_k = [
        (u, e)
        for e, u in sorted((e, u) for u, e in erps.items())[:_SEARCH_K]
    ]
    got_k = [
        (r["user_id"], r["erp_micro"])
        for r in registry.QUERIES["traj_erp_knn_2d"](
            spark, sf_dir
        ).collect()
    ]
    assert got_k == brute_k


def test_hausdorff_2d_engine_matches_catalyst_join(spark, sf_dir):
    """The 2-D Hausdorff measure's score must be BIT-equal to the
    point-join + grouped-minima Catalyst form, greatest(h1, h2), for
    every user (same IEEE subtract/multiply/add/sqrt sequence, min/max
    order-insensitive) — an in-Spark twin on top of the DuckDB oracle
    gates."""
    import pyspark.sql.functions as F

    from traj_sim_spark_spark.operators.extras12 import _HAUSDORFF_2D
    from traj_sim_spark_spark.operators.planes import arrays, points

    t = Tables(spark, sf_dir)
    pts = points(t.events, "xy")
    q = pts.filter(F.col("user_id") == 1).select(
        F.col("x").alias("qx"), F.col("y").alias("qy")
    )
    d = (
        pts.filter(F.col("user_id") != 1)
        .join(F.broadcast(q))
        .withColumn(
            "d",
            F.sqrt(
                (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))
                + (F.col("y") - F.col("qy")) * (F.col("y") - F.col("qy"))
            ),
        )
    )
    h1 = (
        d.groupBy("user_id", "qx", "qy")
        .agg(F.min("d").alias("md"))
        .groupBy("user_id")
        .agg(F.max("md").alias("h1"))
    )
    h2 = (
        d.groupBy("user_id", "x", "y")
        .agg(F.min("d").alias("md"))
        .groupBy("user_id")
        .agg(F.max("md").alias("h2"))
    )
    want = sorted(
        tuple(r)
        for r in h1.join(h2, "user_id")
        .select("user_id", F.greatest("h1", "h2"))
        .collect()
    )
    arr = {
        r["user_id"]: np.column_stack((r["xs"], r["ys"])).astype(np.float64)
        for r in arrays(t.events, "xy", ordered=False).collect()
    }
    got = sorted(
        (u, _HAUSDORFF_2D.score([a], arr[1], None)[0][0])
        for u, a in arr.items()
        if u != 1
    )
    assert got == want and len(got) > 0
