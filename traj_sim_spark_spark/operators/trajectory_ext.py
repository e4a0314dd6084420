"""J (cont.): the remaining cells of the reference's query matrix.

traj-sim-spark's surface is {threshold, kNN} x {Hausdorff, Fréchet, DTW}
over 2-D trajectories (SURVEY.md §2.1, R8/R9 x R12-R14). ``trajectory.py``
carries the full 1-D matrix plus 2-D Hausdorff and the 2-D Fréchet
pair/kNN.  This module fills the remaining cells:

- the 2-D Fréchet and DTW thresholds and the banded-DTW threshold
  through the fixed-radius search pass (``extras12._threshold_search``):
  the kNN twin's lower bound skips a row, each surviving DP
  early-abandons at tau, and a row is kept when its 6-decimal distance
  is within tau [P §5.1];
- the 2-D DTW and banded-DTW kNN rows and the 1-D and 2-D Hausdorff
  batch kNN rows through the one kNN plan every kNN row shares
  (``extras12._knn_batch``);
- the 2-D DTW pair on its refine stage, paired by ``extras12._pairs``;
- the 1-D float segment-Hausdorff kNN and threshold rows, as broadcast
  joins with grouped extrema.

The DP rows are pinned by brute-force-equality tests in
``tests/test_twophase.py`` besides their oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import kernels
from ..registry import query
from ..tables import Tables
from . import dp_list_sql as _DL
from .planes import arrays, corpus_t0, points
from .trajectory import (
    _BATCH_QIDS,
    _QUERY_USER,
    _SEARCH_K,
    _dp_refine,
    _series_2d,
)

_FRECHET_TAU_2D = 85.0
_DTW_TAU_2D = 1700.0


@query(
    "traj_frechet_threshold_2d",
    oracle=lambda: _DL.float_threshold_sql(
        True, "frechet_2d", _FRECHET_TAU_2D, frechet=True
    ),
)  # FULL since round 7: list-layer DP oracle (dp_list_sql)
def traj_frechet_threshold_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8/R13 in TWO dimensions: all users within discrete-Fréchet
    tau=85.0 of the query user in the (time-in-days, value) plane —
    the threshold twin of ``traj_frechet_knn_2d``.

    ONE Arrow pass over the twin's assembly
    (``extras12._threshold_search``): the 2-D lower bound (Euclidean
    endpoint distances and bbox-side gaps, ``extras12._lb_2d``) skips a
    row past tau + 1e-6, each survivor's DP early-abandons there, and a
    row is kept when its 6-decimal distance is <= tau. No driver
    round-trip."""
    from .extras12 import _dp_measure, _lb_2d, _threshold_search

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "xy", ordered=True),
        _dp_measure(kernels.frechet_block, _lb_2d, "frechet_2d"),
        _FRECHET_TAU_2D,
    )


@query(
    "traj_dtw_knn_2d",
    oracle=lambda: _DL.float_knn_sql(True, "dtw_2d", _SEARCH_K),
)  # FULL since round 7: list-layer DP oracle (dp_list_sql)
def traj_dtw_knn_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9/R14 in TWO dimensions: k users with the cheapest 2-D warping
    alignment to the query user — EXACT via the one-pass
    ``extras12._knn_batch`` plan. The 2-D Fréchet lower bound (endpoint
    distances and bbox-side gaps) is also a 2-D DTW lower bound (DTW
    sums what Fréchet maxes over the same monotone couplings), so the
    prune and the DP's early abandon apply unchanged."""
    from .extras12 import _dp_measure, _knn_batch, _lb_2d

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "xy", ordered=True),
        _dp_measure(kernels.dtw_block, _lb_2d, "dtw_2d"),
        qids=(_QUERY_USER,),
    ).drop("qid")


@query(
    "traj_dtw_threshold_2d",
    oracle=lambda: _DL.float_threshold_sql(True, "dtw_2d", _DTW_TAU_2D),
)  # FULL since round 7: list-layer DP oracle (dp_list_sql)
def traj_dtw_threshold_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8/R14 in TWO dimensions: all users whose 2-D warping alignment
    cost is <= tau=1700.0 — the last cell of the 2-D query matrix.
    The same one-pass ``extras12._threshold_search`` as the Fréchet row:
    the 2-D Fréchet bound is a 2-D DTW bound too, so it skips rows and
    the DP early-abandons at tau unchanged."""
    from .extras12 import _dp_measure, _lb_2d, _threshold_search

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "xy", ordered=True),
        _dp_measure(kernels.dtw_block, _lb_2d, "dtw_2d"),
        _DTW_TAU_2D,
    )


def _dtw_pair_2d_oracle() -> str:
    """FULL oracle for the 2-D DTW pair: the shared antidiagonal
    recursion (``trajectory._dp_layers_sql``) with the Euclidean local
    cost."""
    from .trajectory import _dp_layers_sql

    dtw = _dp_layers_sql(
        "dtw_dp", "cells.d + MIN(cur.val)", "SQRT((av.x - bv.x) * (av.x - bv.x) + (av.y - bv.y) * (av.y - bv.y))"
    )
    return f"""
    WITH RECURSIVE
    t0 AS (SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0
           FROM events),
    av(i, x, y) AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id),
               (epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT t0 FROM t0))
               / 86400000000.0, value
        FROM events WHERE user_id = 2
    ),
    bv(j, x, y) AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id),
               (epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT t0 FROM t0))
               / 86400000000.0, value
        FROM events WHERE user_id = 1
    ),
    {dtw}
    SELECT CAST(2 AS BIGINT) AS user_id,
           ROUND((SELECT val FROM dtw_dp
                  WHERE age = 0
                    AND k = (SELECT MAX(i) FROM av)
                          + (SELECT MAX(j) FROM bv)
                    AND i = (SELECT MAX(i) FROM av)), 6) AS dtw_2d
    """


@query("traj_dtw_pair_2d", oracle=_dtw_pair_2d_oracle())
def traj_dtw_pair_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14 in TWO dimensions: DTW alignment cost between users 1 and 2
    in the (time-in-days, value) plane — the pair form that completes
    {pair, kNN, threshold} x {Hausdorff, Fréchet, DTW} in 2-D."""
    from .extras12 import _pairs

    arr = arrays(Tables(spark, sf_dir).events, "xy", ordered=True)
    paired = _pairs(arr, (_QUERY_USER,)).filter(F.col("user_id") == 2)
    return paired.mapInPandas(
        _dp_refine(kernels.dtw, _series_2d, "dtw_2d"),
        schema="user_id bigint, dtw_2d double",
    )


_SEG_ORACLE_CTE = """
    WITH t0 AS (
        SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events
    ),
    pts AS (
        SELECT user_id,
               (epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT t0 FROM t0))
               / 86400000000.0 AS x,
               value AS y,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS seq
        FROM events
    ),
    segs AS (
        SELECT user_id, x AS ax, y AS ay,
               COALESCE(LEAD(x) OVER w, x) AS bx,
               COALESCE(LEAD(y) OVER w, y) AS by
        FROM pts
        WINDOW w AS (PARTITION BY user_id ORDER BY seq)
    ),
    qp AS (SELECT x, y FROM pts WHERE user_id = 1),
    qs AS (SELECT ax, ay, bx, by FROM segs WHERE user_id = 1),
    du AS (  -- directed: each user's points -> query's segments
        SELECT p.user_id, p.x, p.y,
               MIN(CASE
                 WHEN (s.bx-s.ax)*(s.bx-s.ax)+(s.by-s.ay)*(s.by-s.ay) = 0
                 THEN SQRT((p.x-s.ax)*(p.x-s.ax)+(p.y-s.ay)*(p.y-s.ay))
                 ELSE SQRT(
                   POW(p.x-(s.ax+GREATEST(0, LEAST(1,
                     ((p.x-s.ax)*(s.bx-s.ax)+(p.y-s.ay)*(s.by-s.ay))
                     / ((s.bx-s.ax)*(s.bx-s.ax)+(s.by-s.ay)*(s.by-s.ay))
                   ))*(s.bx-s.ax)), 2)
                 + POW(p.y-(s.ay+GREATEST(0, LEAST(1,
                     ((p.x-s.ax)*(s.bx-s.ax)+(p.y-s.ay)*(s.by-s.ay))
                     / ((s.bx-s.ax)*(s.bx-s.ax)+(s.by-s.ay)*(s.by-s.ay))
                   ))*(s.by-s.ay)), 2)) END) AS md
        FROM pts p CROSS JOIN qs s
        WHERE p.user_id <> 1
        GROUP BY p.user_id, p.x, p.y
    ),
    hu AS (SELECT user_id, MAX(md) AS h FROM du GROUP BY user_id),
    dq AS (  -- directed: query's points -> each user's segments
        SELECT s.user_id, q.x, q.y,
               MIN(CASE
                 WHEN (s.bx-s.ax)*(s.bx-s.ax)+(s.by-s.ay)*(s.by-s.ay) = 0
                 THEN SQRT((q.x-s.ax)*(q.x-s.ax)+(q.y-s.ay)*(q.y-s.ay))
                 ELSE SQRT(
                   POW(q.x-(s.ax+GREATEST(0, LEAST(1,
                     ((q.x-s.ax)*(s.bx-s.ax)+(q.y-s.ay)*(s.by-s.ay))
                     / ((s.bx-s.ax)*(s.bx-s.ax)+(s.by-s.ay)*(s.by-s.ay))
                   ))*(s.bx-s.ax)), 2)
                 + POW(q.y-(s.ay+GREATEST(0, LEAST(1,
                     ((q.x-s.ax)*(s.bx-s.ax)+(q.y-s.ay)*(s.by-s.ay))
                     / ((s.bx-s.ax)*(s.bx-s.ax)+(s.by-s.ay)*(s.by-s.ay))
                   ))*(s.by-s.ay)), 2)) END) AS md
        FROM segs s CROSS JOIN qp q
        WHERE s.user_id <> 1
        GROUP BY s.user_id, q.x, q.y
    ),
    hq AS (SELECT user_id, MAX(md) AS h FROM dq GROUP BY user_id)
"""

_SEG_KNN_ORACLE = _SEG_ORACLE_CTE + f"""
    SELECT hu.user_id,
           ROUND(GREATEST(hu.h, hq.h), 6) AS seg_hausdorff
    FROM hu JOIN hq ON hu.user_id = hq.user_id
    ORDER BY GREATEST(hu.h, hq.h), hu.user_id
    LIMIT {_SEARCH_K}
"""

_SEG_TAU = 25.0

_SEG_THRESHOLD_ORACLE = _SEG_ORACLE_CTE + """
    SELECT hu.user_id,
           ROUND(GREATEST(hu.h, hq.h), 6) AS seg_hausdorff
    FROM hu JOIN hq ON hu.user_id = hq.user_id
    WHERE GREATEST(hu.h, hq.h) <= 25.0
"""


def _point_to_seg_dist():
    """Clamped-projection point-to-segment Euclidean distance as a
    Column expression over (x, y) point and (ax, ay, bx, by) segment
    columns — the reference's LineSegment.minDist [P §4.1] closed-form,
    entirely inside whole-stage codegen."""
    len2 = (F.col("bx") - F.col("ax")) * (F.col("bx") - F.col("ax")) + (
        F.col("by") - F.col("ay")
    ) * (F.col("by") - F.col("ay"))
    dot = (F.col("x") - F.col("ax")) * (F.col("bx") - F.col("ax")) + (
        F.col("y") - F.col("ay")
    ) * (F.col("by") - F.col("ay"))
    tt = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), dot / len2))
    )
    return F.sqrt(
        F.pow(F.col("x") - (F.col("ax") + tt * (F.col("bx") - F.col("ax"))), 2)
        + F.pow(F.col("y") - (F.col("ay") + tt * (F.col("by") - F.col("ay"))), 2)
    )


@query("traj_hausdorff_segments_knn", oracle=_SEG_KNN_ORACLE)
def traj_hausdorff_segments_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 over SEGMENT geometry: the 10 users nearest the query user
    under symmetric segment-Hausdorff — each point measures its distance
    to the other trajectory's nearest LINE SEGMENT (the reference's
    R-tree-over-LineSegments search geometry [P §4.1], where
    ``traj_hausdorff_knn_2d`` uses point-set distance).

    Each trajectory's last point doubles as a degenerate (point)
    segment: a no-op for n>=2 users (the real last segment contains that
    endpoint) and exactly right for single-point trajectories, keeping
    both directed distances total. Both directed maxima are grouped
    min/max over a broadcast join against the QUERY side only (points or
    segments of user 1 — tiny), so nothing is quadratic in the corpus;
    at 100 TB the scan side streams once per direction. All closed-form
    SQL — FULL oracle."""
    t = Tables(spark, sf_dir)
    h = F.greatest("hu", "hq")
    return (
        _seg_hausdorff_per_user(t)
        .orderBy(h, "user_id")
        .limit(_SEARCH_K)
        .select("user_id", F.round(h, 6).alias("seg_hausdorff"))
    )


@query("traj_hausdorff_segments_threshold", oracle=_SEG_THRESHOLD_ORACLE)
def traj_hausdorff_segments_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R8 over SEGMENT geometry: all users within symmetric
    segment-Hausdorff tau=25.0 of the query user — the threshold twin of
    ``traj_hausdorff_segments_knn``, completing the segment family
    {pair, kNN, threshold}. Same broadcast-query-side engine, final
    filter instead of top-k."""
    t = Tables(spark, sf_dir)
    h = F.greatest("hu", "hq")
    return (
        _seg_hausdorff_per_user(t)
        .filter(h <= _SEG_TAU)
        .select("user_id", F.round(h, 6).alias("seg_hausdorff"))
    )


def _seg_hausdorff_per_user(t: Tables) -> DataFrame:
    """Both directed segment-Hausdorff maxima per user vs the query user
    (columns hu, hq): points->query-segments and query-points->segments,
    each a broadcast join + two grouped extrema."""
    from pyspark.sql import Window as W

    pts = points(t.user_points(), "xy", corpus_t0(t.events))
    w = W.partitionBy("user_id").orderBy("seq")
    segs = pts.select(
        "user_id",
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.coalesce(F.lead("x").over(w), F.col("x")).alias("bx"),
        F.coalesce(F.lead("y").over(w), F.col("y")).alias("by"),
    )
    qp = pts.filter(F.col("user_id") == 1).select("x", "y")
    qs = segs.filter(F.col("user_id") == 1).select("ax", "ay", "bx", "by")
    d = _point_to_seg_dist()
    hu = (
        pts.filter(F.col("user_id") != 1)
        .join(F.broadcast(qs))
        .groupBy("user_id", "x", "y")
        .agg(F.min(d).alias("md"))
        .groupBy("user_id")
        .agg(F.max("md").alias("hu"))
    )
    hq = (
        segs.filter(F.col("user_id") != 1)
        .join(F.broadcast(qp))
        .groupBy("user_id", "x", "y")
        .agg(F.min(d).alias("md"))
        .groupBy("user_id")
        .agg(F.max("md").alias("hq"))
    )
    return hu.join(hq, "user_id")


_KNN_BATCH_ORACLE = f"""
    WITH pts AS (SELECT user_id, value FROM events),
    q AS (
        SELECT user_id AS qid, value AS qv FROM events
        WHERE user_id IN {_BATCH_QIDS}
    ),
    d AS (
        SELECT q.qid, p.user_id, p.value, q.qv, ABS(p.value - q.qv) AS d
        FROM pts p JOIN q ON p.user_id <> q.qid
    ),
    dqu AS (SELECT qid, user_id, MAX(md) AS h1 FROM (
                SELECT qid, user_id, value, MIN(d) AS md FROM d
                GROUP BY qid, user_id, value)
            GROUP BY qid, user_id),
    duq AS (SELECT qid, user_id, MAX(md) AS h2 FROM (
                SELECT qid, user_id, qv, MIN(d) AS md FROM d
                GROUP BY qid, user_id, qv)
            GROUP BY qid, user_id),
    h AS (
        SELECT dqu.qid, dqu.user_id,
               GREATEST(dqu.h1, duq.h2) AS hd
        FROM dqu JOIN duq
          ON dqu.qid = duq.qid AND dqu.user_id = duq.user_id
    ),
    rk AS (
        SELECT qid, user_id, hd,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY hd, user_id) AS rn
        FROM h
    )
    SELECT qid, user_id, ROUND(hd, 6) AS hausdorff
    FROM rk WHERE rn <= {_SEARCH_K}
"""


@query("traj_hausdorff_knn_batch", oracle=_KNN_BATCH_ORACLE)
def traj_hausdorff_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's BENCHMARK WORKLOAD shape (R17 -> R9): a batch of
    query trajectories (users 1, 2, 3) answered in ONE shared pass —
    top-10 Hausdorff neighbors per query — instead of one corpus scan
    per query.

    ``traj_hausdorff_knn``'s plan with three query users: the corpus
    value sets stream once against the broadcast query sets through one
    ``extras12._knn_batch`` pass over ``_HAUSDORFF_1D``, and a
    ``row_number`` window over qid merges the partitions' local top-k
    lists on the unrounded distance.  At 100 TB a 100-query workload
    costs one scan, not 100, which is why the reference samples
    workloads [P §6]."""
    from .extras12 import _HAUSDORFF_1D, _knn_batch

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value", ordered=False),
        _HAUSDORFF_1D,
    ).select("qid", "user_id", F.round("hausdorff", 6).alias("hausdorff"))


_KNN2D_BATCH_ORACLE = f"""
    WITH t0 AS (
        SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events
    ),
    pts AS (
        SELECT user_id,
               (epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT t0 FROM t0))
               / 86400000000.0 AS x,
               value AS y
        FROM events
    ),
    q AS (
        SELECT user_id AS qid, x AS qx, y AS qy FROM pts
        WHERE user_id IN {_BATCH_QIDS}
    ),
    d AS (
        SELECT q.qid, p.user_id, p.x, p.y, q.qx, q.qy,
               SQRT((p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy)) AS d
        FROM pts p JOIN q ON p.user_id <> q.qid
    ),
    h1 AS (SELECT qid, user_id, MAX(md) AS h FROM (
               SELECT qid, user_id, qx, qy, MIN(d) AS md FROM d
               GROUP BY qid, user_id, qx, qy)
           GROUP BY qid, user_id),
    h2 AS (SELECT qid, user_id, MAX(md) AS h FROM (
               SELECT qid, user_id, x, y, MIN(d) AS md FROM d
               GROUP BY qid, user_id, x, y)
           GROUP BY qid, user_id),
    hh AS (
        SELECT h1.qid, h1.user_id, GREATEST(h1.h, h2.h) AS hd
        FROM h1 JOIN h2
          ON h1.qid = h2.qid AND h1.user_id = h2.user_id
    ),
    rk AS (
        SELECT qid, user_id, hd,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY hd, user_id) AS rn
        FROM hh
    )
    SELECT qid, user_id, ROUND(hd, 6) AS hausdorff_2d
    FROM rk WHERE rn <= {_SEARCH_K}
"""


@query("traj_hausdorff_knn_2d_batch", oracle=_KNN2D_BATCH_ORACLE)
def traj_hausdorff_knn_2d_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The benchmark workload (R17 -> R9) in the paper's native 2-D
    setting: top-10 exact Hausdorff neighbors for query users 1, 2, 3 in
    ONE pass over the corpus — the 2-D twin of
    ``traj_hausdorff_knn_batch``.

    ``extras12._knn_batch`` over the order-free per-user point sets:
    the corpus streams once against the broadcast query point sets,
    every (query, candidate) row whose largest bbox-side gap exceeds
    the query's running k-th distance is skipped, the rest get both
    directed maxima in one Arrow pass, and a ``row_number`` window over
    qid merges the partitions' local top-k lists on the unrounded
    distance.  The same plan as ``traj_hausdorff_knn_2d`` with three
    query users."""
    from .extras12 import _HAUSDORFF_2D, _knn_batch

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "xy", ordered=False),
        _HAUSDORFF_2D,
    ).select(
        "qid", "user_id", F.round("hausdorff_2d", 6).alias("hausdorff_2d")
    )


_DTW_BAND_W = 8


def _dtw_banded_kernel(cands, q, tau=None):
    return kernels.dtw_banded_block(cands, q, w=_DTW_BAND_W, tau=tau)


@query(
    "traj_dtw_knn_banded",
    oracle=lambda: _DL.float_knn_sql(
        False, "dtw_banded", _SEARCH_K, band_w=_DTW_BAND_W
    ),
)  # FULL since round 7: banded list-layer DP oracle (dp_list_sql)
def traj_dtw_knn_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 under SAKOE-CHIBA banded DTW (w=8): the constrained-alignment
    kNN — the kernel-level scale variant of ``traj_dtw_knn``. The band
    caps per-pair work at O(n*w) instead of O(n*m) (both the DP and the
    distance gathers are band-local, kernels.dtw_banded_block), which is
    how production DTW search survives long series.

    EXACT under the banded semantic via the SAME one-pass
    ``extras12._knn_batch`` plan: banded cost >= exact DTW >= Fréchet
    >= the max(Hausdorff, endpoints) bound (restricting the coupling
    set can only raise the minimum), so the identical lb prune and tau
    early-abandon stay valid. Pinned against a NumPy banded reference +
    the wide-band==exact property in tests/test_kernels.py,
    brute-force-equality in tests/test_twophase.py."""
    from .extras12 import _dp_measure, _knn_batch, _lb_1d

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _dp_measure(_dtw_banded_kernel, _lb_1d, "dtw_banded"),
        qids=(_QUERY_USER,),
    ).drop("qid")


@query(
    "traj_dtw_knn_banded_2d",
    oracle=lambda: _DL.float_knn_sql(
        True, "dtw_banded_2d", _SEARCH_K, band_w=_DTW_BAND_W
    ),
)  # FULL since round 7: banded list-layer DP oracle (dp_list_sql)
def traj_dtw_knn_banded_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 under SAKOE-CHIBA banded DTW in TWO dimensions — the
    constrained-alignment kNN over the (time-in-days, value) plane,
    completing the banded family (1-D landed round 2). Same validity
    chain: banded cost >= exact 2-D DTW >= 2-D Fréchet >= the endpoint
    + bbox-side bound, so ``extras12._knn_batch``'s lb prune and tau
    early-abandon apply unchanged; the kernel's band-local gathers keep
    per-pair work at O(n*w). Cross-engine: the DuckDB multi-user
    recursion with the band as a cell filter reproduces this row
    exactly
    (tests/test_twophase.py::test_dp_banded_2d_matches_duckdb_recursion).
    """
    from .extras12 import _dp_measure, _knn_batch, _lb_2d

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "xy", ordered=True),
        _dp_measure(_dtw_banded_kernel, _lb_2d, "dtw_banded_2d"),
        qids=(_QUERY_USER,),
    ).drop("qid")


@query(
    "traj_dtw_threshold_banded",
    oracle=lambda: _DL.float_threshold_sql(
        False, "dtw_banded", 1500.0, band_w=_DTW_BAND_W
    ),
)  # FULL since round 7: banded list-layer DP oracle (dp_list_sql)
def traj_dtw_threshold_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 under Sakoe-Chiba banded DTW: all users whose CONSTRAINED
    alignment cost is <= tau — the threshold twin of
    ``traj_dtw_knn_banded``, completing the banded {kNN, threshold}
    tier. Banded cost >= exact DTW, so the max(Hausdorff, endpoints)
    bound and the tau early-abandon of the one-pass
    ``extras12._threshold_search`` stay valid; per-pair work stays
    O(n*w)."""
    from .extras12 import (
        _dp_measure,
        _lb_1d,
        _threshold_search,
    )
    from .trajectory import _DTW_TAU

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _dp_measure(_dtw_banded_kernel, _lb_1d, "dtw_banded"),
        _DTW_TAU,
    )
