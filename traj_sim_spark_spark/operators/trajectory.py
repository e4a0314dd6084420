"""J. Trajectory operators (SURVEY.md §2.2-J) — the reference's core.

traj-sim-spark's entire query surface is threshold/kNN similarity search
over trajectories (R8/R9) with Hausdorff / discrete Fréchet / DTW kernels
(R12-R14), over a segment-decomposed, spatially partitioned index
[P §3-§5]. Re-expression here, per SURVEY.md §4:

- assembly (R2) is one hash aggregate per trajectory plane
  (``planes.arrays``) and segmentation (R3) a lead() window;
- Hausdorff is **order-insensitive**, so every Hausdorff row works on
  unordered point sets: the pair rows are pure SQL (join + groupBy min
  + max), and the 1-D and 2-D searches run the search kernel of the
  next item over a bbox-gap bound;
- Fréchet/DTW are order-sensitive DP kernels → Arrow (``mapInPandas``)
  passes over (candidate, query) series pairs, property-tested in
  pytest against naive NumPy references;
- the prune-then-refine idiom (R15) runs inside every Fréchet/DTW and
  Hausdorff kNN and threshold search (``extras12._knn_batch`` /
  ``_threshold_search``): a cheap lower bound skips the exact kernel —
  max(Hausdorff, endpoints) for Fréchet/DTW, since Fréchet >= Hausdorff
  on every pair [P §5.1].

Trajectories derive from events: traj_id=user_id, order=(ts, event_id),
coordinate=value (1-D) — FIXTURES.md.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions import kernels
from ..registry import query
from . import dp_list_sql as _DL
from ..sources.readers import staging_dir, write_partitioned
from ..tables import Tables, file_schema
from .planes import arrays, corpus_t0, points

_QUERY_USER = 1  # the fixtures' query trajectory (exists at every sf)
_BATCH_QIDS = (1, 2, 3)  # the sampled query-trajectory workload
_SEARCH_K = 10  # every kNN row's k: engine rank cut and oracle LIMIT


@query(
    "traj_assemble",
    oracle="""
    SELECT user_id, COUNT(*) AS n_points,
           string_agg(format('{:.2f}', value), ','
                      ORDER BY ts, event_id) AS vals
    FROM events
    GROUP BY user_id
    """,
)
def traj_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: per-user ordered point sequence (trajectory assembly).

    The assembled array is the engine's analog of the reference's
    ``RDD[(traj_id, Array[Point])]`` store; for the oracle the sequence is
    fingerprinted as a comma-joined fixed-format string (values are exact
    2-decimal doubles) so ordering is hash-checked cross-engine."""
    arr = arrays(Tables(spark, sf_dir).events, "value", ordered=True)
    return arr.select(
        "user_id",
        F.size("a").cast("bigint").alias("n_points"),
        F.concat_ws(
            ",", F.transform("a", lambda v: F.format_string("%.2f", v))
        ).alias("vals"),
    )


@query(
    "traj_segments",
    oracle="""
    WITH pts AS (
        SELECT user_id, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS seq
        FROM events
    )
    SELECT user_id, CAST(seq AS INTEGER) AS seq, value AS v0,
           LEAD(value) OVER w AS v1,
           LEAD(ts_us) OVER w - ts_us AS dt_us
    FROM pts
    WINDOW w AS (PARTITION BY user_id ORDER BY seq)
    QUALIFY LEAD(value) OVER w IS NOT NULL
    """,
)
def traj_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3: segment decomposition — consecutive point pairs via lead().

    The reference flatMaps each trajectory into (LineSegment, TrajMeta)
    [P §4.1]; here a single window pass emits (user, seq, v0, v1, dt) with
    one shuffle on user_id and no array materialization."""
    t = Tables(spark, sf_dir)
    pts = t.user_points().withColumn("ts_us", F.unix_micros("ts"))
    w = W.partitionBy("user_id").orderBy("seq")
    return (
        pts.select(
            "user_id",
            "seq",
            F.col("value").alias("v0"),
            F.lead("value").over(w).alias("v1"),
            (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dt_us"),
        )
        .filter(F.col("v1").isNotNull())
    )


# ---------------------------------------------------------------------------
# Hausdorff — order-insensitive: the pair in pure SQL (the R12
# "flagship trick"), the searches on the search kernel
# ---------------------------------------------------------------------------

_HAUSDORFF_PAIR_ORACLE = """
    WITH a AS (SELECT DISTINCT value FROM events WHERE user_id = 1),
         b AS (SELECT DISTINCT value FROM events WHERE user_id = 2),
    dab AS (SELECT a.value av, MIN(ABS(a.value - b.value)) md
            FROM a CROSS JOIN b GROUP BY a.value),
    dba AS (SELECT b.value bv, MIN(ABS(a.value - b.value)) md
            FROM a CROSS JOIN b GROUP BY b.value)
    SELECT ROUND((SELECT MAX(md) FROM dab), 6) AS h_ab,
           ROUND((SELECT MAX(md) FROM dba), 6) AS h_ba,
           ROUND(GREATEST((SELECT MAX(md) FROM dab),
                          (SELECT MAX(md) FROM dba)), 6) AS hausdorff
"""


@query("traj_hausdorff_pair", oracle=_HAUSDORFF_PAIR_ORACLE)
def traj_hausdorff_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12 between users 1 and 2, entirely in SQL.

    H(A,B)=max(h(A,B),h(B,A)), h(A,B)=max_a min_b |a-b| — a join +
    two-level aggregation, because Hausdorff treats trajectories as point
    SETS. Duplicate coordinates are collapsed first (distances are
    invariant under multiplicity)."""
    t = Tables(spark, sf_dir)
    ev = t.events
    a = ev.filter(F.col("user_id") == 1).select("value").distinct()
    b = (
        ev.filter(F.col("user_id") == 2)
        .select(F.col("value").alias("bv"))
        .distinct()
    )
    d = a.crossJoin(F.broadcast(b)).select(
        "value", "bv", F.abs(F.col("value") - F.col("bv")).alias("d")
    )
    h_ab = d.groupBy("value").agg(F.min("d").alias("md")).agg(
        F.max("md").alias("h_ab")
    )
    h_ba = d.groupBy("bv").agg(F.min("d").alias("md")).agg(
        F.max("md").alias("h_ba")
    )
    return h_ab.crossJoin(h_ba).select(
        F.round("h_ab", 6).alias("h_ab"),
        F.round("h_ba", 6).alias("h_ba"),
        F.round(F.greatest("h_ab", "h_ba"), 6).alias("hausdorff"),
    )


@query(
    "traj_hausdorff_knn",
    oracle=f"""
    WITH q AS (SELECT DISTINCT value AS qv FROM events WHERE user_id = 1),
    pairs AS (
        SELECT e.user_id, q.qv, e.value AS ev_val,
               ABS(q.qv - e.value) AS d
        FROM events e CROSS JOIN q
        WHERE e.user_id <> 1
    ),
    dqu AS (SELECT user_id, MAX(md) AS h1 FROM (
                SELECT user_id, qv, MIN(d) AS md FROM pairs
                GROUP BY user_id, qv)
            GROUP BY user_id),
    duq AS (SELECT user_id, MAX(md) AS h2 FROM (
                SELECT user_id, ev_val, MIN(d) AS md FROM pairs
                GROUP BY user_id, ev_val)
            GROUP BY user_id)
    SELECT dqu.user_id,
           ROUND(GREATEST(h1, h2), 6) AS hausdorff
    FROM dqu JOIN duq ON dqu.user_id = duq.user_id
    ORDER BY GREATEST(h1, h2), dqu.user_id
    LIMIT {_SEARCH_K}
    """,
)
def traj_hausdorff_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 under Hausdorff: the 10 users most similar to the query user,
    exact.

    ``extras12._knn_batch`` with the single query user over the
    order-free per-user value sets: every partition skips a candidate
    whose value-span gap exceeds its running k-th distance, scores the
    rest by binary search over the sorted sets (``_HAUSDORFF_1D``) and
    keeps a local top-k; a ``row_number`` window merges the local
    lists.  It ranks on the unrounded distance, as the oracle's ORDER
    BY does, and rounds only for display.  One plan, no driver
    action."""
    from .extras12 import _HAUSDORFF_1D, _knn_batch

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value", ordered=False),
        _HAUSDORFF_1D,
        qids=(_QUERY_USER,),
    ).select("user_id", F.round("hausdorff", 6).alias("hausdorff"))


# ---------------------------------------------------------------------------
# Fréchet / DTW — order-sensitive DP kernels via applyInPandas (WEAK rows)
# ---------------------------------------------------------------------------


def _series_2d(row) -> tuple[np.ndarray, np.ndarray]:
    """Extract (candidate, query) (n,2) coordinate arrays from a row of
    ``extras12._pairs`` over the ``xy`` plane (columns xs/ys/qxs/qys)."""
    return (
        np.column_stack(
            (np.asarray(row.xs), np.asarray(row.ys))
        ).astype(np.float64),
        np.column_stack(
            (np.asarray(row.qxs), np.asarray(row.qys))
        ).astype(np.float64),
    )


def _dp_refine(kernel, extract, out_col: str):
    """mapInPandas kernel stage: exact DP distance per (user, query)
    series pair, rounded to 6 places.

    ``kernel`` is ``kernels.frechet`` / ``kernels.dtw``; ``extract`` maps
    a row of ``extras12._pairs`` to its (candidate, query) arrays (1-D
    or 2-D)."""

    def refine(batches):  # no shuffle — rows are already one-per-user
        for pdf in batches:
            out = [
                (row.user_id, round(kernel(*extract(row)), 6))
                for row in pdf.itertuples()
            ]
            yield pd.DataFrame(out, columns=["user_id", out_col])

    return refine


def _dp_search_oracle(
    combine: str,
    final: str,
    dist: str = "ABS(av.v - bv.v)",
    coords: str = "value",
    cols: str = "v",
    cell_filter: str = "TRUE",
) -> str:
    """Multi-user antidiagonal recursion: EVERY candidate user's DP grid
    against the query user advances in lockstep (rows keyed by user) —
    the brute-force DP search truth as ONE recursive CTE.

    ``dist``/``coords``/``cols`` parameterize the per-cell metric: the
    1-D default is |av.v - bv.v| over ``value``; the 2-D form passes the
    (time-in-days, value) projection and the Euclidean SQRT — the same
    float DAG as the engine's NumPy kernel, so the 2-D WEAK search rows
    get the same cross-engine evidence as the 1-D ones.  ``cell_filter``
    restricts the admissible DP cells (may reference av.i, bv.j and
    peru.n) — the Sakoe-Chiba band form of the banded-DTW row.

    NOT registered as the driver oracle: DuckDB materializes every
    layer of every user's grid ROW-PER-CELL, measured 37 s at sf0.01 /
    245 s at sf0.1.  Since round 7 the driver oracles for all 23
    search tiers are the LIST-LAYER form instead
    (``operators/dp_list_sql.py`` — one list per antidiagonal, ~60x
    faster, FULL rows); this row-per-cell variant stays as the
    INDEPENDENT pytest cross-check at sf0.001
    (tests/test_twophase.py) — a third implementation of the same
    recursion, structurally unlike both the kernel and the list-layer
    oracle, which is exactly what makes it a useful pin."""
    return f"""
    WITH RECURSIVE
    bv(j, {cols}) AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id), {coords}
        FROM events WHERE user_id = 1
    ),
    av(u, i, {cols}) AS (
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id), {coords}
        FROM events WHERE user_id <> 1
    ),
    peru AS (SELECT u, MAX(i) AS n FROM av GROUP BY u),
    mdim AS (SELECT MAX(j) AS m FROM bv),
    dp(u, k, i, val, age) AS (
        SELECT av.u, 2, 1, {dist}, 0
        FROM av JOIN bv ON av.i = 1 AND bv.j = 1
        UNION ALL
        (
          WITH cur AS (SELECT * FROM dp),
          kk AS (SELECT MAX(k) AS k FROM cur),
          cells AS (
              SELECT (SELECT k FROM kk) + 1 AS k, av.u, av.i,
                     {dist} AS d
              FROM av JOIN bv ON bv.j = (SELECT k FROM kk) + 1 - av.i
              JOIN peru ON peru.u = av.u
              WHERE {cell_filter}
          ),
          newcells AS (
              SELECT cells.u, cells.k, cells.i,
                     {combine} AS val, 0 AS age
              FROM cells JOIN cur
                ON cur.u = cells.u
               AND ((cur.age = 0 AND cur.i IN (cells.i - 1, cells.i))
                    OR (cur.age = 1 AND cur.i = cells.i - 1))
              GROUP BY cells.k, cells.u, cells.i, cells.d
          ),
          carry AS (
              SELECT u, k + 1, i, val, 1 FROM cur WHERE age = 0
          )
          SELECT u, k, i, val, age FROM newcells
          UNION ALL
          SELECT * FROM carry
          WHERE (SELECT k FROM kk)
                < (SELECT MAX(n) FROM peru) + (SELECT m FROM mdim)
        )
    ),
    finals AS (
        SELECT dp.u AS user_id, dp.val
        FROM dp JOIN peru ON peru.u = dp.u
        WHERE dp.age = 0 AND dp.i = peru.n
          AND dp.k = peru.n + (SELECT m FROM mdim)
    )
    {final}
    """

@query(
    "traj_frechet_knn",
    oracle=lambda: _DL.float_knn_sql(
        False, "frechet", _SEARCH_K, frechet=True
    ),
)  # FULL since round 7: list-layer DP oracle (dp_list_sql)
def traj_frechet_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9/R13: k users nearest the query user under discrete Fréchet —
    EXACT, via the reference's prune-then-refine [P §5] as ONE plan:
    ``extras12._knn_batch`` with the single query user.  Every
    partition bounds its candidates by max(Hausdorff, endpoint
    distances) (every Fréchet coupling matches first-with-first and
    last-with-last, and Fréchet >= Hausdorff), skips those whose bound
    exceeds its running k-th distance, early-abandons the surviving
    DPs at that tau (O10) and keeps a local top-k; a ``row_number``
    window merges the local lists.  No driver round-trip: the
    reference's driver-orchestrated loop becomes one Arrow pass."""
    from .extras12 import _dp_measure, _knn_batch, _lb_1d

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _dp_measure(kernels.frechet_block, _lb_1d, "frechet"),
        qids=(_QUERY_USER,),
    ).drop("qid")


_FRECHET_TAU = 85.0


@query(
    "traj_frechet_threshold",
    oracle=lambda: _DL.float_threshold_sql(
        False, "frechet", _FRECHET_TAU, frechet=True
    ),
)  # FULL since round 7: list-layer DP oracle (dp_list_sql)
def traj_frechet_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 under discrete Fréchet: all users within tau=85.0 of the query
    user — EXACT, as ONE plan with no driver round-trip:
    ``extras12._threshold_search``, the kNN pass with a fixed radius.
    Every (query, candidate) row is bounded by max(Hausdorff, endpoint
    distances) (Fréchet >= the bound [P §5.1]) and skipped when the
    bound exceeds tau + 1e-6; the rest run the DP, which early-abandons
    past that pad, and a row is kept when its 6-decimal distance is
    <= tau, the oracle's predicate.  This completes the reference's
    query matrix — {threshold, kNN} x {Hausdorff, Fréchet} [P §4-§5]."""
    from .extras12 import (
        _dp_measure,
        _lb_1d,
        _threshold_search,
    )

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _dp_measure(kernels.frechet_block, _lb_1d, "frechet"),
        _FRECHET_TAU,
    )


def _dp_layers_sql(name: str, combine: str, cost: str) -> str:
    """One recursive-CTE DP over series CTEs ``av(i, …)`` / ``bv(j, …)``:
    antidiagonal layer k carries layer k−1 along (tagged ``age``) so the
    recursion sees both predecessor layers; cell (i,j) = ``cost`` ⊕
    min(W, N, NW) with ⊕ = ``+`` for DTW and ``max`` for Fréchet — the
    IDENTICAL float expression DAG as the NumPy kernel, so values agree
    bit-for-bit. ``cost`` may reference av.* / bv.*."""
    layers = """
    {name}(k, i, val, age) AS (
        SELECT 2, 1, (SELECT {cost} FROM av, bv
                      WHERE av.i = 1 AND bv.j = 1), 0
        UNION ALL
        (
          WITH cur AS (SELECT * FROM {name}),
          kk AS (SELECT MAX(k) AS k FROM cur),
          cells AS (
              SELECT (SELECT k FROM kk) + 1 AS k, av.i AS i,
                     {cost} AS d
              FROM av JOIN bv ON bv.j = (SELECT k FROM kk) + 1 - av.i
          ),
          newcells AS (
              SELECT cells.k, cells.i,
                     {combine} AS val, 0 AS age
              FROM cells JOIN cur
                ON (cur.age = 0 AND cur.i IN (cells.i - 1, cells.i))
                OR (cur.age = 1 AND cur.i = cells.i - 1)
              GROUP BY cells.k, cells.i, cells.d
          ),
          carry AS (
              SELECT k + 1 AS k, i, val, 1 AS age FROM cur WHERE age = 0
          )
          SELECT k, i, val, age FROM newcells
          UNION ALL
          SELECT k, i, val, age FROM carry
          WHERE (SELECT k FROM kk)
                < (SELECT MAX(i) FROM av) + (SELECT MAX(j) FROM bv)
        )
    )"""
    return layers.format(name=name, combine=combine, cost=cost)


def _dp_pair_oracle() -> str:
    """FULL oracle for the 1-D (user 1, user 2) DP pair row: DTW and
    discrete Fréchet via ``_dp_layers_sql`` recursions, Hausdorff as
    grouped minima."""
    dtw = _dp_layers_sql("dtw_dp", "cells.d + MIN(cur.val)",
                         "ABS(av.v - bv.v)")
    fre = _dp_layers_sql("fre_dp", "GREATEST(cells.d, MIN(cur.val))",
                         "ABS(av.v - bv.v)")
    return f"""
    WITH RECURSIVE
    av(i, v) AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id), value
        FROM events WHERE user_id = 2
    ),
    bv(j, v) AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id), value
        FROM events WHERE user_id = 1
    ),
    {dtw},
    {fre},
    h1 AS (SELECT MAX(md) AS h FROM (
               SELECT av.i, MIN(ABS(av.v - bv.v)) AS md
               FROM av CROSS JOIN bv GROUP BY av.i)),
    h2 AS (SELECT MAX(md) AS h FROM (
               SELECT bv.j, MIN(ABS(av.v - bv.v)) AS md
               FROM av CROSS JOIN bv GROUP BY bv.j))
    SELECT CAST(2 AS BIGINT) AS user_id,
           ROUND((SELECT val FROM dtw_dp
                  WHERE age = 0
                    AND k = (SELECT MAX(i) FROM av)
                          + (SELECT MAX(j) FROM bv)
                    AND i = (SELECT MAX(i) FROM av)), 6) AS dtw,
           ROUND((SELECT val FROM fre_dp
                  WHERE age = 0
                    AND k = (SELECT MAX(i) FROM av)
                          + (SELECT MAX(j) FROM bv)
                    AND i = (SELECT MAX(i) FROM av)), 6) AS frechet,
           ROUND(GREATEST((SELECT h FROM h1), (SELECT h FROM h2)), 6)
               AS hausdorff
    """


@query("traj_dtw_pair", oracle=_dp_pair_oracle())
def traj_dtw_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14: DTW alignment cost between users 1 and 2 (applyInPandas).

    FULL oracle despite the order-sensitive DP: the DuckDB side runs
    the SAME antidiagonal recursion as a recursive CTE (see
    ``_dp_pair_oracle``) — the one family that was declared
    not-SQL-expressible turns out to be expressible after all, for the
    PAIR shape (the kNN/threshold rows stay WEAK: a recursive CTE per
    candidate user would be an oracle-side cost explosion, and those
    rows are already pinned by brute-force equality in pytest)."""
    from .extras12 import _pairs

    arr = arrays(Tables(spark, sf_dir).events, "value", ordered=True)
    paired = _pairs(arr, (_QUERY_USER,)).filter(F.col("user_id") == 2)

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            a = np.asarray(row["a"], dtype=np.float64)
            b = np.asarray(row["qa"], dtype=np.float64)
            out.append(
                (
                    row["user_id"],
                    round(kernels.dtw(a, b), 6),
                    round(kernels.frechet(a, b), 6),
                    round(kernels.hausdorff(a, b), 6),
                )
            )
        return pd.DataFrame(
            out, columns=["user_id", "dtw", "frechet", "hausdorff"]
        )

    return paired.groupBy("user_id").applyInPandas(
        per_user,
        schema="user_id bigint, dtw double, frechet double, hausdorff double",
    )


@query(
    "traj_session_batch",
    oracle="""
    WITH pts AS (
        SELECT user_id, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN prev_us IS NULL
                        OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0
                  END AS new_sess
        FROM pts
    ),
    sessions AS (
        SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, COUNT(*) AS n_events,
           MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
           ROUND(SUM(value), 6) AS sum_value
    FROM sessions
    GROUP BY user_id, sess_id
    """,
)
def traj_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap rule) — gaps-and-islands in batch; the
    batch oracle for streaming ``session_window`` (§2.2-L)."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wc = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pts = (
        t.events.select("user_id", "value", "ts", "event_id")
        .withColumn("ts_us", F.unix_micros("ts"))
        .withColumn("prev_us", F.lag(F.unix_micros("ts")).over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("ts_us") - F.col("prev_us") >= 1800000000),
                1,
            ).otherwise(0),
        )
        .withColumn("sess_id", F.sum("new_sess").over(wc))
    )
    return pts.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


@query(
    "traj_hausdorff_threshold",
    oracle="""
    WITH q AS (SELECT DISTINCT value AS qv FROM events WHERE user_id = 1),
    pairs AS (
        SELECT e.user_id, q.qv, e.value AS ev_val, ABS(q.qv - e.value) AS d
        FROM events e CROSS JOIN q
        WHERE e.user_id <> 1
    ),
    dqu AS (SELECT user_id, MAX(md) AS h1 FROM (
                SELECT user_id, qv, MIN(d) AS md FROM pairs
                GROUP BY user_id, qv) GROUP BY user_id),
    duq AS (SELECT user_id, MAX(md) AS h2 FROM (
                SELECT user_id, ev_val, MIN(d) AS md FROM pairs
                GROUP BY user_id, ev_val) GROUP BY user_id)
    SELECT dqu.user_id, ROUND(GREATEST(h1, h2), 6) AS hausdorff
    FROM dqu JOIN duq ON dqu.user_id = duq.user_id
    WHERE GREATEST(h1, h2) <= 30.0
    """,
)
def traj_hausdorff_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 proper: THRESHOLD similarity search — all users within
    Hausdorff distance tau=30.0 of the query user [P §4].

    ``extras12._threshold_search``, the kNN pass with a fixed radius: a
    candidate whose value-span gap exceeds tau cannot qualify and is
    skipped; the rest are scored by ``_HAUSDORFF_1D`` and kept when the
    unrounded distance is <= tau, the oracle's predicate.  One plan,
    no driver action."""
    from .extras12 import _HAUSDORFF_1D, _threshold_search

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "value", ordered=False),
        _HAUSDORFF_1D,
        30.0,
    ).select("user_id", F.round("hausdorff", 6).alias("hausdorff"))


@query(
    "traj_hausdorff_pair_2d",
    oracle="""
    WITH pts AS (
        SELECT user_id,
               (epoch_us(CAST(ts AS TIMESTAMP))
                - (SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) FROM events))
               / 86400000000.0 AS x,
               value AS y
        FROM events WHERE user_id IN (1, 2)
    ),
    a AS (SELECT DISTINCT x, y FROM pts WHERE user_id = 1),
    b AS (SELECT DISTINCT x, y FROM pts WHERE user_id = 2),
    dab AS (SELECT a.x, a.y,
                   MIN(SQRT((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y))) AS md
            FROM a CROSS JOIN b GROUP BY a.x, a.y),
    dba AS (SELECT b.x, b.y,
                   MIN(SQRT((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y))) AS md
            FROM a CROSS JOIN b GROUP BY b.x, b.y)
    SELECT ROUND(GREATEST((SELECT MAX(md) FROM dab),
                          (SELECT MAX(md) FROM dba)), 6) AS hausdorff_2d
    """,
)
def traj_hausdorff_pair_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12 in TWO dimensions — the reference's actual GPS setting.

    Points are (time-in-days, value): Euclidean point-set Hausdorff via
    join + two grouped minima, exactly the 1-D flagship trick with the
    distance expression swapped (FIXTURES.md 2-D derivation). At corpus
    scale the pair join gains a grid-cell equi-join prefilter
    (sim_band_join's pattern in 2 keys)."""
    pts = (
        points(Tables(spark, sf_dir).events, "xy")
        .filter(F.col("user_id").isin(1, 2))
        .select("user_id", "x", "y")
        .distinct()
    )
    a = pts.filter(F.col("user_id") == 1).select("x", "y")
    b = pts.filter(F.col("user_id") == 2).select(
        F.col("x").alias("bx"), F.col("y").alias("by")
    )
    d = a.crossJoin(F.broadcast(b)).withColumn(
        "d",
        F.sqrt(
            (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
            + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by"))
        ),
    )
    h_ab = d.groupBy("x", "y").agg(F.min("d").alias("md")).agg(
        F.max("md").alias("h_ab")
    )
    h_ba = d.groupBy("bx", "by").agg(F.min("d").alias("md")).agg(
        F.max("md").alias("h_ba")
    )
    return h_ab.crossJoin(h_ba).select(
        F.round(F.greatest("h_ab", "h_ba"), 6).alias("hausdorff_2d")
    )


@query(
    "traj_hausdorff_knn_2d",
    oracle=f"""
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
    q AS (SELECT x AS qx, y AS qy FROM pts WHERE user_id = 1),
    d AS (
        SELECT p.user_id, p.x, p.y, q.qx, q.qy,
               SQRT((p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy)) AS d
        FROM pts p CROSS JOIN q
        WHERE p.user_id <> 1
    ),
    h1 AS (SELECT user_id, MAX(md) AS h FROM (
               SELECT user_id, qx, qy, MIN(d) AS md FROM d
               GROUP BY user_id, qx, qy)
           GROUP BY user_id),
    h2 AS (SELECT user_id, MAX(md) AS h FROM (
               SELECT user_id, x, y, MIN(d) AS md FROM d
               GROUP BY user_id, x, y)
           GROUP BY user_id)
    SELECT h1.user_id,
           ROUND(GREATEST(h1.h, h2.h), 6) AS hausdorff_2d
    FROM h1 JOIN h2 ON h1.user_id = h2.user_id
    ORDER BY GREATEST(h1.h, h2.h), h1.user_id
    LIMIT {_SEARCH_K}
    """,
)
def traj_hausdorff_knn_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 in TWO dimensions — kNN under Euclidean point-set Hausdorff in
    the (time-in-days, value) plane, the reference's actual GPS query
    shape [P §5], exact.

    ``extras12._knn_batch`` with the single query user over the
    order-free per-user point sets: every partition bounds its
    candidates by the largest bbox-side gap, skips those whose bound
    exceeds its running k-th distance, computes both directed maxima
    of the rest and keeps a local top-k; a ``row_number`` window
    merges the local lists.  It ranks on the unrounded distance, as
    the oracle's ORDER BY does, and rounds only for display.  One
    plan, no driver action."""
    from .extras12 import _HAUSDORFF_2D, _knn_batch

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "xy", ordered=False),
        _HAUSDORFF_2D,
        qids=(_QUERY_USER,),
    ).select("user_id", F.round("hausdorff_2d", 6).alias("hausdorff_2d"))


@query(
    "traj_hausdorff_threshold_2d",
    oracle="""
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
    q AS (SELECT x AS qx, y AS qy FROM pts WHERE user_id = 1),
    d AS (
        SELECT p.user_id, p.x, p.y, q.qx, q.qy,
               SQRT((p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy)) AS d
        FROM pts p CROSS JOIN q
        WHERE p.user_id <> 1
    ),
    h1 AS (SELECT user_id, MAX(md) AS h FROM (
               SELECT user_id, qx, qy, MIN(d) AS md FROM d
               GROUP BY user_id, qx, qy)
           GROUP BY user_id),
    h2 AS (SELECT user_id, MAX(md) AS h FROM (
               SELECT user_id, x, y, MIN(d) AS md FROM d
               GROUP BY user_id, x, y)
           GROUP BY user_id)
    SELECT h1.user_id,
           ROUND(GREATEST(h1.h, h2.h), 6) AS hausdorff_2d
    FROM h1 JOIN h2 ON h1.user_id = h2.user_id
    WHERE GREATEST(h1.h, h2.h) <= 32.0
    """,
)
def traj_hausdorff_threshold_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 in TWO dimensions: all users within Euclidean point-set
    Hausdorff tau=32.0 of the query user in the GPS plane — the
    reference's threshold search in its native setting [P §4].

    ``extras12._threshold_search``, the kNN pass with a fixed radius:
    a candidate whose largest bbox-side gap exceeds tau cannot qualify
    and is skipped (the R-tree global prune [P §4.2] as a per-row
    bound); the rest get both directed maxima and are kept when the
    unrounded distance is <= tau, the oracle's predicate.  One plan,
    no driver action."""
    from .extras12 import _HAUSDORFF_2D, _threshold_search

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "xy", ordered=False),
        _HAUSDORFF_2D,
        32.0,
    ).select("user_id", F.round("hausdorff_2d", 6).alias("hausdorff_2d"))


@query(
    "traj_dtw_knn",
    oracle=lambda: _DL.float_knn_sql(False, "dtw", _SEARCH_K),
)  # FULL since round 7: list-layer DP oracle (dp_list_sql)
def traj_dtw_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 under DTW: k users with the cheapest warping alignment to the
    query user — EXACT, the same one-pass ``extras12._knn_batch`` plan
    as the Fréchet kNN.

    The Fréchet lower bound is ALSO a DTW lower bound: DTW and discrete
    Fréchet range over the same monotone couplings, and a sum of
    non-negative distances dominates its maximum, so
    DTW >= Fréchet >= max(Hausdorff, endpoint distances) on every pair.
    Each surviving DP early-abandons at the partition's running k-th
    distance (valid for the sum recurrence: partial path sums only
    grow)."""
    from .extras12 import _dp_measure, _knn_batch, _lb_1d

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _dp_measure(kernels.dtw_block, _lb_1d, "dtw"),
        qids=(_QUERY_USER,),
    ).drop("qid")


_DTW_TAU = 1500.0


@query(
    "traj_dtw_threshold",
    oracle=lambda: _DL.float_threshold_sql(False, "dtw", _DTW_TAU),
)  # FULL since round 7: list-layer DP oracle (dp_list_sql)
def traj_dtw_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 under DTW: all users whose warping alignment cost to the query
    user is <= tau=1500.0 — the last empty cell of the
    {threshold, kNN} x {Hausdorff, Fréchet, DTW} query matrix.

    The same one Arrow pass as ``traj_frechet_threshold``
    (``extras12._threshold_search``): the max(Hausdorff, endpoints)
    bound skips a row (DTW >= Fréchet >= the bound, since DTW sums what
    Fréchet maxes over the same monotone couplings), each surviving DP
    early-abandons at tau (valid for the sum recurrence: partial path
    sums only grow), and a row is kept when its 6-decimal distance is
    <= tau.  No driver round-trip."""
    from .extras12 import (
        _dp_measure,
        _lb_1d,
        _threshold_search,
    )

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _dp_measure(kernels.dtw_block, _lb_1d, "dtw"),
        _DTW_TAU,
    )


_SEGMENT_HAUSDORFF_ORACLE = """
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
        FROM events WHERE user_id IN (1, 2)
    ),
    segs AS (
        SELECT user_id, x AS ax, y AS ay,
               LEAD(x) OVER w AS bx, LEAD(y) OVER w AS by
        FROM pts
        WINDOW w AS (PARTITION BY user_id ORDER BY seq)
        QUALIFY LEAD(x) OVER w IS NOT NULL
    ),
    cand AS (
        SELECT p.user_id AS pu, p.x, p.y, s.ax, s.ay, s.bx, s.by,
               (s.bx-s.ax)*(s.bx-s.ax)+(s.by-s.ay)*(s.by-s.ay) AS len2,
               (p.x-s.ax)*(s.bx-s.ax)+(p.y-s.ay)*(s.by-s.ay) AS dot
        FROM pts p JOIN segs s ON p.user_id <> s.user_id
    ),
    proj AS (
        SELECT pu, x, y, ax, ay, bx, by,
               CASE WHEN len2 = 0 THEN 0
                    ELSE GREATEST(0, LEAST(1, dot / len2)) END AS t
        FROM cand
    ),
    pd AS (
        SELECT pu, x, y,
               MIN(SQRT(POW(x-(ax+t*(bx-ax)), 2)
                      + POW(y-(ay+t*(by-ay)), 2))) AS md
        FROM proj
        GROUP BY pu, x, y
    )
    SELECT ROUND(MAX(CASE WHEN pu = 1 THEN md END), 6) AS h_q_to_segs,
           ROUND(MAX(CASE WHEN pu = 2 THEN md END), 6) AS h_u_to_segs,
           ROUND(GREATEST(MAX(CASE WHEN pu = 1 THEN md END),
                          MAX(CASE WHEN pu = 2 THEN md END)), 6)
               AS seg_hausdorff
    FROM pd
"""


@query("traj_hausdorff_segments", oracle=_SEGMENT_HAUSDORFF_ORACLE)
def traj_hausdorff_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6/R15 fidelity: SEGMENT-Hausdorff between users 1 and 2 in the
    (time-in-days, value) plane — each point measures its distance to the
    other trajectory's nearest LINE SEGMENT (clamped Euclidean
    projection), not its nearest sample point.

    The reference indexes LineSegments and prunes with point-to-segment
    minDist [P §4.1]; for sparsely-sampled trajectories the segment
    distance is the faithful geometry (a point midway between two
    distant samples is ON the trajectory, distance ~0, where point-set
    Hausdorff reports half the gap). Segments come from one lead()
    window over the ordered points (traj_segments' engine in 2-D); the
    directed maxima are the familiar grouped min/max over the
    point x segment join; all closed-form — FULL oracle."""
    t = Tables(spark, sf_dir)
    pts = (
        points(t.user_points(), "xy", corpus_t0(t.events))
        .filter(F.col("user_id").isin(1, 2))
        .select("user_id", "seq", "x", "y")
    )
    w = W.partitionBy("user_id").orderBy("seq")
    segs = (
        pts.select(
            F.col("user_id").alias("su"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            F.lead("x").over(w).alias("bx"),
            F.lead("y").over(w).alias("by"),
        )
        .filter(F.col("bx").isNotNull())
    )
    cand = pts.join(
        F.broadcast(segs), F.col("user_id") != F.col("su")
    )
    len2 = (F.col("bx") - F.col("ax")) * (F.col("bx") - F.col("ax")) + (
        F.col("by") - F.col("ay")
    ) * (F.col("by") - F.col("ay"))
    dot = (F.col("x") - F.col("ax")) * (F.col("bx") - F.col("ax")) + (
        F.col("y") - F.col("ay")
    ) * (F.col("by") - F.col("ay"))
    tt = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), dot / len2))
    )
    proj = cand.withColumn("t", tt)
    d = F.sqrt(
        F.pow(F.col("x") - (F.col("ax") + F.col("t") * (F.col("bx") - F.col("ax"))), 2)
        + F.pow(F.col("y") - (F.col("ay") + F.col("t") * (F.col("by") - F.col("ay"))), 2)
    )
    pd_min = (
        proj.withColumn("d", d)
        .groupBy("user_id", "x", "y")
        .agg(F.min("d").alias("md"))
    )
    agg = pd_min.agg(
        F.max(F.when(F.col("user_id") == 1, F.col("md"))).alias("h1"),
        F.max(F.when(F.col("user_id") == 2, F.col("md"))).alias("h2"),
    )
    return agg.select(
        F.round("h1", 6).alias("h_q_to_segs"),
        F.round("h2", 6).alias("h_u_to_segs"),
        F.round(F.greatest("h1", "h2"), 6).alias("seg_hausdorff"),
    )


_RANGE_EPS = 2.0

_RANGE_ORACLE = """
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
    q AS (SELECT x AS qx, y AS qy FROM pts WHERE user_id = 1)
    SELECT p.user_id, p.x, p.y, ROUND(MIN(
               SQRT((p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy))
           ), 6) AS min_dist
    FROM pts p CROSS JOIN q
    WHERE p.user_id <> 1
    GROUP BY p.user_id, p.x, p.y
    HAVING MIN(SQRT((p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy))) <= 2.0
"""


def _range_core(pts: DataFrame, eps: float) -> DataFrame:
    """circleRange engine over a (user_id, x, y) point table: eps-grid
    cell keys, broadcast query points expanded to their 3x3 cell
    neighborhood, cell-key equi-join, exact distance refine."""
    cell = lambda c: F.floor(F.col(c) / eps)  # noqa: E731
    p = pts.filter(F.col("user_id") != 1).withColumn(
        "cx", cell("x")
    ).withColumn("cy", cell("y"))
    q = (
        pts.filter(F.col("user_id") == 1)
        .select(F.col("x").alias("qx"), F.col("y").alias("qy"))
        .withColumn("dxy", F.explode(F.expr(
            "flatten(transform(sequence(-1, 1), dx ->"
            " transform(sequence(-1, 1), dy -> struct(dx, dy))))"
        )))
        .select(
            "qx",
            "qy",
            (F.floor(F.col("qx") / eps) + F.col("dxy.dx")).alias("cx"),
            (F.floor(F.col("qy") / eps) + F.col("dxy.dy")).alias("cy"),
        )
    )
    d = F.sqrt(
        (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))
        + (F.col("y") - F.col("qy")) * (F.col("y") - F.col("qy"))
    )
    return (
        p.join(F.broadcast(q), ["cx", "cy"])
        .withColumn("d", d)
        .groupBy("user_id", "x", "y")
        .agg(F.min("d").alias("md"))
        .filter(F.col("md") <= eps)
        .select("user_id", "x", "y", F.round("md", 6).alias("min_dist"))
    )


@query("traj_range_query_2d", oracle=_RANGE_ORACLE)
def traj_range_query_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6's ``circleRange`` probe as a declarative query: every point of
    every other trajectory within Euclidean eps=2.0 of ANY query-
    trajectory point, in the (time-in-days, value) plane.

    The reference answers this with per-partition R-trees [P §4.2]; here
    an eps-sized grid assigns each point a cell key, the (broadcast)
    query points expand to their 3x3 cell neighborhood, and a cell-key
    equi-join yields exactly the candidates an R-tree range probe would
    visit — any point within eps of a query point lies in an adjacent
    cell, so the prefilter is lossless. The exact distance filter
    refines. The reported min_dist equals the global minimum whenever it
    passes the filter (a q point within eps IS in the neighborhood), so
    the naive-predicate oracle hash-matches."""
    return _range_core(points(Tables(spark, sf_dir).events, "xy"), _RANGE_EPS)


_LAYOUT_CELL = 50.0  # value-axis partition grid step for the cell layout


def _layout_path(sf_dir: str) -> str:
    return os.path.join(staging_dir(sf_dir, "layout"), "events_by_cell")


def _read_staged(spark: SparkSession, path: str) -> DataFrame:
    """A staged cell layout or user manifest, read with its footer
    schema (``tables.file_schema``): no Spark job, where inferring the
    schema runs one.  Partition discovery still adds the directory
    column (the layout's ``cell``)."""
    return spark.read.schema(file_schema(path)).parquet(path)


def _write_cell_layout(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as cell-partitioned, value-sorted Parquet —
    the engine's persistent STR-layout analog (SURVEY.md §4 O1/O3):
    partition dirs give Catalyst static partition pruning (the driver-
    side global index over partition MBRs [P §4.2]), the within-
    partition sort tightens row-group min/max so residual range
    predicates skip row groups (the local R-tree).

    Idempotent ensure: reused only while the fixture fingerprint stamp
    matches the live fixture files (a regenerated fixture under the same
    sf_dir forces a rebuild — ADVICE round 3)."""
    from ..sources.readers import layout_current, stamp_layout

    path = _layout_path(sf_dir)
    if layout_current(path, sf_dir):
        return path
    t = Tables(spark, sf_dir)
    write_partitioned(
        t.events.withColumn(
            "cell", F.floor(F.col("value") / F.lit(_LAYOUT_CELL))
        ),
        path,
        ["cell"],
        sort_cols=["value"],
    )
    stamp_layout(path, sf_dir)
    return path


@query(
    "traj_layout_cells",
    oracle=f"""
    SELECT CAST(FLOOR(value / {_LAYOUT_CELL}) AS BIGINT) AS cell,
           COUNT(*) AS n_points,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def traj_layout_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spatial WRITE path as a registered query: rewrite events into
    the cell-partitioned layout, then read the layout BACK and summarize
    per cell. The oracle aggregates the source table, so a green hash
    proves the layout holds exactly the corpus, keyed by the right
    cells — the sink itself is under oracle check, not just the read."""
    return (
        _read_staged(spark, _write_cell_layout(spark, sf_dir))
        .groupBy(F.col("cell").cast("bigint").alias("cell"))
        .agg(
            F.count("*").alias("n_points"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query("traj_range_query_2d_pruned", oracle=_RANGE_ORACLE)
def traj_range_query_2d_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """traj_range_query_2d answered FROM the cell-partitioned layout:
    the value-band of the query trajectory (±eps) selects the cell
    directories that can possibly hold an answer, the scan shows
    PartitionFilters (tests/test_plans.py pins this), and only those
    partitions are read — the reference's global-index partition pruning
    [P §4.2] made persistent. Identical result (same oracle hash): a
    point within eps of a query point lies within the value band, so
    the partition cut is lossless. The band bounds are one tiny driver
    aggregate over the query trajectory (the footprint of the dual-index
    threshold rows' manifest-row fetch)."""
    t = Tables(spark, sf_dir)
    lay = _read_staged(spark, _write_cell_layout(spark, sf_dir))
    band = (
        t.events.filter(F.col("user_id") == 1)
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .head()
    )
    ev = lay.filter(
        _cells_between(band["lo"] - _RANGE_EPS, band["hi"] + _RANGE_EPS)
    )
    return _range_core(points(ev, "xy", corpus_t0(t.events)), _RANGE_EPS)


def _cells_between(lo: float, hi: float) -> Column:
    """The layout's static partition filter for the value band [lo, hi]:
    the cells whose value range meets it."""
    return (F.col("cell") >= math.floor(lo / _LAYOUT_CELL)) & (
        F.col("cell") <= math.floor(hi / _LAYOUT_CELL)
    )




def _dp_pair_2d_oracle() -> str:
    """FULL oracle for the 2-D DP pair row: the same antidiagonal
    recursion with the Euclidean local cost in the (time-in-days,
    value) plane; Hausdorff as grouped minima."""
    fre = _dp_layers_sql(
        "fre_dp", "GREATEST(cells.d, MIN(cur.val))", "SQRT((av.x - bv.x) * (av.x - bv.x) + (av.y - bv.y) * (av.y - bv.y))"
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
    {fre},
    h1 AS (SELECT MAX(md) AS h FROM (
               SELECT av.i, MIN(SQRT((av.x - bv.x) * (av.x - bv.x) + (av.y - bv.y) * (av.y - bv.y))) AS md
               FROM av CROSS JOIN bv GROUP BY av.i)),
    h2 AS (SELECT MAX(md) AS h FROM (
               SELECT bv.j, MIN(SQRT((av.x - bv.x) * (av.x - bv.x) + (av.y - bv.y) * (av.y - bv.y))) AS md
               FROM av CROSS JOIN bv GROUP BY bv.j))
    SELECT CAST(2 AS BIGINT) AS user_id,
           ROUND((SELECT val FROM fre_dp
                  WHERE age = 0
                    AND k = (SELECT MAX(i) FROM av)
                          + (SELECT MAX(j) FROM bv)
                    AND i = (SELECT MAX(i) FROM av)), 6) AS frechet_2d,
           ROUND(GREATEST((SELECT h FROM h1), (SELECT h FROM h2)), 6)
               AS hausdorff_2d
    """

@query("traj_frechet_pair_2d", oracle=_dp_pair_2d_oracle())
def traj_frechet_pair_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13 in TWO dimensions: discrete Fréchet between users 1 and 2 in
    the (time-in-days, value) plane — the paper's native GPS setting
    [P §2]. The DP recurrence is dimension-blind; only the local metric
    changes (row-wise Euclidean on (n,2) arrays, kernels.pairwise_dist),
    so the same antidiagonal-vectorized kernel serves both."""
    from .extras12 import _pairs

    arr = arrays(Tables(spark, sf_dir).events, "xy", ordered=True)
    paired = _pairs(arr, (_QUERY_USER,)).filter(F.col("user_id") == 2)

    def per_pair(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                p, qq = _series_2d(row)
                out.append(
                    (
                        row.user_id,
                        round(kernels.frechet(p, qq), 6),
                        round(kernels.hausdorff(p, qq), 6),
                    )
                )
            yield pd.DataFrame(
                out, columns=["user_id", "frechet_2d", "hausdorff_2d"]
            )

    return paired.mapInPandas(
        per_pair, schema="user_id bigint, frechet_2d double, hausdorff_2d double"
    )


@query(
    "traj_sample_workload",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_points,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events
    WHERE CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
               AS INTEGER) % 10 = 0
    GROUP BY user_id
    """,
)
def traj_sample_workload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R17: query-workload sampling — ~10% of trajectories, selected by
    content hash rather than RNG: md5(user_id) is identical on every
    engine and every rerun, so the sample is reproducible (the property
    ``takeSample(seed)`` only gives within one engine) and pushes down
    as an ordinary predicate — no sampling operator state, no driver
    collect [P-analog: TrajSampling main, R17]."""
    t = Tables(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
    ).cast("int")
    return (
        t.events.filter(bucket % 10 == 0)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )


@query(
    "traj_frechet_knn_2d",
    oracle=lambda: _DL.float_knn_sql(
        True, "frechet_2d", _SEARCH_K, frechet=True
    ),
)  # FULL since round 7: list-layer DP oracle (dp_list_sql)
def traj_frechet_knn_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9/R13 in TWO dimensions — the DFT paper's flagship query: k
    trajectories nearest the query under discrete Fréchet in the
    (time-in-days, value) plane, EXACT [P §5]. The same one-pass
    ``extras12._knn_batch`` plan as the 1-D kNN; only the local metric
    and the bound change (Euclidean endpoint distances and bbox-side
    gaps) — the engine's claim that the 1-D design IS the GPS design,
    made executable."""
    from .extras12 import _dp_measure, _knn_batch, _lb_2d

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "xy", ordered=True),
        _dp_measure(kernels.frechet_block, _lb_2d, "frechet_2d"),
        qids=(_QUERY_USER,),
    ).drop("qid")


_IDX_TAU = 32.0  # threshold for the dual-index search (== threshold_2d)


def _manifest_path(sf_dir: str) -> str:
    return os.path.join(staging_dir(sf_dir, "layout"), "user_manifest")


def _write_user_manifest(spark: SparkSession, sf_dir: str) -> str:
    """The GLOBAL index beside the cell layout: one row per user with
    its point count, value MBR, and the corpus t0 — the engine's
    TrajMeta + partition-MBR table (SURVEY.md §1.1 dual store / [P
    §4.1]). Tiny (one row per trajectory), rebuilt only when the layout
    is."""
    from ..sources.readers import layout_current, stamp_layout

    path = _manifest_path(sf_dir)
    if layout_current(path, sf_dir):
        return path
    t = Tables(spark, sf_dir)
    t0 = t.events.agg(F.min(F.unix_micros("ts")).alias("t0"))
    man = (
        t.events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_points"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .join(F.broadcast(t0))
    )
    man.coalesce(1).write.mode("overwrite").parquet(path)
    stamp_layout(path, sf_dir)
    return path


def _band_events(
    spark: SparkSession, sf_dir: str, tau: float, pad: float = 0.0
) -> tuple[DataFrame, DataFrame]:
    """The dual index's threshold read: (events, t0).  The query user's
    manifest row fixes the value band [vmin - tau - pad, vmax + tau +
    pad]; the layout is read with static PartitionFilters on the band's
    cells and semi-joined to the manifest users whose value MBR lies
    inside the band, plus the query user.  Every kept user's points all
    lie in the band, so the read is complete for each of them.  ``t0``
    is the manifest's one-row corpus t0."""
    man = _read_staged(spark, _write_user_manifest(spark, sf_dir))
    q = man.filter(F.col("user_id") == _QUERY_USER)
    qrow = q.head()
    lo, hi = qrow["vmin"] - tau - pad, qrow["vmax"] + tau + pad
    users = man.filter(
        (F.col("user_id") == _QUERY_USER)
        | ((F.col("vmin") >= lo) & (F.col("vmax") <= hi))
    ).select("user_id")
    ev = _read_staged(spark, _write_cell_layout(spark, sf_dir)).filter(
        _cells_between(lo, hi)
    )
    return ev.join(F.broadcast(users), "user_id", "left_semi"), q.select("t0")


@query(
    "traj_hausdorff_threshold_2d_idx",
    oracle="""
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
    q AS (SELECT x AS qx, y AS qy FROM pts WHERE user_id = 1),
    d AS (
        SELECT p.user_id, p.x, p.y, q.qx, q.qy,
               SQRT((p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy)) AS d
        FROM pts p CROSS JOIN q
        WHERE p.user_id <> 1
    ),
    h1 AS (SELECT user_id, MAX(md) AS h FROM (
               SELECT user_id, qx, qy, MIN(d) AS md FROM d
               GROUP BY user_id, qx, qy)
           GROUP BY user_id),
    h2 AS (SELECT user_id, MAX(md) AS h FROM (
               SELECT user_id, x, y, MIN(d) AS md FROM d
               GROUP BY user_id, x, y)
           GROUP BY user_id)
    SELECT h1.user_id,
           ROUND(GREATEST(h1.h, h2.h), 6) AS hausdorff_2d
    FROM h1 JOIN h2 ON h1.user_id = h2.user_id
    WHERE GREATEST(h1.h, h2.h) <= 32.0
    """,
)
def traj_hausdorff_threshold_2d_idx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's DUAL-INDEX architecture end-to-end, persistent:
    threshold search answered from (a) the GLOBAL index — the per-user
    manifest (point count, value MBR, corpus t0), the TrajMeta +
    partition-MBR table [P §4.1] — and (b) the LOCAL data — the
    cell-partitioned, value-sorted Parquet layout, read with
    PartitionFilters so only the query's value band is scanned.

    Prune chain, each step lossless for H <= tau (``_band_events``):
    1. manifest → candidate users whose value MBR fits inside
       [q_lo − tau, q_hi + tau] (any point outside that band is > tau
       from EVERY query point, since d >= |Δvalue| — so h(U→Q) > tau);
    2. the same band, snapped to cells, selects the partition
       directories to read — candidates' points all lie inside, so the
       pruned scan is complete for them;
    3. the scan twin's refine: ``extras12._threshold_search`` over
       ``_HAUSDORFF_2D`` on the candidates' point sets, kept when the
       unrounded distance is <= tau.
    The same oracle as the unindexed `traj_hausdorff_threshold_2d`
    proves the result identical. The band bounds are the query user's
    manifest row, fetched at plan time."""
    from .extras12 import _HAUSDORFF_2D, _threshold_search

    ev, t0 = _band_events(spark, sf_dir, _IDX_TAU)
    return _threshold_search(
        arrays(ev, "xy", ordered=False, t0=t0), _HAUSDORFF_2D, _IDX_TAU
    ).select("user_id", F.round("hausdorff_2d", 6).alias("hausdorff_2d"))


@query(
    "traj_hausdorff_knn_2d_idx",
    oracle=f"""
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
    q AS (SELECT x AS qx, y AS qy FROM pts WHERE user_id = 1),
    d AS (
        SELECT p.user_id, p.x, p.y, q.qx, q.qy,
               SQRT((p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy)) AS d
        FROM pts p CROSS JOIN q
        WHERE p.user_id <> 1
    ),
    h1 AS (SELECT user_id, MAX(md) AS h FROM (
               SELECT user_id, qx, qy, MIN(d) AS md FROM d
               GROUP BY user_id, qx, qy)
           GROUP BY user_id),
    h2 AS (SELECT user_id, MAX(md) AS h FROM (
               SELECT user_id, x, y, MIN(d) AS md FROM d
               GROUP BY user_id, x, y)
           GROUP BY user_id)
    SELECT h1.user_id,
           ROUND(GREATEST(h1.h, h2.h), 6) AS hausdorff_2d
    FROM h1 JOIN h2 ON h1.user_id = h2.user_id
    ORDER BY GREATEST(h1.h, h2.h), h1.user_id
    LIMIT {_SEARCH_K}
    """,
)
def traj_hausdorff_knn_2d_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN over the PERSISTENT cell layout — the paper's kNN shape
    [P §4.3]: a per-trajectory MBR prunes, an exact kernel refines.

    A kNN band would need tau_k, which only the search's own result
    knows, so the row reads the whole layout and runs the scan twin's
    plan on it: ``extras12._knn_batch`` over ``_HAUSDORFF_2D``, whose
    per-row bound ``_bbox_gap`` is the trajectory MBR prune against the
    running k-th distance.  One plan, no driver action.  Oracle
    identical to the unindexed ``traj_hausdorff_knn_2d``."""
    from .extras12 import _HAUSDORFF_2D, _knn_batch

    lay = _read_staged(spark, _write_cell_layout(spark, sf_dir))
    return _knn_batch(
        arrays(lay, "xy", ordered=False), _HAUSDORFF_2D, qids=(_QUERY_USER,)
    ).select("user_id", F.round("hausdorff_2d", 6).alias("hausdorff_2d"))
