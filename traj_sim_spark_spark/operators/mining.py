"""Trajectory-mining operators: the analyses a traj-sim-spark user runs
AFTER similarity search (SURVEY.md §2.1 R16-R18 context — workload
characterization over the same point corpus).

The reference's surface ends at distance queries; a production
deployment of it (fleet telemetry, GPS corpora) invariably pairs them
with the classic mining suite: stay-point detection, origin-destination
flows, co-movement (flock/convoy primitive), uniform-grid resampling,
and polyline simplification. Each is re-expressed declaratively:

- stay-points  = gaps-and-islands over a lag window (zero joins);
- OD flows     = two rank windows + one equi-join on (user, day);
- co-movement  = bucketed self-equi-join on the time bucket — never
  all-pairs: the day bucket bounds the join fan-out exactly like the
  eps-grid cell join in ``traj_range_query_2d``;
- resampling   = per-segment ``sequence()`` explode — linear, no join,
  grid points are generated WHERE the data lives;
- simplification = Douglas-Peucker per user via ``applyInPandas``
  (order-sensitive recursion — the one WEAK row here; kernel
  property-tested in ``tests/test_mining.py``).

All scale shapes are linear or bucket-bounded; nothing is quadratic in
users or events.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions import kernels
from ..registry import query
from ..tables import Tables
from .planes import corpus_t0, points

_STAY_EPS = 10.0  # max |value| drift within a stay island
_CO_EPS = 1.0  # co-movement value proximity
_CO_MIN_DAYS = 3  # min shared days to call a pair co-moving
_OD_CELL = 50.0  # value-grid cell for OD endpoints
_GRID_US = 21_600_000_000  # 6 h resample grid
_DP_TOL = 40.0  # Douglas-Peucker tolerance in the (days, value) plane


@query(
    "traj_staypoints",
    oracle="""
    WITH p AS (
        SELECT user_id, value, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CASE WHEN ABS(value - LAG(value) OVER w) <= 10.0
                    THEN 0 ELSE 1 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
        SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id)
                       AS BIGINT) AS island
        FROM p
    )
    SELECT user_id, island, COUNT(*) AS n_pts,
           MIN(us) AS start_us, MAX(us) AS end_us,
           ROUND(SUM(value), 6) AS sum_value
    FROM i GROUP BY user_id, island HAVING COUNT(*) >= 2
    """,
)
def traj_staypoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection: maximal runs of consecutive points whose
    value drifts <= eps=10 step-to-step (the 1-D analog of the classic
    GPS stay-point: consecutive fixes within a radius).

    Gaps-and-islands: one lag window marks island breaks, a running sum
    numbers islands, one hash aggregate summarizes them — two window
    sorts and one shuffle total, linear in events at any scale (the
    window key is user_id, the corpus's natural partition key)."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wc = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    p = (
        t.events.select("user_id", "value", "event_id", "ts")
        .withColumn("us", F.unix_micros("ts"))
        .withColumn(
            "brk",
            F.when(
                F.abs(F.col("value") - F.lag("value").over(w)) <= _STAY_EPS, 0
            ).otherwise(1),
        )
        .withColumn("island", F.sum("brk").over(wc))
    )
    return (
        p.groupBy("user_id", "island")
        .agg(
            F.count("*").alias("n_pts"),
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .filter(F.col("n_pts") >= 2)
    )


@query(
    "traj_od_flows",
    oracle="""
    WITH r AS (
        SELECT user_id, value, event_id, ts,
               CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400e6)
                    AS BIGINT) AS dy
        FROM events
    ),
    rr AS (
        SELECT user_id, dy, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, dy
                                  ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY user_id, dy
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM r
    )
    SELECT CAST(FLOOR(o.value / 50.0) AS BIGINT) AS o_cell,
           CAST(FLOOR(d.value / 50.0) AS BIGINT) AS d_cell,
           COUNT(*) AS n_flows,
           COUNT(DISTINCT o.user_id) AS n_users
    FROM (SELECT * FROM rr WHERE rn_a = 1) o
    JOIN (SELECT * FROM rr WHERE rn_d = 1) d
      USING (user_id, dy)
    GROUP BY 1, 2
    """,
)
def traj_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination matrix: for every (user, day), the day's first
    and last fix snapped to a 50-unit value cell; flows aggregated over
    all user-days.

    Both endpoint ranks come from the SAME (user_id, dy) window sort —
    Catalyst evaluates the asc and desc rank in one Window node — then
    a self-equi-join on the (user, day) key (bounded: exactly one row
    per side per key) and a 100-cell hash aggregate. At 100 TB the
    window sort is the only data-sized shuffle."""
    t = Tables(spark, sf_dir)
    r = t.events.select(
        "user_id",
        "value",
        "event_id",
        "ts",
        F.floor(F.unix_micros("ts") / 86400e6).alias("dy"),
    )
    wkey = W.partitionBy("user_id", "dy")
    rr = r.select(
        "user_id",
        "dy",
        "value",
        F.row_number().over(wkey.orderBy("ts", "event_id")).alias("rn_a"),
        F.row_number()
        .over(wkey.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn_d"),
    )
    o = rr.filter(F.col("rn_a") == 1).select("user_id", "dy", "value")
    d = rr.filter(F.col("rn_d") == 1).select(
        "user_id", "dy", F.col("value").alias("d_value")
    )
    return (
        o.join(d, ["user_id", "dy"])
        .groupBy(
            F.floor(F.col("value") / _OD_CELL).alias("o_cell"),
            F.floor(F.col("d_value") / _OD_CELL).alias("d_cell"),
        )
        .agg(
            F.count("*").alias("n_flows"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "traj_comovement",
    oracle="""
    WITH b AS (
        SELECT user_id,
               CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400e6)
                    AS BIGINT) AS dy,
               MIN(value) AS v
        FROM events GROUP BY 1, 2
    )
    SELECT a.user_id AS user_a, c.user_id AS user_b,
           COUNT(*) AS n_days
    FROM b a JOIN b c
      ON a.dy = c.dy AND a.user_id < c.user_id
     AND ABS(a.v - c.v) <= 1.0
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
)
def traj_comovement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-movement pairs (the flock/convoy primitive): user pairs whose
    daily MIN(value) fixes landed within eps=1.0 of each other on >= 3
    distinct days.

    The representative per (user, day) is MIN — order-insensitive and
    bit-identical across engines (an AVG would expose summation-order
    ulps at the eps boundary). Pairing is an equi-join on the DAY
    bucket, so fan-out per join key is the number of users active that
    day — never all-pairs across the corpus. Inside the bucket the join
    key additionally carries an eps-sized VALUE CELL (one side probes
    its 3 neighbor cells, so every qualifying pair is matched in
    exactly one cell): fan-out per physical join key is users-per-
    (day, cell), not users-per-day — the eps-grid trick from
    ``traj_range_query_2d`` applied to the social dimension. A
    dense-city day cannot quadratically explode one key."""
    t = Tables(spark, sf_dir)
    b = _comovement_base(t)
    return _comovement_pairs(b, b)


def _comovement_base(t: Tables, ckpt: bool = False) -> DataFrame:
    """(user_id, dy, v, cell): the per-(user, day) MIN-value
    representatives.

    With ``ckpt`` the base is aggregated ONCE and materialized
    (localCheckpoint): every co-movement pair join is a self-join of
    this base (probe side = 3-cell explode, build side = the base
    itself) and Catalyst duplicates a self-joined subtree — 2 parquet
    scans + 2 full (user, day) aggregations per build (guide §2.4:
    compute once, reuse).  The base is user-days-sized (40k rows at
    sf0.1, ~1% of events), so the materialization is tiny.  The
    checkpointed form is for the SHARED edge builders (consumed by a
    whole graph query downstream); the single-query pair rows keep the
    lazy form — for one consumer the extra serial materialization job
    costs more than the saved duplicate aggregation (measured both
    ways at sf0.1)."""
    b = (
        t.events.groupBy(
            "user_id",
            F.floor(F.unix_micros("ts") / 86400e6).alias("dy"),
        )
        .agg(F.min("value").alias("v"))
        .withColumn("cell", F.floor(F.col("v") / _CO_EPS))
    )
    return b.localCheckpoint() if ckpt else b


def _comovement_pairs(b: DataFrame, build_side: DataFrame) -> DataFrame:
    """The banded (day, eps-cell) pair join over a comovement base:
    probe side explodes its 3 neighbor cells, ``build_side`` is the
    base (broadcast-hinted by callers whose base is checkpointed — the
    RDD-backed plan has no stats, so without the hint the planner
    falls back to sort-merge)."""
    probe = b.withColumn(
        "cell", F.explode(F.array(F.col("cell") - 1, F.col("cell"), F.col("cell") + 1))
    )
    a, c = probe.alias("a"), build_side.alias("c")
    return (
        a.join(
            c,
            (F.col("a.dy") == F.col("c.dy"))
            & (F.col("a.cell") == F.col("c.cell"))
            & (F.col("a.user_id") < F.col("c.user_id"))
            & (F.abs(F.col("a.v") - F.col("c.v")) <= _CO_EPS),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("c.user_id").alias("user_b"),
        )
        .agg(F.count("*").alias("n_days"))
        .filter(F.col("n_days") >= _CO_MIN_DAYS)
    )


@query(
    "traj_resample",
    oracle="""
    WITH p AS (
        SELECT user_id, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS nus,
               LEAD(value) OVER w AS nv
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    seg AS (
        SELECT user_id, us, nus, value, nv,
               CAST(CEIL(us / 21600e6) AS BIGINT) AS g_lo,
               CAST(FLOOR((nus - 1) / 21600e6) AS BIGINT) AS g_hi
        FROM p WHERE nus IS NOT NULL AND nus > us
    )
    SELECT user_id, g * 21600000000 AS grid_us,
           ROUND(value + (nv - value) * (g * 21600e6 - us) / (nus - us),
                 6) AS v
    FROM seg, LATERAL (
        SELECT UNNEST(generate_series(g_lo, g_hi)) AS g
    ) gs
    WHERE g_lo <= g_hi
    """,
)
def traj_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-grid resampling: linear interpolation of every user's
    series onto a 6-hour grid — the preprocessing step the DP kernels
    (Fréchet/DTW) want when sampling rates differ across users [P §2].

    Segment-local generation: each consecutive-point segment emits
    exactly the grid instants it spans (half-open [us, nus) so a grid
    point on a shared boundary is emitted once), via ``sequence()`` +
    explode — grid points are born distributed on the partition that
    holds the segment; no join against a generated calendar table, no
    driver involvement. One window sort, then map-side math."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        t.events.select("user_id", "value", "event_id", "ts")
        .withColumn("us", F.unix_micros("ts"))
        .withColumn("nus", F.lead(F.unix_micros("ts")).over(w))
        .withColumn("nv", F.lead("value").over(w))
        .filter(F.col("nus").isNotNull() & (F.col("nus") > F.col("us")))
    )
    seg = p.select(
        "user_id",
        "us",
        "nus",
        "value",
        "nv",
        F.ceil(F.col("us") / F.lit(21600e6)).alias("g_lo"),
        F.floor((F.col("nus") - 1) / F.lit(21600e6)).alias("g_hi"),
    ).filter(F.col("g_lo") <= F.col("g_hi"))
    g = F.explode(F.sequence("g_lo", "g_hi")).alias("g")
    return seg.select("user_id", "us", "nus", "value", "nv", g).select(
        "user_id",
        (F.col("g") * _GRID_US).alias("grid_us"),
        F.round(
            F.col("value")
            + (F.col("nv") - F.col("value"))
            * (F.col("g") * F.lit(21600e6) - F.col("us"))
            / (F.col("nus") - F.col("us")),
            6,
        ).alias("v"),
    )


def _dp_simplify_oracle() -> str:
    """Recursive-CTE Douglas-Peucker: a WORK-QUEUE recursion (the second
    recursion shape beside the DP pair rows' antidiagonal one) — each
    iteration joins the open intervals to their interior points,
    computes the chord distance with the EXACT float expression the
    NumPy kernel uses (explicit sqrt, not hypot), picks the first
    farthest point (ORDER BY d DESC, idx) and, when it exceeds tol,
    emits it as KEPT plus the two child intervals. Keeps accumulate
    across iterations; intervals die when nothing exceeds tol."""
    return f"""
    WITH RECURSIVE
    t0 AS (SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0
           FROM events),
    pts AS (
        SELECT user_id,
               (epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT t0 FROM t0))
               / 86400000000.0 AS x,
               value AS y,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
                    AS INTEGER) AS idx
        FROM events
    ),
    ends AS (SELECT user_id, MAX(idx) AS n FROM pts GROUP BY user_id),
    dp(user_id, a, b, p, typ) AS (
        SELECT user_id, 1, n, NULL, 0 FROM ends WHERE n >= 2
        UNION ALL
        (
          WITH cur AS (SELECT * FROM dp WHERE typ = 0),
          cand AS (
              SELECT cur.user_id, cur.a, cur.b, m.idx,
                     CASE WHEN (pj.x - pi.x) * (pj.x - pi.x)
                             + (pj.y - pi.y) * (pj.y - pi.y) = 0
                          THEN SQRT((m.x - pi.x) * (m.x - pi.x)
                                    + (m.y - pi.y) * (m.y - pi.y))
                          ELSE ABS((pj.y - pi.y) * (m.x - pi.x)
                                   - (pj.x - pi.x) * (m.y - pi.y))
                               / SQRT((pj.x - pi.x) * (pj.x - pi.x)
                                      + (pj.y - pi.y) * (pj.y - pi.y))
                     END AS d
              FROM cur
              JOIN pts pi ON pi.user_id = cur.user_id AND pi.idx = cur.a
              JOIN pts pj ON pj.user_id = cur.user_id AND pj.idx = cur.b
              JOIN pts m ON m.user_id = cur.user_id
                        AND m.idx > cur.a AND m.idx < cur.b
          ),
          far AS (
              SELECT user_id, a, b, idx, d,
                     ROW_NUMBER() OVER (PARTITION BY user_id, a, b
                                        ORDER BY d DESC, idx) AS rn
              FROM cand
          ),
          splits AS (
              SELECT user_id, a, b, idx FROM far
              WHERE rn = 1 AND d > {_DP_TOL}
          )
          SELECT user_id, a, idx, idx, 1 FROM splits
          UNION ALL
          SELECT user_id, a, idx, NULL, 0 FROM splits
          UNION ALL
          SELECT user_id, idx, b, NULL, 0 FROM splits
        )
    ),
    keep AS (
        SELECT user_id, p AS idx FROM dp WHERE typ = 1
        UNION ALL
        SELECT user_id, 1 FROM ends
        UNION ALL
        SELECT user_id, n FROM ends WHERE n >= 2
    )
    SELECT pts.user_id, pts.idx, ROUND(pts.y, 6) AS y
    FROM pts JOIN keep ON keep.user_id = pts.user_id
                      AND keep.idx = pts.idx
    """


@query("traj_simplify_dp", oracle=_dp_simplify_oracle())
def traj_simplify_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker polyline simplification per user in the
    (time-in-days, value) plane, tolerance 40.0 — the standard
    pre-index compaction for trajectory corpora (fewer points, bounded
    geometric error, so every distance oracle downstream gets cheaper).

    Per-user recursion is order-sensitive (split at the farthest point,
    recurse on both halves) — a WEAK row, run as one ``applyInPandas``
    over user groups with the NumPy kernel in
    ``functions/kernels.py``; properties (endpoints kept, every dropped
    point within tol of the kept polyline) pinned in
    ``tests/test_mining.py``. Scale shape: trajectories are grouped by
    user_id (the natural partition key); the kernel is O(n^2) worst
    case per user but linear-ish in practice, and never leaves the
    executor."""
    t = Tables(spark, sf_dir)
    pts = points(t.user_points(), "xy", corpus_t0(t.events)).select(
        "user_id", "x", "y", F.col("seq").alias("idx")
    )

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx").reset_index(drop=True)
        keep = kernels.douglas_peucker(
            pdf["x"].to_numpy(), pdf["y"].to_numpy(), _DP_TOL
        )
        out = pdf.loc[keep, ["user_id", "idx"]].copy()
        out["y"] = pdf.loc[keep, "y"].round(6)
        return out

    return pts.groupBy("user_id").applyInPandas(
        per_user, "user_id long, idx int, y double"
    )


@query(
    "traj_convoy",
    oracle="""
    WITH b AS (
        SELECT user_id,
               CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400e6)
                    AS BIGINT) AS dy,
               MIN(value) AS v
        FROM events GROUP BY 1, 2
    ),
    pd AS (
        SELECT a.user_id AS user_a, c.user_id AS user_b, a.dy
        FROM b a JOIN b c
          ON a.dy = c.dy AND a.user_id < c.user_id
         AND ABS(a.v - c.v) <= 1.0
    ),
    runs AS (
        SELECT user_a, user_b,
               dy - ROW_NUMBER() OVER (PARTITION BY user_a, user_b
                                       ORDER BY dy) AS island
        FROM pd
    )
    SELECT user_a, user_b,
           CAST(MAX(run_len) AS BIGINT) AS max_run,
           CAST(SUM(run_len) AS BIGINT) AS n_days
    FROM (SELECT user_a, user_b, island, COUNT(*) AS run_len
          FROM runs GROUP BY 1, 2, 3)
    GROUP BY user_a, user_b
    HAVING MAX(run_len) >= 3
    """,
)
def traj_convoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convoy detection proper: pairs co-located (daily MIN fix within
    eps=1.0) on >= 3 CONSECUTIVE days — ``traj_comovement`` counts
    shared days, a convoy requires an unbroken run, the defining
    distinction in the flock/convoy literature.

    Composes the banded (day, eps-cell) pair join with a second
    gaps-and-islands pass: `dy - row_number()` is constant exactly on
    consecutive-day runs, so run lengths fall out of one more window +
    aggregate over the (already small) pair-day stream. No new scale
    surface beyond the co-movement join itself."""
    t = Tables(spark, sf_dir)
    b = _comovement_base(t)
    probe = b.withColumn(
        "cell",
        F.explode(
            F.array(F.col("cell") - 1, F.col("cell"), F.col("cell") + 1)
        ),
    )
    a, c = probe.alias("a"), b.alias("c")
    pd_ = a.join(
        c,
        (F.col("a.dy") == F.col("c.dy"))
        & (F.col("a.cell") == F.col("c.cell"))
        & (F.col("a.user_id") < F.col("c.user_id"))
        & (F.abs(F.col("a.v") - F.col("c.v")) <= _CO_EPS),
    ).select(
        F.col("a.user_id").alias("user_a"),
        F.col("c.user_id").alias("user_b"),
        F.col("a.dy").alias("dy"),
    )
    w = W.partitionBy("user_a", "user_b").orderBy("dy")
    runs = pd_.withColumn(
        "island", F.col("dy") - F.row_number().over(w)
    )
    run_len = runs.groupBy("user_a", "user_b", "island").agg(
        F.count("*").alias("run_len")
    )
    return (
        run_len.groupBy("user_a", "user_b")
        .agg(
            F.max("run_len").alias("max_run"),
            F.sum("run_len").alias("n_days"),
        )
        .filter(F.col("max_run") >= 3)
    )


_CLUSTER_TAU = 6.0  # Hausdorff threshold for the similarity graph
_SIG_M = 16  # rank-sampled signature size per user


def _sig_hausdorff_pairs(t: Tables, tau: float) -> DataFrame:
    """(u < v, h) candidate pairs with EXACT signature-Hausdorff h,
    pruned by a banded summary self-join — the shared engine under
    ``traj_cluster_threshold`` (edges of the similarity graph) and
    ``traj_knn_join`` (capped kNN join).

    Stage shape (nothing is all-pairs):

    1. each user's point set is compacted to a deterministic 16-point
       RANK-SAMPLED signature (evenly spaced ranks over the distinct
       sorted values, endpoints always included);
    2. candidates come from a BANDED summary self-join: the endpoint
       lower bound H(A,B) >= max(|dmin|, |dmax|) is lossless (the
       nearest neighbor of A's extreme point is at least the extreme-
       point gap away), and |dmin| <= tau is an equi-join on
       floor(mn/tau) cells with a 3-cell probe — ``sim_band_join``'s
       trick, so pair fan-out is per-band, not U^2;
    3. survivors are refined EXACTLY (on signatures): two grouped
       minima over the 16x16 value grid per pair.

    Pairs whose endpoint bounds exceed tau are pruned WITHOUT emitting
    a row, so the result is complete for any ``h <= tau`` filter.
    Returned materialized (localCheckpoint) — both callers iterate or
    window over it more than once."""
    import pandas as pd

    # signature in ONE aggregation: sorted distinct values per user, then
    # the evenly-ranked picks by array index (rank r = 1 + floor(j*(nv-1)
    # / (m-1)), j = 0..m-1 — endpoints always included, same formula the
    # oracle's picks CTE evaluates row-wise).  Kept as an ARRAY
    # (round 12): the refine no longer needs the exploded row form.
    sig = (
        t.events.select("user_id", F.col("value").alias("v"))
        .distinct()
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("v")).alias("vs"))
        .select(
            "user_id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.lit(_SIG_M - 1)),
                    lambda j: F.element_at(
                        "vs",
                        (
                            1
                            + F.floor(
                                j
                                * (F.size("vs") - 1)
                                / (_SIG_M - 1.0)
                            )
                        ).cast("int"),
                    ),
                )
            ).alias("sv"),
        )
        .localCheckpoint()  # consumed by the summary AND both join sides
    )
    # picks are ascending (evenly-spaced ranks over a sorted array), so
    # the summary min/max are the array ends
    s = sig.select(
        "user_id",
        F.element_at("sv", 1).alias("mn"),
        F.element_at("sv", -1).alias("mx"),
    )
    # banded candidate join: |dmin|<=tau => cells adjacent (3-cell probe)
    a = s.select(
        F.col("user_id").alias("u"),
        F.col("mn").alias("amn"),
        F.col("mx").alias("amx"),
        F.explode(
            F.array(
                F.floor(F.col("mn") / tau) - 1,
                F.floor(F.col("mn") / tau),
                F.floor(F.col("mn") / tau) + 1,
            )
        ).alias("cell"),
    )
    b = s.select(
        F.col("user_id").alias("v"),
        F.col("mn").alias("bmn"),
        F.col("mx").alias("bmx"),
        F.floor(F.col("mn") / tau).alias("cell"),
    )
    cand = (
        a.join(b, "cell")
        .filter(
            (F.col("u") < F.col("v"))
            & (F.abs(F.col("amn") - F.col("bmn")) <= tau)
            & (F.abs(F.col("amx") - F.col("bmx")) <= tau)
        )
        .select("u", "v")
    )
    # EXACT signature-Hausdorff refine as ONE Arrow pass (round 12,
    # guide §2.4/§4.2): the previous row-explode form shipped 16x16
    # value pairs per candidate through four aggregations + a join;
    # sorted arrays + binary search give the identical grouped-min /
    # max chain (same IEEE doubles) with no shuffle beyond the two
    # array-attach joins.
    from .extras12 import _nearest_gaps

    sa = sig.select(F.col("user_id").alias("u"), F.col("sv").alias("av"))
    sb = sig.select(F.col("user_id").alias("v"), F.col("sv").alias("bv"))
    paired = (
        cand.join(sa, "u")
        .join(sb, "v")
        # fan the kernel out: AQE coalesces the tiny attach joins to a
        # couple of partitions, which would run the Arrow pass on 1-2
        # cores, so spread it over defaultParallelism
        .repartition(t.spark.sparkContext.defaultParallelism)
    )

    def href(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                av = np.asarray(row.av, dtype=np.float64)
                bv = np.asarray(row.bv, dtype=np.float64)
                h = max(
                    _nearest_gaps(av, bv).max(), _nearest_gaps(bv, av).max()
                )
                out.append((row.u, row.v, h))
            yield pd.DataFrame(out, columns=["u", "v", "h"])

    return paired.mapInPandas(
        href, schema="u bigint, v bigint, h double"
    ).localCheckpoint()


@query(
    "traj_cluster_threshold",
    oracle=f"""
    WITH RECURSIVE
    p AS (SELECT DISTINCT user_id, value AS v FROM events),
    rk AS (SELECT user_id, v,
                  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v) AS r,
                  COUNT(*) OVER (PARTITION BY user_id) AS nv
           FROM p),
    picks AS (SELECT DISTINCT user_id,
                     1 + CAST(FLOOR((i.i - 1) * (nv - 1)
                                    / {_SIG_M - 1}.0) AS BIGINT) AS r
              FROM (SELECT DISTINCT user_id, nv FROM rk) u
              CROSS JOIN (SELECT UNNEST(generate_series(1, {_SIG_M}))
                          AS i) i),
    sig AS (SELECT rk.user_id, rk.v FROM rk JOIN picks USING (user_id, r)),
    s AS (SELECT user_id, MIN(v) mn, MAX(v) mx FROM sig GROUP BY user_id),
    cand AS (SELECT a.user_id u, b.user_id v
             FROM s a JOIN s b ON a.user_id < b.user_id
             WHERE ABS(a.mn - b.mn) <= {_CLUSTER_TAU}
               AND ABS(a.mx - b.mx) <= {_CLUSTER_TAU}),
    d AS (SELECT c.u, c.v, sa.v av, sb.v bv, ABS(sa.v - sb.v) dd
          FROM cand c JOIN sig sa ON sa.user_id = c.u
                      JOIN sig sb ON sb.user_id = c.v),
    h1 AS (SELECT u, v, MAX(md) h FROM (
               SELECT u, v, av, MIN(dd) md FROM d GROUP BY u, v, av)
           GROUP BY u, v),
    h2 AS (SELECT u, v, MAX(md) h FROM (
               SELECT u, v, bv, MIN(dd) md FROM d GROUP BY u, v, bv)
           GROUP BY u, v),
    e AS MATERIALIZED (
        SELECT h1.u, h1.v FROM h1 JOIN h2 USING (u, v)
        WHERE GREATEST(h1.h, h2.h) <= {_CLUSTER_TAU}),
    edges AS MATERIALIZED (
        SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    reach(node, label) AS (
        SELECT DISTINCT user_id, user_id FROM events
        UNION
        SELECT e.u, r.label FROM reach r JOIN edges e ON e.v = r.node
        WHERE r.label < e.u
    ),
    lab AS (SELECT node AS user_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node)
    SELECT lab.user_id, lab.cluster_id, c.cluster_size
    FROM lab JOIN (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM lab
        GROUP BY cluster_id
    ) c USING (cluster_id)
    """,
)
def traj_cluster_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory CLUSTERING: connected components over the Hausdorff-
    threshold similarity graph — R8 run as a SELF-join feeding the same
    min-label-propagation engine as ``text_dedup_cluster`` (the
    reference's similarity search composed into corpus-level structure
    discovery, e.g. route grouping over a fleet).

    Scale shape, stage by stage — nothing is all-pairs:

    1. each user's point set is compacted to a deterministic
       16-point RANK-SAMPLED signature (evenly spaced ranks over
       the distinct sorted values, endpoints always included) — the
       simplify-before-index step [P §2], like ``traj_simplify_dp``,
       but rank-based so it is SQL-expressible and oracle-checkable;
    2. candidate pairs come from a BANDED summary self-join: the
       endpoint lower bound H(A,B) >= max(|dmin|, |dmax|) is lossless
       (the nearest neighbor of A's extreme point is at least the
       extreme-point gap away), and |dmin| <= tau is an equi-join on
       floor(mn/tau) cells with a 3-cell probe — ``sim_band_join``'s
       trick, so the pair fan-out is per-band, not U^2;
    3. surviving pairs are refined EXACTLY (on signatures): two grouped
       minima over the 16x16 value grid per pair — bounded work per
       candidate;
    4. edges (H <= tau) feed ``connected_components`` (one join + one
       agg per round, localCheckpoint every 4 rounds).

    The DuckDB oracle replays all four stages (bound included — its
    losslessness is therefore verified, the unbanded oracle would
    diverge otherwise) and labels via a recursive CTE; the edge CTEs
    are MATERIALIZED or DuckDB re-evaluates the whole refine pipeline
    on every recursion round (measured 203 s -> 1.2 s at sf0.1)."""
    from .text import connected_components

    t = Tables(spark, sf_dir)
    tau = _CLUSTER_TAU
    e = (
        _sig_hausdorff_pairs(t, tau)
        .filter(F.col("h") <= tau)
        .select("u", "v")
    )
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = t.events.select(F.col("user_id").alias("node")).distinct()
    labels = connected_components(nodes, edges)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("user_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


_KNNJ_TAU = 12.0  # kNN-join radius cap (2x the cluster threshold)
_KNNJ_K = 3


@query(
    "traj_knn_join",
    oracle=f"""
    WITH p AS (SELECT DISTINCT user_id, value AS v FROM events),
    rk AS (SELECT user_id, v,
                  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v) AS r,
                  COUNT(*) OVER (PARTITION BY user_id) AS nv
           FROM p),
    picks AS (SELECT DISTINCT user_id,
                     1 + CAST(FLOOR((i.i - 1) * (nv - 1)
                                    / {_SIG_M - 1}.0) AS BIGINT) AS r
              FROM (SELECT DISTINCT user_id, nv FROM rk) u
              CROSS JOIN (SELECT UNNEST(generate_series(1, {_SIG_M}))
                          AS i) i),
    sig AS (SELECT rk.user_id, rk.v FROM rk JOIN picks USING (user_id, r)),
    s AS (SELECT user_id, MIN(v) mn, MAX(v) mx FROM sig GROUP BY user_id),
    cand AS (SELECT a.user_id u, b.user_id v
             FROM s a JOIN s b ON a.user_id < b.user_id
             WHERE ABS(a.mn - b.mn) <= {_KNNJ_TAU}
               AND ABS(a.mx - b.mx) <= {_KNNJ_TAU}),
    d AS (SELECT c.u, c.v, sa.v av, sb.v bv, ABS(sa.v - sb.v) dd
          FROM cand c JOIN sig sa ON sa.user_id = c.u
                      JOIN sig sb ON sb.user_id = c.v),
    h1 AS (SELECT u, v, MAX(md) h FROM (
               SELECT u, v, av, MIN(dd) md FROM d GROUP BY u, v, av)
           GROUP BY u, v),
    h2 AS (SELECT u, v, MAX(md) h FROM (
               SELECT u, v, bv, MIN(dd) md FROM d GROUP BY u, v, bv)
           GROUP BY u, v),
    pr AS (SELECT h1.u, h1.v, GREATEST(h1.h, h2.h) AS h
           FROM h1 JOIN h2 USING (u, v)
           WHERE GREATEST(h1.h, h2.h) <= {_KNNJ_TAU}),
    sym AS (SELECT u, v, h FROM pr UNION ALL SELECT v, u, h FROM pr),
    r AS (SELECT u, v, h,
                 ROW_NUMBER() OVER (PARTITION BY u ORDER BY h, v) AS rnk
          FROM sym)
    SELECT u AS user_id, v AS neighbor_id, ROUND(h, 6) AS h_dist,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= {_KNNJ_K}
    """,
)
def traj_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped-radius trajectory kNN JOIN: for EVERY user, its k=3
    nearest users under signature-Hausdorff, restricted to neighbors
    within tau=12.0 — the all-pairs variant of the paper's single-query
    kNN search (the shape a fleet-wide "nearest routes per route"
    report needs), run as ``_sig_hausdorff_pairs`` + one per-user
    top-k window.

    The radius cap is what keeps a kNN JOIN tractable at scale: exact
    uncapped kNN join needs per-user adaptive radii (a driver loop per
    user); capping at tau turns it into the SAME banded self-join as
    the clustering query, and the per-user top-k is a row_number window
    over pair rows already clustered by user. Users with fewer than k
    in-cap neighbors return fewer rows (documented semantics, mirrored
    exactly by the oracle). Ordering ties break on neighbor id; all
    distances are exact float min/max chains (no accumulation), so the
    rank is engine-independent."""
    t = Tables(spark, sf_dir)
    pairs = _sig_hausdorff_pairs(t, _KNNJ_TAU).filter(
        F.col("h") <= _KNNJ_TAU
    )
    sym = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "h")
    )
    w = W.partitionBy("u").orderBy("h", "v")
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNNJ_K)
        .select(
            F.col("u").alias("user_id"),
            F.col("v").alias("neighbor_id"),
            F.round("h", 6).alias("h_dist"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


_ROG_CELL = 50.0  # value-cell width for the entropy op (same as od_flows)


@query(
    "traj_radius_gyration",
    oracle="""
    WITH p AS (
        SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP))
                 - MIN(epoch_us(CAST(ts AS TIMESTAMP)))
                     OVER (PARTITION BY user_id) AS dx,
               CAST(ROUND(value * 1e6) AS BIGINT) AS vi
        FROM events
    ),
    s AS (
        SELECT user_id, COUNT(*) AS n,
               CAST(SUM(dx) AS DECIMAL(38, 0)) AS sx,
               CAST(SUM(vi) AS DECIMAL(38, 0)) AS sy,
               SUM(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS sxx,
               SUM(CAST(vi AS HUGEINT) * CAST(vi AS HUGEINT)) AS syy
        FROM p GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_points,
           ROUND(SQRT(
               (CAST(sxx AS DOUBLE) / n
                - (CAST(sx AS DOUBLE) / n) ** 2) / (86400e6 ** 2)
               + (CAST(syy AS DOUBLE) / n
                  - (CAST(sy AS DOUBLE) / n) ** 2) / (1e6 ** 2)), 6)
               AS rog
    FROM s
    """,
)
def traj_radius_gyration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius of gyration per user — the canonical mobility-science
    compactness feature (Gonzalez et al.'s r_g): RMS distance of the
    user's points from their own centroid, in the engine's derived 2-D
    trajectory space (x = days since the user's first fix, y = value) —
    the same plane the Hausdorff/Fréchet 2-D family measures in.

    Sufficient statistics only: n, Σx, Σy (BIGINT), Σx², Σy²
    (DECIMAL(38,0)) — exact, order-independent, repartition-invariant;
    the variance identity E[x²]−E[x]² turns them into r_g in ONE float
    expression per user over exact integers, so the float never
    accumulates. One scan + one window-min + one hash aggregate: linear
    at any scale, clustered on user_id throughout."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id")
    p = t.events.select(
        "user_id",
        (F.unix_micros("ts") - F.min(F.unix_micros("ts")).over(w)).alias(
            "dx"
        ),
        F.round(F.col("value") * 1e6).cast("long").alias("vi"),
    )
    d15 = lambda c: F.col(c).cast("decimal(15,0)")  # noqa: E731
    s = p.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("dx").cast("decimal(38,0)").alias("sx"),
        F.sum("vi").cast("decimal(38,0)").alias("sy"),
        F.sum(d15("dx") * d15("dx")).alias("sxx"),
        F.sum(d15("vi") * d15("vi")).alias("syy"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    var_x = (dbl("sxx") / F.col("n") - (dbl("sx") / F.col("n")) ** 2) / (
        86400e6**2
    )
    var_y = (dbl("syy") / F.col("n") - (dbl("sy") / F.col("n")) ** 2) / (
        1e6**2
    )
    return s.select(
        "user_id",
        F.col("n").alias("n_points"),
        F.round(F.sqrt(var_x + var_y), 6).alias("rog"),
    )


@query(
    "traj_mobility_entropy",
    oracle=f"""
    WITH c AS (
        SELECT user_id,
               CAST(FLOOR(value / {_ROG_CELL}) AS BIGINT) AS cell,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    q AS (
        SELECT user_id, n,
               CAST(ROUND(LN(n), 9) AS DECIMAL(18, 9)) AS lnq
        FROM c
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_points,
           ROUND(LN(SUM(n)) - CAST(SUM(n * lnq) AS DOUBLE) / SUM(n), 6)
               AS entropy
    FROM q GROUP BY user_id
    """,
)
def traj_mobility_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mobility (visitation) entropy per user: Shannon entropy of the
    user's visit distribution over value-cells (width 50 — the
    ``traj_od_flows`` grid) — the predictability feature that pairs
    with ``traj_radius_gyration`` (how FAR you roam vs how EVENLY you
    spread).

    Uses the algebraic identity H = ln(n) − (Σ c·ln c)/n so the only
    logarithms are of INTEGER counts, each quantized once to
    DECIMAL(18,9) (engine ulp differences in LN die at the 9th
    decimal); the weighted sum of decimals is exact and
    order-independent, and one float expression per user finishes the
    job. Two hash aggregates clustered on user_id — linear at any
    scale."""
    t = Tables(spark, sf_dir)
    c = t.events.groupBy(
        "user_id",
        F.floor(F.col("value") / _ROG_CELL).alias("cell"),
    ).agg(F.count("*").alias("n"))
    q = c.select(
        "user_id",
        "n",
        F.round(F.log("n"), 9).cast("decimal(18,9)").alias("lnq"),
    )
    return q.groupBy("user_id").agg(
        F.count("*").alias("n_cells"),
        F.sum("n").alias("n_points"),
        F.round(
            F.log(F.sum("n"))
            - F.sum(F.col("n") * F.col("lnq")).cast("double") / F.sum("n"),
            6,
        ).alias("entropy"),
    )


_SPEED_MAX = 100.0  # value-units per hour (≈ p95 of the corpus)


@query(
    "traj_speed_outliers",
    oracle=f"""
    WITH p AS (
        SELECT user_id,
               CAST(ROUND(value * 1e6) AS BIGINT) AS vi,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               LAG(CAST(ROUND(value * 1e6) AS BIGINT))
                   OVER w AS pvi,
               LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS pus
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    seg AS (
        SELECT user_id,
               ABS(vi - pvi) * 1.0 / (us - pus) * 3.6e9 / 1e6 AS speed
        FROM p WHERE pus IS NOT NULL AND us > pus
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(COUNT(*) FILTER (WHERE speed > {_SPEED_MAX}) AS BIGINT)
               AS n_outliers,
           ROUND(MAX(speed), 6) AS max_speed
    FROM seg GROUP BY user_id
    """,
)
def traj_speed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS-style implausible-jump detection: per-user counts of
    consecutive-fix segments whose speed (|Δvalue| per hour) exceeds a
    physical plausibility cap — the cleaning gate every trajectory
    pipeline runs BEFORE similarity search, because one teleporting fix
    poisons Hausdorff/Fréchet distances for its whole trajectory.

    Determinism: Δvalue is a difference of integer micro-units and Δt a
    difference of integer microseconds, so every speed is one float
    expression over exact integers — identical IEEE doubles in any
    engine, making even the strict threshold compare deterministic.
    One window pass + one hash aggregate, clustered on user_id; linear
    at any scale (the reference's point-parsing stage would hold this
    gate as its first filter)."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    vi = F.round(F.col("value") * 1e6).cast("long")
    p = t.events.select(
        "user_id",
        vi.alias("vi"),
        F.unix_micros("ts").alias("us"),
        F.lag(vi).over(w).alias("pvi"),
        F.lag(F.unix_micros("ts")).over(w).alias("pus"),
    )
    seg = p.filter(
        F.col("pus").isNotNull() & (F.col("us") > F.col("pus"))
    ).select(
        "user_id",
        (
            F.abs(F.col("vi") - F.col("pvi"))
            * 1.0
            / (F.col("us") - F.col("pus"))
            * 3.6e9
            / 1e6
        ).alias("speed"),
    )
    return seg.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("speed") > _SPEED_MAX, 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
        F.round(F.max("speed"), 6).alias("max_speed"),
    )


@query(
    "traj_transition_matrix",
    oracle=f"""
    WITH p AS (
        SELECT user_id,
               CAST(FLOOR(value / {_OD_CELL}) AS BIGINT) AS cell,
               LAG(CAST(FLOOR(value / {_OD_CELL}) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_cell
        FROM events
    ),
    tr AS (
        SELECT prev_cell AS from_cell, cell AS to_cell, COUNT(*) AS n
        FROM p WHERE prev_cell IS NOT NULL
        GROUP BY 1, 2
    ),
    rowsum AS (
        SELECT from_cell, SUM(n) AS rn FROM tr GROUP BY from_cell
    )
    SELECT tr.from_cell, tr.to_cell, CAST(tr.n AS BIGINT) AS n,
           ROUND(tr.n * 1.0 / rowsum.rn, 6) AS prob
    FROM tr JOIN rowsum USING (from_cell)
    """,
)
def traj_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov mobility model: the corpus-wide transition
    matrix between value-cells (width 50, the ``traj_od_flows`` grid) —
    counts and row-normalized probabilities of moving cell→cell between
    consecutive fixes. The estimator behind next-location prediction
    and synthetic-trajectory generation; its stationary vector is the
    long-run occupancy.

    One lag window per user + one (from, to) hash aggregate + one
    broadcast-sized row-sum join: linear, and every probability is one
    integer ratio (exact numerator and denominator cross-engine). The
    matrix is ~cells² ≤ a few hundred rows at ANY corpus size — the
    model stays broadcastable no matter how much data trained it."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cell = F.floor(F.col("value") / _OD_CELL)
    p = t.events.select(
        "user_id",
        cell.alias("cell"),
        F.lag(cell).over(w).alias("prev_cell"),
    )
    tr = (
        p.filter(F.col("prev_cell").isNotNull())
        .groupBy(
            F.col("prev_cell").alias("from_cell"),
            F.col("cell").alias("to_cell"),
        )
        .agg(F.count("*").alias("n"))
    )
    rowsum = tr.groupBy("from_cell").agg(F.sum("n").alias("rn"))
    return tr.join(F.broadcast(rowsum), "from_cell").select(
        "from_cell",
        "to_cell",
        "n",
        F.round(F.col("n") * 1.0 / F.col("rn"), 6).alias("prob"),
    )


def comovement_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-movement edge list ``(u, v)``, built FRESH from parquet on
    every call and materialized once per consuming query
    (localCheckpoint) so iterative/graph consumers that reference the
    edges several times inside ONE plan pay the build exactly once.

    The former module-level per-sf_dir memo (rounds 5-11) is gone: the
    optimization-round contract forbids result/intermediate caches
    keyed on the data dir — a memo makes bench reruns (min-of-N) skip
    the edge build entirely, which is gaming, not speed. A 100 TB
    deployment would persist the edge TABLE as a real artifact with its
    own refresh job; within this engine every query must compute from
    the raw inputs.

    The (user, day) base is aggregated once and checkpointed
    (``_comovement_base(ckpt=True)``) so the pair self-join does not
    scan + aggregate events twice, and the build side is broadcast
    explicitly (RDD-backed plan, no stats)."""
    b = _comovement_base(Tables(spark, sf_dir), ckpt=True)
    return (
        _comovement_pairs(b, F.broadcast(b))
        .select(F.col("user_a").alias("u"), F.col("user_b").alias("v"))
        .localCheckpoint()
    )


# Dense-regime participant cap for the CAPPED edge variant below: in
# any one (day, eps-cell) bucket only the _DENSE_CELL_CAP lowest
# user_ids participate in pairing.  An eps-cell is a physical
# co-location bucket, so a bucket with thousands of users is the
# degenerate "whole city in one cell" regime where co-movement pairs
# grow quadratically and carry no per-pair information; the cap bounds
# per-bucket pair volume by construction (the graph_copurchase top-64
# discipline).  Result-changing, therefore mirrored EXACTLY in the
# consuming oracles via the same ROW_NUMBER() OVER (dy, cell ORDER BY
# user_id) predicate.
_DENSE_CELL_CAP = 64

def comovement_base_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, day) MIN-value representatives with the per-(day,
    eps-cell) participant cap applied — the bounded-degree base both
    dense-regime graph consumers (``graph_clustering_coeff``,
    ``graph_temporal_reach``) pair from."""
    t = Tables(spark, sf_dir)
    b = _comovement_base(t)
    w = W.partitionBy("dy", "cell").orderBy("user_id")
    return (
        b.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _DENSE_CELL_CAP)
        .drop("rn")
        .localCheckpoint()
    )


def comovement_edges_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``comovement_edges`` built from the capped base: identical result
    wherever no (day, cell) bucket exceeds the cap, bounded-degree by
    construction where one does. Built fresh per call (no per-sf_dir
    memo — see ``comovement_edges``); the localCheckpoint keeps the
    within-plan reuse (wedge joins reference the edges 3x)."""
    b = comovement_base_capped(spark, sf_dir)
    probe = b.withColumn(
        "cell",
        F.explode(
            F.array(
                F.col("cell") - 1, F.col("cell"), F.col("cell") + 1
            )
        ),
    )
    a, c = probe.alias("a"), F.broadcast(b).alias("c")
    return (
        a.join(
            c,
            (F.col("a.dy") == F.col("c.dy"))
            & (F.col("a.cell") == F.col("c.cell"))
            & (F.col("a.user_id") < F.col("c.user_id"))
            & (F.abs(F.col("a.v") - F.col("c.v")) <= _CO_EPS),
        )
        .groupBy(
            F.col("a.user_id").alias("u"),
            F.col("c.user_id").alias("v"),
        )
        .agg(F.count("*").alias("n_days"))
        .filter(F.col("n_days") >= _CO_MIN_DAYS)
        .select("u", "v")
        .localCheckpoint()
    )


# SQL fragment mirroring comovement_base_capped for consuming oracles:
# expects an `events` view; yields (user_id, dy, v).
CAPPED_BASE_SQL = f"""
        SELECT user_id, dy, v FROM (
            SELECT user_id, dy, v,
                   ROW_NUMBER() OVER (
                       PARTITION BY dy, CAST(FLOOR(v / {_CO_EPS}) AS BIGINT)
                       ORDER BY user_id) AS rn
            FROM (SELECT user_id,
                         CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP))
                                    / 86400e6) AS BIGINT) AS dy,
                         MIN(value) AS v
                  FROM events GROUP BY 1, 2)
        ) WHERE rn <= {_DENSE_CELL_CAP}
"""
