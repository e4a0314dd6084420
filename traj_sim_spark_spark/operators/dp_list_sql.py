"""List-layer DuckDB oracles for the trajectory DP SEARCH tiers.

Round-7 upgrade: the 23 {Fréchet, DTW, banded DTW, LCSS, EDR, ERP} x
{threshold, kNN} x {1-D, 2-D} search rows were WEAK (rows-only) because
the only known cross-engine truth — ``trajectory._dp_search_oracle``'s
row-per-DP-cell recursion — measured 37 s at sf0.01 / 245 s at sf0.1, a
gate-budget explosion.  This module replaces it with a LIST-LAYER
antidiagonal recursion: each recursive-CTE row carries one candidate's
whole antidiagonal as a DuckDB LIST, advanced by a single
``list_transform`` per step, and EVERY candidate advances in lockstep
(the working table holds one row per user).  Antidiagonal cells have no
intra-layer dependency, so the transform is a pure map — the same
reason the NumPy block engine (``kernels._float_dp``, ``_lcss_dp``,
``_edr_dp``, ``_erp_dp``) advances a whole block of candidates one
antidiagonal per step.  Measured 0.6 s at sf0.01 / 3.1 s at sf0.1 for
the LCSS tier (~60x over the row-per-cell form), which is what makes
FULL driver oracles affordable.

Layout mirrors one row of the NumPy block engine's (B, n+1) buffers
(``functions/kernels.py``): arrays of length n+1 with a sentinel at
position 0 and value of row i (0-based) at position i+1; NumPy index p
maps to DuckDB list position p+1.  Where the engine keeps the EDR/ERP
virtual boundary row and column in its buffers, the combines below
supply them arithmetically.  With the antidiagonal written as k
(cells (i0, j0), 0-based, i0 + j0 = k), the predecessors of cell
(i0, j0) at list position y = i0 + 2 are::

    N  (i0-1, j0) = p1[y]        W  (i0, j0-1) = p1[y + 1]
    NW (i0-1, j0-1) = p2[y]      a[i0] = avs[y]   b[j0] = q.qvs[k-y+2]

DTW cells are ``cost + min(N, W, NW)`` — ONE float add per cell with a
unique expression tree, so the value is identical under any evaluation
order and the SQL floats agree with the NumPy kernel bit-for-bit (the
``traj_dtw_pair_2d`` precedent).  LCSS/EDR/ERP are integer DPs — exact
by construction.
"""

from __future__ import annotations

# eps / band / threshold constants are owned by the operator modules;
# this module only knows the recursion shape.

_INF = "CAST('infinity' AS DOUBLE)"


def layer_dp(
    series: str,
    c_cols: tuple[str, ...],
    init: str,
    combine: str,
    sentinel: str,
    lo_extra: str = "",
    hi_extra: str = "",
) -> str:
    """The shared WITH-RECURSIVE prefix: ``series`` must define
    ``q`` (ONE row: query arrays + ``m``) and ``c`` (per candidate:
    ``user_id``, arrays named in ``c_cols``, ``n``).  Produces
    ``fin(user_id, n, m, val)`` with ``val`` the DP corner value.

    ``init`` is the (0,0) cell value (may reference ``avs[1]`` /
    ``q.qvs[1]`` style positions); ``combine`` the interior cell (may
    reference ``p1``/``p2``/``k``/``y``/carried arrays/``q.*``);
    ``lo_extra``/``hi_extra`` add clamp terms to the admissible row
    range (the Sakoe-Chiba band).
    """
    cc = "".join(f", {c}" for c in c_cols)
    qcc = "".join(f", c.{c}" for c in c_cols)
    return f"""
WITH RECURSIVE
{series},
dp AS (
  SELECT c.user_id, c.n{qcc}, 1 AS k,
         list_transform(range(0, c.n + 1), y ->
            CASE WHEN y = 1 THEN {init} ELSE {sentinel} END) AS p1,
         list_transform(range(0, c.n + 1), y -> {sentinel}) AS p2
  FROM c, q
  UNION ALL
  SELECT user_id, n{cc}, k + 1,
         list_transform(range(0, n + 1), y ->
            CASE WHEN y - 1 BETWEEN
                   GREATEST(0, k - q.m + 1{lo_extra})
                   AND LEAST(k, n - 1{hi_extra})
                 THEN {combine} ELSE {sentinel} END) AS p1,
         p1 AS p2
  FROM dp, q WHERE k <= n + q.m - 2
),
fin AS (
  SELECT user_id, n, q.m AS m, p1[n + 1] AS val
  FROM dp, q WHERE k = n + q.m - 1
)"""


# ---------------------------------------------------------------------------
# Series CTEs (candidate = every user <> 1, query = user 1; ordering is
# the engine's (ts, event_id) total order — tables.user_points)
# ---------------------------------------------------------------------------


def series_1d(query_user: int = 1) -> str:
    """Raw float value series: c(user_id, avs, n) / q(qvs, m).

    ``query_user`` parameterizes which user is the query side (default
    1, the single-query search rows); the batch-workload oracles build
    one copy per query id."""
    return f"""
s AS MATERIALIZED (
    SELECT user_id, list(value ORDER BY ts, event_id) AS vs
    FROM events GROUP BY user_id
),
q AS MATERIALIZED (
    SELECT vs AS qvs, len(vs) AS m FROM s WHERE user_id = {query_user}
),
c AS MATERIALIZED (
    SELECT user_id, vs AS avs, len(vs) AS n
    FROM s WHERE user_id <> {query_user}
)"""


def series_1d_erp(query_user: int = 1) -> str:
    """Micro-quantized integer series with per-point gap costs and
    INCLUSIVE prefix sums (the ERP boundary rows): c(user_id, avs,
    acs, aps, n) / q(qvs, qcs, qps, m).  ``query_user`` as in
    ``series_1d``."""
    return f"""
pts AS (
    SELECT user_id, ts, event_id,
           CAST(ROUND(value * 1e6) AS BIGINT) AS qv,
           CAST(SUM(ABS(CAST(ROUND(value * 1e6) AS BIGINT)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pf
    FROM events
),
s AS MATERIALIZED (
    SELECT user_id,
           list(qv ORDER BY ts, event_id) AS vs,
           list(ABS(qv) ORDER BY ts, event_id) AS cs,
           list(pf ORDER BY ts, event_id) AS ps
    FROM pts GROUP BY user_id
),
q AS MATERIALIZED (
    SELECT vs AS qvs, cs AS qcs, ps AS qps, len(vs) AS m
    FROM s WHERE user_id = {query_user}
),
c AS MATERIALIZED (
    SELECT user_id, vs AS avs, cs AS acs, ps AS aps, len(vs) AS n
    FROM s WHERE user_id <> {query_user}
)"""


def series_2d(query_user: int = 1) -> str:
    """Raw float (time-in-days, value) plane series — the engine's
    ``xy`` plane (``planes.py``; the ``traj_dtw_pair_2d`` oracle
    precedent): c(user_id, ax, ay, n) / q(bx, by, m).
    ``query_user`` as in ``series_1d``."""
    return f"""
t0 AS (SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events),
pts AS (
    SELECT user_id, ts, event_id,
           (epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT t0 FROM t0))
               / 86400000000.0 AS x,
           value AS y
    FROM events
),
s AS MATERIALIZED (
    SELECT user_id,
           list(x ORDER BY ts, event_id) AS xs,
           list(y ORDER BY ts, event_id) AS ys
    FROM pts GROUP BY user_id
),
q AS MATERIALIZED (
    SELECT xs AS bx, ys AS by, len(xs) AS m
    FROM s WHERE user_id = {query_user}
),
c AS MATERIALIZED (
    SELECT user_id, xs AS ax, ys AS ay, len(xs) AS n
    FROM s WHERE user_id <> {query_user}
)"""


def series_2d_micro(query_user: int = 1) -> str:
    """Micro-quantized integer plane series (the engine's ``xy_micro``
    plane, ``planes.py``): c(user_id, ax, ay, n) / q(bx, by, m).
    ``query_user`` as in ``series_1d`` (batch oracles build one copy
    per query id)."""
    return f"""
t0 AS (SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events),
pts AS (
    SELECT user_id, ts, event_id,
           CAST(ROUND((epoch_us(CAST(ts AS TIMESTAMP))
                       - (SELECT t0 FROM t0)) / 86400000000.0 * 1e6)
                AS BIGINT) AS qx,
           CAST(ROUND(value * 1e6) AS BIGINT) AS qy
    FROM events
),
s AS MATERIALIZED (
    SELECT user_id,
           list(qx ORDER BY ts, event_id) AS xs,
           list(qy ORDER BY ts, event_id) AS ys
    FROM pts GROUP BY user_id
),
q AS MATERIALIZED (
    SELECT xs AS bx, ys AS by, len(xs) AS m
    FROM s WHERE user_id = {query_user}
),
c AS MATERIALIZED (
    SELECT user_id, xs AS ax, ys AS ay, len(xs) AS n
    FROM s WHERE user_id <> {query_user}
)"""


def series_2d_erp(query_user: int = 1) -> str:
    """Micro-quantized plane series with isqrt gap costs and inclusive
    prefix sums (plane ERP, gap g = origin): c(user_id, ax, ay, acs,
    aps, n) / q(bx, by, qcs, qps, m).  ``query_user`` as in
    ``series_1d``."""
    nrm = sql_isqrt("qx * qx + qy * qy")
    return f"""
t0 AS (SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events),
pts0 AS (
    SELECT user_id, ts, event_id,
           CAST(ROUND((epoch_us(CAST(ts AS TIMESTAMP))
                       - (SELECT t0 FROM t0)) / 86400000000.0 * 1e6)
                AS BIGINT) AS qx,
           CAST(ROUND(value * 1e6) AS BIGINT) AS qy
    FROM events
),
pts AS (
    SELECT user_id, ts, event_id, qx, qy, {nrm} AS nrm
    FROM pts0
),
pts2 AS (
    SELECT user_id, ts, event_id, qx, qy, nrm,
           CAST(SUM(nrm) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pf
    FROM pts
),
s AS MATERIALIZED (
    SELECT user_id,
           list(qx ORDER BY ts, event_id) AS xs,
           list(qy ORDER BY ts, event_id) AS ys,
           list(nrm ORDER BY ts, event_id) AS cs,
           list(pf ORDER BY ts, event_id) AS ps
    FROM pts2 GROUP BY user_id
),
q AS MATERIALIZED (
    SELECT xs AS bx, ys AS by, cs AS qcs, ps AS qps, len(xs) AS m
    FROM s WHERE user_id = {query_user}
),
c AS MATERIALIZED (
    SELECT user_id, xs AS ax, ys AS ay, cs AS acs, ps AS aps,
           len(xs) AS n
    FROM s WHERE user_id <> {query_user}
)"""


def sql_isqrt(d2: str) -> str:
    """``extras6._sql_isqrt`` (float-sqrt candidate +-1-corrected by
    exact integer compares), re-exported here for series builders."""
    s0 = f"CAST(FLOOR(SQRT(CAST(({d2}) AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN ({s0} + 1) * ({s0} + 1) <= ({d2}) THEN {s0} + 1"
        f" WHEN {s0} * {s0} > ({d2}) THEN {s0} - 1 ELSE {s0} END)"
    )


def sql_isqrt_bound(d2: str) -> str:
    """isqrt with the squared term BOUND via single-element
    list_transform lambdas so ``d2`` is evaluated ONCE per cell (the
    naive expansion repeats a 4-array-access expression ~9x, which
    matters inside a per-cell lambda)."""
    return (
        f"(list_transform([({d2})], dd -> list_transform("
        "[CAST(FLOOR(SQRT(CAST(dd AS DOUBLE))) AS BIGINT)], s0 ->"
        " CASE WHEN (s0 + 1) * (s0 + 1) <= dd THEN s0 + 1"
        " WHEN s0 * s0 > dd THEN s0 - 1 ELSE s0 END)[1])[1])"
    )


# ---------------------------------------------------------------------------
# Combine expressions (cells at 0-based (i0, j0) = (y - 1, k - y + 1);
# candidate element avs[y] / ax[y]..., query element at position
# k - y + 2)
# ---------------------------------------------------------------------------


def lcss_combine(match: str) -> str:
    """``kernels._lcss_dp``'s recurrence: max(N, W, NW_or_0 + match);
    sentinel -1 (the engine's buffers start at the virtual zero row's
    0: an out-of-grid N or W never wins either way)."""
    return (
        "GREATEST(p1[y], p1[y + 1],"
        " (CASE WHEN p2[y] < 0 THEN 0 ELSE p2[y] END)"
        f" + (CASE WHEN {match} THEN 1 ELSE 0 END))"
    )


def edr_combine(sub: str) -> str:
    """``kernels._edr_dp``'s recurrence: min(N+1, W+1, NW+sub) with
    the virtual boundary rows E(0,j)=j / E(i,0)=i supplied
    arithmetically; sentinel 2^40."""
    return (
        "LEAST("
        "(CASE WHEN y - 1 = 0 THEN (k - y + 1) + 1 ELSE p1[y] END) + 1, "
        "(CASE WHEN k - y + 1 = 0 THEN (y - 1) + 1"
        " ELSE p1[y + 1] END) + 1, "
        "(CASE WHEN y - 1 = 0 THEN (k - y + 1)"
        " WHEN k - y + 1 = 0 THEN (y - 1)"
        f" ELSE p2[y] END) + (CASE WHEN {sub} THEN 0 ELSE 1 END))"
    )


def erp_combine(d: str) -> str:
    """``kernels._erp_dp``'s recurrence: min(N + ca[i], W + cb[j],
    NW + d) with the prefix-sum virtual boundaries supplied
    arithmetically; sentinel 2^60."""
    return (
        "LEAST("
        "(CASE WHEN y - 1 = 0 THEN q.qps[k - y + 2] ELSE p1[y] END)"
        " + acs[y], "
        "(CASE WHEN k - y + 1 = 0 THEN aps[y] ELSE p1[y + 1] END)"
        " + q.qcs[k - y + 2], "
        "(CASE WHEN y - 1 = 0 THEN"
        " (CASE WHEN k - y + 1 > 0 THEN q.qps[k - y + 1] ELSE 0 END)"
        " WHEN k - y + 1 = 0 THEN"
        " (CASE WHEN y - 1 > 0 THEN aps[y - 1] ELSE 0 END)"
        f" ELSE p2[y] END) + ({d}))"
    )


def dtw_combine(d: str) -> str:
    """``kernels._float_dp`` (sum form): d + min(N, W, NW); sentinel
    +infinity (boundaries fall out, as in the kernel)."""
    return f"({d}) + LEAST(p1[y], p1[y + 1], p2[y])"


def frechet_combine(d: str) -> str:
    """``kernels._float_dp`` (max form)."""
    return f"GREATEST(({d}), LEAST(p1[y], p1[y + 1], p2[y]))"


# distance expressions at the interior cell / the (0,0) init cell
D1_CELL = "ABS(avs[y] - q.qvs[k - y + 2])"
D1_INIT = "ABS(avs[1] - q.qvs[1])"
D2_CELL = (
    "SQRT((ax[y] - q.bx[k - y + 2]) * (ax[y] - q.bx[k - y + 2])"
    " + (ay[y] - q.by[k - y + 2]) * (ay[y] - q.by[k - y + 2]))"
)
D2_INIT = (
    "SQRT((ax[1] - q.bx[1]) * (ax[1] - q.bx[1])"
    " + (ay[1] - q.by[1]) * (ay[1] - q.by[1]))"
)
D2Q_CELL = (
    "(ax[y] - q.bx[k - y + 2]) * (ax[y] - q.bx[k - y + 2])"
    " + (ay[y] - q.by[k - y + 2]) * (ay[y] - q.by[k - y + 2])"
)
D2Q_INIT = (
    "(ax[1] - q.bx[1]) * (ax[1] - q.bx[1])"
    " + (ay[1] - q.by[1]) * (ay[1] - q.by[1])"
)

SENT_LCSS = "CAST(-1 AS BIGINT)"
SENT_EDR = "CAST(1099511627776 AS BIGINT)"  # 1 << 40, as the kernel
SENT_ERP = "CAST(1152921504606846976 AS BIGINT)"  # 1 << 60
SENT_INF = _INF


def band_clamps(w: int) -> tuple[str, str]:
    """Sakoe-Chiba band clamp terms (``kernels.dtw_banded_block``: weff
    widened to |n - m| per candidate so the corner stays reachable).
    Negative intermediate values land below the GREATEST(0, ...) clamp
    on both engines, so DuckDB's // semantics never matter."""
    weff = f"GREATEST({w}, ABS(n - q.m))"
    return (
        f", (k - {weff} + 1) // 2",
        f", (k + {weff}) // 2",
    )


# ---------------------------------------------------------------------------
# Assembled oracles for the float (Fréchet / DTW) search tiers — the
# Spark rows emit (user_id, ROUND(kernel, 6) AS col), threshold-filter
# or top-k on the rounded value
# ---------------------------------------------------------------------------


def float_dp_prefix(
    two_d: bool,
    frechet: bool = False,
    band_w: int | None = None,
    query_user: int = 1,
) -> str:
    series = series_2d(query_user) if two_d else series_1d(query_user)
    cols = ("ax", "ay") if two_d else ("avs",)
    d_cell = D2_CELL if two_d else D1_CELL
    d_init = D2_INIT if two_d else D1_INIT
    comb = frechet_combine(d_cell) if frechet else dtw_combine(d_cell)
    lo, hi = band_clamps(band_w) if band_w is not None else ("", "")
    return layer_dp(series, cols, d_init, comb, SENT_INF, lo, hi)


def float_threshold_sql(
    two_d: bool,
    col: str,
    tau: float,
    frechet: bool = False,
    band_w: int | None = None,
) -> str:
    return float_dp_prefix(two_d, frechet, band_w) + f"""
SELECT user_id, ROUND(val, 6) AS {col}
FROM fin WHERE ROUND(val, 6) <= {tau}"""


def float_knn_sql(
    two_d: bool,
    col: str,
    k: int,
    frechet: bool = False,
    band_w: int | None = None,
    query_user: int = 1,
) -> str:
    return float_dp_prefix(two_d, frechet, band_w, query_user) + f"""
SELECT user_id, ROUND(val, 6) AS {col}
FROM fin ORDER BY ROUND(val, 6), user_id LIMIT {k}"""
