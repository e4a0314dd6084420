"""Property tests for the Douglas-Peucker kernel behind
``traj_simplify_dp`` (the one WEAK row in operators/mining.py) plus a
naive-reference equality check: the production iterative-stack kernel
must match a straightforward recursive implementation point-for-point.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from traj_sim_spark_spark import registry
from traj_sim_spark_spark.functions.kernels import douglas_peucker

polyline = st.lists(
    st.tuples(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        st.floats(min_value=-100, max_value=100, allow_nan=False),
    ),
    min_size=1,
    max_size=40,
).map(lambda ps: (np.array([p[0] for p in ps]), np.array([p[1] for p in ps])))

tols = st.floats(min_value=0.0, max_value=50.0, allow_nan=False)


def _ref_dp(x, y, tol, i, j, keep):
    if j - i < 2:
        return
    px, py = x[i + 1 : j], y[i + 1 : j]
    dx, dy = x[j] - x[i], y[j] - y[i]
    # sqrt(dx*dx+dy*dy), NOT np.hypot: the kernel defines chord
    # degeneracy through the SQL-matching norm (hypot survives
    # denormal-squared underflow and would take the other branch,
    # found by hypothesis with dx ~ 1e-193)
    norm = np.sqrt(dx * dx + dy * dy)
    if norm == 0.0:
        ex, ey = px - x[i], py - y[i]
        d = np.sqrt(ex * ex + ey * ey)
    else:
        d = np.abs(dy * (px - x[i]) - dx * (py - y[i])) / norm
    k = int(np.argmax(d))
    if d[k] > tol:
        split = i + 1 + k
        keep[split] = True
        _ref_dp(x, y, tol, i, split, keep)
        _ref_dp(x, y, tol, split, j, keep)


def _point_to_chord(x, y, x1, y1, x2, y2):
    """Distance from (x, y) to the chord (x1,y1)-(x2,y2) as used by the
    kernel (infinite-line distance; point distance when degenerate)."""
    dx, dy = x2 - x1, y2 - y1
    norm = np.sqrt(dx * dx + dy * dy)
    if norm == 0.0:
        return np.sqrt((x - x1) * (x - x1) + (y - y1) * (y - y1))
    return abs(dy * (x - x1) - dx * (y - y1)) / norm


@settings(max_examples=200, deadline=None)
@given(polyline, tols)
def test_dp_matches_naive_recursive(poly, tol):
    x, y = poly
    keep = np.zeros(len(x), dtype=bool)
    if len(x) >= 1:
        keep[0] = keep[-1] = True
    _ref_dp(x, y, tol, 0, len(x) - 1, keep)
    expected = np.flatnonzero(keep)
    got = douglas_peucker(x, y, tol)
    assert np.array_equal(got, expected)


@settings(max_examples=200, deadline=None)
@given(polyline, tols)
def test_dp_endpoints_kept_and_sorted(poly, tol):
    x, y = poly
    got = douglas_peucker(x, y, tol)
    assert got[0] == 0 and got[-1] == len(x) - 1
    assert np.all(np.diff(got) > 0)


@settings(max_examples=150, deadline=None)
@given(polyline, tols)
def test_dp_error_bound(poly, tol):
    """Every dropped point lies within tol of the kept chord that spans
    it — the defining guarantee of Douglas-Peucker."""
    x, y = poly
    kept = douglas_peucker(x, y, tol)
    for a, b in zip(kept[:-1], kept[1:]):
        for m in range(a + 1, b):
            d = _point_to_chord(x[m], y[m], x[a], y[a], x[b], y[b])
            assert d <= tol + 1e-9


def test_dp_zero_tol_examples():
    x = np.arange(5.0)
    # point 2 lands exactly ON the (1,3) chord after the splits, so even
    # tol=0 drops it; everything off-chord survives.
    y = np.array([0.0, 1.0, 0.0, -1.0, 0.0])
    assert douglas_peucker(x, y, 0.0).tolist() == [0, 1, 3, 4]
    assert douglas_peucker(x, np.zeros(5), 0.0).tolist() == [0, 4]
    assert douglas_peucker(x, np.array([0.0, 1.0, 0.5, -1.0, 0.0]), 0.0).tolist() == [
        0,
        1,
        2,
        3,
        4,
    ]


def test_kcore_fixpoint_reached(spark, sf_dir):
    """graph_kcore runs a FIXED 5-round peel so its oracle can unroll
    the same chain; this pins that the peel has converged by then at
    fixture scale — one more round must not change the result. If this
    ever fails, raise _KCORE_ROUNDS (and the oracle unrolls with it)."""
    from pyspark.sql import functions as F

    from traj_sim_spark_spark.operators.graph import _KCORE_K
    from traj_sim_spark_spark.operators.graph import graph_kcore
    from traj_sim_spark_spark.operators.mining import traj_comovement

    at_depth = sorted(
        tuple(r) for r in graph_kcore(spark, sf_dir).collect()
    )

    e = traj_comovement(spark, sf_dir).select(
        F.col("user_a").alias("u"), F.col("user_b").alias("v")
    ).localCheckpoint()
    und = e.select(
        F.col("u").alias("s"), F.col("v").alias("t")
    ).unionByName(e.select(F.col("v").alias("s"), F.col("u").alias("t")))
    for _ in range(6):  # one round deeper than the registered query
        alive = (
            und.groupBy("s").agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K).select("s")
        )
        und = (
            und.join(alive, "s", "left_semi")
            .join(alive.select(F.col("s").alias("t")), "t", "left_semi")
            .localCheckpoint()
        )
    deeper = sorted(
        tuple(r)
        for r in und.groupBy("s")
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= _KCORE_K)
        .select(F.col("s").alias("user_id"), "degree")
        .collect()
    )
    assert at_depth == deeper


def test_viterbi_prefix_min_equals_naive_dp(spark, sf_dir):
    """The Viterbi kernel's two-pass min-convolution (distance
    transform) must equal the naive O(S^2) transition minimum, and the
    registered query's totals must match a from-scratch naive NumPy
    Viterbi on the same quantized inputs."""
    import numpy as np

    from traj_sim_spark_spark.operators.extras3 import _segs_int
    from traj_sim_spark_spark.operators.extras4 import (
        _VIT_LAMBDA,
        _VIT_Q,
    )
    from traj_sim_spark_spark.operators.planes import corpus_t0, points
    from traj_sim_spark_spark.tables import Tables

    t = Tables(spark, sf_dir)
    pts = points(t.user_points(), "seg_micro", corpus_t0(t.events))
    route = (
        _segs_int(pts.filter(F.col("user_id") == _VIT_Q))
        .orderBy("seq")
        .select("x1", "y1", "x2", "y2")
        .collect()
    )
    x1 = np.array([r["x1"] for r in route], dtype=np.int64)
    y1 = np.array([r["y1"] for r in route], dtype=np.int64)
    x2 = np.array([r["x2"] for r in route], dtype=np.int64)
    y2 = np.array([r["y2"] for r in route], dtype=np.int64)
    S = len(route)
    lam = _VIT_LAMBDA

    def d2c_matrix(X, Y):
        dx, dy = x2 - x1, y2 - y1
        ab2 = dx * dx + dy * dy
        axb = X[:, None] - x1[None, :]
        ayb = Y[:, None] - y1[None, :]
        dot = dx[None, :] * axb + dy[None, :] * ayb
        d2_a = (axb * axb + ayb * ayb).astype(np.float64)
        axe = X[:, None] - x2[None, :]
        aye = Y[:, None] - y2[None, :]
        d2_b = (axe * axe + aye * aye).astype(np.float64)
        cross = dx[None, :] * ayb - dy[None, :] * axb
        with np.errstate(divide="ignore", invalid="ignore"):
            d2_i = (
                cross.astype(np.float64) ** 2
                / ab2.astype(np.float64)[None, :]
            )
        case_a = (ab2[None, :] == 0) | (dot <= 0)
        case_b = (~case_a) & (dot >= ab2[None, :])
        d2 = np.where(case_a, d2_a, np.where(case_b, d2_b, d2_i))
        return np.floor(d2 / 1e12).astype(np.int64)

    rows = (
        pts.filter(F.col("user_id") != _VIT_Q)
        .orderBy("user_id", "seq")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["x"], r["y"]))

    naive = {}
    rr = np.arange(1, S + 1, dtype=np.int64)
    penalty = lam * np.abs(rr[:, None] - rr[None, :])
    for uid, pl in by_user.items():
        X = np.array([p[0] for p in pl], dtype=np.int64)
        Y = np.array([p[1] for p in pl], dtype=np.int64)
        D = d2c_matrix(X, Y)
        c = D[0].copy()
        for ti in range(1, len(X)):
            # naive O(S^2): min over all predecessor states
            c = D[ti] + (c[None, :] + penalty).min(axis=1)
        naive[uid] = (len(X), int(c.min()), int(rr[c == c.min()].min()))

    got = {
        r["user_id"]: (r["n_points"], r["total_cost"], r["end_seg"])
        for r in registry.QUERIES["traj_viterbi_map_match"](
            spark, sf_dir
        ).collect()
    }
    assert got == naive


def test_stress_betweenness_matches_bruteforce(spark, sf_dir):
    """graph_stress_betweenness == a pure-Python Brandes forward pass:
    BFS with path counting from each pivot, then sigma_sv * sigma_vt
    summed over pivot pairs with hop_sv + hop_vt = hop_st."""
    from collections import deque

    from traj_sim_spark_spark.operators.extras5 import (
        _STRESS_D,
        _STRESS_K,
        graph_stress_betweenness,
    )
    from traj_sim_spark_spark.operators.mining import comovement_edges

    edges = [
        (r["u"], r["v"]) for r in comovement_edges(spark, sf_dir).collect()
    ]
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    pivots = sorted(adj)[:_STRESS_K]

    def bfs(s):
        hop = {s: 0}
        sig = {s: 1}
        q = deque([s])
        order = [s]
        while q:
            x = q.popleft()
            if hop[x] == _STRESS_D:
                continue
            for y in sorted(adj[x]):
                if y not in hop:
                    hop[y] = hop[x] + 1
                    sig[y] = 0
                    q.append(y)
                    order.append(y)
                if hop[y] == hop[x] + 1:
                    sig[y] += sig[x]
        return hop, sig

    tab = {s: bfs(s) for s in pivots}
    expected: dict[int, int] = {}
    for i, s in enumerate(pivots):
        for t in pivots[i + 1 :]:
            hop_s, sig_s = tab[s]
            hop_t, sig_t = tab[t]
            if t not in hop_s:
                continue
            d = hop_s[t]
            for v in hop_s:
                if v in (s, t) or v not in hop_t:
                    continue
                if hop_s[v] + hop_t[v] == d:
                    expected[v] = (
                        expected.get(v, 0) + sig_s[v] * sig_t[v]
                    )
    got = {
        r["user_id"]: r["stress_paths"]
        for r in graph_stress_betweenness(spark, sf_dir).collect()
    }
    assert got == expected
    assert got  # non-degenerate at sf0.001


def test_temporal_reach_matches_bruteforce(spark, sf_dir):
    """graph_temporal_reach == a pure-Python earliest-arrival
    relaxation over day-stamped co-location edges."""
    import duckdb

    from traj_sim_spark_spark.operators.extras5 import (
        _TR_ROUNDS,
        _TR_SENTINEL,
        graph_temporal_reach,
    )

    con = duckdb.connect()
    edges = con.execute(f"""
        WITH b AS (
            SELECT user_id,
                   CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400e6)
                        AS BIGINT) AS dy,
                   MIN(value) AS v
            FROM '{sf_dir}/events.parquet' GROUP BY 1, 2
        )
        SELECT a.user_id, c.user_id, a.dy
        FROM b a JOIN b c
          ON a.dy = c.dy AND a.user_id < c.user_id
         AND ABS(a.v - c.v) <= 1.0
    """).fetchall()
    und = [(u, w, d) for u, w, d in edges] + [
        (w, u, d) for u, w, d in edges
    ]
    seed = min(u for u, _, _ in und)
    arr = {seed: _TR_SENTINEL}
    for _ in range(_TR_ROUNDS):
        nxt = dict(arr)
        for u, w, d in und:
            if u in arr and d >= arr[u]:
                if w not in nxt or d < nxt[w]:
                    nxt[w] = min(nxt.get(w, d), d)
        arr = nxt
    expected = {u: d for u, d in arr.items() if d > _TR_SENTINEL}
    got = {
        r["user_id"]: r["arrival_day"]
        for r in graph_temporal_reach(spark, sf_dir).collect()
    }
    assert got == expected
    assert got
