"""Property tests for the trajectory distance kernels (SURVEY.md §5.2-3).

References are naive O(n*m) NumPy implementations written independently
of the production kernels; metamorphic invariants follow [P §2]:
Hausdorff and discrete Fréchet are metrics (symmetry, identity,
triangle inequality); DTW is not a metric; Fréchet >= Hausdorff always.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from traj_sim_spark_spark.functions import kernels

series = st.lists(
    st.floats(min_value=-1e3, max_value=1e3, allow_nan=False), min_size=1, max_size=24
).map(lambda xs: np.asarray(xs, dtype=np.float64))


def ref_hausdorff(a, b):
    d = np.abs(a[:, None] - b[None, :])
    return max(d.min(axis=1).max(), d.min(axis=0).max())


def ref_frechet(a, b):
    n, m = len(a), len(b)
    acc = np.full((n, m), float("inf"))
    for i in range(n):
        for j in range(m):
            d = abs(a[i] - b[j])
            if i == 0 and j == 0:
                acc[i, j] = d
            elif i == 0:
                acc[i, j] = max(acc[0, j - 1], d)
            elif j == 0:
                acc[i, j] = max(acc[i - 1, 0], d)
            else:
                acc[i, j] = max(
                    min(acc[i - 1, j], acc[i, j - 1], acc[i - 1, j - 1]), d
                )
    return acc[n - 1, m - 1]


def ref_dtw(a, b):
    n, m = len(a), len(b)
    big = float("inf")
    acc = np.full((n + 1, m + 1), big)
    acc[0, 0] = 0.0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            acc[i, j] = abs(a[i - 1] - b[j - 1]) + min(
                acc[i - 1, j], acc[i, j - 1], acc[i - 1, j - 1]
            )
    return acc[n, m]


@settings(max_examples=200, deadline=None)
@given(series, series)
def test_against_references(a, b):
    assert np.isclose(kernels.hausdorff(a, b), ref_hausdorff(a, b))
    assert np.isclose(kernels.frechet(a, b), ref_frechet(tuple(a), tuple(b)))
    assert np.isclose(kernels.dtw(a, b), ref_dtw(a, b))


@settings(max_examples=200, deadline=None)
@given(series, series)
def test_symmetry(a, b):
    assert np.isclose(kernels.hausdorff(a, b), kernels.hausdorff(b, a))
    assert np.isclose(kernels.frechet(a, b), kernels.frechet(b, a))
    assert np.isclose(kernels.dtw(a, b), kernels.dtw(b, a))


@settings(max_examples=100, deadline=None)
@given(series)
def test_identity(a):
    assert kernels.hausdorff(a, a) == 0.0
    assert kernels.frechet(a, a) == 0.0
    # DTW(a,a)=0 holds for the standard recurrence too
    assert kernels.dtw(a, a) == 0.0


@settings(max_examples=150, deadline=None)
@given(series, series, series)
def test_triangle_inequality_for_metrics(a, b, c):
    tol = 1e-9
    assert kernels.hausdorff(a, c) <= (
        kernels.hausdorff(a, b) + kernels.hausdorff(b, c) + tol
    )
    assert kernels.frechet(a, c) <= (
        kernels.frechet(a, b) + kernels.frechet(b, c) + tol
    )


@settings(max_examples=200, deadline=None)
@given(series, series)
def test_frechet_dominates_hausdorff(a, b):
    # Fréchet >= Hausdorff on every pair [P §5.1] — the lower-bound prune
    assert kernels.frechet(a, b) >= kernels.hausdorff(a, b) - 1e-12


def test_dtw_not_a_metric_witness():
    # DTW violates the triangle inequality; keep one concrete witness so
    # the suite documents the asymmetry with the metrics above.
    a = np.array([1.0, 1.0, 1.0])
    b = np.array([1.0])
    c = np.array([0.0])
    # dtw(a,c)=3 (every point pays) > dtw(a,b)=0 + dtw(b,c)=1
    assert kernels.dtw(a, c) > kernels.dtw(a, b) + kernels.dtw(b, c)


@settings(max_examples=200, deadline=None)
@given(series, series, st.floats(min_value=0.1, max_value=200.0))
def test_frechet_tau_early_abandon_contract(a, b, tau):
    # The tau-abandon contract: abandonment may only fire when the true
    # distance provably exceeds tau, so (1) exact <= tau => tau-run is
    # exact; (2) any tau-run result <= tau is the exact distance; (3) a
    # tau-run result > tau is a LOWER bound of the exact distance.
    exact = kernels.frechet(a, b)
    with_tau = kernels.frechet(a, b, tau=tau)
    if exact <= tau:
        assert with_tau == exact
    if with_tau <= tau:
        assert with_tau == exact
    assert with_tau <= exact + 1e-12


@settings(max_examples=200, deadline=None)
@given(series, series, st.floats(min_value=0.1, max_value=5000.0))
def test_dtw_tau_early_abandon_contract(a, b, tau):
    exact = kernels.dtw(a, b)
    with_tau = kernels.dtw(a, b, tau=tau)
    if exact <= tau:
        assert with_tau == exact
    if with_tau <= tau:
        assert with_tau == exact
    assert with_tau <= exact + 1e-9


@given(
    st.integers(min_value=0, max_value=2**32 - 1),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_simhash_banding_pigeonhole_is_lossless(a, b):
    """text_simhash_neardup's blocking contract: any two 32-bit
    signatures within Hamming distance 3 MUST share at least one of the
    4 8-bit bands (pigeonhole: 4 differing bands need >= 4 differing
    bits), so the band equi-join can never lose a qualifying pair."""
    hamming = bin(a ^ b).count("1")
    shares_band = any(
        ((a >> (8 * j)) & 255) == ((b >> (8 * j)) & 255) for j in range(4)
    )
    if hamming <= 3:
        assert shares_band


@given(series, series)
@settings(max_examples=100, deadline=None)
def test_banded_dtw_wide_band_equals_exact(a, b):
    """With w >= max(n, m) the corridor admits every coupling, so the
    banded kernel must equal exact DTW."""
    w = max(len(a), len(b))
    assert abs(
        kernels.dtw_banded(a, b, w=w) - kernels.dtw(a, b)
    ) <= 1e-9


@given(series, series)
@settings(max_examples=100, deadline=None)
def test_banded_dtw_dominates_exact_and_tightens(a, b):
    """Banded cost is monotone non-increasing in w and always >= exact
    DTW (restricting the path set can only raise the minimum)."""
    exact = kernels.dtw(a, b)
    prev = None
    for w in (1, 4, 16):
        v = kernels.dtw_banded(a, b, w=w)
        assert v >= exact - 1e-9
        if prev is not None:
            assert v <= prev + 1e-9  # wider band can only help
        prev = v


@given(series, series)
@settings(max_examples=100, deadline=None)
def test_banded_dtw_tau_abandon_is_sound(a, b):
    """With tau set, the banded kernel returns the exact banded value
    when it is <= tau, and SOME value > tau otherwise."""
    full = kernels.dtw_banded(a, b, w=4)
    for tau in (full * 0.5, full, full * 2.0):
        got = kernels.dtw_banded(a, b, w=4, tau=tau)
        if full <= tau:
            assert abs(got - full) <= 1e-9
        else:
            assert got > tau


# ---------------------------------------------------------------------------
# Segment proper-crossing predicate (extras2): the engine decides with
# four INT64 CCW sign products; this independent reference solves the
# parametric intersection EXACTLY in rationals (Cramer's rule over
# Fraction) and demands strict interior parameters on both segments.
# ---------------------------------------------------------------------------


def ref_proper_crossing(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    from fractions import Fraction

    # A + t*(A2-A1) == B + u*(B2-B1); solve the 2x2 linear system
    dax, day = ax2 - ax1, ay2 - ay1
    dbx, dby = bx2 - bx1, by2 - by1
    det = dax * (-dby) - day * (-dbx)
    if det == 0:
        return False  # parallel/collinear: never a PROPER crossing
    rx, ry = bx1 - ax1, by1 - ay1
    t = Fraction(rx * (-dby) - ry * (-dbx), det)
    u = Fraction(dax * ry - day * rx, det)
    return 0 < t < 1 and 0 < u < 1


def _ccw_sign(o_x, o_y, p_x, p_y, q_x, q_y):
    v = (p_x - o_x) * (q_y - o_y) - (p_y - o_y) * (q_x - o_x)
    return (v > 0) - (v < 0)


def engine_proper_crossing(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    # the same four-orientation test extras2._proper_crossing compiles
    # into Catalyst expressions, evaluated in plain ints
    d1 = _ccw_sign(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = _ccw_sign(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = _ccw_sign(bx1, by1, bx2, by2, ax1, ay1)
    d4 = _ccw_sign(bx1, by1, bx2, by2, ax2, ay2)
    return d1 * d2 < 0 and d3 * d4 < 0


coord = st.integers(min_value=-50, max_value=50)


@settings(max_examples=500, deadline=None)
@given(*[coord] * 8)
def test_proper_crossing_matches_rational_solver(
    ax1, ay1, ax2, ay2, bx1, by1, bx2, by2
):
    got = engine_proper_crossing(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)
    want = ref_proper_crossing(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)
    assert got == want, (ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)


def test_lcss_edr_match_quadratic_reference():
    """The antidiagonal-vectorized LCSS/EDR kernels must equal the
    textbook O(n*m) loop recurrences on random series (the same
    independent-twin discipline as the DTW/Fréchet pins)."""
    import numpy as np

    from traj_sim_spark_spark.functions import kernels

    def lcss_ref(a, b, eps):
        n, m = len(a), len(b)
        L = np.zeros((n + 1, m + 1), dtype=int)
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                if abs(a[i - 1] - b[j - 1]) <= eps:
                    L[i, j] = L[i - 1, j - 1] + 1
                else:
                    L[i, j] = max(L[i - 1, j], L[i, j - 1])
        return L[n, m]

    def edr_ref(a, b, eps):
        n, m = len(a), len(b)
        E = np.zeros((n + 1, m + 1), dtype=int)
        E[:, 0] = np.arange(n + 1)
        E[0, :] = np.arange(m + 1)
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                sub = 0 if abs(a[i - 1] - b[j - 1]) <= eps else 1
                E[i, j] = min(
                    E[i - 1, j - 1] + sub, E[i - 1, j] + 1, E[i, j - 1] + 1
                )
        return E[n, m]

    rng = np.random.default_rng(7)
    for _ in range(200):
        n, m = rng.integers(1, 20), rng.integers(1, 20)
        a = rng.normal(0, 2, n)
        b = rng.normal(0, 2, m)
        eps = float(rng.uniform(0.1, 3))
        assert kernels.lcss(a, b, eps) == lcss_ref(a, b, eps)
        assert kernels.edr(a, b, eps) == edr_ref(a, b, eps)


def test_erp_matches_quadratic_reference():
    """The antidiagonal ERP kernel (integer micro-units) must equal the
    textbook O(n*m) loop with prefix-sum boundaries."""
    import numpy as np

    from traj_sim_spark_spark.functions import kernels

    def erp_ref(a, b):
        n, m = len(a), len(b)
        E = np.zeros((n + 1, m + 1), dtype=np.int64)
        E[1:, 0] = np.cumsum(np.abs(a))
        E[0, 1:] = np.cumsum(np.abs(b))
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                E[i, j] = min(
                    E[i - 1, j - 1] + abs(a[i - 1] - b[j - 1]),
                    E[i - 1, j] + abs(a[i - 1]),
                    E[i, j - 1] + abs(b[j - 1]),
                )
        return E[n, m]

    rng = np.random.default_rng(13)
    for _ in range(200):
        n, m = rng.integers(1, 20), rng.integers(1, 20)
        a = rng.integers(-1000, 1000, n)
        b = rng.integers(-1000, 1000, m)
        assert kernels.erp(a, b) == erp_ref(a, b)


def test_lcss_edr_int2d_match_quadratic_reference():
    """The integer-2D LCSS/EDR kernels (squared-distance match, no
    sqrt) must equal textbook loop recurrences."""
    import numpy as np

    from traj_sim_spark_spark.functions import kernels

    def lcss2_ref(A, B, e2):
        n, m = len(A), len(B)
        L = np.zeros((n + 1, m + 1), dtype=int)
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                d2 = (A[i - 1, 0] - B[j - 1, 0]) ** 2 + (
                    A[i - 1, 1] - B[j - 1, 1]
                ) ** 2
                L[i, j] = max(
                    L[i - 1, j - 1] + (1 if d2 <= e2 else 0),
                    L[i - 1, j],
                    L[i, j - 1],
                )
        return L[n, m]

    def edr2_ref(A, B, e2):
        n, m = len(A), len(B)
        E = np.zeros((n + 1, m + 1), dtype=int)
        E[:, 0] = np.arange(n + 1)
        E[0, :] = np.arange(m + 1)
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                d2 = (A[i - 1, 0] - B[j - 1, 0]) ** 2 + (
                    A[i - 1, 1] - B[j - 1, 1]
                ) ** 2
                E[i, j] = min(
                    E[i - 1, j - 1] + (0 if d2 <= e2 else 1),
                    E[i - 1, j] + 1,
                    E[i, j - 1] + 1,
                )
        return E[n, m]

    rng = np.random.default_rng(17)
    for _ in range(150):
        n, m = rng.integers(1, 15), rng.integers(1, 15)
        A = rng.integers(-50, 50, (n, 2))
        B = rng.integers(-50, 50, (m, 2))
        e2 = int(rng.integers(1, 2000))
        assert kernels.lcss_int2d(A, B, e2) == lcss2_ref(A, B, e2)
        assert kernels.edr_int2d(A, B, e2) == edr2_ref(A, B, e2)


def test_isqrt_i64_exact_full_domain():
    """isqrt_i64 == math.isqrt across magnitudes incl. the int64-edge
    squares where the float candidate needs the +-1 correction."""
    import math

    rng = np.random.default_rng(23)
    cap = 3_037_000_499  # isqrt(2^63 - 1)
    xs = np.concatenate(
        [
            rng.integers(0, 2**63 - 1, 50_000, dtype=np.int64),
            np.array(
                [0, 1, 2, 3, 4, 8, 9, 15, 16, 24, 25,
                 cap * cap - 1, cap * cap, 2**63 - 1],
                dtype=np.int64,
            ),
            # perfect squares and their neighbors
            (np.arange(1, 2000, dtype=np.int64) ** 2),
            (np.arange(1, 2000, dtype=np.int64) ** 2) - 1,
        ]
    )
    got = kernels.isqrt_i64(xs)
    exp = np.array([math.isqrt(int(v)) for v in xs], dtype=np.int64)
    assert (got == exp).all()


def test_erp_int2d_matches_reference_dp():
    """erp_int2d == the naive O(n*m) floored-cost ERP recursion."""
    import math

    def erp2_ref(A, B):
        def nrm(p):
            return math.isqrt(int(p[0]) ** 2 + int(p[1]) ** 2)

        def dist(p, q):
            return math.isqrt(
                (int(p[0]) - int(q[0])) ** 2
                + (int(p[1]) - int(q[1])) ** 2
            )

        n, m = len(A), len(B)
        E = np.zeros((n + 1, m + 1), dtype=np.int64)
        for i in range(1, n + 1):
            E[i, 0] = E[i - 1, 0] + nrm(A[i - 1])
        for j in range(1, m + 1):
            E[0, j] = E[0, j - 1] + nrm(B[j - 1])
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                E[i, j] = min(
                    E[i - 1, j - 1] + dist(A[i - 1], B[j - 1]),
                    E[i - 1, j] + nrm(A[i - 1]),
                    E[i, j - 1] + nrm(B[j - 1]),
                )
        return int(E[n, m])

    rng = np.random.default_rng(29)
    for _ in range(120):
        n, m = rng.integers(1, 15), rng.integers(1, 15)
        A = rng.integers(-600_000_000, 600_000_000, (n, 2)).astype(
            np.int64
        )
        B = rng.integers(-600_000_000, 600_000_000, (m, 2)).astype(
            np.int64
        )
        assert kernels.erp_int2d(A, B) == erp2_ref(A, B)


def test_segment_intersections_kernel_matches_catalyst_join(spark, sf_dir):
    """The round-12 vectorized Arrow kernel for
    ``traj_segment_intersections`` must be row-identical to the
    Catalyst join form it replaced (same day/block decomposition, same
    bbox + canonical-day + four-orientation predicates as SQL
    expressions) — an independent in-Spark twin on top of the DuckDB
    oracle gate."""
    from pyspark.sql import functions as F

    from traj_sim_spark_spark import registry
    from traj_sim_spark_spark.operators.extras2 import (
        _SI_DAY_US,
        _int_segments,
        _proper_crossing,
    )
    from traj_sim_spark_spark.tables import Tables

    registry.load_all()

    seg = _int_segments(Tables(spark, sf_dir)).withColumn(
        "day",
        F.explode(
            F.sequence(
                F.expr(f"x1 div {_SI_DAY_US}"),
                F.expr(f"x2 div {_SI_DAY_US}"),
            )
        ),
    )
    B = 6
    blocks = F.explode(F.sequence(F.lit(0), F.lit(B - 1)))
    a = (
        seg.withColumn("blk", F.pmod("user_id", F.lit(B)))
        .withColumn("obk", blocks)
        .alias("a")
    )
    b = (
        seg.withColumn("obk", F.pmod("user_id", F.lit(B)))
        .withColumn("blk", blocks)
        .alias("b")
    )
    cand = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.obk") == F.col("b.obk"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (
            F.col("a.day")
            == F.greatest(
                F.expr(f"a.x1 div {_SI_DAY_US}"),
                F.expr(f"b.x1 div {_SI_DAY_US}"),
            )
        )
        & (F.greatest("a.x1", "b.x1") <= F.least("a.x2", "b.x2"))
        & (
            F.greatest(F.least("a.y1", "a.y2"), F.least("b.y1", "b.y2"))
            <= F.least(
                F.greatest("a.y1", "a.y2"), F.greatest("b.y1", "b.y2")
            )
        ),
    ).select(
        F.col("a.user_id").alias("ua"),
        F.col("a.x1").alias("ax1"),
        F.col("a.y1").alias("ay1"),
        F.col("a.x2").alias("ax2"),
        F.col("a.y2").alias("ay2"),
        F.col("b.user_id").alias("ub"),
        F.col("b.x1").alias("bx1"),
        F.col("b.y1").alias("by1"),
        F.col("b.x2").alias("bx2"),
        F.col("b.y2").alias("by2"),
    )
    twin = (
        cand.filter(_proper_crossing())
        .groupBy(F.col("ua").alias("user_a"), F.col("ub").alias("user_b"))
        .agg(F.count("*").alias("n_crossings"))
    )
    want = sorted(tuple(r) for r in twin.collect())
    got = sorted(
        tuple(r)
        for r in registry.QUERIES["traj_segment_intersections"](
            spark, sf_dir
        ).collect()
    )
    assert got == want


def test_pairwise_dist_cell_bound_raises():
    """Scale guard: a pathological pair whose dense matrix would exceed
    the kernel cell bound fails loudly instead of OOMing an executor.
    Shapes only — the check fires before any allocation."""
    import pytest

    a = np.zeros(20_000)
    b = np.zeros(20_000)  # 4e8 cells > _MAX_DP_CELLS (2^27)
    with pytest.raises(ValueError, match="cell bound"):
        kernels.pairwise_dist(a, b)


#: every DP recurrence in 1-D and 2-D: (block kernel, per-row kernel,
#: coordinates, integer points, takes tau)
_BLOCK_CASES = {
    "dtw-1": (kernels.dtw_block, kernels.dtw, 1, False, True),
    "frechet-1": (kernels.frechet_block, kernels.frechet, 1, False, True),
    "dtw_banded-1": (
        partial(kernels.dtw_banded_block, w=2),
        partial(kernels.dtw_banded, w=2),
        1,
        False,
        True,
    ),
    "lcss-1": (
        partial(kernels.lcss_block, eps=20.0, delta=3),
        partial(kernels.lcss, eps=20.0, delta=3),
        1,
        False,
        False,
    ),
    "edr-1": (
        partial(kernels.edr_block, eps=20.0),
        partial(kernels.edr, eps=20.0),
        1,
        False,
        False,
    ),
    "erp-1": (kernels.erp_block, kernels.erp, 1, True, False),
    "dtw-2": (kernels.dtw_block, kernels.dtw, 2, False, True),
    "frechet-2": (kernels.frechet_block, kernels.frechet, 2, False, True),
    "dtw_banded-2": (
        partial(kernels.dtw_banded_block, w=2),
        partial(kernels.dtw_banded, w=2),
        2,
        False,
        True,
    ),
    "lcss-2": (
        partial(kernels.lcss_int2d_block, e2=200**2, delta=3),
        partial(kernels.lcss_int2d, e2=200**2, delta=3),
        2,
        True,
        False,
    ),
    "edr-2": (
        partial(kernels.edr_int2d_block, e2=200**2),
        partial(kernels.edr_int2d, e2=200**2),
        2,
        True,
        False,
    ),
    "erp-2": (kernels.erp_int2d_block, kernels.erp_int2d, 2, True, False),
}


@st.composite
def _block_input(draw, dim, ints):
    """A query and a block of 1-7 candidates of 1-12 points, some of
    them duplicates of another (tied values)."""
    elem = (
        st.integers(min_value=-1000, max_value=1000)
        if ints
        else st.floats(min_value=-100, max_value=100, allow_nan=False)
    )

    def series():
        n = draw(st.integers(min_value=1, max_value=12))
        xs = draw(st.lists(elem, min_size=n * dim, max_size=n * dim))
        a = np.array(xs, dtype=np.int64 if ints else np.float64)
        return a if dim == 1 else a.reshape(n, dim)

    q = series()
    cands = [series() for _ in range(draw(st.integers(1, 5)))]
    dups = draw(st.lists(st.integers(0, len(cands) - 1), max_size=2))
    return cands + [cands[i].copy() for i in dups], q


@pytest.mark.parametrize("case", list(_BLOCK_CASES))
@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_block_scores_equal_row_scores(case, data):
    """One sweep over a block of candidates gives every row the value
    of its own one-row call bit for bit (==, not isclose), for every
    recurrence: padding the block to its longest row, each row's own
    band and its own last antidiagonal change nothing.  With tau (the
    float forms; None, one of the exact values, above all of them) a
    row within tau is exact and an abandoned row returns a value above
    tau."""
    block, row, dim, ints, has_tau = _BLOCK_CASES[case]
    cands, q = data.draw(_block_input(dim, ints))
    taus = [None]
    if has_tau:
        exact = [row(a, q) for a in cands]
        taus += [data.draw(st.sampled_from(exact)), max(exact) + 1.0]
    for tau in taus:
        kw = {} if tau is None else {"tau": tau}
        got = block(cands, q, **kw).tolist()
        assert got == [row(a, q, **kw) for a in cands], (case, tau)
        if tau is not None:
            for g, e in zip(got, exact):
                assert g == e if e <= tau else g > tau, (case, tau, g, e)


def test_block_cell_bound_raises():
    """A block holding one over-long row fails with the per-pair cell
    bound's ValueError, whatever its other rows, for every recurrence
    that carries the bound (banded DTW is band-local and does not).
    Shapes only — the check fires before the block is padded."""
    q1, q2 = np.zeros(20_000), np.zeros((20_000, 2), dtype=np.int64)
    short1, short2 = np.zeros(3), np.zeros((3, 2), dtype=np.int64)
    calls = [
        lambda b: kernels.dtw_block(b, q1),
        lambda b: kernels.frechet_block(b, q1),
        lambda b: kernels.lcss_block(b, q1, 1.0),
        lambda b: kernels.edr_block(b, q1, 1.0),
        lambda b: kernels.erp_block(b, q1.astype(np.int64)),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="cell bound"):
            call([short1, q1])  # 4e8 cells > _MAX_DP_CELLS (2^27)
    calls2 = [
        lambda b: kernels.dtw_block(b, q2.astype(np.float64)),
        lambda b: kernels.lcss_int2d_block(b, q2, 1),
        lambda b: kernels.edr_int2d_block(b, q2, 1),
        lambda b: kernels.erp_int2d_block(b, q2),
    ]
    for call in calls2:
        with pytest.raises(ValueError, match="cell bound"):
            call([short2, q2])


def test_hausdorff_2d_kernel_point_bound_raises(spark, sf_dir, monkeypatch):
    """Scale guard on the collect_list-fed 2-D Hausdorff measure: an
    oversized user raises (with the bound in the message) rather than
    inflating executor memory, through the registered kNN row.  The
    bound is captured by value in the measure's pickled closure, so a
    measure built on the driver with a small bound carries it to the
    executors."""
    import pytest

    from traj_sim_spark_spark import registry
    from traj_sim_spark_spark.operators import extras12

    registry.load_all()
    monkeypatch.setattr(
        extras12, "_HAUSDORFF_2D", extras12._hausdorff_2d_measure(3)
    )
    df = registry.QUERIES["traj_hausdorff_knn_2d"](spark, sf_dir)
    with pytest.raises(Exception, match="kernel bound"):
        df.collect()
