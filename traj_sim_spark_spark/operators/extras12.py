"""Batch-workload kNN rows for the DP-kernel trajectory measures, and
the one search kernel every kNN, DP-family threshold and Hausdorff
search row runs on.

The reference's benchmark harness samples a WORKLOAD of query
trajectories and answers them in one run (SURVEY §2.1 R17 -> R9);
this module re-expresses that shape for the 1-D DP measures, the whole
batch sharing ONE corpus scan and ONE per-user array assembly
(``planes.arrays``) instead of one run per query.

Every ``*_knn_batch*`` row here and in ``extras13`` is ``_knn_batch``
over a per-measure ``_Measure``, and so is each of their twelve
single-query twins (``qids=(_QUERY_USER,)``, ``qid`` dropped): ONE
Arrow pass in which every partition bounds its (query, candidate)
rows, skips those whose bound exceeds the query's running k-th rank
key, scores the rest exactly and keeps a local top-k; a
``row_number`` window merges the local lists.  The eleven Fréchet /
DTW / ERP / EDR / LCSS threshold rows are the same pass with a fixed
radius (``_threshold_search``): no heap and no window, a row is kept
when the oracle's exact predicate holds.  The 1-D, 2-D point-set
and 2-D segment Hausdorff kNN, batch-kNN and threshold rows run the
same two passes.

Rows are scored in BLOCKS of one query's rows (``_BLOCK``), in
(bound, user_id) order for kNN and in batch order for a threshold:
a DP measure scores a block in one antidiagonal sweep of its
``kernels.*_block`` kernel, the Hausdorff measures map their row
scorer over it.  The kNN tau (skip bound and abandon radius) is the
k-th key at the block's start, so every skip stays lossless; the
block's rows then enter the heap one at a time.
The measures differ only in their rank key and its lower bound:

- Fréchet, DTW, banded DTW: the 6-decimal distance, bounded by
  max(Hausdorff, endpoints) (1-D) or endpoints + bbox sides (2-D);
- ERP: the exact integer ``erp_micro``, bounded by the L1-norm gap
  (1-D) or the slack-corrected floored-mass gap (2-D);
- EDR / LCSS: the IEEE quotient e / max(n, m) and -(l / min(n, m)),
  bounded through the count of matchable candidate points;
- Hausdorff: the unrounded point-set distance, bounded by the
  largest bbox-side gap (2-D) or value-span gap (1-D);
- segment Hausdorff: the double d² over exact integer terms, bounded by
  the padded squared bbox-side gap; its threshold is the oracle's
  integer predicate.
"""

from __future__ import annotations

import heapq
from collections.abc import Callable, Iterator
from fractions import Fraction
from functools import partial
from numbers import Real
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import kernels
from ..registry import query
from ..tables import Tables
from . import dp_list_sql as _DL
from .extras6 import _EPSM, _LCSS_DELTA, _SEARCH_EPS
from .planes import arrays
from .trajectory import _BATCH_QIDS, _QUERY_USER, _SEARCH_K

# ---------------------------------------------------------------------------
# The search harness: one prune-and-refine pass; kNN keeps a local top-k
# and merges, threshold keeps every row within a fixed radius
# ---------------------------------------------------------------------------


class _Measure(NamedTuple):
    """One search measure.  ``bound(a, q)`` is a lower bound on the
    rank key; ``score(cands, q, tau)`` scores a block of candidate
    arrays against the one query ``q`` and returns one ``(key,
    *outputs)`` row per candidate, where ``tau`` is a radius on the key
    (the kNN query's k-th key at the block's start, ``None`` until k
    rows are kept, or a threshold row's fixed radius) and may cut a
    row's exact computation short once its key provably exceeds it;
    ``schema`` is the DDL of ``key`` and the outputs.
    ``within(row, a, q, tau)`` is the threshold oracle's membership
    test of a scored row of candidate ``a`` against query ``q``: its
    key within the radius for the distance measures, the exact
    rational that the float key rounds for the quotient measures, the
    integer point-to-segment predicate for segment Hausdorff."""

    bound: Callable[[np.ndarray, np.ndarray], float]
    score: Callable[[list[np.ndarray], np.ndarray, float | None], list]
    schema: str
    within: Callable[[tuple, np.ndarray, np.ndarray, Real], bool]


def _nearest_gaps(a: np.ndarray, sq: np.ndarray) -> np.ndarray:
    """Per element of ``a``, its distance to the nearest value of the
    sorted ``sq``."""
    idx = np.searchsorted(sq, a)
    lo = np.where(idx > 0, a - sq[np.maximum(idx - 1, 0)], np.inf)
    hi = np.where(
        idx < len(sq), sq[np.minimum(idx, len(sq) - 1)] - a, np.inf
    )
    return np.minimum(lo, hi)


def _lb_1d(a: np.ndarray, q: np.ndarray) -> float:
    """max(1-D Hausdorff, endpoint distances): a Fréchet lower bound
    (Fréchet >= Hausdorff, and every coupling matches first-with-first
    and last-with-last), hence a DTW and banded-DTW bound too (DTW >=
    Fréchet; restricting the couplings can only raise the minimum)."""
    sa, sq = np.sort(a), np.sort(q)
    return float(
        max(
            _nearest_gaps(sa, sq).max(),
            _nearest_gaps(sq, sa).max(),
            abs(a[0] - q[0]),
            abs(a[-1] - q[-1]),
        )
    )


def _bbox_gap(a: np.ndarray, q: np.ndarray) -> float:
    """The largest of the four bbox-side gaps of two (n, 2) point
    arrays: |min_x(A) - min_x(Q)|, |max_x(A) - max_x(Q)| and the same
    on y.  The point attaining max_x(A) is at least max_x(A) - max_x(Q)
    from every point of Q (same for the other sides, either way round),
    so any distance that matches each point to some point of the other
    side, nearest or coupled, is at least the gap."""
    sides = np.concatenate(
        (a.min(axis=0) - q.min(axis=0), a.max(axis=0) - q.max(axis=0))
    )
    return float(np.abs(sides).max())


def _lb_2d(a: np.ndarray, q: np.ndarray) -> float:
    """Max of the Euclidean endpoint distances and the bbox-side gaps
    (``_bbox_gap``) of two (n, 2) point arrays: a 2-D Fréchet (hence
    DTW) lower bound.  The endpoints couple to each other in every
    monotone coupling, and every point couples to SOME point of the
    other side."""
    ends = a[[0, -1]] - q[[0, -1]]
    return float(
        max(np.sqrt((ends * ends).sum(axis=1)).max(), _bbox_gap(a, q))
    )


def _matchable(a: np.ndarray, q: np.ndarray) -> int:
    """How many points of ``a`` have SOME point of ``q`` within eps.
    Each LCSS match or free EDR substitution consumes one such point,
    so LCSS <= matchable and EDR >= max(n, m) - matchable.  1-D float
    series: binary search over the sorted query values, |a_i - q_j| <=
    _SEARCH_EPS.  2-D micro-quantized (n, 2) int64 points: the exact
    integer test dx^2 + dy^2 <= _EPSM^2, with |dx|, |dy| clipped to
    _EPSM + 1 first (a clipped coordinate already leaves the eps ball,
    and clipping keeps the squares inside int64)."""
    if a.ndim == 1:
        gaps = _nearest_gaps(a, np.sort(q))
        return int(np.count_nonzero(gaps <= _SEARCH_EPS))
    d = np.minimum(np.abs(a[:, None, :] - q[None, :, :]), _EPSM + 1)
    hit = (d * d).sum(axis=2) <= _EPSM * _EPSM
    return int(np.count_nonzero(hit.any(axis=1)))


def _rowwise(score: Callable[[np.ndarray, np.ndarray, float | None], tuple]):
    """The block scorer that maps the row scorer ``score(a, q, tau)``
    over the block's candidates (the measures without a block kernel)."""
    return lambda cands, q, tau: [score(a, q, tau) for a in cands]


def _key_within(row: tuple, a: np.ndarray, q: np.ndarray, tau: Real) -> bool:
    """The key as the oracle compares it (rounded distance, integer
    ``erp_micro``, unrounded Hausdorff) within the radius."""
    return row[0] <= tau


def _dp_measure(kernel, lb, out_col: str) -> _Measure:
    """A float DP measure over the block kernel ``kernel(cands, q,
    tau=)``, ranked by its distance rounded to 6 places.  A true
    distance above tau + 1e-6 rounds strictly above tau, so both the
    bound and the DP's early abandon carry that pad; the tie band
    (tau, tau + 5e-7] that rounds TO tau is still refined and can win
    on user_id."""

    def score(cands, q, tau):
        ds = kernel(cands, q, tau=None if tau is None else tau + 1e-6)
        return [(d, d) for d in (round(v, 6) for v in ds.tolist())]

    return _Measure(
        lambda a, q: lb(a, q) - 1e-6,
        score,
        f"key double, {out_col} double",
        _key_within,
    )


def _l1_gap(a: np.ndarray, q: np.ndarray) -> int:
    """|L1(a) - L1(q)|: the lossless ERP bound (Chen & Ng triangle with
    the zero gap element)."""
    return abs(int(np.abs(a).sum()) - int(np.abs(q).sum()))


def _erp_measure(erp, bound) -> _Measure:
    """ERP over the block kernel ``erp(cands, q)``, ranked by the exact
    integer ``erp_micro`` — no rounding at the pruning boundary."""

    def score(cands, q, tau):
        return [(e, e, round(e / 1e6, 6)) for e in erp(cands, q).tolist()]

    return _Measure(
        bound, score, "key bigint, erp_micro bigint, erp double", _key_within
    )


def _edr_measure(edr, rounded: bool) -> _Measure:
    """EDR ranked by the IEEE quotient e / max(n, m) — the oracle's
    ORDER BY division.  Bound: max(|n - m|, max(n, m) - matchable) over
    the same denominator, and IEEE division is monotone, so bound <=
    key.  The exact key is the rational e / max(n, m), so ``within``
    compares it by integer cross-multiplication, as the oracle's
    ``edr * DEN <= max(n, m) * NUM`` does.  ``rounded`` shows
    ``edr_norm`` at 6 places (1-D) instead of the unrounded quotient
    (2-D)."""

    def bound(a, q):
        n, m = len(a), len(q)
        return max(abs(n - m), max(n, m) - _matchable(a, q)) / max(n, m)

    def score(cands, q, tau):
        rows = []
        for a, e in zip(cands, edr(cands, q).tolist()):
            ratio = e / max(len(a), len(q))
            rows.append((ratio, e, round(ratio, 6) if rounded else ratio))
        return rows

    return _Measure(
        bound,
        score,
        "key double, edr bigint, edr_norm double",
        lambda row, a, q, tau: Fraction(row[1], max(len(a), len(q))) <= tau,
    )


def _lcss_measure(lcss, rounded: bool) -> _Measure:
    """LCSS ranked by -(l / min(n, m)), ascending — the oracle's
    descending similarity.  Bound: -min(matchable, min(n, m)) /
    min(n, m).  The exact key is the rational -(l / min(n, m)), so
    ``within`` at a radius -NUM / DEN keeps the oracle's ``l * DEN >=
    min(n, m) * NUM``.  ``rounded`` as for ``_edr_measure``."""

    def bound(a, q):
        ml = min(len(a), len(q))
        return -min(_matchable(a, q), ml) / ml

    def score(cands, q, tau):
        rows = []
        for a, ln in zip(cands, lcss(cands, q).tolist()):
            ml = min(len(a), len(q))
            sim = round(ln / ml, 6) if rounded else ln / ml
            rows.append((-ln / ml, ln, sim))
        return rows

    return _Measure(
        bound,
        score,
        "key double, lcss_len bigint, lcss_sim double",
        lambda row, a, q, tau: Fraction(-row[1], min(len(a), len(q))) <= tau,
    )


_ERP_1D = _erp_measure(kernels.erp_block, _l1_gap)
_EDR_1D = _edr_measure(
    partial(kernels.edr_block, eps=_SEARCH_EPS), rounded=True
)
_LCSS_1D = _lcss_measure(
    partial(kernels.lcss_block, eps=_SEARCH_EPS, delta=_LCSS_DELTA),
    rounded=True,
)


# Per-user point-count bound of the 2-D Hausdorff score: a heavy-tailed
# user at scale fails loudly here instead of inflating executor memory
# (the distance matrix is slabbed, so this guards the collected arrays
# themselves, not the matrix).
_HAUS_2D_MAX_PTS = 1 << 25


def _hausdorff_2d_measure(max_pts: int) -> _Measure:
    """Euclidean point-set Hausdorff of (n, 2) float arrays, ranked by
    the unrounded max(h1, h2) that the oracles' ORDER BY ranks on.

    Bound: ``_bbox_gap``, lossless because the extreme point's nearest
    neighbour on the other side is at least the gap away; it holds in
    IEEE arithmetic too, since subtraction is monotone and
    sqrt(fl(dx^2) + fl(dy^2)) >= |dx|.  Score: h1, the largest
    nearest-candidate distance over the query points, and h2, the
    largest nearest-query distance over the candidate points, by the
    same subtract/multiply/add/sqrt sequence as the oracle's point
    join, so the doubles are bit-equal to it.  No early abandon: a slab
    holds 2M / |Q| points, so a slab-level abandon would only fire on
    users of tens of thousands of points.  ``max_pts`` is captured in
    the closure, which ships by value to the workers."""

    def score(a, q, tau):
        if max(len(a), len(q)) > max_pts:
            raise ValueError(
                "per-user point count exceeds the 2-D Hausdorff "
                f"kernel bound ({max_pts})"
            )
        ax, ay, qx, qy = a[:, 0], a[:, 1], q[:, 0], q[:, 1]
        # slab the candidate axis so the dense (slab x nq) matrix stays
        # ~2M cells whatever the points per user; min and max are
        # exactly associative, so folding running column minima and
        # row maxima across slabs is bit-identical to one matrix
        nq = qx.size
        slab = max(1, 2_000_000 // max(nq, 1))
        col_min = np.full(nq, np.inf)
        h2 = -np.inf
        for s in range(0, ax.size, slab):
            e = s + slab
            dx = ax[s:e, None] - qx[None, :]
            dy = ay[s:e, None] - qy[None, :]
            d = np.sqrt(dx * dx + dy * dy)
            np.minimum(col_min, d.min(axis=0), out=col_min)
            h2 = max(h2, float(d.min(axis=1).max()))
        h = max(float(col_min.max()), h2)
        return h, h

    return _Measure(
        _bbox_gap,
        _rowwise(score),
        "key double, hausdorff_2d double",
        _key_within,
    )


_HAUSDORFF_2D = _hausdorff_2d_measure(_HAUS_2D_MAX_PTS)


def _span_gap(a: np.ndarray, q: np.ndarray) -> float:
    """max(|min a - min q|, |max a - max q|) of two 1-D arrays: the
    ``_bbox_gap`` of one axis.  The extreme value's nearest neighbour
    on the other side is exactly that gap away, so it bounds the 1-D
    Hausdorff distance with no rounding slack."""
    return float(max(abs(a.min() - q.min()), abs(a.max() - q.max())))


def _hausdorff_1d(a: np.ndarray, q: np.ndarray, tau: float | None) -> tuple:
    """1-D point-set Hausdorff, ranked by the unrounded distance: each
    value's nearest neighbour on the other sorted side is a flanking
    one, and |x - y| is monotone in y on either side of x, so the
    subtract/min/max chain gives the oracle's grouped-minima doubles."""
    sa, sq = np.sort(a), np.sort(q)
    h = float(max(_nearest_gaps(sa, sq).max(), _nearest_gaps(sq, sa).max()))
    return h, h


_HAUSDORFF_1D = _Measure(
    _span_gap,
    _rowwise(_hausdorff_1d),
    "key double, hausdorff double",
    _key_within,
)


def _seg_terms(p: np.ndarray, v: np.ndarray) -> tuple:
    """``extras3._seg_cases``'s int64 terms (ab2, dotp, ap2, bp2, crs)
    of the (n, 2) points ``p`` against the segments of the path ``v``,
    as (len(p), len(v) - 1) arrays (ab2 one per segment)."""
    x1, y1, x2, y2 = v[:-1, 0], v[:-1, 1], v[1:, 0], v[1:, 1]
    px, py = p[:, :1], p[:, 1:]
    ab2 = (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)
    dotp = (x2 - x1) * (px - x1) + (y2 - y1) * (py - y1)
    ap2 = (px - x1) * (px - x1) + (py - y1) * (py - y1)
    bp2 = (px - x2) * (px - x2) + (py - y2) * (py - y2)
    crs = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    return ab2, dotp, ap2, bp2, crs


def _path_d2(p: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Squared point-to-segment distances in ``extras3._seg_d2``'s cases
    and operation order (an endpoint square converted once, or crs·crs
    / ab2 in double), so bit-equal to Spark's and DuckDB's."""
    ab2, dotp, ap2, bp2, crs = _seg_terms(p, v)
    crsf = crs.astype(np.float64)
    # ab2 == 0 is an endpoint case: max(ab2, 1) keeps the unused
    # interior quotient finite
    inner = crsf * crsf / np.maximum(ab2, 1).astype(np.float64)
    return np.where(
        (ab2 == 0) | (dotp <= 0),
        ap2.astype(np.float64),
        np.where(dotp >= ab2, bp2.astype(np.float64), inner),
    )


def _path_within(p: np.ndarray, v: np.ndarray, t2: int) -> np.ndarray:
    """Per (point, segment), exact d² <= the integer ``t2``, decided as
    the threshold oracle's ``extras3._SQL_WITHIN`` decides it: int64
    squares in the endpoint cases; in the interior case crs² against
    t2·ab2, where the oracle widens to HUGEINT.  The double compare
    (each side within ~5e-16 relative) decides every pair outside a
    1e-9 relative guard band, and Python ints decide the pairs inside
    it, so no rounding decides membership."""
    ab2, dotp, ap2, bp2, crs = _seg_terms(p, v)
    at_a, at_b = (ab2 == 0) | (dotp <= 0), dotp >= ab2
    crsf = crs.astype(np.float64)
    lhs, rhs = crsf * crsf, float(t2) * ab2.astype(np.float64)
    inner = lhs <= rhs * (1.0 - 1e-9)
    band = ~(at_a | at_b | inner) & (lhs <= rhs * (1.0 + 1e-9))
    for i, j in zip(*np.nonzero(band)):
        inner[i, j] = int(crs[i, j]) ** 2 <= t2 * int(ab2[j])
    return np.where(at_a, ap2 <= t2, np.where(at_b, bp2 <= t2, inner))


def _path_slabs(a: np.ndarray, q: np.ndarray, f) -> Iterator[tuple]:
    """(f(q, the slab's segments), f(the slab's points, q)) per slab of
    the candidate path ``a``: slab k holds points [ks, ks + slab) and
    the segments between vertices [ks, ks + slab], so every point and
    segment falls in one slab, and each matrix stays ~2M cells."""
    slab = max(1, 2_000_000 // len(q))
    for s in range(0, len(a), slab):
        yield f(q, a[s : s + slab + 1]), f(a[s : s + slab], q)


def _hseg_bound(a: np.ndarray, q: np.ndarray) -> float:
    """``_bbox_gap`` squared: a path lies in its vertices' bbox, so the
    vertex on a bbox side is at least the gap from the other path.  The
    1e-12 relative pad covers an interior d² that rounds a few ulps
    below its exact value."""
    g = _bbox_gap(a, q)
    return g * g * (1.0 - 1e-12)


def _hseg_score(a: np.ndarray, q: np.ndarray, tau: float | None) -> tuple:
    """Segment Hausdorff of two int64 micro-plane paths [P §4.4], as the
    double d² the oracles' ORDER BY ranks on: the larger directed
    max-min of ``_path_d2`` (min and max are exact, so bit-equal)."""
    if max(len(a), len(q)) > _HAUS_2D_MAX_PTS:
        raise ValueError(
            "per-user point count exceeds the 2-D Hausdorff "
            f"kernel bound ({_HAUS_2D_MAX_PTS})"
        )
    near, far = np.full(len(q), np.inf), -np.inf
    for dq, da in _path_slabs(a, q, _path_d2):
        np.minimum(near, dq.min(axis=1, initial=np.inf), out=near)
        far = max(far, float(da.min(axis=1).max()))
    h = max(float(near.max()), far)
    return h, h


def _hseg_within(row: tuple, a: np.ndarray, q: np.ndarray, tau: int) -> bool:
    """The threshold oracle's integer predicate at the squared radius
    ``tau`` (micro²): every point of either path has a segment of the
    other within it."""
    covered = np.zeros(len(q), dtype=bool)
    for wq, wa in _path_slabs(a, q, partial(_path_within, t2=tau)):
        covered |= wq.any(axis=1)
        if not wa.any(axis=1).all():
            return False
    return bool(covered.all())


_HSEG_2D = _Measure(
    _hseg_bound, _rowwise(_hseg_score), "key double, h2 double", _hseg_within
)


def _points(pdf: pd.DataFrame, cols: list[str]) -> list[np.ndarray]:
    """Per row, the series as an array of its element type (float64, or
    int64 for the micro-quantized assemblies): 1-D for one coordinate
    column, (n, 2) for the (xs, ys) pair."""
    if len(cols) == 1:
        return [np.asarray(v) for v in pdf[cols[0]]]
    return [np.column_stack(vs) for vs in zip(*(pdf[c] for c in cols))]


#: rows per scoring block.  A larger block spreads one kernel sweep
#: over more rows but skips and abandons against an older, looser tau,
#: and a measure scored row by row (Hausdorff) only loses skips; the
#: size is chosen from replayed counts of scored rows (CHANGES.md)
_BLOCK = 32


def _block_end(lens: np.ndarray, start: int, stop: int) -> int:
    """The end of the block of rows [start, end) before ``stop``: at most
    ``_BLOCK`` rows, and fewer where the block's padded buffers, rows x
    (longest + 1) cells, would exceed the kernels' cell bound."""
    end = min(start + _BLOCK, stop)
    while end - start > 1 and (end - start) * (
        int(lens[start:end].max()) + 1
    ) > kernels._MAX_DP_CELLS:
        end -= 1
    return end


def _by_qid(rows: np.ndarray, qids: np.ndarray) -> list[np.ndarray]:
    """The row indices ``rows`` split into runs of one qid, each run in
    the order of ``rows`` (which must be sorted by qid)."""
    return np.split(rows, np.flatnonzero(np.diff(qids[rows])) + 1)


def _local_topk(
    batches: Iterator[pd.DataFrame],
    cols: list[str],
    measure: _Measure,
    k: int,
) -> Iterator[pd.DataFrame]:
    """One partition's prune-and-refine pass over (qid, user_id, cols,
    q-prefixed query cols) rows; yields the partition's top-k rows
    (qid, user_id, key, *outputs) per query once the partition is
    drained.

    Each batch's rows of one query are visited in (bound, user_id)
    order, in blocks (``_block_end``).  tau is the query's running k-th
    key, carried across blocks and batches, and is fixed at each
    block's start: a row whose bound exceeds it has key > tau and
    cannot displace the k-th (key, user_id) pair, so the block ends
    before the first such row, and so does the query's walk over the
    batch (tau never grows).  The block is scored in one kernel call
    with tau as its abandon radius; a row abandoned there has key >
    tau, at or above the running k-th key.  Its rows then enter the
    heap one at a time in order, and a key that ties tau can still win
    on user_id."""
    names = [c.split()[0] for c in measure.schema.split(",")]
    # qid -> min-heap of (-key, -user_id, outputs): its root is the k-th
    best: dict[int, list[tuple]] = {}
    for pdf in batches:
        if pdf.empty:
            continue
        pts = _points(pdf, cols)
        qpts = _points(pdf, ["q" + c for c in cols])
        bounds = np.array([measure.bound(a, q) for a, q in zip(pts, qpts)])
        lens = np.array([len(a) for a in pts])
        uids = pdf["user_id"].to_numpy()
        qids = pdf["qid"].to_numpy()
        for rows in _by_qid(np.lexsort((uids, bounds, qids)), qids):
            heap = best.setdefault(int(qids[rows[0]]), [])
            rb, rl, start = bounds[rows], lens[rows], 0
            while start < len(rows):
                tau = -heap[0][0] if len(heap) == k else None
                stop = len(rows)
                if tau is not None:
                    stop = int(np.searchsorted(rb, tau, side="right"))
                    if stop <= start:
                        break
                end = _block_end(rl, start, stop)
                block = rows[start:end]
                scored = measure.score(
                    [pts[i] for i in block], qpts[block[0]], tau
                )
                for i, (key, *outs) in zip(block, scored):
                    item = (-key, -int(uids[i]), outs)
                    if len(heap) < k:
                        heapq.heappush(heap, item)
                    elif item > heap[0]:
                        heapq.heapreplace(heap, item)
                start = end
    yield pd.DataFrame(
        [
            (q, -u, -key, *outs)
            for q, heap in best.items()
            for key, u, outs in heap
        ],
        columns=["qid", "user_id", *names],
    )


def _local_within(
    batches: Iterator[pd.DataFrame],
    cols: list[str],
    measure: _Measure,
    tau: Real,
) -> Iterator[pd.DataFrame]:
    """One partition's fixed-radius pass over (qid, user_id, cols,
    q-prefixed query cols) rows; yields per batch the rows (user_id,
    key, *outputs) that ``_Measure.within`` keeps at ``tau``.

    ``tau`` is the radius as the oracle states it, and ``float(tau)`` is
    its image in key space.  A row whose bound exceeds that image
    cannot qualify, so it is skipped: the DP bounds carry the 6-decimal
    pad, the segment bound its relative pad, and for the quotient keys
    a qualifier's bound is a correctly rounded quotient on the near
    side of tau, which rounds no further than tau itself.  The other
    rows of one query are scored in blocks (``_block_end``), in batch
    order, with the image as the abandon radius, and a row is kept when
    ``within`` holds.  The radius is fixed, so the blocks change no
    skip.  No heap and no merge: membership is decided per row."""
    names = [c.split()[0] for c in measure.schema.split(",")]
    radius = float(tau)
    for pdf in batches:
        pts = _points(pdf, cols)
        qpts = _points(pdf, ["q" + c for c in cols])
        uids = pdf["user_id"].tolist()
        qids = pdf["qid"].to_numpy()
        kept = np.flatnonzero(
            [measure.bound(a, q) <= radius for a, q in zip(pts, qpts)]
        )
        lens = np.array([len(a) for a in pts])
        kept = kept[np.argsort(qids[kept], kind="stable")]
        out = []
        for rows in _by_qid(kept, qids):
            start = 0
            while start < len(rows):
                end = _block_end(lens[rows], start, len(rows))
                block = rows[start:end]
                cands, q = [pts[i] for i in block], qpts[block[0]]
                scored = measure.score(cands, q, radius)
                for i, a, row in zip(block, cands, scored):
                    if measure.within(row, a, q, tau):
                        out.append((uids[i], *row))
                start = end
        yield pd.DataFrame(out, columns=["user_id", *names])


def _pairs(arr: DataFrame, qids: tuple[int, ...]) -> DataFrame:
    """The per-user assembly ``arr`` = (user_id, coordinate columns)
    cross-joined with the broadcast arrays of the query users ``qids``
    (``qid``, q-prefixed columns), a query user never its own
    candidate."""
    qarr = arr.filter(F.col("user_id").isin(*qids)).select(
        F.col("user_id").alias("qid"),
        *(F.col(c).alias("q" + c) for c in arr.columns if c != "user_id"),
    )
    return arr.crossJoin(F.broadcast(qarr)).filter(
        F.col("user_id") != F.col("qid")
    )


def _fanned_pairs(arr: DataFrame, qids: tuple[int, ...]) -> DataFrame:
    """``_pairs`` fanned out to one partition per core for the search
    kernel, which scores every row of the corpus."""
    return _pairs(arr, qids).repartition(
        arr.sparkSession.sparkContext.defaultParallelism
    )


def _knn_batch(
    arr: DataFrame, measure: _Measure, qids: tuple[int, ...] = _BATCH_QIDS
) -> DataFrame:
    """kNN of every query user in ``qids`` over a per-user assembly
    ``arr`` = (user_id, coordinate columns): the corpus cross-joined
    with the broadcast query arrays (``_fanned_pairs``), ONE Arrow kernel pass
    (``_local_topk``) and one ``row_number`` window over qid on (key,
    user_id) merging the partitions' local top-k lists — exact, because
    every global top-k row is in its own partition's local top-k.  No
    eager action, no checkpoint: the plan is the whole search.  The
    batch rows pass the sampled workload; the single-query rows pass
    one query user and drop ``qid``."""
    cols = [c for c in arr.columns if c != "user_id"]
    local = _fanned_pairs(arr, qids).mapInPandas(
        lambda batches: _local_topk(batches, cols, measure, _SEARCH_K),
        schema=f"qid bigint, user_id bigint, {measure.schema}",
    )
    w = Window.partitionBy("qid").orderBy("key", "user_id")
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SEARCH_K)
        .select(*(c for c in local.columns if c != "key"))
    )


def _threshold_search(
    arr: DataFrame, measure: _Measure, tau: Real
) -> DataFrame:
    """Every user that ``_Measure.within`` keeps at ``tau`` against the
    query user [P §5.1]: the kNN pairing (``_fanned_pairs``) and
    ONE Arrow pass (``_local_within``) that skips a row whose bound
    exceeds tau, scores the rest with tau as the abandon radius and
    keeps the qualifiers.  No heap, no window, no driver action: the
    plan is the whole search.  Returns (user_id, *outputs)."""
    cols = [c for c in arr.columns if c != "user_id"]
    return (
        _fanned_pairs(arr, (_QUERY_USER,))
        .mapInPandas(
            lambda batches: _local_within(batches, cols, measure, tau),
            schema=f"user_id bigint, {measure.schema}",
        )
        .drop("key")
    )


def _erp_batch_oracle() -> str:
    # one parameterized list-layer DP per query id (the traj_erp_knn
    # oracle with series_1d_erp(query_user=qid)), UNION ALL'd with the
    # qid tag — deliberately UNFILTERED by the Spark side's bounds so
    # every gate run re-certifies that the prune loses nothing
    sel = (
        "\nSELECT user_id, CAST(val AS BIGINT) AS erp_micro,"
        "\n       ROUND(val / 1e6, 6) AS erp\nFROM fin"
    )
    parts = []
    for qid in _BATCH_QIDS:
        prefix = _DL.layer_dp(
            _DL.series_1d_erp(qid),
            ("avs", "acs", "aps"),
            "LEAST(ABS(avs[1] - q.qvs[1]), acs[1] + q.qcs[1])",
            _DL.erp_combine("ABS(avs[y] - q.qvs[k - y + 2])"),
            _DL.SENT_ERP,
        )
        parts.append(
            f"SELECT CAST({qid} AS BIGINT) AS qid, * FROM ({prefix}{sel}"
            f"\nORDER BY val, user_id LIMIT {_SEARCH_K})"
        )
    return "\nUNION ALL\n".join(parts)


@query("traj_erp_knn_batch", oracle=_erp_batch_oracle)
def traj_erp_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH ERP kNN — the reference's workload shape (R17 -> R9) on
    the metric measure: top-10 neighbors by ERP for EVERY query in the
    sampled workload (users 1, 2, 3), answered in one shared run.

    ``_knn_batch`` ranks on the exact integer ``erp_micro`` and skips
    any (query, candidate) row whose lossless L1-norm bound |L1(a) -
    L1(q)| exceeds the query's running k-th ERP (Chen & Ng): no driver
    round-trip.  All decisions are integer (micro units).

    Scale shape: ONE series assembly serves the whole workload (the
    amortization that makes a 100-query batch ~100x cheaper than 100
    runs at 100 TB); query arrays ship broadcast; the per-query top-k
    is a rank window, never a global sort.  The oracle runs the
    UNFILTERED list-layer DP per query, so every gate re-certifies the
    prune end-to-end."""
    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value_micro", ordered=True),
        _ERP_1D,
    )


def _lcss_batch_oracle() -> str:
    # parameterized banded-LCSS list-layer DP per query id (the
    # traj_lcss_knn oracle with series_1d(query_user=qid))
    sel = (
        "\nSELECT user_id, CAST(val AS BIGINT) AS lcss_len,"
        "\n       ROUND(CAST(val AS DOUBLE) / LEAST(n, m), 6)"
        " AS lcss_sim\nFROM fin"
    )
    parts = []
    for qid in _BATCH_QIDS:
        prefix = _DL.layer_dp(
            _DL.series_1d(qid),
            ("avs",),
            f"CASE WHEN ABS(avs[1] - q.qvs[1]) <= {_SEARCH_EPS}"
            " THEN CAST(1 AS BIGINT) ELSE 0 END",
            _DL.lcss_combine(
                f"ABS(avs[y] - q.qvs[k - y + 2]) <= {_SEARCH_EPS}"
                f" AND ABS(2 * (y - 1) - k) <= {_LCSS_DELTA}"
            ),
            _DL.SENT_LCSS,
        )
        parts.append(
            f"SELECT CAST({qid} AS BIGINT) AS qid, * FROM ({prefix}{sel}"
            "\nORDER BY CAST(val AS DOUBLE) / LEAST(n, m) DESC, user_id"
            f"\nLIMIT {_SEARCH_K})"
        )
    return "\nUNION ALL\n".join(parts)


@query("traj_lcss_knn_batch", oracle=_lcss_batch_oracle)
def traj_lcss_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH banded-LCSS kNN — the workload shape on the
    edit-similarity measure: top-10 most-similar users per sampled
    query (users 1, 2, 3), LCSS_{d,e} with d=8, e=10 (the Vlachos
    time-window form shared with ``traj_lcss_knn``).

    ``_knn_batch`` ranks on -(lcss_len / min_len), the exact integer
    pair divided once in IEEE double as the oracle's ORDER BY divides
    it, ties on user_id; a row is skipped when its matchable-count
    upper bound min(matchable, min_len) / min_len already falls below
    the query's running k-th similarity.  In this dense-eps regime
    (eps = 10 against a value spread of the same order) the bound
    prunes little, so the saving is ONE assembly and ONE Arrow pass for
    the whole workload."""
    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _LCSS_1D,
    )


# ---------------------------------------------------------------------------
# Batch Fréchet / DTW kNN — the workload shape on the float DP measures
# ---------------------------------------------------------------------------


def _dtw_batch_oracle() -> str:
    parts = [
        f"SELECT CAST({qid} AS BIGINT) AS qid, * FROM ("
        + _DL.float_knn_sql(False, "dtw", _SEARCH_K, query_user=qid)
        + ")"
        for qid in _BATCH_QIDS
    ]
    return "\nUNION ALL\n".join(parts)


@query("traj_dtw_knn_batch", oracle=_dtw_batch_oracle)
def traj_dtw_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH DTW kNN — the workload shape (R17 -> R9) on the warping
    measure: top-10 cheapest alignments per sampled query (users
    1, 2, 3) in one shared run.  ``_knn_batch`` prunes each (query,
    candidate) row with the max(Hausdorff, endpoints) lower bound
    (valid for DTW: DTW >= Fréchet >= the bound) against the query's
    running tau_k and early-abandons the surviving DPs at tau
    (reference O10), all in one Arrow pass; a window merges the
    partitions' local top-k.  The oracle is the UNFILTERED per-query
    list-layer float DP, UNION ALL'd — every gate re-certifies prune +
    abandon."""
    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _dp_measure(kernels.dtw_block, _lb_1d, "dtw"),
    )


def _frechet_batch_oracle() -> str:
    parts = [
        f"SELECT CAST({qid} AS BIGINT) AS qid, * FROM ("
        + _DL.float_knn_sql(
            False, "frechet", _SEARCH_K, frechet=True, query_user=qid
        )
        + ")"
        for qid in _BATCH_QIDS
    ]
    return "\nUNION ALL\n".join(parts)


@query("traj_frechet_knn_batch", oracle=_frechet_batch_oracle)
def traj_frechet_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH discrete-Fréchet kNN — the workload shape on the
    reference's R13 measure: top-10 per sampled query from one shared
    assembly and one Arrow prune-and-refine pass (``_knn_batch``:
    max(Hausdorff, endpoints) lower bound against the running tau_k,
    early-abandoning DP, local top-k per partition merged by a window).
    The oracle is the UNFILTERED per-query list-layer Fréchet DP."""
    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _dp_measure(kernels.frechet_block, _lb_1d, "frechet"),
    )


# ---------------------------------------------------------------------------
# Batch EDR kNN
# ---------------------------------------------------------------------------


def _edr_batch_oracle() -> str:
    sel = (
        "\nSELECT user_id, CAST(val AS BIGINT) AS edr,"
        "\n       ROUND(CAST(val AS DOUBLE) / GREATEST(n, m), 6)"
        " AS edr_norm\nFROM fin"
    )
    parts = []
    for qid in _BATCH_QIDS:
        prefix = _DL.layer_dp(
            _DL.series_1d(qid),
            ("avs",),
            f"CASE WHEN ABS(avs[1] - q.qvs[1]) <= {_SEARCH_EPS}"
            " THEN CAST(0 AS BIGINT) ELSE 1 END",
            _DL.edr_combine(
                f"ABS(avs[y] - q.qvs[k - y + 2]) <= {_SEARCH_EPS}"
            ),
            _DL.SENT_EDR,
        )
        parts.append(
            f"SELECT CAST({qid} AS BIGINT) AS qid, * FROM ({prefix}{sel}"
            "\nORDER BY CAST(val AS DOUBLE) / GREATEST(n, m), user_id"
            f"\nLIMIT {_SEARCH_K})"
        )
    return "\nUNION ALL\n".join(parts)


@query("traj_edr_knn_batch", oracle=_edr_batch_oracle)
def traj_edr_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH EDR kNN — the workload shape on the edit-distance
    measure: top-10 users by smallest normalized EDR per sampled
    query (users 1, 2, 3).  ``_knn_batch`` ranks on the IEEE quotient
    edr / max(n, m) and skips a row when the LOSSLESS lower bound
    max(|n-m|, max(n,m) - matchable) / max(n, m) exceeds the query's
    running k-th quotient — no driver collect.  Oracle: UNFILTERED
    per-query list-layer DP, UNION ALL — every gate re-certifies the
    prune.  Same dense-eps selectivity caveat as the single-query row:
    the gate can only prune, bit-identical to refine-all."""
    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _EDR_1D,
    )
