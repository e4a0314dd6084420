"""Trajectory distance kernels (NumPy).

The reference implements these as Scala object code over Array[Point]
(SURVEY.md §2.1 R12-R14; [P §2]); here they are vectorized NumPy kernels
called from the Arrow kernels of the search rows.  Hausdorff
additionally has a pure-SQL twin (``operators/trajectory.py``) because
it is order-insensitive.

The order-sensitive DP measures (Fréchet, DTW, banded DTW, LCSS, EDR,
ERP) each have ONE antidiagonal recurrence, and it scores a BLOCK of
candidates against one query per sweep: the ``*_block`` functions take
the candidate arrays and the query and return one value per candidate,
and the per-pair functions (``dtw``, ``edr_int2d``, ...) are one-row
blocks.  Cell (i, j) depends only on antidiagonals k-1 ((i-1, j),
(i, j-1)) and k-2 ((i-1, j-1)), so one antidiagonal of every candidate
is one NumPy expression over a (B, L) slab: O(n + m) array operations
per block instead of per pair, and no (n, m) or (B, n, m) matrix is
built.  Candidates are padded to the block's longest row; a padded cell
(i >= n_r) never feeds a real one, because every predecessor of
(i, j) has row index <= i, so row r's value is read off its own last
cell, on antidiagonal k = n_r + m - 2.

Series are 1-D arrays (the fixtures' ``value`` coordinate; see
FIXTURES.md "trajectory derivation") or (n, d) point arrays, where
``|a - b|`` becomes the Euclidean distance; the DP recurrences are
unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np


#: cell bound of one (candidate, query) pair, n * m: a heavy-tailed user
#: at scale fails loudly here instead of OOMing an executor (the extras2
#: segment-kernel discipline).  A block's buffers, rows * (longest + 1)
#: cells, are held to the same bound by the caller that forms blocks.
_MAX_DP_CELLS = 1 << 27


def _check_cells(n: int, m: int) -> None:
    if n * m > _MAX_DP_CELLS:
        raise ValueError(
            f"pair matrix {n}x{m} exceeds the kernel "
            f"cell bound ({_MAX_DP_CELLS})"
        )


def pairwise_dist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """|a_i - b_j| matrix for 1-D series, Euclidean for (n,d) series."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    _check_cells(a.shape[0], b.shape[0])
    if a.ndim == 1:
        return np.abs(a[:, None] - b[None, :])
    diff = a[:, None, :] - b[None, :, :]
    return np.sqrt((diff * diff).sum(axis=2))


def hausdorff(a: np.ndarray, b: np.ndarray) -> float:
    """Symmetric Hausdorff distance H(A,B)=max(h(A,B), h(B,A)) with
    h(A,B)=max_a min_b d(a,b)  [P §2]."""
    d = pairwise_dist(a, b)
    return float(max(d.min(axis=1).max(), d.min(axis=0).max()))


# ---------------------------------------------------------------------------
# The block engine: padded candidate planes, one antidiagonal per step
# ---------------------------------------------------------------------------


class _Block:
    """A block of candidates against the one query ``q``, laid out for
    the sweep: ``n`` the row lengths, ``planes`` one (B, N) array per
    coordinate with the rows padded to the longest (``+inf`` for
    floats, so a padded cell's distance is ``+inf``; 0 for integers),
    ``qr`` the query's coordinates reversed, so the query points of an
    antidiagonal's cells are one forward slice."""

    def __init__(self, cands, q, dtype, bounded: bool = True):
        self.q = q = np.asarray(q, dtype=dtype)
        rows = [np.asarray(a, dtype=dtype) for a in cands]
        self.m = m = len(q)
        self.n = np.array([len(a) for a in rows], dtype=np.int64)
        if bounded:
            for ni in self.n:
                _check_cells(int(ni), m)
        self.N = int(self.n.max())
        fill = np.inf if np.dtype(dtype).kind == "f" else 0
        pad = np.full((len(rows), self.N) + q.shape[1:], fill, dtype=dtype)
        for r, a in enumerate(rows):
            pad[r, : len(a)] = a
        if q.ndim == 1:
            self.planes, self.qr = [pad], [q[::-1].copy()]
        else:
            self.planes = [pad[..., c].copy() for c in range(q.shape[1])]
            self.qr = [q[::-1, c].copy() for c in range(q.shape[1])]

    def diag(self, k: int, lo: int, hi: int) -> np.ndarray:
        """(B, hi - lo + 1) cells (i, k - i), lo <= i <= hi: |a_i - q_j|
        for one coordinate; for more, the per-axis differences squared
        and summed in axis order, as ``pairwise_dist`` sums them."""
        s = self.m - 1 - k
        if len(self.planes) == 1:
            a, qc = self.planes[0], self.qr[0]
            return np.abs(a[:, lo : hi + 1] - qc[s + lo : s + hi + 1])
        d = None
        for p, qc in zip(self.planes, self.qr):
            x = p[:, lo : hi + 1] - qc[s + lo : s + hi + 1]
            x *= x
            d = x if d is None else np.add(d, x, out=d)
        return d

    def dist(self, k: int, lo: int, hi: int) -> np.ndarray:
        """``diag`` as the Euclidean distance (square root over more
        than one coordinate), bit-equal to ``pairwise_dist``."""
        d = self.diag(k, lo, hi)
        return d if len(self.planes) == 1 else np.sqrt(d, out=d)

    def ends(self) -> dict[int, np.ndarray]:
        """Rows by the antidiagonal of their last cell, n_r + m - 2."""
        last = self.n + self.m - 2
        return {int(k): np.flatnonzero(last == k) for k in np.unique(last)}

    def span(self, k: int) -> tuple[int, int]:
        """Row range [lo, hi] of antidiagonal k over the padded block."""
        return max(0, k - self.m + 1), min(k, self.N - 1)


def _float_dp(
    blk: _Block,
    is_frechet: bool,
    tau: float | None = None,
    w: int | None = None,
) -> np.ndarray:
    """The sum/max float recurrence of DTW and discrete Fréchet over a
    block: cell = d + min(N, W, NW) (DTW) or max(d, min(N, W, NW))
    (Fréchet), ``+inf`` outside the grid.  Buffers are (B, N + 1) with
    position p = i + 1 and an ``+inf`` sentinel at p = 0; two of them
    alternate, the one holding antidiagonal k-2 being overwritten by k
    (every position a later step reads is either rewritten or was never
    written).

    ``w`` restricts the couplings to the Sakoe-Chiba band |i - j| <=
    weff_r, weff_r = max(w, |n_r - m|) per row (so its end corner stays
    reachable): the sweep covers the widest band and each row's cells
    outside its own band are set to ``+inf``.

    ``tau`` enables early abandon (reference O10, [P §4.4]), per row: a
    monotone coupling path can SKIP a single antidiagonal (the diagonal
    step jumps from k-1 to k+1) but never two in a row, so every path
    touches at least one of any two CONSECUTIVE antidiagonals; DP
    values are lower bounds on any completion through them (distances
    are non-negative).  Once the minima of two consecutive antidiagonals
    of a row's own cells both exceed tau, its value must too: the row
    returns the smaller minimum (a valid lower bound > tau, NOT the
    exact distance) and is frozen.  A padded or out-of-band cell is
    ``+inf``, so it never lowers a row's minimum.  The start cell (0, 0)
    lies on every path, so d(0, 0) > tau abandons at once.  The sweep
    stops when every row is done."""
    B, N, m, n = len(blk.n), blk.N, blk.m, blk.n
    inf = np.inf
    prev2 = np.full((B, N + 1), inf)
    prev1 = np.full((B, N + 1), inf)
    d00 = blk.dist(0, 0, 0)[:, 0]
    prev1[:, 1] = d00
    out = d00.copy()
    live = n + m > 2
    if tau is not None:
        live &= d00 <= tau
        prev_min = d00
    nlive = int(live.sum())
    if w is not None:
        weff = np.maximum(w, np.abs(n - m))
        wmax = int(weff.max())
        # rows whose band is narrower than the swept one need a mask
        mask_w = weff[:, None] if int(weff.min()) < wmax else None
    ends = blk.ends()
    for k in range(1, N + m - 1):
        if nlive == 0:
            break
        lo, hi = blk.span(k)
        if w is not None:
            lo = max(lo, (k - wmax + 1) // 2)  # ceil((k - w) / 2)
            hi = min(hi, (k + wmax) // 2)
        vals = blk.dist(k, lo, hi)
        best = np.minimum(prev1[:, lo : hi + 1], prev1[:, lo + 1 : hi + 2])
        np.minimum(best, prev2[:, lo : hi + 1], out=best)
        if is_frechet:
            np.maximum(vals, best, out=vals)
        else:
            np.add(vals, best, out=vals)
        if w is not None:
            if mask_w is not None:
                off = np.abs(np.arange(2 * lo - k, 2 * hi - k + 1, 2))
                vals[off > mask_w] = inf
            # the band's lower edge can hold still for a step: the cell
            # below it on this antidiagonal is outside the band
            prev2[:, lo] = inf
        if tau is not None:
            # a band of one diagonal (w = 0, n = m) has no cell on odd
            # antidiagonals: an empty minimum is +inf
            mn = vals.min(axis=1, initial=inf)
            stop = live & (mn > tau) & (prev_min > tau)
            if stop.any():
                out[stop] = np.minimum(mn[stop], prev_min[stop])
                live &= ~stop
                nlive = int(live.sum())
            prev_min = mn
        prev2[:, lo + 1 : hi + 2] = vals
        done = ends.get(k)
        if done is not None:
            done = done[live[done]]
            out[done] = vals[done, n[done] - 1 - lo]
            live[done] = False
            nlive -= len(done)
        prev2, prev1 = prev1, prev2
    return out


def frechet_block(
    cands, q: np.ndarray, tau: float | None = None
) -> np.ndarray:
    """Discrete Fréchet distance of each candidate to ``q`` via the
    classic DP: dF(i,j) = max(d(a_i,b_j), min(dF(i-1,j), dF(i,j-1),
    dF(i-1,j-1))) [P §2].  With ``tau`` set, a row whose distance
    provably exceeds tau returns early with a lower bound > tau (exact
    otherwise)."""
    return _float_dp(_Block(cands, q, np.float64), True, tau)


def frechet(a: np.ndarray, b: np.ndarray, tau: float | None = None) -> float:
    """``frechet_block`` of the one candidate ``a``."""
    return float(frechet_block([a], b, tau)[0])


def dtw_block(cands, q: np.ndarray, tau: float | None = None) -> np.ndarray:
    """Dynamic time warping cost (sum-of-distances variant) of each
    candidate to ``q``: dtw(i,j) = d(a_i,b_j) + min(dtw(i-1,j),
    dtw(i,j-1), dtw(i-1,j-1)).  Not a metric (no triangle inequality)
    — R14.  The tau early-abandon argument is as valid here as for
    Fréchet: partial sums are non-decreasing along any path (distances
    are non-negative), so DP values lower-bound every completion."""
    return _float_dp(_Block(cands, q, np.float64), False, tau)


def dtw(a: np.ndarray, b: np.ndarray, tau: float | None = None) -> float:
    """``dtw_block`` of the one candidate ``a``."""
    return float(dtw_block([a], b, tau)[0])


def dtw_banded_block(
    cands, q: np.ndarray, w: int = 8, tau: float | None = None
) -> np.ndarray:
    """Sakoe-Chiba BANDED DTW: the classic constrained-alignment kernel
    — only couplings with |i - j| <= w are admissible (w widened to
    |n - m| so the end corner stays reachable).  Banded cost >= exact
    DTW (restricting the path set can only raise the minimum), so every
    SQL lower bound that gates exact DTW gates the banded kernel too.

    The sweep and its distance evaluations are band-local: each
    antidiagonal clips its row range to |2i - k| <= w, so the work is
    O((n + m) * w) per row instead of O(n * m), the reason banded DTW is
    the long-series scale variant (and why it carries no pair-cell
    bound).  The tau early-abandon argument carries over unchanged
    (band paths touch one of any two consecutive antidiagonals)."""
    blk = _Block(cands, q, np.float64, bounded=False)
    return _float_dp(blk, False, tau, w)


def dtw_banded(
    a: np.ndarray, b: np.ndarray, w: int = 8, tau: float | None = None
) -> float:
    """``dtw_banded_block`` of the one candidate ``a``."""
    return float(dtw_banded_block([a], b, w, tau)[0])


def _lcss_dp(
    blk: _Block, match: Callable[[np.ndarray], np.ndarray], delta: int | None
) -> np.ndarray:
    """LCSS over a block, in the monotone form L(i,j) = max(L(i-1,j-1) +
    m_ij, L(i-1,j), L(i,j-1)) (valid because L grows by at most 1 per
    added element, so the NW+1 candidate dominates on a match and never
    wins spuriously otherwise).  ``match`` maps an antidiagonal's
    ``diag`` values to its match cells; ``delta`` restricts matches to
    the |i - j| <= delta time window.  Off a match the NW term never
    wins (L is non-decreasing in i and j, so N >= NW), so each step
    evaluates the cells of the window only.  The virtual zero row and
    column are the buffers' initial zeros: a cell outside the grid is
    never written."""
    B, N, m, n = len(blk.n), blk.N, blk.m, blk.n
    prev2 = np.zeros((B, N + 1), dtype=np.int64)
    prev1 = np.zeros((B, N + 1), dtype=np.int64)
    prev1[:, 1] = match(blk.diag(0, 0, 0))[:, 0]
    out = prev1[:, 1].copy()
    ends = blk.ends()
    for k in range(1, N + m - 1):
        lo, hi = blk.span(k)
        best = np.maximum(prev1[:, lo : hi + 1], prev1[:, lo + 1 : hi + 2])
        # the window: ceil((k - delta) / 2) <= i <= (k + delta) // 2
        a, b = lo, hi
        if delta is not None:
            a, b = max(lo, (k - delta + 1) // 2), min(hi, (k + delta) // 2)
        if a <= b:
            hit = best[:, a - lo : b - lo + 1]
            nw = prev2[:, a : b + 1] + match(blk.diag(k, a, b))
            np.maximum(hit, nw, out=hit)
        prev2[:, lo + 1 : hi + 2] = best
        done = ends.get(k)
        if done is not None:
            out[done] = best[done, n[done] - 1 - lo]
        prev2, prev1 = prev1, prev2
    return out


def lcss_block(
    cands, q: np.ndarray, eps: float, delta: int | None = None
) -> np.ndarray:
    """Longest common subsequence length of each candidate with ``q``
    under eps-matching (LCSS_{eps}, the third classic trajectory
    measure after Fréchet and DTW): L(i,j) = L(i-1,j-1)+1 if
    d(a_i,b_j) <= eps else max(L(i-1,j), L(i,j-1)).  Integer-valued, so
    exact by construction; the similarity display is LCSS/min(n,m).

    ``delta`` adds the Vlachos time-window constraint (LCSS_{d,e}):
    a match additionally requires |i - j| <= delta; gap moves stay
    unrestricted, so the constrained measure is the plain recurrence
    over a band-masked match matrix."""
    blk = _Block(cands, q, np.float64)
    return _lcss_dp(blk, lambda d: d <= eps, delta)


def lcss(
    a: np.ndarray, b: np.ndarray, eps: float, delta: int | None = None
) -> int:
    """``lcss_block`` of the one candidate ``a``."""
    return int(lcss_block([a], b, eps, delta)[0])


def lcss_int2d_block(
    cands, q: np.ndarray, e2: int, delta: int | None = None
) -> np.ndarray:
    """LCSS over 2-D INTEGER (micro-quantized) points: the match
    decision is the exact integer comparison (ax-bx)^2 + (ay-by)^2 <=
    e2 — no sqrt, no float anywhere, so the 2-D row's oracle mirrors
    it verbatim.  The candidates and ``q`` are (n, 2) int64 arrays."""
    blk = _Block(cands, q, np.int64)
    return _lcss_dp(blk, lambda d2: d2 <= e2, delta)


def lcss_int2d(
    aq: np.ndarray, bq: np.ndarray, e2: int, delta: int | None = None
) -> int:
    """``lcss_int2d_block`` of the one candidate ``aq``."""
    return int(lcss_int2d_block([aq], bq, e2, delta)[0])


def _edr_dp(
    blk: _Block, sub: Callable[[np.ndarray], np.ndarray]
) -> np.ndarray:
    """EDR over a block: E(i,j) = min(E(i-1,j-1) + s_ij, E(i-1,j) + 1,
    E(i,j-1) + 1) with E(i,0) = i, E(0,j) = j, where ``sub`` maps an
    antidiagonal's ``diag`` values to its 0/1 substitution costs.  The
    virtual boundary lives in the buffers: after antidiagonal k, buffer
    position 0 is (-1, k+1) and position k+2 is (k+1, -1), both
    E = k + 2 in 1-based terms, the N/W (next step) and NW (step after)
    predecessors of the grid's edge cells."""
    B, N, m, n = len(blk.n), blk.N, blk.m, blk.n
    big = np.int64(1 << 40)
    prev2 = np.full((B, N + 1), big, dtype=np.int64)
    prev1 = np.full((B, N + 1), big, dtype=np.int64)
    prev2[:, :2] = 1  # antidiagonal -1: E(0,1), E(1,0)
    prev1[:, 1] = sub(blk.diag(0, 0, 0))[:, 0]  # min(0+sub, 1+1, 1+1)
    prev1[:, 0] = 2
    if N >= 2:
        prev1[:, 2] = 2
    out = prev1[:, 1].copy()
    ends = blk.ends()
    for k in range(1, N + m - 1):
        lo, hi = blk.span(k)
        sk = sub(blk.diag(k, lo, hi))
        best = np.minimum(prev1[:, lo : hi + 1], prev1[:, lo + 1 : hi + 2])
        best += 1
        np.minimum(best, prev2[:, lo : hi + 1] + sk, out=best)
        prev2[:, lo + 1 : hi + 2] = best
        prev2[:, 0] = k + 2
        if k + 2 <= N:
            prev2[:, k + 2] = k + 2
        done = ends.get(k)
        if done is not None:
            out[done] = best[done, n[done] - 1 - lo]
        prev2, prev1 = prev1, prev2
    return out


def edr_block(cands, q: np.ndarray, eps: float) -> np.ndarray:
    """Edit Distance on Real sequences (EDR_{eps}) of each candidate to
    ``q``: E(i,j) = min(E(i-1,j-1) + (0 if d(a_i,b_j) <= eps else 1),
    E(i-1,j) + 1, E(i,j-1) + 1) with E(i,0)=i, E(0,j)=j.
    Integer-valued — exact by construction."""
    return _edr_dp(_Block(cands, q, np.float64), lambda d: d > eps)


def edr(a: np.ndarray, b: np.ndarray, eps: float) -> int:
    """``edr_block`` of the one candidate ``a``."""
    return int(edr_block([a], b, eps)[0])


def edr_int2d_block(cands, q: np.ndarray, e2: int) -> np.ndarray:
    """EDR over 2-D INTEGER (micro-quantized) points: substitution is
    free iff (ax-bx)^2 + (ay-by)^2 <= e2 — the exact integer decision
    the 2-D oracle mirrors verbatim."""
    return _edr_dp(_Block(cands, q, np.int64), lambda d2: d2 > e2)


def edr_int2d(aq: np.ndarray, bq: np.ndarray, e2: int) -> int:
    """``edr_int2d_block`` of the one candidate ``aq``."""
    return int(edr_int2d_block([aq], bq, e2)[0])


def isqrt_i64(x: np.ndarray) -> np.ndarray:
    """Exact integer floor-sqrt of non-negative int64 values: float
    sqrt candidate corrected by +-1 with EXACT integer comparisons
    (the SQL-mirrorable form — float sqrt of x <= 2^63 errs by < 1, so
    one correction step suffices on both engines)."""
    x = np.asarray(x, dtype=np.int64)
    cap = 3_037_000_499  # isqrt(2^63 - 1): keeps every square in int64
    s = np.clip(np.sqrt(x.astype(np.float64)).astype(np.int64), 0, cap)
    sp = np.where(s < cap, s + 1, s)
    s = np.where(sp * sp <= x, sp, s)
    return np.where((s > 0) & (s * s > x), s - 1, s)


def _erp_dp(
    blk: _Block,
    cost: Callable[[np.ndarray], np.ndarray],
    ca: np.ndarray,
    cb: np.ndarray,
) -> np.ndarray:
    """ERP over a block: E(i,j) = min(E(i-1,j-1) + d_ij, E(i-1,j) +
    ca_i, E(i,j-1) + cb_j) with E(i,0) = prefix ca, E(0,j) = prefix cb,
    where ``cost`` maps an antidiagonal's ``diag`` values to its match
    costs and ``ca`` (B, N) / ``cb`` (m,) are the gap costs, all int64.
    The prefix-sum boundary lives in the buffers as in ``_edr_dp``:
    after antidiagonal k, position 0 holds E(0, k+2) = pb[k+1] and
    position k+2 holds E(k+2, 0) = pa[k+1]."""
    B, N, m, n = len(blk.n), blk.N, blk.m, blk.n
    pa, pb = np.cumsum(ca, axis=1), np.cumsum(cb)
    cbr = cb[::-1].copy()
    big = np.int64(1 << 60)
    prev2 = np.full((B, N + 1), big, dtype=np.int64)
    prev1 = np.full((B, N + 1), big, dtype=np.int64)
    prev2[:, 0], prev2[:, 1] = pb[0], pa[:, 0]  # E(0,1), E(1,0)
    prev1[:, 1] = np.minimum(cost(blk.diag(0, 0, 0))[:, 0], ca[:, 0] + cb[0])
    if m >= 2:
        prev1[:, 0] = pb[1]
    if N >= 2:
        prev1[:, 2] = pa[:, 1]
    out = prev1[:, 1].copy()
    ends = blk.ends()
    for k in range(1, N + m - 1):
        lo, hi = blk.span(k)
        s = m - 1 - k
        best = prev1[:, lo : hi + 1] + ca[:, lo : hi + 1]
        ww = prev1[:, lo + 1 : hi + 2] + cbr[s + lo : s + hi + 1]
        np.minimum(best, ww, out=best)
        nw = prev2[:, lo : hi + 1] + cost(blk.diag(k, lo, hi))
        np.minimum(best, nw, out=best)
        prev2[:, lo + 1 : hi + 2] = best
        if k + 1 < m:
            prev2[:, 0] = pb[k + 1]
        if k + 2 <= N:
            prev2[:, k + 2] = pa[:, k + 1]
        done = ends.get(k)
        if done is not None:
            out[done] = best[done, n[done] - 1 - lo]
        prev2, prev1 = prev1, prev2
    return out


def erp_block(cands, q: np.ndarray) -> np.ndarray:
    """ERP (Edit distance with Real Penalty, gap g = 0) of each INTEGER
    (micro-quantized) candidate series to ``q``: E(i,j) =
    min(E(i-1,j-1) + |a_i - b_j|, E(i-1,j) + |a_i|, E(i,j-1) + |b_j|)
    with E(i,0) = prefix|a|, E(0,j) = prefix|b|.  Unlike DTW, ERP is a
    METRIC (triangle inequality holds) — the property the
    quantized-integer form preserves exactly.  Integer in, integer out:
    no float anywhere, so the antidiagonal NumPy evaluation and the
    DuckDB recursive CTE agree bit-for-bit (and DuckDB's windowed-sum
    combine order cannot matter for the boundary prefixes)."""
    blk = _Block(cands, q, np.int64)
    return _erp_dp(blk, lambda d: d, np.abs(blk.planes[0]), np.abs(blk.q))


def erp(a: np.ndarray, b: np.ndarray) -> int:
    """``erp_block`` of the one candidate ``a``."""
    return int(erp_block([a], b)[0])


def erp_int2d_block(cands, q: np.ndarray) -> np.ndarray:
    """ERP over 2-D INTEGER (micro-quantized) points, gap g = origin:
    match cost isqrt(dx^2 + dy^2), gap cost isqrt(px^2 + py^2) — the
    floor-sqrt keeps every DP cell a BIGINT, so the custom cells CTE
    mirrors it exactly (same +-1-corrected isqrt in SQL).  The
    candidates and ``q`` are (n, 2) int64 arrays."""
    blk = _Block(cands, q, np.int64)
    ca = isqrt_i64(sum(p * p for p in blk.planes))
    cb = isqrt_i64((blk.q * blk.q).sum(axis=1))
    return _erp_dp(blk, isqrt_i64, ca, cb)


def erp_int2d(aq: np.ndarray, bq: np.ndarray) -> int:
    """``erp_int2d_block`` of the one candidate ``aq``."""
    return int(erp_int2d_block([aq], bq)[0])


def _seg_dist(x: np.ndarray, y: np.ndarray, i: int, j: int) -> np.ndarray:
    """Perpendicular distance of points i+1..j-1 from chord (i, j);
    falls back to distance-to-point when the chord is degenerate."""
    px, py = x[i + 1 : j], y[i + 1 : j]
    dx, dy = x[j] - x[i], y[j] - y[i]
    # explicit sqrt(dx^2+dy^2), NOT np.hypot: hypot's overflow-safe
    # algorithm differs from SQL's SQRT(a*a+b*b) by ulps, and the
    # recursive-CTE oracle must reproduce the argmax bit-for-bit
    norm = np.sqrt(dx * dx + dy * dy)
    if norm == 0.0:
        ex, ey = px - x[i], py - y[i]
        return np.sqrt(ex * ex + ey * ey)
    return np.abs(dy * (px - x[i]) - dx * (py - y[i])) / norm


def douglas_peucker(x: np.ndarray, y: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker simplification: indices (sorted, ascending) of
    the kept points of polyline (x, y) such that every dropped point is
    within ``tol`` of the kept chord spanning it. Endpoints always kept.
    Iterative explicit stack (no recursion limit), deterministic: the
    split point is the FIRST farthest point (argmax ties -> lowest
    index)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = x.shape[0]
    if n <= 2:
        return np.arange(n)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        d = _seg_dist(x, y, i, j)
        k = int(np.argmax(d))
        if d[k] > tol:
            split = i + 1 + k
            keep[split] = True
            stack.append((i, split))
            stack.append((split, j))
    return np.flatnonzero(keep)
