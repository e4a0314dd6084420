"""Batch-workload kNN rows for the DP-kernel trajectory measures.

The reference's benchmark harness samples a WORKLOAD of query
trajectories and answers them in one run (SURVEY §2.1 R17 -> R9);
``traj_hausdorff_knn_batch`` re-expresses that shape for Hausdorff and
this module covers the remaining 1-D measures, the whole batch sharing
ONE corpus scan and ONE series assembly instead of one run per query:

- discrete Fréchet and DTW (and banded DTW, ``extras13``):
  ``_float_knn_batch`` runs ONE Arrow pass in which every partition
  bounds its (query, candidate) rows with max(Hausdorff, endpoints),
  prunes and early-abandons against the query's running tau_k, and
  keeps a local top-k; a ``row_number`` window merges the local lists.
  The 2-D rows in ``extras13`` share the helper with a bbox bound.
- ERP (lossless L1-norm bound) and EDR (integer-ratio tau pairs): a
  bound pass and two refine phases, each tau_k gate a broadcast JOIN
  against a 3-row per-query tau table, not a collected scalar.
- banded LCSS: refine-all (the envelope bound is documented
  non-discriminative in this dense-eps regime).
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import Tables
from . import dp_list_sql as _DL
from .extras6 import (
    _LCSS_DELTA,
    _SEARCH_EPS,
    _SEARCH_K,
    _TAU_CK,
)

#: the sampled query-trajectory workload (mirrors traj_hausdorff_knn_batch)
_BATCH_QIDS = (1, 2, 3)


def _micro_arrays(t: Tables) -> DataFrame:
    """One assembly for the whole workload: per user the micro-quantized
    value series (engine (ts, event_id) order via ``seq``) and its L1
    norm — the ERP gap-cost total, which doubles as the lossless
    triangle bound |L1(a) - L1(q)| <= ERP(a, q) (Chen & Ng)."""
    # ONE hash aggregate, no window (round 13, guide §2.4): seq was
    # only the sort key, and it is row_number over (ts, event_id) — an
    # in-array sort on the same total key gives the identical order
    # without user_points' partition-sort pass (bit-equality measured)
    arr = (
        t.events.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("p")
        )
        .select(
            "user_id",
            F.expr(
                "transform(p.value,"
                " x -> CAST(ROUND(x * 1e6) AS BIGINT))"
            ).alias("a"),
        )
    )
    return arr.withColumn(
        "nrm",
        F.expr("aggregate(a, CAST(0 AS BIGINT), (s, x) -> s + ABS(x))"),
    )


def _float_arrays(t: Tables) -> DataFrame:
    """Per-user raw float series (LCSS matches on |a_i - q_j| <= eps in
    value units, so no quantization is needed — the kernel decision is
    a float comparison with identical semantics on both engines)."""
    # one hash aggregate, no window — see _micro_arrays
    return (
        t.events.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("p")
        )
        .select("user_id", F.col("p.value").alias("a"))
    )


def _erp_batch_refine(pairs: DataFrame, arr: DataFrame, qarr: DataFrame) -> DataFrame:
    """Exact integer-ERP kernel over (qid, user_id) pairs: candidate
    arrays joined in, query arrays broadcast (3 rows), one Arrow pass
    for the whole workload."""
    from ..functions import kernels

    paired = (
        pairs.join(arr.select("user_id", "a"), "user_id")
        .join(F.broadcast(qarr.select("qid", "qa")), "qid")
        .repartition(
            pairs.sparkSession.sparkContext.defaultParallelism
        )  # AQE coalesces the tiny assembly shuffle; fan the DP out
    )

    def refine(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                a = np.asarray(row.a, dtype=np.int64)
                b = np.asarray(row.qa, dtype=np.int64)
                e = kernels.erp(a, b)
                out.append((row.qid, row.user_id, e, round(e / 1e6, 6)))
            yield pd.DataFrame(
                out, columns=["qid", "user_id", "erp_micro", "erp"]
            )

    return paired.mapInPandas(
        refine,
        schema="qid bigint, user_id bigint, erp_micro bigint, erp double",
    )


def _erp_batch_oracle() -> str:
    # one parameterized list-layer DP per query id (the traj_erp_knn
    # oracle with series_1d_erp(query_user=qid)), UNION ALL'd with the
    # qid tag — deliberately UNFILTERED by the Spark side's bounds so
    # every gate run re-certifies that the two-phase prune loses nothing
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

    Two-phase per query, fully declarative (no driver round-trip,
    unlike single-query ``traj_erp_knn`` whose tau_k is a collected
    scalar): (1) refine the 30 best L1-norm-bounded candidates per
    query; (2) tau_k = each query's 10th exact distance, computed as a
    3-row aggregate and BROADCAST-JOINED back to gate the remaining
    candidates — any (q, a) with |L1(a) - L1(q)| > tau_k(q) has
    ERP >= bound > tau_k and cannot enter that query's top-10
    (lossless, Chen & Ng); (3) survivors refine, union, per-query rank
    window.  All decisions are integer (micro units).

    Scale shape: ONE series assembly and ONE L1-norm pass serve the
    whole workload (the amortization that makes a 100-query batch
    ~100x cheaper than 100 runs at 100 TB); query arrays ship
    broadcast; the per-query top-k is a rank window, never a global
    sort.  The oracle runs the UNFILTERED list-layer DP per query, so
    every gate re-certifies the prune end-to-end."""
    t = Tables(spark, sf_dir)
    arr = _micro_arrays(t).localCheckpoint()  # consumed by 3+ branches
    qarr = (
        arr.filter(F.col("user_id").isin(*_BATCH_QIDS))
        .select(
            F.col("user_id").alias("qid"),
            F.col("a").alias("qa"),
            F.col("nrm").alias("qn"),
        )
    )
    lb = (
        arr.select("user_id", "nrm")
        .join(F.broadcast(qarr.select("qid", "qn")))
        .filter(F.col("user_id") != F.col("qid"))
        .select(
            "qid",
            "user_id",
            F.abs(F.col("nrm") - F.col("qn")).alias("lb"),
        )
        .localCheckpoint()  # consumed by phase 1 and phase 2
    )
    w_lb = Window.partitionBy("qid").orderBy("lb", "user_id")
    pairs1 = (
        lb.withColumn("rn", F.row_number().over(w_lb))
        .filter(F.col("rn") <= _TAU_CK)
        .select("qid", "user_id")
    )
    first = _erp_batch_refine(pairs1, arr, qarr).localCheckpoint()
    w_e = Window.partitionBy("qid").orderBy("erp_micro", "user_id")
    taus = (
        first.withColumn("rn", F.row_number().over(w_e))
        .filter(F.col("rn") <= _SEARCH_K)
        .groupBy("qid")
        .agg(F.max("erp_micro").alias("tau"))
    )
    pairs2 = (
        lb.join(F.broadcast(taus), "qid")
        .filter(F.col("lb") <= F.col("tau"))
        .join(pairs1, ["qid", "user_id"], "left_anti")
        .select("qid", "user_id")
    )
    rest = _erp_batch_refine(pairs2, arr, qarr)
    allr = first.select("qid", "user_id", "erp_micro", "erp").unionByName(
        rest.select("qid", "user_id", "erp_micro", "erp")
    )
    return (
        allr.withColumn("rn", F.row_number().over(w_e))
        .filter(F.col("rn") <= _SEARCH_K)
        .select("qid", "user_id", "erp_micro", "erp")
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

    Refine-all by design: the envelope upper bound is measured
    non-discriminative in this dense-eps regime (documented in
    ``extras6._lcss_candidates``; the single-query kNN's phase 2
    refines nearly everything anyway), so the batch row spends its
    savings where they are real — ONE assembly and ONE Arrow kernel
    pass for the whole workload, |workload| x |corpus| DP cells but
    only ONE corpus scan.  In a sparse-eps regime the per-query
    envelope gate composes exactly like ``traj_erp_knn_batch``'s
    broadcast tau join.  Ranking divides the exact integer pair
    (lcss_len, min_len) once; ties break on user_id — identical
    expression text on both engines."""
    from ..functions import kernels

    t = Tables(spark, sf_dir)
    arr = _float_arrays(t).localCheckpoint()  # pairs + query side
    qarr = arr.filter(F.col("user_id").isin(*_BATCH_QIDS)).select(
        F.col("user_id").alias("qid"), F.col("a").alias("qa")
    )
    paired = (
        arr.join(F.broadcast(qarr))
        .filter(F.col("user_id") != F.col("qid"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def refine(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                a = np.asarray(row.a, dtype=np.float64)
                b = np.asarray(row.qa, dtype=np.float64)
                ln = kernels.lcss(a, b, _SEARCH_EPS, _LCSS_DELTA)
                ml = min(len(a), len(b))
                out.append(
                    (row.qid, row.user_id, ln, ml, round(ln / ml, 6))
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "qid", "user_id", "lcss_len", "min_len", "lcss_sim"
                ],
            )

    res = paired.mapInPandas(
        refine,
        schema="qid bigint, user_id bigint, lcss_len bigint,"
        " min_len bigint, lcss_sim double",
    )
    # rank on the UNROUNDED exact-integer ratio (identical expression
    # text to the oracle's ORDER BY), not the 6-dp display
    w = Window.partitionBy("qid").orderBy(
        (F.col("lcss_len") / F.col("min_len")).desc(), "user_id"
    )
    return (
        res.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SEARCH_K)
        .select("qid", "user_id", "lcss_len", "lcss_sim")
    )


# ---------------------------------------------------------------------------
# Batch Fréchet / DTW kNN — the workload shape on the float DP measures
# ---------------------------------------------------------------------------


def _qids_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q),) for q in _BATCH_QIDS], "qid bigint"
    )


def _directed_gap(sa: np.ndarray, sq: np.ndarray) -> float:
    """max over x in sa of min |x - y| over y in sq (both sorted)."""
    idx = np.searchsorted(sq, sa)
    lo = np.where(idx > 0, sa - sq[np.maximum(idx - 1, 0)], np.inf)
    hi = np.where(
        idx < len(sq), sq[np.minimum(idx, len(sq) - 1)] - sa, np.inf
    )
    return float(np.max(np.minimum(lo, hi)))


def _lb_1d(a: np.ndarray, q: np.ndarray) -> float:
    """max(1-D Hausdorff, endpoint distances): a Fréchet lower bound
    (Fréchet >= Hausdorff, and every coupling matches first-with-first
    and last-with-last), hence a DTW and banded-DTW bound too (DTW >=
    Fréchet; restricting the couplings can only raise the minimum)."""
    sa, sq = np.sort(a), np.sort(q)
    return max(
        _directed_gap(sa, sq),
        _directed_gap(sq, sa),
        abs(a[0] - q[0]),
        abs(a[-1] - q[-1]),
    )


def _lb_2d(a: np.ndarray, q: np.ndarray) -> float:
    """Max of the Euclidean endpoint distances and the four bbox-side
    gaps of two (n, 2) point arrays: a 2-D Fréchet (hence DTW) lower
    bound.  The endpoints couple to each other in every monotone
    coupling; the point attaining max(x) in A couples to SOME point of
    B, whose x is at most max_x(B), so Fréchet >= |max_x(A) - max_x(B)|
    (same for min_x, min_y, max_y)."""
    ends = a[[0, -1]] - q[[0, -1]]
    sides = np.concatenate(
        (a.min(axis=0) - q.min(axis=0), a.max(axis=0) - q.max(axis=0))
    )
    return float(
        max(np.sqrt((ends * ends).sum(axis=1)).max(), np.abs(sides).max())
    )


def _points(pdf: pd.DataFrame, cols: list[str]) -> list[np.ndarray]:
    """Per row, the series as a float64 array: 1-D for one coordinate
    column, (n, 2) for the (xs, ys) pair."""
    if len(cols) == 1:
        return [np.asarray(v, dtype=np.float64) for v in pdf[cols[0]]]
    return [
        np.column_stack(vs).astype(np.float64)
        for vs in zip(*(pdf[c] for c in cols))
    ]


def _local_topk(
    batches: Iterator[pd.DataFrame],
    cols: list[str],
    kernel,
    out_col: str,
    k: int,
) -> Iterator[pd.DataFrame]:
    """One partition's prune-and-refine pass over (qid, user_id, cols,
    q-prefixed query cols) rows; yields the partition's top-k
    (qid, user_id, out_col) per query once the partition is drained.

    Each batch's rows are visited in (lb, user_id) order.  tau_q is the
    query's running k-th best rounded distance, carried across batches:
    a row with lb > tau_q + 1e-6 is skipped, any other row is refined
    with the DP early-abandoning at tau_q + 1e-6.  Both tests are exact
    under 6-decimal rounding: a true distance above tau_q + 1e-6 rounds
    strictly above tau_q, so it can never displace the k-th
    (distance, user_id) pair, while the tie band (tau_q, tau_q + 5e-7]
    that rounds TO tau_q is still refined and can win on user_id."""
    lb_of = _lb_1d if len(cols) == 1 else _lb_2d
    # qid -> min-heap of (-d, -user_id): its root is the k-th best
    best: dict[int, list[tuple[float, int]]] = {}
    for pdf in batches:
        pts = _points(pdf, cols)
        qpts = _points(pdf, ["q" + c for c in cols])
        lbs = np.array([lb_of(a, q) for a, q in zip(pts, qpts)])
        uids = pdf["user_id"].to_numpy()
        qids = pdf["qid"].to_numpy()
        for i in np.lexsort((uids, lbs)):
            heap = best.setdefault(int(qids[i]), [])
            tau = -heap[0][0] + 1e-6 if len(heap) == k else None
            if tau is not None and lbs[i] > tau:
                continue
            d = round(kernel(pts[i], qpts[i], tau=tau), 6)
            item = (-d, -int(uids[i]))
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
    yield pd.DataFrame(
        [(q, -u, -d) for q, heap in best.items() for d, u in heap],
        columns=["qid", "user_id", out_col],
    )


def _float_knn_batch(arr: DataFrame, kernel, out_col: str) -> DataFrame:
    """Shared batch kNN for the float DP measures over a per-user
    assembly ``arr`` = (user_id, coordinate columns): the corpus
    cross-joined with the broadcast query arrays, ONE Arrow kernel pass
    (``_local_topk``: lower bound, prune, early-abandoning refine, local
    top-k per query) and one ``row_number`` window over qid merging the
    partitions' local top-k lists — exact, because every global top-k
    row is in its own partition's local top-k.  No eager action, no
    checkpoint: the plan is the whole search."""
    from .trajectory import _KNN_K

    cols = [c for c in arr.columns if c != "user_id"]
    qarr = arr.filter(F.col("user_id").isin(*_BATCH_QIDS)).select(
        F.col("user_id").alias("qid"),
        *(F.col(c).alias("q" + c) for c in cols),
    )
    paired = (
        arr.crossJoin(F.broadcast(qarr))
        .filter(F.col("user_id") != F.col("qid"))
        .repartition(arr.sparkSession.sparkContext.defaultParallelism)
    )
    local = paired.mapInPandas(
        lambda batches: _local_topk(batches, cols, kernel, out_col, _KNN_K),
        schema=f"qid bigint, user_id bigint, {out_col} double",
    )
    w = Window.partitionBy("qid").orderBy(out_col, "user_id")
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .select("qid", "user_id", out_col)
    )


def _dtw_batch_oracle() -> str:
    from .trajectory import _KNN_K

    parts = [
        f"SELECT CAST({qid} AS BIGINT) AS qid, * FROM ("
        + _DL.float_knn_sql(False, "dtw", _KNN_K, query_user=qid)
        + ")"
        for qid in _BATCH_QIDS
    ]
    return "\nUNION ALL\n".join(parts)


@query("traj_dtw_knn_batch", oracle=_dtw_batch_oracle)
def traj_dtw_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH DTW kNN — the workload shape (R17 -> R9) on the warping
    measure: top-10 cheapest alignments per sampled query (users
    1, 2, 3) in one shared run.  ``_float_knn_batch`` prunes each
    (query, candidate) row with the max(Hausdorff, endpoints) lower
    bound (valid for DTW: DTW >= Fréchet >= the bound) against the
    query's running tau_k and early-abandons the surviving DPs at tau
    (reference O10), all in one Arrow pass; a window merges the
    partitions' local top-k.  The oracle is the UNFILTERED per-query
    list-layer float DP, UNION ALL'd — every gate re-certifies prune +
    abandon."""
    from ..functions import kernels

    return _float_knn_batch(
        _float_arrays(Tables(spark, sf_dir)), kernels.dtw, "dtw"
    )


def _frechet_batch_oracle() -> str:
    from .trajectory import _KNN_K

    parts = [
        f"SELECT CAST({qid} AS BIGINT) AS qid, * FROM ("
        + _DL.float_knn_sql(
            False, "frechet", _KNN_K, frechet=True, query_user=qid
        )
        + ")"
        for qid in _BATCH_QIDS
    ]
    return "\nUNION ALL\n".join(parts)


@query("traj_frechet_knn_batch", oracle=_frechet_batch_oracle)
def traj_frechet_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH discrete-Fréchet kNN — the workload shape on the
    reference's R13 measure: top-10 per sampled query from one shared
    assembly and one Arrow prune-and-refine pass (``_float_knn_batch``:
    max(Hausdorff, endpoints) lower bound against the running tau_k,
    early-abandoning DP, local top-k per partition merged by a window).
    The oracle is the UNFILTERED per-query list-layer Fréchet DP."""
    from ..functions import kernels

    return _float_knn_batch(
        _float_arrays(Tables(spark, sf_dir)), kernels.frechet, "frechet"
    )


# ---------------------------------------------------------------------------
# Batch EDR kNN — integer-ratio tau two-phase, per-query broadcast
# ---------------------------------------------------------------------------


def _edr_lb_batch(arr: DataFrame, qarr: DataFrame) -> DataFrame:
    """(qid, user_id, n, m, lb): the `extras6._edr_candidates` LOWER
    bound — max(|n - m|, max(n, m) - matchable) — for EVERY (query,
    candidate) pair.

    Computed as ONE Arrow pass over the already-checkpointed series
    (guide §2.4/§4.2): the previous form re-positioned the corpus and
    ran an eps-cell equi-join + position-distinct + three aggregations
    (multiple shuffles per build); per-user sorted query values +
    binary search decide each position's matchability (min |a_i - q_j|
    <= eps — exactly the cell join's predicate, every position counted
    once) with no shuffle at all."""
    paired = (
        arr.select("user_id", "a")
        .join(F.broadcast(qarr.select("qid", "qa")))
        .filter(F.col("user_id") != F.col("qid"))
        .repartition(arr.sparkSession.sparkContext.defaultParallelism)
    )

    def lbf(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                a = np.asarray(row.a, dtype=np.float64)
                sq = np.sort(np.asarray(row.qa, dtype=np.float64))
                idx = np.searchsorted(sq, a)
                lo = np.where(
                    idx > 0, a - sq[np.maximum(idx - 1, 0)], np.inf
                )
                hi = np.where(
                    idx < len(sq),
                    sq[np.minimum(idx, len(sq) - 1)] - a,
                    np.inf,
                )
                matchable = int(
                    np.count_nonzero(
                        np.minimum(lo, hi) <= _SEARCH_EPS
                    )
                )
                n, m = len(a), len(sq)
                lb = max(abs(n - m), max(n, m) - matchable)
                out.append((row.qid, row.user_id, n, m, lb))
            yield pd.DataFrame(
                out, columns=["qid", "user_id", "n", "m", "lb"]
            )

    return paired.mapInPandas(
        lbf,
        schema="qid bigint, user_id bigint, n bigint, m bigint,"
        " lb bigint",
    )


def _edr_batch_refine(
    pairs: DataFrame, arr: DataFrame, qarr: DataFrame
) -> DataFrame:
    """Exact EDR kernel over (qid, user_id) pairs (`extras6._edr_refine`
    generalized with the query dimension)."""
    from ..functions import kernels

    paired = (
        pairs.select("qid", "user_id")
        .join(arr.select("user_id", "a"), "user_id")
        .join(F.broadcast(qarr.select("qid", "qa")), "qid")
        .repartition(pairs.sparkSession.sparkContext.defaultParallelism)
    )

    def refine(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                a = np.asarray(row.a, dtype=np.float64)
                b = np.asarray(row.qa, dtype=np.float64)
                e = kernels.edr(a, b, _SEARCH_EPS)
                ml = max(len(a), len(b))
                out.append(
                    (row.qid, row.user_id, e, ml, round(e / ml, 6))
                )
            yield pd.DataFrame(
                out,
                columns=["qid", "user_id", "edr", "max_len", "edr_norm"],
            )

    return paired.mapInPandas(
        refine,
        schema="qid bigint, user_id bigint, edr bigint,"
        " max_len bigint, edr_norm double",
    )


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
    query (users 1, 2, 3).  The `_tau_knn` integer-ratio two-phase,
    made fully declarative with the query dimension: the LOSSLESS
    lower bound max(|n-m|, max(n,m) - matchable) for all queries in
    ONE pass (3-query eps-cell set broadcast together); tau_k per
    query is the k-th exact (edr, max_len) integer PAIR, broadcast
    back and applied by exact cross-multiplication
    (lb * max_k <= edr_k * max(n, m)) — no float at the pruning
    boundary, no driver collect.  Oracle: UNFILTERED per-query
    list-layer DP, UNION ALL — every gate re-certifies the prune.
    Same dense-eps selectivity caveat as the single-query row: the
    gate can only prune, bit-identical to refine-all."""
    t = Tables(spark, sf_dir)
    arr = _float_arrays(t).localCheckpoint()
    qarr = arr.filter(F.col("user_id").isin(*_BATCH_QIDS)).select(
        F.col("user_id").alias("qid"), F.col("a").alias("qa")
    )
    lb = _edr_lb_batch(arr, qarr).localCheckpoint()
    w_lb = Window.partitionBy("qid").orderBy(
        F.col("lb") / F.greatest("n", "m"), "user_id"
    )
    pairs1 = (
        lb.withColumn("rn", F.row_number().over(w_lb))
        .filter(F.col("rn") <= _TAU_CK)
        .select("qid", "user_id")
    )
    first = _edr_batch_refine(pairs1, arr, qarr).localCheckpoint()
    w_d = Window.partitionBy("qid").orderBy(
        F.col("edr") / F.col("max_len"), "user_id"
    )
    taus = (
        first.withColumn("rn", F.row_number().over(w_d))
        .filter(F.col("rn") <= _SEARCH_K)
        .groupBy("qid")
        .agg(
            F.expr(
                "max_by(struct(edr, max_len),"
                " CAST(edr AS DOUBLE) / max_len)"
            ).alias("tk")
        )
        .select(
            "qid",
            F.col("tk.edr").alias("nk"),
            F.col("tk.max_len").alias("dk"),
        )
    )
    pairs2 = (
        lb.join(F.broadcast(taus), "qid")
        .filter(
            F.col("lb") * F.col("dk")
            <= F.col("nk") * F.greatest("n", "m")
        )
        .join(pairs1, ["qid", "user_id"], "left_anti")
        .select("qid", "user_id")
    )
    rest = _edr_batch_refine(pairs2, arr, qarr)
    allr = first.unionByName(rest)
    return (
        allr.withColumn("rn", F.row_number().over(w_d))
        .filter(F.col("rn") <= _SEARCH_K)
        .select("qid", "user_id", "edr", "edr_norm")
    )
