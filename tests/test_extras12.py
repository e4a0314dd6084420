"""Oracle-independent invariants for the round-10 additions.

The batch-workload rows must agree with their single-query twins on the
shared query user (qid=1 answers the identical question as
``traj_erp_knn`` / ``traj_lcss_knn``: candidates = every user <> 1,
same kernel, same tie order), and the streaming ingest ledger must
agree with a batch first-principles recomputation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from traj_sim_spark_spark.operators.extras6 import (
    traj_erp_knn,
    traj_lcss_knn,
)
from traj_sim_spark_spark.operators.extras12 import (
    traj_erp_knn_batch,
    traj_lcss_knn_batch,
)
from traj_sim_spark_spark.streaming.streams_ext import stream_ingest_dedup
from traj_sim_spark_spark.tables import Tables


def test_erp_batch_qid1_equals_single_query(spark, sf_dir):
    batch = {
        (r["user_id"], r["erp_micro"])
        for r in traj_erp_knn_batch(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["erp_micro"])
        for r in traj_erp_knn(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


def test_lcss_batch_qid1_equals_single_query(spark, sf_dir):
    batch = {
        (r["user_id"], r["lcss_len"])
        for r in traj_lcss_knn_batch(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["lcss_len"])
        for r in traj_lcss_knn(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


def test_erp_batch_all_queries_covered(spark, sf_dir):
    rows = traj_erp_knn_batch(spark, sf_dir).collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(r)
    assert set(by_qid) == {1, 2, 3}
    for qid, rs in by_qid.items():
        assert len(rs) == 10
        # a query user is never its own candidate, but other query
        # users ARE candidates (the workload semantics of the
        # hausdorff batch row)
        assert all(r["user_id"] != qid for r in rs)


def test_ingest_dedup_ledger_matches_batch(spark, sf_dir):
    ledger = {
        (r["content_hash"], r["keeper_doc_id"], r["n_copies"])
        for r in stream_ingest_dedup(spark, sf_dir).collect()
    }
    t = Tables(spark, sf_dir)
    batch = {
        (r["h"], r["k"], r["n"])
        for r in t.documents.groupBy(F.md5("text").alias("h"))
        .agg(
            F.min("doc_id").alias("k"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert ledger == batch and len(ledger) > 0


def test_dtw_batch_qid1_equals_single_query(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras12 import traj_dtw_knn_batch
    from traj_sim_spark_spark.operators.trajectory import traj_dtw_knn

    batch = {
        (r["user_id"], r["dtw"])
        for r in traj_dtw_knn_batch(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["dtw"])
        for r in traj_dtw_knn(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


def test_frechet_batch_qid1_equals_single_query(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras12 import (
        traj_frechet_knn_batch,
    )
    from traj_sim_spark_spark.operators.trajectory import traj_frechet_knn

    batch = {
        (r["user_id"], r["frechet"])
        for r in traj_frechet_knn_batch(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["frechet"])
        for r in traj_frechet_knn(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


def test_edr_batch_qid1_equals_single_query(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras6 import traj_edr_knn
    from traj_sim_spark_spark.operators.extras12 import traj_edr_knn_batch

    batch = {
        (r["user_id"], r["edr"])
        for r in traj_edr_knn_batch(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["edr"])
        for r in traj_edr_knn(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


def test_lb_batch_1d_is_admissible(spark, sf_dir):
    """Every (qid, user) 1-D lower bound the batch kernel prunes with
    must sit at or below the exact Fréchet distance (and hence below
    DTW) — lossless pruning."""
    import numpy as np

    from traj_sim_spark_spark.functions import kernels
    from traj_sim_spark_spark.operators.extras12 import _lb_1d
    from traj_sim_spark_spark.operators.planes import arrays
    from traj_sim_spark_spark.operators.trajectory import _BATCH_QIDS

    ev = Tables(spark, sf_dir).events
    arr = {
        r["user_id"]: np.asarray(r["a"], dtype=np.float64)
        for r in arrays(ev, "value", ordered=True).collect()
    }
    pairs = [(q, u) for q in _BATCH_QIDS if q in arr for u in arr if u != q]
    assert len(pairs) > 0
    for q, u in pairs[:200]:
        exact = kernels.frechet(arr[u], arr[q])
        assert _lb_1d(arr[u], arr[q]) <= exact + 1e-9, (q, u)


def test_bbox_gap_2d_is_admissible(spark, sf_dir):
    """Every (qid, user) bound the Hausdorff kernels prune with sits at
    or below the exact score it stands in for, with no tolerance: the
    bound and the score are the same IEEE doubles the kernel compares.
    The 2-D point-set bound is the bbox-side gap, the segment bound its
    padded square over the int64 paths, the 1-D bound the value-span
    gap."""
    import numpy as np

    from traj_sim_spark_spark.operators.extras3 import _seg_paths
    from traj_sim_spark_spark.operators.extras12 import (
        _HAUSDORFF_1D,
        _HAUSDORFF_2D,
        _HSEG_2D,
    )
    from traj_sim_spark_spark.operators.planes import arrays
    from traj_sim_spark_spark.operators.trajectory import _BATCH_QIDS

    ev = Tables(spark, sf_dir).events
    cases = [
        (
            _HAUSDORFF_2D,
            {
                r["user_id"]: np.column_stack((r["xs"], r["ys"])).astype(
                    np.float64
                )
                for r in arrays(ev, "xy", ordered=False).collect()
            },
        ),
        (
            _HSEG_2D,
            {
                r["user_id"]: np.column_stack((r["xs"], r["ys"]))
                for r in _seg_paths(ev).collect()
            },
        ),
        (
            _HAUSDORFF_1D,
            {
                r["user_id"]: np.asarray(r["a"], dtype=np.float64)
                for r in arrays(ev, "value", ordered=False).collect()
            },
        ),
    ]
    for m, arr in cases:
        pairs = [
            (q, u) for q in _BATCH_QIDS if q in arr for u in arr if u != q
        ]
        assert len(pairs) > 0
        for q, u in pairs:
            key, _ = m.score([arr[u]], arr[q], None)[0]
            assert m.bound(arr[u], arr[q]) <= key, (m.schema, q, u)


_MEASURES = [
    "dtw", "frechet", "dtw_banded", "erp", "edr", "lcss", "hausdorff"
]
# every measure in 1-D and 2-D, and the 2-D-only segment Hausdorff
_CASES = [(m, d) for m in _MEASURES for d in (1, 2)] + [("hseg", 2)]


def _split_case(measure, dim, hot=0):
    """A measure and a small corpus for the kernel split tests: users
    share trajectories, so keys tie and user_id must break the ties;
    for the float DP measures near-duplicates put exact distances
    inside the rounded-tau tie band; Hausdorff runs on float point sets
    whose exact duplicates tie at 0; ERP, segment Hausdorff and the
    other 2-D measures run on int64 series.  ``hot`` more copies of the
    trajectory of each of users 1, 2 and 3 (the queries) are appended,
    so that many rows tie the k-th key.  Returns (measure, series by
    user id, coordinate columns, row builder, rng)."""
    import numpy as np

    from traj_sim_spark_spark.functions import kernels
    from traj_sim_spark_spark.operators import extras12, extras13
    from traj_sim_spark_spark.operators.trajectory_ext import (
        _dtw_banded_kernel,
    )

    lb = extras12._lb_1d if dim == 1 else extras12._lb_2d
    dp = {
        "dtw": kernels.dtw_block,
        "frechet": kernels.frechet_block,
        "dtw_banded": _dtw_banded_kernel,
    }
    if measure in dp:
        m = extras12._dp_measure(dp[measure], lb, "d")
    elif measure == "hausdorff":
        m = extras12._HAUSDORFF_1D if dim == 1 else extras12._HAUSDORFF_2D
    elif measure == "hseg":
        m = extras12._HSEG_2D
    else:
        m = {
            ("erp", 1): extras12._ERP_1D,
            ("edr", 1): extras12._EDR_1D,
            ("lcss", 1): extras12._LCSS_1D,
            ("erp", 2): extras13._ERP_2D,
            ("edr", 2): extras13._EDR_2D,
            ("lcss", 2): extras13._LCSS_2D,
        }[measure, dim]
    rng = np.random.default_rng(7 + dim)
    bases = [
        np.round(rng.normal(size=(int(rng.integers(2, 16)), dim)).cumsum(0), 2)
        for _ in range(24)
    ]
    picks = [
        (bases[int(rng.integers(len(bases)))], int(rng.integers(-2, 3)))
        for _ in range(60)
    ]
    picks += [
        (b, int(rng.integers(-2, 3))) for b, _ in picks[:3] for _ in range(hot)
    ]
    if measure in dp:
        # exact duplicates tie outright; 1e-8 shifts land inside one
        # 6-decimal rounding step (the tau + 1e-6 tie band)
        series = [b + 1e-8 * s for b, s in picks]
    elif measure == "hausdorff":
        series = [b for b, _ in picks]
    elif dim == 1 and measure != "erp":
        # float values against eps = 10.0: some points match, some not
        series = [10.0 * b for b, _ in picks]
    else:
        # micro-quantized: eps = 1e7 micro is one base unit
        series = [np.round(1e7 * b).astype(np.int64) for b, _ in picks]
    series = dict(enumerate(series, start=1))
    cols = ["a"] if dim == 1 else ["xs", "ys"]

    def coords(p):
        return {"a": p[:, 0]} if dim == 1 else {"xs": p[:, 0], "ys": p[:, 1]}

    def row(q, u):
        return {
            "qid": q,
            "user_id": u,
            **coords(series[u]),
            **{"q" + c: v for c, v in coords(series[q]).items()},
        }

    return m, series, cols, row, rng


def _split(rows, nparts, rng):
    """The rows shuffled into ``nparts`` partitions, each cut into up to
    four Arrow batches: a list of batch lists, one per partition."""
    import numpy as np
    import pandas as pd

    order = rng.permutation(len(rows))
    parts = []
    for part in np.array_split(order, nparts):
        cuts = np.sort(rng.choice(np.arange(1, max(len(part), 2)), 3))
        parts.append(
            [
                pd.DataFrame([rows[i] for i in chunk], columns=list(rows[0]))
                for chunk in np.split(part, cuts)
                if len(chunk)
            ]
        )
    return parts


@pytest.mark.parametrize("measure,dim", _CASES)
def test_local_topk_is_split_invariant(measure, dim):
    """The batch kNN kernel's per-partition top-k lists, merged, equal
    the brute-force top-k by the measure's own score however the rows
    are split into partitions and Arrow batches (``_split_case``'s
    corpus: tied keys, the rounded-tau tie band, int64 series).
    The Spark partition-invariance sweep cannot vary this split (the
    kernel stage is sized by defaultParallelism, not the shuffle
    width)."""
    import pandas as pd

    from traj_sim_spark_spark.operators import extras12

    m, series, cols, row, rng = _split_case(measure, dim)
    k, qids = 10, (1, 2, 3)
    rows = [row(q, u) for q in qids for u in series if u != q]

    def pts(p):
        return p[:, 0] if dim == 1 else p

    def score(u, q):
        key, *outs = m.score([pts(series[u])], pts(series[q]), None)[0]
        return key, u, *outs

    brute = sorted(
        (q, u, key, *outs)
        for q in qids
        for key, u, *outs in sorted(score(u, q) for u in series if u != q)[:k]
    )
    for nparts in (1, 2, 5, 17):
        local = []
        for batches in _split(rows, nparts, rng):
            local.extend(extras12._local_topk(iter(batches), cols, m, k))
        merged = (
            pd.concat(local)
            .sort_values(["qid", "key", "user_id"])
            .groupby("qid")
            .head(k)
        )
        got = sorted(merged.itertuples(index=False, name=None))
        assert got == brute, (measure, dim, nparts)


def test_block_end_caps_buffer_cells():
    """A scoring block holds at most ``_BLOCK`` rows, and fewer when its
    padded buffers, rows x (longest + 1) cells, would pass the kernels'
    cell bound; a row over the bound on its own is a block of one (the
    kernel's per-row bound then decides)."""
    import numpy as np

    from traj_sim_spark_spark.functions import kernels
    from traj_sim_spark_spark.operators import extras12

    b = extras12._BLOCK
    assert extras12._block_end(np.full(100, 50), 0, 100) == b
    assert extras12._block_end(np.full(100, 50), 90, 100) == 100
    long = np.full(40, 1 << 23)
    cap = kernels._MAX_DP_CELLS // ((1 << 23) + 1)
    assert 1 < cap < b
    assert extras12._block_end(long, 0, 40) == cap
    lens = np.array([5] * 3 + [kernels._MAX_DP_CELLS] + [5] * 3)
    assert extras12._block_end(lens, 0, 7) == 3
    assert extras12._block_end(lens, 3, 7) == 4


# the twelve DP measures: 1-D and 2-D
_DP_CASES = [c for c in _CASES if c[0] not in ("hausdorff", "hseg")]
# copies of each query's trajectory: ~140 rows per query tie the k-th
# key, four blocks and more past the first
_HOT = 140


def _counting(m, counts):
    """``m`` with a score that counts, per query array, the blocks it
    scores with tau set."""

    def score(cands, q, tau):
        if tau is not None:
            counts[q.tobytes()] = counts.get(q.tobytes(), 0) + 1
        return m.score(cands, q, tau)

    return m._replace(score=score)


@pytest.mark.parametrize("measure,dim", _DP_CASES)
def test_local_topk_blocks_equal_brute_force(measure, dim):
    """With the rows of one partition in one Arrow batch and ~140 rows
    per query tying the k-th key inside the rounded-tau band (copies of
    the query, 1e-8-shifted for the float DP measures), each query runs
    at least three blocks scored with the tau of their start, and the
    top-k (ties broken on user_id) equals the brute-force top-k by the
    measure's own score."""
    import pandas as pd

    from traj_sim_spark_spark.operators import extras12

    m, series, cols, row, rng = _split_case(measure, dim, hot=_HOT)
    k, qids = 10, (1, 2, 3)

    def pts(p):
        return p[:, 0] if dim == 1 else p

    brute = []
    for q in qids:
        keys = sorted(
            (key, u, *outs)
            for u in series
            if u != q
            for key, *outs in m.score([pts(series[u])], pts(series[q]), None)
        )
        brute += [(q, u, key, *outs) for key, u, *outs in keys[:k]]
    pdf = pd.DataFrame([row(q, u) for q in qids for u in series if u != q])
    counts = {}
    (local,) = extras12._local_topk(iter([pdf]), cols, _counting(m, counts), k)
    assert min(counts.values()) >= 3, counts.values()
    assert sorted(local.itertuples(index=False, name=None)) == sorted(brute)


@pytest.mark.parametrize("measure,dim", _DP_CASES)
def test_local_within_blocks_equal_brute_force(measure, dim):
    """The fixed-radius pass over one batch of ~480 rows (several
    blocks) keeps exactly the brute-force members by the oracle's
    predicate.  The radius is the key of the first copy of the query's
    trajectory, so ~140 rows tie it (for the float DP measures at
    1e-8-shifted exact distances inside the rounded-tau band)."""
    from fractions import Fraction

    import pandas as pd

    from traj_sim_spark_spark.operators import extras12

    m, series, cols, row, rng = _split_case(measure, dim, hot=_HOT)
    qid = 1

    def pts(p):
        return p[:, 0] if dim == 1 else p

    q = pts(series[qid])
    hot_u = 61  # the first copy of the query's trajectory
    a_hot = pts(series[hot_u])
    r_hot = m.score([a_hot], q, None)[0]
    if measure == "edr":
        radius = tau = Fraction(r_hot[1], max(len(a_hot), len(q)))
    elif measure == "lcss":
        radius = Fraction(r_hot[1], min(len(a_hot), len(q)))
        tau = -radius
    else:
        radius = tau = r_hot[0]
    brute = sorted(
        (u, *hit[1:])
        for u, s in series.items()
        if u != qid
        and (hit := _oracle_within(measure, m, pts(s), q, radius)) is not None
    )
    assert _HOT <= len(brute) < len(series) - 1
    pdf = pd.DataFrame([row(qid, u) for u in series if u != qid])
    counts = {}
    m_counted = _counting(m, counts)
    (kept,) = extras12._local_within(iter([pdf]), cols, m_counted, tau)
    assert sum(counts.values()) >= 3
    got = sorted(kept.drop(columns="key").itertuples(index=False, name=None))
    assert got == brute


def _hseg_exact(a, q):
    """Segment Hausdorff d² of two int64 paths as an exact rational:
    Python-int endpoint squares and crs² / ab2 as a ``Fraction``."""
    from fractions import Fraction

    def d2(p, s1, s2):
        (px, py), (x1, y1), (x2, y2) = p, s1, s2
        abx, aby = x2 - x1, y2 - y1
        ab2 = abx * abx + aby * aby
        dotp = abx * (px - x1) + aby * (py - y1)
        if ab2 == 0 or dotp <= 0:
            return (px - x1) ** 2 + (py - y1) ** 2
        if dotp >= ab2:
            return (px - x2) ** 2 + (py - y2) ** 2
        crs = abx * (py - y1) - aby * (px - x1)
        return Fraction(crs * crs, ab2)

    def directed(p, v):
        v = v.tolist()
        return max(
            min(d2(pt, s1, s2) for s1, s2 in zip(v, v[1:]))
            for pt in p.tolist()
        )

    return max(directed(a, q), directed(q, a))


def _oracle_within(name, measure, a, q, radius):
    """Brute-force threshold membership by the oracles' predicates,
    written out from the kernels: ROUND(d, 6) <= tau (float DP),
    erp_micro <= tau (ERP), DEN·edr <= NUM·max(n, m) (EDR),
    DEN·lcss >= NUM·min(n, m) (LCSS) and the exact segment d² <= tau²
    (segment Hausdorff, ``radius`` being tau² there), with ``radius`` =
    NUM / DEN as a ``Fraction`` for the quotient measures.  Returns
    (key, *outputs) of a member, else None."""
    row = measure.score([a], q, None)[0]
    n, m = len(a), len(q)
    if name == "edr":
        keep = row[1] * radius.denominator <= radius.numerator * max(n, m)
    elif name == "lcss":
        keep = row[1] * radius.denominator >= radius.numerator * min(n, m)
    elif name == "hseg":
        keep = _hseg_exact(a, q) <= radius
    else:
        keep = row[0] <= radius
    return row if keep else None


@pytest.mark.parametrize("measure,dim", _CASES)
def test_local_within_is_split_invariant(measure, dim):
    """The fixed-radius kernel keeps exactly the brute-force members by
    the oracle's predicate, with their outputs, however the rows are
    split into partitions and Arrow batches.  The radius is the median
    key of the corpus against the query, so members tie it exactly
    (duplicate trajectories; for the DP measures also the 1e-8 shifts
    whose distances round onto it)."""
    from fractions import Fraction

    import pandas as pd

    from traj_sim_spark_spark.operators import extras12

    m, series, cols, row, rng = _split_case(measure, dim)
    qid = 1
    rows = [row(qid, u) for u in series if u != qid]

    def pts(p):
        return p[:, 0] if dim == 1 else p

    q = pts(series[qid])
    scored = {
        u: m.score([pts(s)], q, None)[0] for u, s in series.items() if u != qid
    }
    u_mid = sorted(scored, key=lambda u: (scored[u][0], u))[len(scored) // 2]
    a_mid, r_mid = pts(series[u_mid]), scored[u_mid]
    if measure == "edr":
        radius = Fraction(r_mid[1], max(len(a_mid), len(q)))
        tau = radius
    elif measure == "lcss":
        radius = Fraction(r_mid[1], min(len(a_mid), len(q)))
        tau = -radius
    elif measure == "hseg":
        # the segment predicate compares integer squares
        radius = tau = int(r_mid[0])
    else:
        radius = tau = r_mid[0]
    brute = sorted(
        (u, *hit[1:])
        for u, s in series.items()
        if u != qid
        and (hit := _oracle_within(measure, m, pts(s), q, radius)) is not None
    )
    assert 0 < len(brute) < len(scored)
    for nparts in (1, 2, 5, 17):
        out = [
            df
            for batches in _split(rows, nparts, rng)
            for df in extras12._local_within(iter(batches), cols, m, tau)
            if len(df)
        ]
        kept = pd.concat(out).drop(columns="key")
        got = sorted(kept.itertuples(index=False, name=None))
        assert got == brute, (measure, dim, nparts)


def test_local_within_keeps_the_oracle_boundary():
    """Pairs whose key sits exactly on a threshold row's radius are kept
    and the next step past it is dropped (for segment Hausdorff the
    oracle's integer predicate, in an endpoint, an interior and a
    guard-band case): a Fréchet distance of
    85.0000003 rounds to the radius 85.0 (the bound is 85.0000003 too,
    so an unpadded lb <= tau gate would drop it), an LCSS of 11 over
    min length 20 is the similarity 11/20 and an EDR of 3 over max
    length 5 the normalized 3/5.  The Fréchet distance 85.0000008
    rounds past the radius although its first cell, 85.0000003, does
    not: a DP abandoned at tau instead of tau + 1e-6 would return that
    cell and keep the pair."""
    from fractions import Fraction

    import numpy as np
    import pandas as pd

    from traj_sim_spark_spark.functions import kernels
    from traj_sim_spark_spark.operators import extras3, extras6, extras12

    cases = [
        (
            extras12._dp_measure(kernels.frechet_block, extras12._lb_1d, "d"),
            85.0,
            [0.0, 0.0],
            {
                2: [0.0, 85.0000003],
                3: [0.0, 85.0000006],
                4: [85.0000003, 85.0000008],
            },
            {2},
        ),
        (
            extras12._LCSS_1D,
            Fraction(-extras6._LCSS_TAU_NUM, extras6._LCSS_TAU_DEN),
            [0.0] * 20,
            {2: [0.0] * 11 + [1000.0] * 9, 3: [0.0] * 10 + [1000.0] * 10},
            {2},
        ),
        (
            extras12._EDR_1D,
            Fraction(extras6._EDR_TAU_NUM, extras6._EDR_TAU_DEN),
            [0.0] * 5,
            {2: [0.0, 0.0, 1000.0, 1000.0, 1000.0], 3: [0.0] + [1000.0] * 4},
            {2},
        ),
    ]
    # segment Hausdorff at the threshold row's tau, user 2 on the
    # boundary and user 3 one micro-unit past it; each user 3 stays
    # within the bbox bound, so the predicate decides it
    tu = extras3._SK_TAU_U
    assert tu == 25_000_000

    def seg_case(q, on, past):
        paths = {2: [q[0], on, q[1]], 3: [q[0], past, q[1]]}
        return extras12._HSEG_2D, tu * tu, q, paths, {2}

    cases += [
        # endpoint: the apex lies tau past the query's end, on its line
        seg_case(
            [(0, 0), (15_000_000, 20_000_000)],
            (30_000_000, 40_000_000),
            (30_000_001, 40_000_000),
        ),
        # interior: the apex lies tau off a 3-4-5 segment, crs² equal
        # to tau²·ab2
        seg_case(
            [(0, 0), (40_000_000, 30_000_000)],
            (5_000_000, 35_000_000),
            (5_000_000, 35_000_001),
        ),
        # guard band: crs² lies ~1e-15 relative below tau²·ab2 for
        # user 2 and above it for user 3, whom a double compare keeps
        seg_case(
            [(0, 0), (39_999_999, 4_171)],
            (526_148, 25_000_055),
            (6_030_823, 25_000_629),
        ),
    ]
    for m, tau, q, cands, want in cases:
        cols = ["a"] if np.ndim(q) == 1 else ["xs", "ys"]

        def coords(v):
            v = np.array(v)
            return {"a": v} if v.ndim == 1 else {"xs": v[:, 0], "ys": v[:, 1]}

        pdf = pd.DataFrame(
            [
                {
                    "qid": 1,
                    "user_id": u,
                    **coords(a),
                    **{"q" + c: v for c, v in coords(q).items()},
                }
                for u, a in cands.items()
            ]
        )
        out = pd.concat(extras12._local_within(iter([pdf]), cols, m, tau))
        assert set(out["user_id"]) == want, (m.schema, q, out)


def test_path_slabs_cover_each_point_and_segment_once():
    """The segment kernels fold their matrices slab by slab; the slabs
    put together are exactly the full (point, segment) matrices of both
    directions.  A 4-point query makes a slab 500,000 points, so this
    500,003-point path is cut in two, with one segment across the cut."""
    import numpy as np

    from traj_sim_spark_spark.operators import extras12

    rng = np.random.default_rng(3)
    a = rng.integers(-1000, 1000, size=(500_003, 2))
    q = rng.integers(-1000, 1000, size=(4, 2))
    parts = list(extras12._path_slabs(a, q, extras12._path_d2))
    assert len(parts) == 2
    whole_q = extras12._path_d2(q, a)
    assert np.array_equal(np.hstack([d for d, _ in parts]), whole_q)
    whole_a = extras12._path_d2(a, q)
    assert np.array_equal(np.vstack([d for _, d in parts]), whole_a)


_SINGLE_KNN_KEYS = [
    f"traj_{m}_knn{v}"
    for m in ("dtw", "frechet", "erp", "lcss", "edr")
    for v in ("", "_2d")
] + [
    "traj_dtw_knn_banded",
    "traj_dtw_knn_banded_2d",
]


@pytest.mark.parametrize("key", _SINGLE_KNN_KEYS)
def test_single_knn_builds_no_more_jobs_than_batch_twin(key, spark, sf_dir):
    """Building a single-query kNN row launches no more Spark jobs than
    building its batch twin: both are one lazy plan, so neither runs a
    bound, phase or checkpoint action inside the builder."""
    from traj_sim_spark_spark import registry

    registry.load_all()
    sc = spark.sparkContext
    groups = {}
    try:
        for k in (key, key.replace("_knn", "_knn_batch")):
            groups[k] = f"build-{k}"
            sc.setJobGroup(groups[k], k)
            registry.QUERIES[k](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {
        k: len(sc.statusTracker().getJobIdsForGroup(g))
        for k, g in groups.items()
    }
    single, twin = jobs.values()
    assert single <= twin, jobs
