"""Oracle-independent invariants for the round-11 additions.

The 2-D batch-workload rows must agree with their single-query twins
on the shared query user (qid=1 answers the identical question as
``traj_dtw_knn_2d`` / ``traj_frechet_knn_2d``); BM25 must rank a doc
containing the query's rarest term above docs with none; the PNG row's
fused kernel must refuse a broken codec rather than hash-diverge.
"""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

from traj_sim_spark_spark.operators.extras13 import (
    sim_bm25_topk,
    traj_dtw_knn_batch_2d,
    traj_frechet_knn_batch_2d,
)
from traj_sim_spark_spark.operators.trajectory import traj_frechet_knn_2d
from traj_sim_spark_spark.operators.trajectory_ext import traj_dtw_knn_2d


def test_dtw_batch_2d_qid1_equals_single_query(spark, sf_dir):
    batch = {
        (r["user_id"], r["dtw"])
        for r in traj_dtw_knn_batch_2d(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["dtw_2d"])
        for r in traj_dtw_knn_2d(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


def test_frechet_batch_2d_qid1_equals_single_query(spark, sf_dir):
    batch = {
        (r["user_id"], r["frechet"])
        for r in traj_frechet_knn_batch_2d(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["frechet_2d"])
        for r in traj_frechet_knn_2d(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


def test_batch_2d_all_queries_covered(spark, sf_dir):
    rows = traj_frechet_knn_batch_2d(spark, sf_dir).collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(r)
    assert set(by_qid) == {1, 2, 3}
    for qid, rs in by_qid.items():
        assert len(rs) == 10
        assert all(r["user_id"] != qid for r in rs)


def test_lb_batch_2d_is_admissible(spark, sf_dir):
    """Every (qid, user) 2-D lower bound the batch kernel prunes with
    must sit at or below the exact Fréchet distance (and hence below
    DTW) — lossless pruning."""
    from traj_sim_spark_spark.functions import kernels
    from traj_sim_spark_spark.operators.extras12 import _lb_2d
    from traj_sim_spark_spark.operators.planes import arrays
    from traj_sim_spark_spark.operators.trajectory import _BATCH_QIDS
    from traj_sim_spark_spark.tables import Tables

    import numpy as np

    ev = Tables(spark, sf_dir).events
    arr = {
        r["user_id"]: np.column_stack(
            (np.asarray(r["xs"]), np.asarray(r["ys"]))
        ).astype(np.float64)
        for r in arrays(ev, "xy", ordered=True).collect()
    }
    pairs = [(q, u) for q in _BATCH_QIDS if q in arr for u in arr if u != q]
    assert len(pairs) > 0
    for q, u in pairs[:200]:
        exact = kernels.frechet(arr[u], arr[q])
        assert _lb_2d(arr[u], arr[q]) <= exact + 1e-9, (q, u)


def test_lcss_batch_2d_qid1_equals_single_query(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras6 import traj_lcss_knn_2d
    from traj_sim_spark_spark.operators.extras13 import (
        traj_lcss_knn_batch_2d,
    )

    # the batch row displays the UNROUNDED quotient (r12 ADVICE fix);
    # the single-query twin still rounds — compare at the driver's
    # 6-decimal normalization, which is the equality that matters
    batch = {
        (r["user_id"], r["lcss_len"], f"{r['lcss_sim']:.6f}")
        for r in traj_lcss_knn_batch_2d(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["lcss_len"], f"{r['lcss_sim']:.6f}")
        for r in traj_lcss_knn_2d(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


def test_edr_batch_2d_qid1_equals_single_query(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras6 import traj_edr_knn_2d
    from traj_sim_spark_spark.operators.extras13 import (
        traj_edr_knn_batch_2d,
    )

    # 6-decimal normalization: see the LCSS twin above (r12 ADVICE fix)
    batch = {
        (r["user_id"], r["edr"], f"{r['edr_norm']:.6f}")
        for r in traj_edr_knn_batch_2d(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["edr"], f"{r['edr_norm']:.6f}")
        for r in traj_edr_knn_2d(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


def test_erp_batch_2d_qid1_equals_single_query(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras6 import traj_erp_knn_2d
    from traj_sim_spark_spark.operators.extras13 import (
        traj_erp_knn_batch_2d,
    )

    batch = {
        (r["user_id"], r["erp_micro"], r["erp"])
        for r in traj_erp_knn_batch_2d(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["erp_micro"], r["erp"])
        for r in traj_erp_knn_2d(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


def test_dtw_banded_batch_qid1_equals_single_query(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras13 import (
        traj_dtw_knn_batch_banded,
    )
    from traj_sim_spark_spark.operators.trajectory_ext import (
        traj_dtw_knn_banded,
    )

    batch = {
        (r["user_id"], r["dtw_banded"])
        for r in traj_dtw_knn_batch_banded(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["dtw_banded"])
        for r in traj_dtw_knn_banded(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


def test_dtw_banded_batch_2d_qid1_equals_single_query(spark, sf_dir):
    from traj_sim_spark_spark.operators.extras13 import (
        traj_dtw_knn_batch_banded_2d,
    )
    from traj_sim_spark_spark.operators.trajectory_ext import (
        traj_dtw_knn_banded_2d,
    )

    batch = {
        (r["user_id"], r["dtw_banded_2d"])
        for r in traj_dtw_knn_batch_banded_2d(spark, sf_dir)
        .filter(F.col("qid") == 1)
        .collect()
    }
    single = {
        (r["user_id"], r["dtw_banded_2d"])
        for r in traj_dtw_knn_banded_2d(spark, sf_dir).collect()
    }
    assert batch == single and len(batch) > 0


@pytest.mark.parametrize(
    "bound,dim", [("matchable", 2), ("matchable", 1), ("erp", 1), ("erp", 2)]
)
def test_matchable_2d_batch_bounds_are_admissible(spark, sf_dir, bound, dim):
    """For every (qid, user) pair: matchable must upper-bound exact LCSS
    and the derived max(|n-m|, max(n,m) - matchable) must lower-bound
    exact EDR; the ERP bounds (1-D L1-norm gap, 2-D slack-corrected
    mass gap) must lower-bound exact erp_micro — lossless pruning."""
    import numpy as np

    from traj_sim_spark_spark.functions import kernels
    from traj_sim_spark_spark.operators.extras6 import (
        _EPS2_MICRO2,
        _LCSS_DELTA,
        _SEARCH_EPS,
    )
    from traj_sim_spark_spark.operators.extras12 import _l1_gap, _matchable
    from traj_sim_spark_spark.operators.extras13 import _mass_gap_2d
    from traj_sim_spark_spark.operators.planes import arrays
    from traj_sim_spark_spark.operators.trajectory import _BATCH_QIDS
    from traj_sim_spark_spark.tables import Tables

    ev = Tables(spark, sf_dir).events
    if dim == 2:
        arr = {
            r["user_id"]: np.stack(
                [
                    np.asarray(r["xs"], dtype=np.int64),
                    np.asarray(r["ys"], dtype=np.int64),
                ],
                axis=1,
            )
            for r in arrays(ev, "xy_micro", ordered=True).collect()
        }
        lcss = partial(kernels.lcss_int2d, e2=_EPS2_MICRO2)
        edr = partial(kernels.edr_int2d, e2=_EPS2_MICRO2)
        erp, erp_lb = kernels.erp_int2d, _mass_gap_2d
    else:
        plane = "value" if bound == "matchable" else "value_micro"
        arr = {
            r["user_id"]: np.asarray(r["a"])
            for r in arrays(ev, plane, ordered=True).collect()
        }
        lcss = partial(kernels.lcss, eps=_SEARCH_EPS, delta=_LCSS_DELTA)
        edr = partial(kernels.edr, eps=_SEARCH_EPS)
        erp, erp_lb = kernels.erp, _l1_gap
    pairs = [(q, u) for q in _BATCH_QIDS if q in arr for u in arr if u != q]
    assert len(pairs) > 0
    for q, u in pairs:
        a, b = arr[u], arr[q]
        if bound == "erp":
            assert erp_lb(a, b) <= erp(a, b), (q, u)
            continue
        matchable = _matchable(a, b)
        n, m = len(a), len(b)
        assert lcss(a, b) <= matchable, (q, u)
        assert max(abs(n - m), max(n, m) - matchable) <= edr(a, b), (q, u)


def test_bm25_batch_covers_workload_and_excludes_self(spark, sf_dir):
    """Every workload query gets its own non-self top-10 with
    positive, non-increasing scores."""
    from traj_sim_spark_spark.operators.extras13 import sim_bm25_batch

    rows = sim_bm25_batch(spark, sf_dir).collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(r)
    assert set(by_qid) == {0, 1, 2}
    for qid, rs in by_qid.items():
        assert 0 < len(rs) <= 10
        assert all(r["doc_id"] != qid for r in rs)
        scores = [r["bm25"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)


def test_hybrid_bm25_rrf_fuses_both_legs(spark, sf_dir):
    """The fused top-10 must carry valid shortlist ranks (1..50), its
    lexical ranks must agree with the BM25 row's ordering on the
    shared prefix, and rrf must equal the two-term reciprocal sum."""
    from traj_sim_spark_spark.operators.extras13 import (
        sim_bm25_topk,
        sim_hybrid_bm25_rrf,
    )

    rows = sim_hybrid_bm25_rrf(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    bm25_order = [r["doc_id"] for r in sim_bm25_topk(spark, sf_dir).collect()]
    lex_by_doc = {
        r["doc_id"]: r["lex_rank"]
        for r in rows
        if r["lex_rank"] is not None
    }
    for doc, rank in lex_by_doc.items():
        assert 1 <= rank <= 50
        if rank <= len(bm25_order):
            assert bm25_order[rank - 1] == doc, (doc, rank)
    for r in rows:
        assert r["lex_rank"] is not None or r["vec_rank"] is not None
        expect = 0.0
        if r["lex_rank"] is not None:
            expect += 1.0 / (60 + r["lex_rank"])
        if r["vec_rank"] is not None:
            expect += 1.0 / (60 + r["vec_rank"])
        assert abs(r["rrf_score"] - round(expect, 6)) < 1e-9


def test_bm25_ranks_matching_docs_only(spark, sf_dir):
    """Every returned doc must share at least one token with doc 0,
    carry a positive score, and scores must be non-increasing."""
    from traj_sim_spark_spark.tables import Tables

    rows = sim_bm25_topk(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    t = Tables(spark, sf_dir)
    qtok = {
        r["token"]
        for r in t.documents.filter(F.col("doc_id") == 0)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .collect()
    }
    hits = {r["doc_id"] for r in rows}
    texts = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in t.documents.filter(
            F.col("doc_id").isin(*[int(d) for d in hits])
        ).collect()
    }
    for d in hits:
        assert d != 0 and texts[d] & qtok
