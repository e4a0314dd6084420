"""Round-5 additions (SURVEY.md §2.2 — extras6).

- ``traj_lcss_pair`` / ``traj_edr_pair`` — the remaining two classic
  trajectory similarity measures (LCSS and EDR join Hausdorff /
  Fréchet / DTW; both are eps-matching EDIT formulations, integer-
  valued DPs and therefore exact by construction), FULL recursive-CTE
  oracles via the ``trajectory._dp_layers_sql`` antidiagonal template.
- ``sim_diversify_mmr`` — Maximal-Marginal-Relevance diversified
  top-k over the embedding corpus (the standard retrieval reranker),
  integer-exact on quantized squared distances, unrolled-rounds FULL
  oracle (the ``emb_kmeans_exact`` discipline).
- ``rel_gaps_islands`` — the gaps-and-islands pattern (maximal runs of
  consecutive active days per user).
- ``rel_agg_filtered`` — FILTER-clause conditional aggregation.
- ``text_langid_confusion`` — language-ID confusion matrix (labeled
  lang x predicted lang), composed from ``text_langid``.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import Tables
from . import dp_list_sql as _DL
from .planes import arrays
from .trajectory import _QUERY_USER, _SEARCH_K

# ---------------------------------------------------------------------------
# traj_lcss_pair / traj_edr_pair — eps-matching edit-style DP measures
# ---------------------------------------------------------------------------

_LCSS_EPS = "10.0"  # eps-matching tolerance (value units; ~5% of range)


def _lcss_edr_series_sql() -> str:
    """Shared av/bv series CTEs (same ordering as the DTW pair row)."""
    return """
    av(i, v) AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id), value
        FROM events WHERE user_id = 2
    ),
    bv(j, v) AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id), value
        FROM events WHERE user_id = 1
    )"""


def _lcss_pair_oracle() -> str:
    from .trajectory import _dp_layers_sql

    # match(i,j) in {0,1}; L(i,j) = max(W, N, NW + match) with a
    # virtual zero row/col (boundary cells take GREATEST with the bare
    # match value).  Monotone-equivalent to the textbook recurrence:
    # L grows by at most 1 per added element, so NW+1 dominates on a
    # match and never wins spuriously otherwise.
    combine = (
        "GREATEST("
        "MAX(CASE WHEN cur.age = 1 THEN cur.val + cells.d"
        "         ELSE cur.val END), "
        "MAX(CASE WHEN cells.i = 1 OR cells.k - cells.i = 1"
        "         THEN cells.d ELSE 0 END))"
    )
    cost = (
        f"CASE WHEN ABS(av.v - bv.v) <= {_LCSS_EPS} THEN 1 ELSE 0 END"
    )
    dp = _dp_layers_sql("lcss_dp", combine, cost)
    return f"""
    WITH RECURSIVE
    {_lcss_edr_series_sql()},
    {dp},
    nm AS (SELECT (SELECT MAX(i) FROM av) AS n,
                  (SELECT MAX(j) FROM bv) AS m)
    SELECT CAST(2 AS BIGINT) AS user_id,
           CAST((SELECT val FROM lcss_dp
                 WHERE age = 0 AND k = (SELECT n + m FROM nm)
                   AND i = (SELECT n FROM nm)) AS BIGINT) AS lcss_len,
           ROUND(CAST((SELECT val FROM lcss_dp
                       WHERE age = 0 AND k = (SELECT n + m FROM nm)
                         AND i = (SELECT n FROM nm)) AS DOUBLE)
                 / (SELECT LEAST(n, m) FROM nm), 6) AS lcss_sim
    """


def _edr_pair_oracle() -> str:
    from .trajectory import _dp_layers_sql

    # sub(i,j) in {0,1}; E(i,j) = min(NW + sub, N + 1, W + 1) with
    # E(i,0) = i, E(0,j) = j supplied as VIRTUAL boundary candidates
    # (j = k - i inside the layer): i = 1 sees NW = j-1, N = j;
    # j = 1 sees NW = i-1, W = i.
    combine = (
        "LEAST("
        "MIN(CASE WHEN cur.age = 1 THEN cur.val + cells.d"
        "         ELSE cur.val + 1 END), "
        "MIN(CASE WHEN cells.i = 1"
        "         THEN LEAST(cells.k - cells.i - 1 + cells.d,"
        "                    cells.k - cells.i + 1)"
        "         ELSE 1099511627776 END), "
        "MIN(CASE WHEN cells.k - cells.i = 1"
        "         THEN LEAST(cells.i - 1 + cells.d, cells.i + 1)"
        "         ELSE 1099511627776 END))"
    )
    cost = (
        f"CASE WHEN ABS(av.v - bv.v) <= {_LCSS_EPS} THEN 0 ELSE 1 END"
    )
    dp = _dp_layers_sql("edr_dp", combine, cost)
    return f"""
    WITH RECURSIVE
    {_lcss_edr_series_sql()},
    {dp},
    nm AS (SELECT (SELECT MAX(i) FROM av) AS n,
                  (SELECT MAX(j) FROM bv) AS m)
    SELECT CAST(2 AS BIGINT) AS user_id,
           CAST((SELECT val FROM edr_dp
                 WHERE age = 0 AND k = (SELECT n + m FROM nm)
                   AND i = (SELECT n FROM nm)) AS BIGINT) AS edr,
           ROUND(CAST((SELECT val FROM edr_dp
                       WHERE age = 0 AND k = (SELECT n + m FROM nm)
                         AND i = (SELECT n FROM nm)) AS DOUBLE)
                 / (SELECT GREATEST(n, m) FROM nm), 6) AS edr_norm
    """


@query("traj_lcss_pair", oracle=_lcss_pair_oracle)
def traj_lcss_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LCSS similarity between users 1 and 2 — the eps-matching
    longest-common-subsequence trajectory measure (robust to noise and
    outlier points where DTW is not: an outlier simply never matches).
    Completes the classic measure family {Hausdorff, Fréchet, DTW,
    LCSS, EDR} on the pair shape.

    Exactness: the DP is INTEGER-valued (match decisions are float
    comparisons against eps on identical doubles, then pure integer
    max/+1), so Spark's NumPy kernel and DuckDB's antidiagonal
    recursive CTE agree exactly; the similarity LCSS/min(n,m) is the
    one final display float.

    Scale shape: identical to ``traj_dtw_pair`` — assemble two series,
    one Arrow ``applyInPandas`` group, O(n·m) inside the kernel."""
    import numpy as np
    import pandas as pd

    from ..functions import kernels
    from .extras12 import _pairs

    arr = arrays(Tables(spark, sf_dir).events, "value", ordered=True)
    paired = _pairs(arr, (_QUERY_USER,)).filter(F.col("user_id") == 2)
    eps = float(_LCSS_EPS)

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            a = np.asarray(row["a"], dtype=np.float64)
            b = np.asarray(row["qa"], dtype=np.float64)
            ln = kernels.lcss(a, b, eps)
            out.append(
                (row["user_id"], ln, round(ln / min(len(a), len(b)), 6))
            )
        return pd.DataFrame(out, columns=["user_id", "lcss_len", "lcss_sim"])

    return paired.groupBy("user_id").applyInPandas(
        per_user, schema="user_id bigint, lcss_len bigint, lcss_sim double"
    )


@query("traj_edr_pair", oracle=_edr_pair_oracle)
def traj_edr_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDR (Edit Distance on Real sequences) between users 1 and 2:
    eps-matching edit distance — substitution costs 1 unless the
    points eps-match, insert/delete cost 1; boundary E(i,0)=i.
    The noise-robust edit twin of LCSS (counts mismatches instead of
    matches), also integer-valued and therefore exact; same
    antidiagonal recursive-CTE oracle with virtual boundary
    candidates.  Display: EDR and EDR/max(n,m)."""
    import numpy as np
    import pandas as pd

    from ..functions import kernels
    from .extras12 import _pairs

    arr = arrays(Tables(spark, sf_dir).events, "value", ordered=True)
    paired = _pairs(arr, (_QUERY_USER,)).filter(F.col("user_id") == 2)
    eps = float(_LCSS_EPS)

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            a = np.asarray(row["a"], dtype=np.float64)
            b = np.asarray(row["qa"], dtype=np.float64)
            e = kernels.edr(a, b, eps)
            out.append(
                (row["user_id"], e, round(e / max(len(a), len(b)), 6))
            )
        return pd.DataFrame(out, columns=["user_id", "edr", "edr_norm"])

    return paired.groupBy("user_id").applyInPandas(
        per_user, schema="user_id bigint, edr bigint, edr_norm double"
    )


# ---------------------------------------------------------------------------
# sim_diversify_mmr — Maximal-Marginal-Relevance diversified top-k
# ---------------------------------------------------------------------------

_MMR_SHORTLIST = 32  # relevance shortlist fed to the reranker
_MMR_K = 5  # diversified picks (unrolled in the oracle)


def _mmr_oracle() -> str:
    # integer d2 between quantized vectors via explicit unnest + BIGINT
    # sum (list_dot_product would be double; diffs^2 sums can graze
    # 2^53) — qv/d2 CTEs shared, then _MMR_K unrolled selection rounds:
    # pick argmin of 2*d2(q, c) - min_{s in S} d2(c, s) (lambda = 1/2
    # scaled x2 — all integer), ties to the smallest vec_id; round 0 is
    # pure relevance.  Selection happens INSIDE the 32-candidate
    # relevance shortlist, the standard rerank contract.
    rounds = []
    sel_union = "SELECT vec_id FROM s0"
    for r in range(1, _MMR_K):
        rounds.append(f"""
    s{r} AS (
        SELECT c.vec_id
        FROM short c
        WHERE c.vec_id NOT IN ({sel_union})
        ORDER BY 2 * c.d2q - (
            SELECT MIN(p.d2) FROM pair p
            WHERE p.ida = c.vec_id
              AND p.idb IN ({sel_union})
        ), c.vec_id
        LIMIT 1
    )""")
        sel_union += f" UNION ALL SELECT vec_id FROM s{r}"
    ranked = " UNION ALL ".join(
        f"SELECT {r} AS rank, vec_id FROM s{r}" for r in range(_MMR_K)
    )
    return f"""
    WITH qv AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(ROUND(x * 1e6) AS BIGINT)) AS q
        FROM embeddings
    ),
    qq AS (SELECT q FROM qv WHERE vec_id = (SELECT MIN(vec_id) FROM qv)),
    cand AS (
        SELECT v.vec_id,
               (SELECT SUM((a - b) * (a - b)) FROM (
                    SELECT UNNEST(v.q) AS a, UNNEST((SELECT q FROM qq)) AS b
                )) AS d2q
        FROM qv v
        WHERE v.vec_id > (SELECT MIN(vec_id) FROM qv)
    ),
    short AS (
        SELECT vec_id, CAST(d2q AS BIGINT) AS d2q
        FROM cand ORDER BY d2q, vec_id LIMIT {_MMR_SHORTLIST}
    ),
    pair AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb,
               CAST((SELECT SUM((x - y) * (x - y)) FROM (
                    SELECT UNNEST(va.q) AS x, UNNEST(vb.q) AS y
               )) AS BIGINT) AS d2
        FROM short a
        JOIN short b ON a.vec_id <> b.vec_id
        JOIN qv va ON va.vec_id = a.vec_id
        JOIN qv vb ON vb.vec_id = b.vec_id
    ),
    s0 AS (SELECT vec_id FROM short ORDER BY d2q, vec_id LIMIT 1),
    {",".join(rounds)}
    SELECT CAST(r.rank AS BIGINT) AS rank, r.vec_id,
           s.d2q AS rel_d2
    FROM ({ranked}) r JOIN short s ON s.vec_id = r.vec_id
    """


@query("sim_diversify_mmr", oracle=_mmr_oracle)
def sim_diversify_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE diversified top-k — the standard
    retrieval reranker (near-duplicate results waste a RAG context
    window; MMR trades relevance against redundancy): greedily pick
    the candidate minimizing 2·d2(query, c) − min_{s∈S} d2(c, s)
    (λ = 1/2, integer-scaled ×2) from a 32-candidate relevance
    shortlist, k = 5 picks, ties to the smallest vec_id.

    Exactness: squared distances between micro-quantized vectors are
    exact BIGINTs on both engines (explicit unnest + integer sum in
    the oracle — ``list_dot_product`` doubles could graze 2^53), and
    the greedy argmin is an integer decision chain, so the whole
    selection is bit-exact; mirrored as unrolled selection-round CTEs
    (the ``emb_kmeans_exact`` discipline).

    Scale shape: the corpus-sized work is the relevance scan (one
    column-pruned pass + global top-32, TakeOrderedAndProject); the
    rerank then touches only the 32-row shortlist — its 32x32 pair
    matrix and 5 greedy rounds are a BOUNDED driver artifact (~1k
    integers, the route/manifest-row discipline), so the operator's
    distributed footprint is exactly one scan regardless of corpus
    size."""
    import numpy as np

    t = Tables(spark, sf_dir)
    qv = t.embeddings.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(ROUND(x * 1e6) AS BIGINT))"
        ).alias("q"),
    )
    qmin = qv.agg(F.min("vec_id").alias("qid"))
    qrow = qv.join(F.broadcast(qmin), qv["vec_id"] == qmin["qid"]).select(
        F.col("q").alias("qq")
    )
    d2q = F.aggregate(
        F.zip_with("q", "qq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    shortlist = (
        qv.join(F.broadcast(qmin))
        .filter(F.col("vec_id") > F.col("qid"))
        .crossJoin(F.broadcast(qrow))
        .select("vec_id", "q", d2q.alias("d2q"))
        .orderBy("d2q", "vec_id")
        .limit(_MMR_SHORTLIST)
    )
    rows = shortlist.collect()  # bounded: 32 (vec_id, q, d2q) rows
    ids = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    vecs = np.asarray([r["q"] for r in rows], dtype=np.int64)
    rel = np.asarray([r["d2q"] for r in rows], dtype=np.int64)
    diff = vecs[:, None, :] - vecs[None, :, :]
    pair_d2 = (diff * diff).sum(axis=2)  # int64 exact
    order = np.lexsort((ids, rel))  # relevance, ties by id
    picked = [int(order[0])]
    while len(picked) < min(_MMR_K, len(ids)):
        best = None
        for c in range(len(ids)):
            if c in picked:
                continue
            div = int(min(pair_d2[c, s] for s in picked))
            key = (2 * int(rel[c]) - div, int(ids[c]))
            if best is None or key < best[0]:
                best = (key, c)
        picked.append(best[1])
    out = [
        (r, int(ids[c]), int(rel[c])) for r, c in enumerate(picked)
    ]
    return spark.createDataFrame(
        out, "rank bigint, vec_id bigint, rel_d2 bigint"
    )


# ---------------------------------------------------------------------------
# rel_gaps_islands — maximal runs of consecutive active days
# ---------------------------------------------------------------------------


@query(
    "rel_gaps_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400e6)
                    AS BIGINT) AS dy
        FROM events
    ),
    grp AS (
        SELECT user_id, dy,
               dy - ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY dy) AS island
        FROM days
    )
    SELECT user_id,
           MIN(dy) AS start_dy,
           MAX(dy) AS end_dy,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM grp
    GROUP BY user_id, island
    """,
)
def rel_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS: per user, the maximal runs of consecutive
    active days (the canonical sequential-SQL pattern — streaks,
    uptime windows, contiguous coverage): island id = day −
    row_number(day), one integer subtraction that is constant exactly
    within a consecutive run.  One distinct-days aggregate, one
    window, one group — all integer; partition-count independent.

    Scale shape: both shuffles key on user_id (the window and the
    final group co-partition), active-days per user bounds every
    window partition, and nothing is driver-sided."""
    t = Tables(spark, sf_dir)
    days = t.events.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 86400e6).alias("dy"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("dy")
    grp = days.withColumn(
        "island", F.col("dy") - F.row_number().over(w)
    )
    return grp.groupBy("user_id", "island").agg(
        F.min("dy").alias("start_dy"),
        F.max("dy").alias("end_dy"),
        F.count("*").cast("bigint").alias("n_days"),
    ).drop("island")


# ---------------------------------------------------------------------------
# rel_agg_filtered — FILTER-clause conditional aggregation
# ---------------------------------------------------------------------------


@query(
    "rel_agg_filtered",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_quantity > 25)
                AS BIGINT) AS n_bulk,
           CAST(COUNT(*) FILTER (WHERE l_discount >= 0.05)
                AS BIGINT) AS n_discounted,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                FILTER (WHERE l_quantity > 25) AS BIGINT) AS bulk_cents,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def rel_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause conditional aggregation — several differently-
    filtered aggregates in ONE pass over the table (the alternative is
    N scans or N self-joins): counts and an integer-cents sum, each
    under its own predicate, plus the unconditional total.

    Spark expresses FILTER with when()-guarded aggregates (count_if /
    sum(when)) — Catalyst folds them into a single hash aggregate with
    map-side partials, so the plan is one scan + one shuffle no matter
    how many conditions ride along.  All outputs integer (house cents
    rule), so the row hash-matches with no float anywhere."""
    t = Tables(spark, sf_dir)
    cents = F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
    bulk = F.col("l_quantity") > 25
    return t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.when(bulk, 1)).cast("bigint").alias("n_bulk"),
        F.count(F.when(F.col("l_discount") >= 0.05, 1))
        .cast("bigint")
        .alias("n_discounted"),
        F.sum(F.when(bulk, cents)).cast("bigint").alias("bulk_cents"),
        F.count("*").cast("bigint").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# text_langid_confusion — language-ID confusion matrix
# ---------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    from ..registry import ORACLES
    from . import text  # noqa: F401  (registers text_langid)

    inner = ORACLES["text_langid"].rstrip()
    return f"""
    WITH pred AS ({inner})
    SELECT lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred
    GROUP BY lang, pred_lang
    """


@query("text_langid_confusion", oracle=_langid_confusion_oracle)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-ID CONFUSION MATRIX: labeled lang x predicted lang with
    document counts — the evaluation table for the n-gram language
    identifier (``text_langid``); off-diagonal mass is exactly the
    misclassification a corpus-quality pipeline alerts on.

    Composed operator: the per-doc prediction is the registered
    ``text_langid`` plan (one broadcast marker join + two aggregates),
    this row adds one more hash aggregate on (lang, pred_lang) — the
    oracle wraps the registered ``text_langid`` SQL as a CTE, so the
    two rows can never drift apart."""
    from .text import text_langid

    return (
        text_langid(spark, sf_dir)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# LCSS / EDR search tier (threshold + kNN) — WEAK rows, brute-pinned
# ---------------------------------------------------------------------------

_SEARCH_EPS = 10.0  # eps-matching tolerance (shared with the pair rows)
_LCSS_DELTA = 8  # Vlachos time-window (search rows use LCSS_{d,e})
_LCSS_TAU_NUM, _LCSS_TAU_DEN = 11, 20  # similarity threshold 0.55
_EDR_TAU_NUM, _EDR_TAU_DEN = 3, 5  # normalized-EDR threshold 0.6


# ---------------------------------------------------------------------------
# FULL list-layer oracles for the LCSS/EDR/ERP search tiers (round 7):
# every candidate's whole DP grid vs the query user, advanced one
# antidiagonal LIST per recursion step (dp_list_sql.layer_dp — the
# NumPy kernels' antidiagonal layout transcribed to DuckDB lists;
# measured ~0.5 s at sf0.01 vs 37 s for the old row-per-cell
# recursion).  The oracles are deliberately UNFILTERED by the Spark
# side's lossless bounds, so every gate run re-certifies that the
# prunes lose nothing.
# ---------------------------------------------------------------------------


def _lcss1_prefix() -> str:
    return _DL.layer_dp(
        _DL.series_1d(),
        ("avs",),
        f"CASE WHEN ABS(avs[1] - q.qvs[1]) <= {_SEARCH_EPS}"
        " THEN CAST(1 AS BIGINT) ELSE 0 END",
        _DL.lcss_combine(
            f"ABS(avs[y] - q.qvs[k - y + 2]) <= {_SEARCH_EPS}"
            f" AND ABS(2 * (y - 1) - k) <= {_LCSS_DELTA}"
        ),
        _DL.SENT_LCSS,
    )


def _lcss2_prefix(query_user: int = 1) -> str:
    return _DL.layer_dp(
        _DL.series_2d_micro(query_user),
        ("ax", "ay"),
        f"CASE WHEN {_DL.D2Q_INIT} <= {_EPS2_MICRO2}"
        " THEN CAST(1 AS BIGINT) ELSE 0 END",
        _DL.lcss_combine(f"{_DL.D2Q_CELL} <= {_EPS2_MICRO2}"),
        _DL.SENT_LCSS,
    )


_LCSS_SEL = (
    "\nSELECT user_id, CAST(val AS BIGINT) AS lcss_len,"
    "\n       ROUND(CAST(val AS DOUBLE) / LEAST(n, m), 6) AS lcss_sim"
    "\nFROM fin"
)


def _lcss_threshold_oracle() -> str:
    return (
        _lcss1_prefix()
        + _LCSS_SEL
        + f"\nWHERE val * {_LCSS_TAU_DEN}"
        f" >= LEAST(n, m) * {_LCSS_TAU_NUM}"
    )


def _lcss_knn_oracle() -> str:
    return (
        _lcss1_prefix()
        + _LCSS_SEL
        + "\nORDER BY CAST(val AS DOUBLE) / LEAST(n, m) DESC, user_id"
        + f"\nLIMIT {_SEARCH_K}"
    )


def _lcss_threshold_2d_oracle() -> str:
    return (
        _lcss2_prefix()
        + _LCSS_SEL
        + f"\nWHERE val * {_LCSS_TAU_DEN}"
        f" >= LEAST(n, m) * {_LCSS_TAU_NUM}"
    )


def _lcss_knn_2d_oracle() -> str:
    return (
        _lcss2_prefix()
        + _LCSS_SEL
        + "\nORDER BY CAST(val AS DOUBLE) / LEAST(n, m) DESC, user_id"
        + f"\nLIMIT {_SEARCH_K}"
    )


def _edr1_prefix() -> str:
    return _DL.layer_dp(
        _DL.series_1d(),
        ("avs",),
        f"CASE WHEN ABS(avs[1] - q.qvs[1]) <= {_SEARCH_EPS}"
        " THEN CAST(0 AS BIGINT) ELSE 1 END",
        _DL.edr_combine(
            f"ABS(avs[y] - q.qvs[k - y + 2]) <= {_SEARCH_EPS}"
        ),
        _DL.SENT_EDR,
    )


def _edr2_prefix(query_user: int = 1) -> str:
    return _DL.layer_dp(
        _DL.series_2d_micro(query_user),
        ("ax", "ay"),
        f"CASE WHEN {_DL.D2Q_INIT} <= {_EPS2_MICRO2}"
        " THEN CAST(0 AS BIGINT) ELSE 1 END",
        _DL.edr_combine(f"{_DL.D2Q_CELL} <= {_EPS2_MICRO2}"),
        _DL.SENT_EDR,
    )


_EDR_SEL = (
    "\nSELECT user_id, CAST(val AS BIGINT) AS edr,"
    "\n       ROUND(CAST(val AS DOUBLE) / GREATEST(n, m), 6) AS edr_norm"
    "\nFROM fin"
)


def _edr_threshold_oracle() -> str:
    return (
        _edr1_prefix()
        + _EDR_SEL
        + f"\nWHERE val * {_EDR_TAU_DEN}"
        f" <= GREATEST(n, m) * {_EDR_TAU_NUM}"
    )


def _edr_knn_oracle() -> str:
    return (
        _edr1_prefix()
        + _EDR_SEL
        + "\nORDER BY CAST(val AS DOUBLE) / GREATEST(n, m), user_id"
        + f"\nLIMIT {_SEARCH_K}"
    )


def _edr_threshold_2d_oracle() -> str:
    return (
        _edr2_prefix()
        + _EDR_SEL
        + f"\nWHERE val * {_EDR_TAU_DEN}"
        f" <= GREATEST(n, m) * {_EDR_TAU_NUM}"
    )


def _edr_knn_2d_oracle() -> str:
    return (
        _edr2_prefix()
        + _EDR_SEL
        + "\nORDER BY CAST(val AS DOUBLE) / GREATEST(n, m), user_id"
        + f"\nLIMIT {_SEARCH_K}"
    )


def _erp1_prefix() -> str:
    return _DL.layer_dp(
        _DL.series_1d_erp(),
        ("avs", "acs", "aps"),
        "LEAST(ABS(avs[1] - q.qvs[1]), acs[1] + q.qcs[1])",
        _DL.erp_combine("ABS(avs[y] - q.qvs[k - y + 2])"),
        _DL.SENT_ERP,
    )


def _erp2_prefix(query_user: int = 1) -> str:
    return _DL.layer_dp(
        _DL.series_2d_erp(query_user),
        ("ax", "ay", "acs", "aps"),
        f"LEAST({_DL.sql_isqrt_bound(_DL.D2Q_INIT)},"
        " acs[1] + q.qcs[1])",
        _DL.erp_combine(_DL.sql_isqrt_bound(_DL.D2Q_CELL)),
        _DL.SENT_ERP,
    )


_ERP_SEL = (
    "\nSELECT user_id, CAST(val AS BIGINT) AS erp_micro,"
    "\n       ROUND(val / 1e6, 6) AS erp"
    "\nFROM fin"
)


def _erp_threshold_oracle() -> str:
    return _erp1_prefix() + _ERP_SEL + f"\nWHERE val <= {_ERP_TAU_MICRO}"


def _erp_knn_oracle() -> str:
    return (
        _erp1_prefix()
        + _ERP_SEL
        + f"\nORDER BY val, user_id LIMIT {_SEARCH_K}"
    )


def _erp_threshold_2d_oracle() -> str:
    return (
        _erp2_prefix() + _ERP_SEL + f"\nWHERE val <= {_ERP2D_TAU_MICRO}"
    )


def _erp_knn_2d_oracle() -> str:
    return (
        _erp2_prefix()
        + _ERP_SEL
        + f"\nORDER BY val, user_id LIMIT {_SEARCH_K}"
    )


@query("traj_lcss_threshold", oracle=_lcss_threshold_oracle)
def traj_lcss_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All users with banded-LCSS similarity >= 0.55 vs the query user
    (LCSS_{d,e}, d=8, e=10 — the Vlachos time-window form), as ONE
    Arrow pass: ``extras12._threshold_search`` over the kNN twin's
    assembly and measure with the radius -11/20 on its key
    -(lcss_len / min_len).  A row is skipped when its LOSSLESS
    matchable-count upper bound min(matchable, min_len) / min_len falls
    below 0.55 (both sides correctly rounded quotients, so a qualifier
    is never skipped); the rest refine exactly, and membership is the
    oracle's exact integer test 20·lcss >= 11·min(n,m) — no float at
    the boundary.  No driver round-trip.  Brute-force equality pinned
    in tests/test_twophase.py."""
    from .extras12 import _LCSS_1D, _threshold_search

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _LCSS_1D,
        Fraction(-_LCSS_TAU_NUM, _LCSS_TAU_DEN),
    )


@query("traj_lcss_knn", oracle=_lcss_knn_oracle)
def traj_lcss_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by banded-LCSS similarity vs the query user
    (similarity DESC, user_id ASC ties) — the reference's kNN shape as
    ONE plan, ``extras12._knn_batch`` with the single query user: each
    partition ranks on -(lcss_len / min_len) (the exact integer pair
    divided once in IEEE double, as the oracle's ORDER BY divides it),
    skips a candidate whose LOSSLESS matchable-count upper bound
    min(matchable, min_len) / min_len already falls below its running
    k-th similarity, and keeps a local top-k; a window merges them.
    The bound prunes little in this dense-eps regime (eps = 10 against
    a value spread of the same order) — but it can only prune, so the
    result is bit-identical to refine-all.  No driver round-trip.
    Brute-force equality pinned in tests/test_twophase.py."""
    from .extras12 import _LCSS_1D, _knn_batch

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _LCSS_1D,
        qids=(_QUERY_USER,),
    ).drop("qid")


@query("traj_edr_threshold", oracle=_edr_threshold_oracle)
def traj_edr_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All users with normalized EDR <= 0.6 vs the query user, as ONE
    Arrow pass: ``extras12._threshold_search`` over the kNN twin's
    assembly and measure with the radius 3/5 on its key edr / max(n,m).
    A row is skipped when its LOSSLESS lower bound max(|n-m|, max(n,m)
    - matchable) / max(n,m) exceeds 0.6 (correctly rounded quotients on
    both sides); the rest refine exactly, and membership is the
    oracle's integer test 5·edr <= 3·max(n,m).  No driver round-trip.
    Brute-force equality pinned in tests/test_twophase.py."""
    from .extras12 import _EDR_1D, _threshold_search

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _EDR_1D,
        Fraction(_EDR_TAU_NUM, _EDR_TAU_DEN),
    )


@query("traj_edr_knn", oracle=_edr_knn_oracle)
def traj_edr_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by smallest normalized EDR vs the query user
    (edr/max_len ASC, user_id ties) — ``extras12._knn_batch`` with the
    single query user: ranked on the IEEE quotient edr / max(n, m), a
    candidate is skipped when its LOSSLESS lower bound max(|n-m|,
    max(n,m) - matchable) / max(n, m) exceeds the partition's running
    k-th quotient.  Same dense-regime selectivity caveat and
    bit-identical-to-refine-all guarantee as ``traj_lcss_knn``.  Brute
    pinned in tests/test_twophase.py."""
    from .extras12 import _EDR_1D, _knn_batch

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value", ordered=True),
        _EDR_1D,
        qids=(_QUERY_USER,),
    ).drop("qid")


# ---------------------------------------------------------------------------
# traj_erp_pair — ERP (Edit distance with Real Penalty), micro-integer
# ---------------------------------------------------------------------------


def _erp_pair_oracle() -> str:
    # E(i,j) = min(NW + |qa-qb|, N + |qa|, W + |qb|) over MICRO-QUANTIZED
    # integer values (gap g = 0); boundaries E(i,0)/E(0,j) are integer
    # prefix sums carried on the cells row (pa/pb CTEs with LAG), so
    # DuckDB's windowed-sum combine order cannot matter.  Custom layers
    # recursion (the _dp_layers_sql template carries one cost column;
    # ERP needs five), same antidiagonal age-carry scheme.
    big = 1 << 60
    return f"""
    WITH RECURSIVE
    av(i, q) AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id),
               CAST(ROUND(value * 1e6) AS BIGINT)
        FROM events WHERE user_id = 2
    ),
    bv(j, q) AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id),
               CAST(ROUND(value * 1e6) AS BIGINT)
        FROM events WHERE user_id = 1
    ),
    pa AS (
        SELECT i, SUM(ABS(q)) OVER (ORDER BY i) AS p,
               COALESCE(SUM(ABS(q)) OVER (ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS pprev
        FROM av
    ),
    pb AS (
        SELECT j, SUM(ABS(q)) OVER (ORDER BY j) AS p,
               COALESCE(SUM(ABS(q)) OVER (ORDER BY j
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS pprev
        FROM bv
    ),
    erp_dp(k, i, val, age) AS (
        SELECT 2, 1,
               (SELECT LEAST(ABS(av.q - bv.q), ABS(av.q) + ABS(bv.q))
                FROM av, bv WHERE av.i = 1 AND bv.j = 1), 0
        UNION ALL
        (
          WITH cur AS (SELECT * FROM erp_dp),
          kk AS (SELECT MAX(k) AS k FROM cur),
          cells AS (
              SELECT (SELECT k FROM kk) + 1 AS k, av.i AS i,
                     ABS(av.q - bv.q) AS d,
                     ABS(av.q) AS ca, ABS(bv.q) AS cb,
                     pa.p AS pap, pa.pprev AS papp,
                     pb.p AS pbp, pb.pprev AS pbpp
              FROM av
              JOIN bv ON bv.j = (SELECT k FROM kk) + 1 - av.i
              JOIN pa ON pa.i = av.i
              JOIN pb ON pb.j = bv.j
          ),
          newcells AS (
              SELECT cells.k, cells.i,
                     LEAST(
                       MIN(CASE WHEN cur.age = 1
                                THEN cur.val + cells.d
                                WHEN cur.i = cells.i
                                THEN cur.val + cells.cb
                                ELSE cur.val + cells.ca END),
                       MIN(CASE WHEN cells.i = 1
                            THEN LEAST(cells.pbpp + cells.d,
                                       cells.pbp + cells.ca)
                            ELSE {big} END),
                       MIN(CASE WHEN cells.k - cells.i = 1
                            THEN LEAST(cells.papp + cells.d,
                                       cells.pap + cells.cb)
                            ELSE {big} END)
                     ) AS val, 0 AS age
              FROM cells JOIN cur
                ON (cur.age = 0 AND cur.i IN (cells.i - 1, cells.i))
                OR (cur.age = 1 AND cur.i = cells.i - 1)
              GROUP BY cells.k, cells.i, cells.d, cells.ca, cells.cb,
                       cells.pap, cells.papp, cells.pbp, cells.pbpp
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
    )
    SELECT CAST(2 AS BIGINT) AS user_id,
           CAST((SELECT val FROM erp_dp
                 WHERE age = 0
                   AND k = (SELECT MAX(i) FROM av)
                         + (SELECT MAX(j) FROM bv)
                   AND i = (SELECT MAX(i) FROM av)) AS BIGINT)
               AS erp_micro,
           ROUND((SELECT val FROM erp_dp
                  WHERE age = 0
                    AND k = (SELECT MAX(i) FROM av)
                          + (SELECT MAX(j) FROM bv)
                    AND i = (SELECT MAX(i) FROM av)) / 1e6, 6) AS erp
    """


@query("traj_erp_pair", oracle=_erp_pair_oracle)
def traj_erp_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERP (Edit distance with Real Penalty, gap g=0) between users 1
    and 2 — the sixth and last classic trajectory measure ({Hausdorff,
    Fréchet, DTW, LCSS, EDR, ERP} now ALL ship on the pair shape) and
    the only edit-style one that is a true METRIC (triangle inequality
    holds, so it admits metric indexing).

    Exactness: values are micro-quantized (SQL ROUND, JVM-side —
    engines' half-rounding agrees) so every DP cell, INCLUDING the
    boundary prefix sums, is a BIGINT — the one float is the final
    /1e6 display.  The oracle is a custom antidiagonal recursion
    (_dp_layers_sql carries one cost column; ERP needs the cell cost
    plus both gap costs and both boundary prefixes) with the virtual
    row-0/col-0 candidates carried on the cells row.

    Scale shape: identical to the other pair rows — two series
    assemblies, one Arrow group, O(n·m) integer kernel."""
    import numpy as np
    import pandas as pd

    from ..functions import kernels
    from .extras12 import _pairs

    arr = arrays(Tables(spark, sf_dir).events, "value_micro", ordered=True)
    paired = _pairs(arr, (_QUERY_USER,)).filter(F.col("user_id") == 2)

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            a = np.asarray(row["a"], dtype=np.int64)
            b = np.asarray(row["qa"], dtype=np.int64)
            e = kernels.erp(a, b)
            out.append((row["user_id"], e, round(e / 1e6, 6)))
        return pd.DataFrame(out, columns=["user_id", "erp_micro", "erp"])

    return paired.groupBy("user_id").applyInPandas(
        per_user, schema="user_id bigint, erp_micro bigint, erp double"
    )


# ---------------------------------------------------------------------------
# pipe_span_corruption — T5/UL2-style span-corruption mask statistics
# ---------------------------------------------------------------------------

_SPAN_RATE = 20  # 1-in-20 token positions start a span (~5% starts)
_SPAN_LEN_MIN = 2  # span length in {2,3,4} (mean 3 => ~15% masked)


@query(
    "pipe_span_corruption",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    tok AS (
        SELECT doc_id, LEN(w) AS n_tok,
               UNNEST(generate_series(1, LEN(w))) AS p
        FROM d
    ),
    starts AS (
        SELECT doc_id, n_tok, p,
               {_SPAN_LEN_MIN}
               + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                          || CAST(p AS VARCHAR) || '#L'),
                                      1, 6)) AS INTEGER) % 3 AS len
        FROM tok
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                       || CAST(p AS VARCHAR)),
                                   1, 6)) AS INTEGER)
              % {_SPAN_RATE} = 0
    ),
    masked AS (
        SELECT DISTINCT s.doc_id, g.q AS pos
        FROM starts s,
             LATERAL (SELECT UNNEST(generate_series(
                          s.p, LEAST(s.p + s.len - 1, s.n_tok))) AS q) g
    ),
    runs AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS island
        FROM masked
    ),
    agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_masked,
               CAST(COUNT(DISTINCT island) AS BIGINT) AS n_spans
        FROM runs GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(MAX(t.n_tok) AS BIGINT) AS n_tok,
           COALESCE(MAX(a.n_masked), 0) AS n_masked,
           COALESCE(MAX(a.n_spans), 0) AS n_spans,
           ROUND(COALESCE(MAX(a.n_masked), 0) * 1.0 / MAX(t.n_tok), 6)
               AS mask_ratio
    FROM tok t LEFT JOIN agg a ON a.doc_id = t.doc_id
    GROUP BY t.doc_id
    """,
)
def pipe_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-CORRUPTION MASK STATISTICS (the T5/UL2 denoising-objective
    preprocessing step): deterministic seeded span selection — a token
    position starts a span iff md5(doc#pos) % 20 == 0 (~5% starts),
    span length 2 + md5(doc#pos#L) % 3 (mean 3, so ~15% of tokens
    masked), overlapping spans UNION into maximal runs — per doc the
    token count, masked-token count, merged-span count and mask ratio.
    What a training pipeline audits before materializing a denoising
    dataset: actual corruption rate and span-length geometry after
    overlap merging, not the nominal knobs.

    Exactness: selection and lengths are md5-derived integers
    (identical conv/'0x' evaluation both engines — the emb_cosine_hist
    discipline); span union is the gaps-and-islands integer trick
    (`rel_gaps_islands`); the ratio is the one display float.

    Scale shape: one token explode (repartitioned off the single-file
    fixture), a ~5% start subset fans out x3 positions, one distinct +
    one window + one group — all keyed on doc_id, corpus-linear."""
    t = Tables(spark, sf_dir)
    tok = (
        t.documents.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("p0", "w"),
            F.size(F.split("text", " ")).alias("n_tok"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("p"), "n_tok")
    )
    starts = tok.filter(
        F.expr(
            "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),"
            f" '#', CAST(p AS STRING))), 1, 6), 16, 10) AS INT)"
            f" % {_SPAN_RATE} = 0"
        )
    ).withColumn(
        "len",
        F.expr(
            f"{_SPAN_LEN_MIN} + CAST(conv(substring(md5(concat("
            "CAST(doc_id AS STRING), '#', CAST(p AS STRING), '#L')),"
            " 1, 6), 16, 10) AS INT) % 3"
        ),
    )
    masked = (
        starts.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("p"),
                    F.least(F.col("p") + F.col("len") - 1, F.col("n_tok")),
                )
            ).alias("pos"),
        )
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    agg = (
        masked.withColumn("island", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_masked"),
            F.countDistinct("island").cast("bigint").alias("n_spans"),
        )
    )
    base = tok.groupBy("doc_id").agg(F.max("n_tok").alias("n_tok"))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.col("n_tok").cast("bigint"),
        F.coalesce("n_masked", F.lit(0)).cast("bigint").alias("n_masked"),
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.round(
            F.coalesce("n_masked", F.lit(0)) * 1.0 / F.col("n_tok"), 6
        ).alias("mask_ratio"),
    )


# ---------------------------------------------------------------------------
# emb_norm_hist — squared-norm histogram (embedding QA)
# ---------------------------------------------------------------------------

_NORMH_W2 = 10_000_000_000_000  # squared-norm bin width (micro^2 units)


@query(
    "emb_norm_hist",
    oracle=f"""
    WITH qv AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> ROUND(CAST(x AS DOUBLE) * 1e6)) AS q
        FROM embeddings
    ),
    n2 AS (
        SELECT vec_id,
               CAST(list_dot_product(q, q) AS BIGINT) AS n2
        FROM qv
    )
    SELECT n2 // {_NORMH_W2} AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(n2) AS BIGINT) AS min_n2,
           CAST(MAX(n2) AS BIGINT) AS max_n2
    FROM n2 GROUP BY 1
    """,
)
def emb_norm_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQUARED-NORM HISTOGRAM of the embedding corpus — the second
    geometry QA report beside `emb_cosine_hist`: un-normalized
    encoders drift in norm (norm correlates with token frequency /
    sequence length), and a bimodal or heavy-tailed norm distribution
    breaks dot-product retrieval before cosine ever would.  Binning on
    the SQUARED norm in integer micro^2 units keeps every boundary an
    integer decision (no sqrt anywhere); min/max per bin are exact
    BIGINTs.

    Scale shape: one column-pruned scan + one hash aggregate — the
    cheapest possible corpus pass, map-side combinable."""
    t = Tables(spark, sf_dir)
    qv = t.embeddings.select(
        F.expr(
            "transform(embedding, x -> CAST(ROUND(x * 1e6) AS BIGINT))"
        ).alias("q")
    )
    n2 = qv.select(
        F.aggregate(
            F.zip_with("q", "q", lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n2")
    )
    return n2.groupBy(
        F.expr(f"n2 div {_NORMH_W2}").alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.min("n2").cast("bigint").alias("min_n2"),
        F.max("n2").cast("bigint").alias("max_n2"),
    )


# ---------------------------------------------------------------------------
# rel_try_arithmetic — ANSI-safe (try_*) arithmetic surface
# ---------------------------------------------------------------------------


@query(
    "rel_try_arithmetic",
    oracle="""
    WITH r AS (
        SELECT l_returnflag,
               CASE WHEN l_quantity = 25 THEN NULL
                    ELSE FLOOR(CAST(ROUND(l_extendedprice * 100)
                               AS BIGINT) / (l_quantity - 25))
               END AS safe_ratio
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN safe_ratio IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_div,
           CAST(SUM(CAST(safe_ratio AS BIGINT)) AS BIGINT)
               AS sum_floor_ratio
    FROM r GROUP BY l_returnflag
    """,
)
def rel_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-SAFE ARITHMETIC (`try_divide`) — the error-handling
    surface ANSI mode makes mandatory: cents / (quantity − 25) where
    the divisor hits zero on real rows; `try_divide` yields NULL
    instead of aborting the job, NULLs are counted (the data-quality
    signal) and excluded from the aggregate.  FLOOR of the IEEE
    division makes the summed value integer-exact (single-op division
    is bit-identical cross-engine; summing raw doubles would be
    order-dependent); DuckDB's x/0 = NULL semantics mirror try_divide
    directly, with an explicit CASE guard so the oracle never relies
    on that default.

    Scale shape: pure per-row projection + one hash aggregate."""
    t = Tables(spark, sf_dir)
    cents = F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
    ratio = F.floor(
        F.expr(
            "try_divide(CAST(ROUND(l_extendedprice * 100) AS BIGINT),"
            " l_quantity - 25)"
        )
    )
    return (
        t.lineitem.select("l_returnflag", ratio.alias("safe_ratio"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.col("safe_ratio").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_null_div"),
            F.sum("safe_ratio").cast("bigint").alias("sum_floor_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# pipe_chunk_overlap — sliding-window document chunking (RAG prep)
# ---------------------------------------------------------------------------

_CHUNK_TOK = 64  # tokens per chunk
_CHUNK_STRIDE = 48  # stride (64 - 48 = 16-token overlap)


@query(
    "pipe_chunk_overlap",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST((s.s - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
               array_to_string(
                   list_slice(w, s.s,
                              LEAST(s.s + {_CHUNK_TOK} - 1, LEN(w))),
                   ' ') AS chunk,
               LEAST(s.s + {_CHUNK_TOK} - 1, LEN(w)) - s.s + 1 AS n_tok
        FROM d, LATERAL (
            SELECT UNNEST(generate_series(
                1, GREATEST(LEN(w) - {_CHUNK_TOK} + {_CHUNK_STRIDE}, 1),
                {_CHUNK_STRIDE})) AS s) s
    )
    SELECT doc_id, chunk_id, CAST(n_tok AS BIGINT) AS n_tok,
           md5(chunk) AS chunk_hash
    FROM chunks
    """,
)
def pipe_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-WINDOW DOCUMENT CHUNKING — the RAG/embedding-ingest
    preprocessing step: 64-token chunks at stride 48 (16-token overlap
    so no sentence is orphaned at a boundary), last partial chunk
    kept.  Emits (doc_id, chunk_id, n_tok, md5-of-chunk-text): the
    hash column is the downstream dedup/caching key, and forcing BOTH
    engines to reconstruct the exact chunk STRING (joins, spacing,
    boundary clamps included) is what makes this row a strong oracle
    — any off-by-one in the window arithmetic flips the hash.

    Scale shape: chunk starts generate per doc via ``sequence()`` —
    chunks are born distributed on the doc's partition (the
    traj_resample discipline: no calendar/driver involvement), one
    slice+concat projection each, zero shuffles beyond the scan."""
    t = Tables(spark, sf_dir)
    d = t.documents.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    starts = d.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(
                    F.size("w") - _CHUNK_TOK + _CHUNK_STRIDE, F.lit(1)
                ),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("s"),
    )
    return starts.select(
        "doc_id",
        F.expr(f"CAST((s - 1) div {_CHUNK_STRIDE} AS BIGINT)").alias(
            "chunk_id"
        ),
        (
            F.least(
                F.col("s") + _CHUNK_TOK - 1, F.size("w")
            )
            - F.col("s")
            + 1
        )
        .cast("bigint")
        .alias("n_tok"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    f"slice(w, s, LEAST(s + {_CHUNK_TOK} - 1, size(w))"
                    " - s + 1)"
                ),
            )
        ).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# rel_grouping_id — GROUPING() disambiguation over CUBE
# ---------------------------------------------------------------------------


@query(
    "rel_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def rel_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING_ID over CUBE — the disambiguation surface every
    rollup/cube consumer eventually needs: a NULL in a grouping column
    is ambiguous between "subtotal row" and "group whose key IS NULL";
    GROUPING() is the bitmask that tells them apart (the classic
    silent-bug source in BI extracts).  Emits the 2-bit gid alongside
    the cube aggregate; integer cents keep the row hash-exact.

    Scale shape: one expand + hash aggregate — the `rel_agg_cube` plan
    with one extra literal-derived column, no added shuffle."""
    t = Tables(spark, sf_dir)
    cents = F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
    return (
        t.lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(cents).cast("bigint").alias("cents"),
            (
                F.grouping("l_returnflag") * 2
                + F.grouping("l_linestatus")
            )
            .cast("bigint")
            .alias("gid"),
        )
        .select(
            "l_returnflag", "l_linestatus", "gid", "n_rows", "cents"
        )
    )


# ---------------------------------------------------------------------------
# traj_lcss_pair_2d / traj_edr_pair_2d — 2-D eps-matching, integer-exact
# ---------------------------------------------------------------------------

_EPS2_MICRO2 = 10_000_000 ** 2  # eps = 10.0 plane units, in micro^2


def _series_2d_q_sql() -> str:
    """Micro-quantized 2-D series CTEs in the (time-in-days, value)
    plane — quantization AFTER the same float projection the engine
    computes, so the BIGINT coordinates agree bit-for-bit."""
    return """
    t0 AS (SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0
           FROM events),
    av(i, qx, qy) AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id),
               CAST(ROUND((epoch_us(CAST(ts AS TIMESTAMP))
                           - (SELECT t0 FROM t0)) / 86400000000.0 * 1e6)
                    AS BIGINT),
               CAST(ROUND(value * 1e6) AS BIGINT)
        FROM events WHERE user_id = 2
    ),
    bv(j, qx, qy) AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id),
               CAST(ROUND((epoch_us(CAST(ts AS TIMESTAMP))
                           - (SELECT t0 FROM t0)) / 86400000000.0 * 1e6)
                    AS BIGINT),
               CAST(ROUND(value * 1e6) AS BIGINT)
        FROM events WHERE user_id = 1
    )"""


def _lcss_pair_2d_oracle() -> str:
    from .trajectory import _dp_layers_sql

    combine = (
        "GREATEST("
        "MAX(CASE WHEN cur.age = 1 THEN cur.val + cells.d"
        "         ELSE cur.val END), "
        "MAX(CASE WHEN cells.i = 1 OR cells.k - cells.i = 1"
        "         THEN cells.d ELSE 0 END))"
    )
    cost = (
        "CASE WHEN (av.qx - bv.qx) * (av.qx - bv.qx)"
        " + (av.qy - bv.qy) * (av.qy - bv.qy)"
        f" <= {_EPS2_MICRO2} THEN 1 ELSE 0 END"
    )
    dp = _dp_layers_sql("lcss2_dp", combine, cost)
    return f"""
    WITH RECURSIVE
    {_series_2d_q_sql()},
    {dp},
    nm AS (SELECT (SELECT MAX(i) FROM av) AS n,
                  (SELECT MAX(j) FROM bv) AS m)
    SELECT CAST(2 AS BIGINT) AS user_id,
           CAST((SELECT val FROM lcss2_dp
                 WHERE age = 0 AND k = (SELECT n + m FROM nm)
                   AND i = (SELECT n FROM nm)) AS BIGINT) AS lcss_len,
           ROUND(CAST((SELECT val FROM lcss2_dp
                       WHERE age = 0 AND k = (SELECT n + m FROM nm)
                         AND i = (SELECT n FROM nm)) AS DOUBLE)
                 / (SELECT LEAST(n, m) FROM nm), 6) AS lcss_sim
    """


def _edr_pair_2d_oracle() -> str:
    from .trajectory import _dp_layers_sql

    combine = (
        "LEAST("
        "MIN(CASE WHEN cur.age = 1 THEN cur.val + cells.d"
        "         ELSE cur.val + 1 END), "
        "MIN(CASE WHEN cells.i = 1"
        "         THEN LEAST(cells.k - cells.i - 1 + cells.d,"
        "                    cells.k - cells.i + 1)"
        "         ELSE 1099511627776 END), "
        "MIN(CASE WHEN cells.k - cells.i = 1"
        "         THEN LEAST(cells.i - 1 + cells.d, cells.i + 1)"
        "         ELSE 1099511627776 END))"
    )
    cost = (
        "CASE WHEN (av.qx - bv.qx) * (av.qx - bv.qx)"
        " + (av.qy - bv.qy) * (av.qy - bv.qy)"
        f" <= {_EPS2_MICRO2} THEN 0 ELSE 1 END"
    )
    dp = _dp_layers_sql("edr2_dp", combine, cost)
    return f"""
    WITH RECURSIVE
    {_series_2d_q_sql()},
    {dp},
    nm AS (SELECT (SELECT MAX(i) FROM av) AS n,
                  (SELECT MAX(j) FROM bv) AS m)
    SELECT CAST(2 AS BIGINT) AS user_id,
           CAST((SELECT val FROM edr2_dp
                 WHERE age = 0 AND k = (SELECT n + m FROM nm)
                   AND i = (SELECT n FROM nm)) AS BIGINT) AS edr,
           ROUND(CAST((SELECT val FROM edr2_dp
                       WHERE age = 0 AND k = (SELECT n + m FROM nm)
                         AND i = (SELECT n FROM nm)) AS DOUBLE)
                 / (SELECT GREATEST(n, m) FROM nm), 6) AS edr_norm
    """


@query("traj_lcss_pair_2d", oracle=_lcss_pair_2d_oracle)
def traj_lcss_pair_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LCSS between users 1 and 2 in the (time-in-days, value) PLANE —
    the 2-D completion of the eps-matching tier.  Stronger-than-1-D
    exactness: the Euclidean match decision is the INTEGER comparison
    (dx^2 + dy^2 <= eps^2) on micro-quantized coordinates — the sqrt
    in the 2-D metric never materializes anywhere, unlike the 2-D
    Fréchet/DTW rows whose cells carry float SQRT values."""
    import numpy as np
    import pandas as pd

    from ..functions import kernels
    from .extras12 import _pairs

    arr = arrays(Tables(spark, sf_dir).events, "xy_micro", ordered=True)
    paired = _pairs(arr, (_QUERY_USER,)).filter(F.col("user_id") == 2)

    def refine(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                a = np.stack(
                    [
                        np.asarray(row.xs, dtype=np.int64),
                        np.asarray(row.ys, dtype=np.int64),
                    ],
                    axis=1,
                )
                b = np.stack(
                    [
                        np.asarray(row.qxs, dtype=np.int64),
                        np.asarray(row.qys, dtype=np.int64),
                    ],
                    axis=1,
                )
                ln = kernels.lcss_int2d(a, b, _EPS2_MICRO2)
                ml = min(len(a), len(b))
                out.append((row.user_id, ln, round(ln / ml, 6)))
            yield pd.DataFrame(
                out, columns=["user_id", "lcss_len", "lcss_sim"]
            )

    return paired.mapInPandas(
        refine,
        schema="user_id bigint, lcss_len bigint, lcss_sim double",
    )


@query("traj_edr_pair_2d", oracle=_edr_pair_2d_oracle)
def traj_edr_pair_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDR between users 1 and 2 in the plane — same integer-exact
    Euclidean match decision as ``traj_lcss_pair_2d`` (no sqrt
    anywhere), same virtual-boundary recursive-CTE oracle as the 1-D
    EDR row."""
    import numpy as np
    import pandas as pd

    from ..functions import kernels
    from .extras12 import _pairs

    arr = arrays(Tables(spark, sf_dir).events, "xy_micro", ordered=True)
    paired = _pairs(arr, (_QUERY_USER,)).filter(F.col("user_id") == 2)

    def refine(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                a = np.stack(
                    [
                        np.asarray(row.xs, dtype=np.int64),
                        np.asarray(row.ys, dtype=np.int64),
                    ],
                    axis=1,
                )
                b = np.stack(
                    [
                        np.asarray(row.qxs, dtype=np.int64),
                        np.asarray(row.qys, dtype=np.int64),
                    ],
                    axis=1,
                )
                e = kernels.edr_int2d(a, b, _EPS2_MICRO2)
                ml = max(len(a), len(b))
                out.append((row.user_id, e, round(e / ml, 6)))
            yield pd.DataFrame(
                out, columns=["user_id", "edr", "edr_norm"]
            )

    return paired.mapInPandas(
        refine,
        schema="user_id bigint, edr bigint, edr_norm double",
    )


# ---------------------------------------------------------------------------
# 2-D LCSS / EDR search tier (threshold + kNN) — WEAK rows, brute-pinned
# ---------------------------------------------------------------------------

_EPSM = 10_000_000  # eps in micro units (10.0 plane units)


@query("traj_lcss_threshold_2d", oracle=_lcss_threshold_2d_oracle)
def traj_lcss_threshold_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All users with plane-LCSS similarity >= 0.55 vs the query user —
    the 2-D completion of the LCSS search tier (unbanded: the plane's
    time AXIS already carries the temporal constraint the 1-D banded
    form imposes by index).  The same one-pass
    ``extras12._threshold_search`` as the 1-D row over the kNN twin's
    micro-quantized plane assembly: the lossless matchable-count bound
    skips a row, exact integer membership 20·lcss >= 11·min(n,m); brute
    equality pinned in tests/test_twophase.py."""
    from .extras12 import _threshold_search
    from .extras13 import _LCSS_2D_ROUNDED

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "xy_micro", ordered=True),
        _LCSS_2D_ROUNDED,
        Fraction(-_LCSS_TAU_NUM, _LCSS_TAU_DEN),
    )


@query("traj_lcss_knn_2d", oracle=_lcss_knn_2d_oracle)
def traj_lcss_knn_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by plane-LCSS similarity (DESC, id ties) —
    ``extras12._knn_batch`` with the single query user over the
    micro-quantized plane assembly, pruned by the LOSSLESS
    matchable-count upper bound (matchable >= LCSS_2d); lcss_sim shows
    6 places.  Bit-identical to refine-all, brute pinned in
    tests/test_twophase.py."""
    from .extras12 import _knn_batch
    from .extras13 import _LCSS_2D_ROUNDED

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "xy_micro", ordered=True),
        _LCSS_2D_ROUNDED,
        qids=(_QUERY_USER,),
    ).drop("qid")


@query("traj_edr_threshold_2d", oracle=_edr_threshold_2d_oracle)
def traj_edr_threshold_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All users with normalized plane-EDR <= 0.6 vs the query user —
    ``extras12._threshold_search`` over the kNN twin's micro-quantized
    plane assembly: the lossless lower bound max(|n-m|, max(n,m) -
    matchable) skips a row, integer membership 5·edr <= 3·max(n,m);
    brute pinned."""
    from .extras12 import _threshold_search
    from .extras13 import _EDR_2D_ROUNDED

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "xy_micro", ordered=True),
        _EDR_2D_ROUNDED,
        Fraction(_EDR_TAU_NUM, _EDR_TAU_DEN),
    )


@query("traj_edr_knn_2d", oracle=_edr_knn_2d_oracle)
def traj_edr_knn_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by smallest normalized plane-EDR (ASC, id ties) —
    ``extras12._knn_batch`` with the single query user, pruned by the
    LOSSLESS lower bound max(|n-m|, max(n,m) - matchable); edr_norm
    shows 6 places.  Bit-identical to refine-all, brute pinned in
    tests/test_twophase.py."""
    from .extras12 import _knn_batch
    from .extras13 import _EDR_2D_ROUNDED

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "xy_micro", ordered=True),
        _EDR_2D_ROUNDED,
        qids=(_QUERY_USER,),
    ).drop("qid")


# ---------------------------------------------------------------------------
# ERP search tier (threshold + kNN) — the metric norm bound prunes
# ---------------------------------------------------------------------------

_ERP_TAU_MICRO = 1_600_000_000  # 1600.0 value units in micro


@query("traj_erp_threshold", oracle=_erp_threshold_oracle)
def traj_erp_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All users with ERP <= 1600.0 vs the query user — the metric
    member of the search matrix, as ONE Arrow pass
    (``extras12._threshold_search`` over the kNN twin's micro-quantized
    assembly and measure): the LOSSLESS triangle-inequality norm bound
    (|L1(a) - L1(q)| <= ERP, Chen & Ng) skips a row, the rest refine
    exactly, and membership is the integer comparison erp_micro <=
    tau_micro.  Brute equality pinned in tests/test_twophase.py."""
    from .extras12 import _ERP_1D, _threshold_search

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "value_micro", ordered=True),
        _ERP_1D,
        _ERP_TAU_MICRO,
    )


@query("traj_erp_knn", oracle=_erp_knn_oracle)
def traj_erp_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by ERP — the reference's kNN shape on the metric
    measure as ONE plan, ``extras12._knn_batch`` with the single query
    user: each partition ranks on the exact integer erp_micro, skips a
    candidate whose norm bound |L1(a) - L1(q)| exceeds its running
    k-th ERP (Chen & Ng: ERP >= the bound, so it cannot enter the top
    10) and keeps a local top-k; a window merges them by (erp_micro,
    user_id) — all integer decisions, no driver round-trip.  Brute
    equality pinned in tests/test_twophase.py."""
    from .extras12 import _ERP_1D, _knn_batch

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "value_micro", ordered=True),
        _ERP_1D,
        qids=(_QUERY_USER,),
    ).drop("qid")


# ---------------------------------------------------------------------------
# ERP in the plane: traj_erp_pair_2d (FULL) + threshold/kNN (WEAK)
# ---------------------------------------------------------------------------


def _sql_isqrt(d2: str) -> str:
    """Exact integer floor-sqrt of a non-negative BIGINT SQL expression:
    float-sqrt candidate corrected by +-1 with exact integer compares
    (kernels.isqrt_i64's SQL mirror; identical text runs on Spark SQL
    and DuckDB).  Valid for d2 < isqrt(2^63-1)^2 ~ 9.2e18 (above that
    (s0+1)^2 overflows) — the plane coordinates are micro-quantized
    (time-in-days, value), |q| <= ~6e8, so a coordinate difference can
    reach ~1.2e9 and dx^2+dy^2 tops out near 2.9e18 < 2^62: inside the
    bound with a >3x margin."""
    s0 = f"CAST(FLOOR(SQRT(CAST(({d2}) AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN ({s0} + 1) * ({s0} + 1) <= ({d2}) THEN {s0} + 1"
        f" WHEN {s0} * {s0} > ({d2}) THEN {s0} - 1 ELSE {s0} END)"
    )


def _erp_pair_2d_oracle() -> str:
    # The 1-D _erp_pair_oracle recursion with 2-D costs: match cost
    # isqrt(dx^2 + dy^2), gap cost isqrt(px^2 + py^2) (gap g = the
    # plane origin) — the floor-sqrt keeps every DP cell, INCLUDING
    # the boundary prefix sums, a BIGINT, so the float sqrt that
    # SURVEY flagged as the 2-D ERP blocker never reaches a membership
    # or accumulation decision on either engine.
    big = 1 << 60
    d_expr = _sql_isqrt(
        "(an.qx - bn.qx) * (an.qx - bn.qx)"
        " + (an.qy - bn.qy) * (an.qy - bn.qy)"
    )
    return f"""
    WITH RECURSIVE
    {_series_2d_q_sql()},
    an AS (SELECT i, qx, qy,
                  {_sql_isqrt("qx * qx + qy * qy")} AS nrm FROM av),
    bn AS (SELECT j, qx, qy,
                  {_sql_isqrt("qx * qx + qy * qy")} AS nrm FROM bv),
    pa AS (
        SELECT i, SUM(nrm) OVER (ORDER BY i) AS p,
               COALESCE(SUM(nrm) OVER (ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS pprev
        FROM an
    ),
    pb AS (
        SELECT j, SUM(nrm) OVER (ORDER BY j) AS p,
               COALESCE(SUM(nrm) OVER (ORDER BY j
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS pprev
        FROM bn
    ),
    erp2_dp(k, i, val, age) AS (
        SELECT 2, 1,
               (SELECT LEAST({d_expr}, an.nrm + bn.nrm)
                FROM an, bn WHERE an.i = 1 AND bn.j = 1), 0
        UNION ALL
        (
          WITH cur AS (SELECT * FROM erp2_dp),
          kk AS (SELECT MAX(k) AS k FROM cur),
          cells AS (
              SELECT (SELECT k FROM kk) + 1 AS k, an.i AS i,
                     {d_expr} AS d,
                     an.nrm AS ca, bn.nrm AS cb,
                     pa.p AS pap, pa.pprev AS papp,
                     pb.p AS pbp, pb.pprev AS pbpp
              FROM an
              JOIN bn ON bn.j = (SELECT k FROM kk) + 1 - an.i
              JOIN pa ON pa.i = an.i
              JOIN pb ON pb.j = bn.j
          ),
          newcells AS (
              SELECT cells.k, cells.i,
                     LEAST(
                       MIN(CASE WHEN cur.age = 1
                                THEN cur.val + cells.d
                                WHEN cur.i = cells.i
                                THEN cur.val + cells.cb
                                ELSE cur.val + cells.ca END),
                       MIN(CASE WHEN cells.i = 1
                            THEN LEAST(cells.pbpp + cells.d,
                                       cells.pbp + cells.ca)
                            ELSE {big} END),
                       MIN(CASE WHEN cells.k - cells.i = 1
                            THEN LEAST(cells.papp + cells.d,
                                       cells.pap + cells.cb)
                            ELSE {big} END)
                     ) AS val, 0 AS age
              FROM cells JOIN cur
                ON (cur.age = 0 AND cur.i IN (cells.i - 1, cells.i))
                OR (cur.age = 1 AND cur.i = cells.i - 1)
              GROUP BY cells.k, cells.i, cells.d, cells.ca, cells.cb,
                       cells.pap, cells.papp, cells.pbp, cells.pbpp
          ),
          carry AS (
              SELECT k + 1 AS k, i, val, 1 AS age FROM cur WHERE age = 0
          )
          SELECT k, i, val, age FROM newcells
          UNION ALL
          SELECT k, i, val, age FROM carry
          WHERE (SELECT k FROM kk)
                < (SELECT MAX(i) FROM an) + (SELECT MAX(j) FROM bn)
        )
    )
    SELECT CAST(2 AS BIGINT) AS user_id,
           CAST((SELECT val FROM erp2_dp
                 WHERE age = 0
                   AND k = (SELECT MAX(i) FROM an)
                         + (SELECT MAX(j) FROM bn)
                   AND i = (SELECT MAX(i) FROM an)) AS BIGINT)
               AS erp_micro,
           ROUND((SELECT val FROM erp2_dp
                  WHERE age = 0
                    AND k = (SELECT MAX(i) FROM an)
                          + (SELECT MAX(j) FROM bn)
                    AND i = (SELECT MAX(i) FROM an)) / 1e6, 6) AS erp
    """


@query("traj_erp_pair_2d", oracle=_erp_pair_2d_oracle)
def traj_erp_pair_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERP between users 1 and 2 in the (time-in-days, value) PLANE —
    the 2-D completion of the metric measure (gap g = the origin, the
    standard choice that preserves the triangle inequality).

    Exactness: every match/gap cost is isqrt(dx^2 + dy^2) on
    micro-quantized coordinates — an exact integer (floor of the true
    Euclidean distance in micro units) computed identically on both
    engines via the float-sqrt-candidate +-1 integer correction
    (``kernels.isqrt_i64`` / ``_sql_isqrt``), so the whole DP is
    BIGINT; the one float is the final /1e6 display.

    Scale shape: identical to the other pair rows — two series
    assemblies, one Arrow batch, O(n*m) integer kernel."""
    import numpy as np
    import pandas as pd

    from ..functions import kernels
    from .extras12 import _pairs

    arr = arrays(Tables(spark, sf_dir).events, "xy_micro", ordered=True)
    paired = _pairs(arr, (_QUERY_USER,)).filter(F.col("user_id") == 2)

    def refine(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                a = np.stack(
                    [
                        np.asarray(row.xs, dtype=np.int64),
                        np.asarray(row.ys, dtype=np.int64),
                    ],
                    axis=1,
                )
                b = np.stack(
                    [
                        np.asarray(row.qxs, dtype=np.int64),
                        np.asarray(row.qys, dtype=np.int64),
                    ],
                    axis=1,
                )
                e = kernels.erp_int2d(a, b)
                out.append((row.user_id, e, round(e / 1e6, 6)))
            yield pd.DataFrame(
                out, columns=["user_id", "erp_micro", "erp"]
            )

    return paired.mapInPandas(
        refine, schema="user_id bigint, erp_micro bigint, erp double"
    )


# 1800.0 plane units in micro — between p10 and p25 of the measured
# corpus distances (sf0.01 range 1.58e9..3.33e9, sf0.1 1.40e9..3.23e9),
# so the threshold row is nonempty and selective at both gate scales.
_ERP2D_TAU_MICRO = 1_800_000_000


@query("traj_erp_threshold_2d", oracle=_erp_threshold_2d_oracle)
def traj_erp_threshold_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All users with plane-ERP <= tau vs the query user — the 2-D
    metric threshold search, ``extras12._threshold_search`` over the
    kNN twin's micro-quantized plane assembly: the lossless
    slack-corrected floored-mass bound (``extras13._mass_gap_2d``)
    skips a row, the rest refine exactly, and membership is the
    integer comparison erp_micro <= tau_micro.  Brute equality pinned
    in tests/test_twophase.py."""
    from .extras12 import _threshold_search
    from .extras13 import _ERP_2D

    return _threshold_search(
        arrays(Tables(spark, sf_dir).events, "xy_micro", ordered=True),
        _ERP_2D,
        _ERP2D_TAU_MICRO,
    )


@query("traj_erp_knn_2d", oracle=_erp_knn_2d_oracle)
def traj_erp_knn_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by plane-ERP (ASC, id ties) —
    ``extras12._knn_batch`` with the single query user on the exact
    erp_micro integer, pruned by the lossless slack-corrected mass
    bound (``extras13._mass_gap_2d``).  Bit-identical to refine-all;
    brute pinned in tests/test_twophase.py."""
    from .extras12 import _knn_batch
    from .extras13 import _ERP_2D

    return _knn_batch(
        arrays(Tables(spark, sf_dir).events, "xy_micro", ordered=True),
        _ERP_2D,
        qids=(_QUERY_USER,),
    ).drop("qid")
