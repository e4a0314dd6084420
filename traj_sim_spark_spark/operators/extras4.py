"""Round-4 additions: modern-retrieval and pipeline-hardening operators.

- ``sim_knn_binary``  — 1-BIT binarized ANN: embeddings sign-quantized
  to 64 bits (two 32-bit BIGINT words), Hamming-distance shortlist via
  ``bit_count(xor)``, exact cosine rerank — the binary-quantization
  member of the approximate family (SQ8 shrinks precision to 8 bits,
  PQ to codebook ids, MRL truncates dims; this is the 64x-compression
  extreme every modern vector store ships as its cheap first pass);
- ``sim_hybrid_rrf``  — HYBRID retrieval: lexical token-overlap ranking
  and vector cosine ranking fused by Reciprocal Rank Fusion
  (1/(60+r)), the standard BM25+ANN fusion in RAG stacks — composed
  from the same inverted-index and kNN shapes the engine already
  ships, with the fusion arithmetic bit-deterministic (small-integer
  ranks -> exactly-rounded IEEE divisions, identical expression DAG on
  both engines);
- ``rel_dq_audit``    — the dbt-style data-quality constraint audit:
  uniqueness, referential integrity, null-rate, accepted-range and
  accepted-set checks over the star schema, one verdict row per rule —
  the gate a 100 TB ingest runs before publishing a partition;
- ``sketch_kmv_setops`` — KMV sketch SET ALGEBRA: k-minimum-values
  sketches of two event populations, union/intersection cardinality
  estimated from the merged sketch (inclusion-exclusion on the union
  sketch's Jaccard), exact counterparts beside — deterministic md5
  hashing makes the whole estimator FULL-oracle-checkable
  (``sketch_kmv_distinct``'s single-set row, completed to the algebra
  that makes KMV useful: sketches of partitions merge into sketches of
  unions without rescanning).

Scale notes (100 TB):
- the binary codes are 16 bytes/vector (vs 256 for float32): the
  Hamming pass scans 1/16th the bytes, shortlists via TakeOrdered (no
  global sort), and only the 50-row shortlist touches float vectors;
- hybrid fusion joins two 50-row shortlists — corpus cost is one
  token-postings equi-join (query side broadcast) + one vector scan,
  both linear; the rank windows run over 50-row DataFrames only;
- the DQ audit is one multi-aggregate pass per table plus key-keyed
  anti-joins (Bloom/DPP-prunable at scale); every check emits counts,
  never rows, so the report is O(rules) regardless of table size;
- KMV sketches are 64-row bounded aggregates; partial sketches merge
  map-side (min-of-mins), so population sketches cost one scan and the
  set algebra runs on 128 driver-free rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..tables import Tables

# ---------------------------------------------------------------------------
# sim_knn_binary — 1-bit sign-quantized Hamming shortlist + exact rerank
# ---------------------------------------------------------------------------

_BIN_SHORTLIST = 50
_BIN_K = 10

# DuckDB: embeddings exploded (1-based i), sign codes packed into two
# 32-bit words held in BIGINTs (64 sign bits would overflow the signed
# shift at bit 63).  SUM of distinct powers of two is order-independent
# and exact — the house integer-membership rule for the approximation
# boundary.
_BIN_CODES_SQL = """
    ev AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    codes AS (
        SELECT vec_id,
               SUM(CASE WHEN v >= 0 AND i <= 32
                        THEN CAST(1 AS BIGINT) << (i - 1)
                        ELSE 0 END) AS c_lo,
               SUM(CASE WHEN v >= 0 AND i > 32
                        THEN CAST(1 AS BIGINT) << (i - 33)
                        ELSE 0 END) AS c_hi
        FROM ev GROUP BY vec_id
    )
"""


@query(
    "sim_knn_binary",
    oracle=f"""
    WITH {_BIN_CODES_SQL},
    q AS (SELECT c_lo AS q_lo, c_hi AS q_hi FROM codes WHERE vec_id = 0),
    ham AS (
        SELECT c.vec_id,
               CAST(bit_count(xor(c.c_lo, q.q_lo))
                    + bit_count(xor(c.c_hi, q.q_hi)) AS INTEGER) AS hamming
        FROM codes c, q WHERE c.vec_id <> 0
    ),
    shortlist AS (
        SELECT vec_id, hamming FROM ham
        ORDER BY hamming, vec_id LIMIT {_BIN_SHORTLIST}
    ),
    qv AS (SELECT i, v FROM ev WHERE vec_id = 0),
    qn AS (SELECT SQRT(SUM(v * v)) AS n FROM qv),
    rerank AS (
        SELECT s.vec_id, s.hamming,
               SUM(ev.v * qv.v)
               / (SQRT(SUM(ev.v * ev.v)) * (SELECT n FROM qn)) AS cs
        FROM shortlist s
        JOIN ev ON ev.vec_id = s.vec_id
        JOIN qv ON qv.i = ev.i
        GROUP BY s.vec_id, s.hamming
    )
    SELECT vec_id, hamming, ROUND(cs, 6) + 0.0 AS cos_sim
    FROM rerank
    ORDER BY cs DESC, vec_id
    LIMIT {_BIN_K}
    """,
)
def sim_knn_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-quantized ANN — the 1-bit member of the approximate
    family (beside SQ8 ``sim_knn_sq8``, PQ ``sim_knn_pq``, dimension
    truncation ``sim_knn_mrl``): every embedding collapses to its 64
    sign bits packed in two BIGINT words, the query's Hamming distance
    to every code is two ``bit_count(xor)`` ops, the {_BIN_SHORTLIST}
    Hamming-nearest codes are shortlisted, and exact full-precision
    cosine reranks to top-{_BIN_K}.

    Why it matters at 100 TB: the code table is 16 bytes/vector — a
    1-billion-vector corpus scans 16 GB instead of 256 GB, entirely in
    codegen'd integer ops, and only {_BIN_SHORTLIST} float vectors are
    ever touched. The codes build in one pass (a JVM fold per row — sum
    of distinct powers of two, no shuffle) and at scale persist as a
    narrow sidecar column the cheap pass scans alone (the
    ``sim_knn_mrl`` head-column layout argument).

    Exactness: the approximation boundary (which 50 vectors rerank) is
    decided ENTIRELY by integers (hamming, vec_id) — house membership
    discipline; cosine appears only in the final rerank with the
    established identical-DAG float argument (cf. ``sim_knn``)."""
    from ..functions.vector import cosine, to_double

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", to_double("embedding").alias("emb")
    )
    # SQL-expr folds: shiftleft takes a COLUMN shift amount only in SQL
    # form; sum of distinct powers of two is exact and order-free.
    c_lo = F.expr(
        "aggregate(transform(emb, (x, i) ->"
        " IF(x >= double(0) AND i < 32, shiftleft(1L, i), 0L)),"
        " 0L, (acc, x) -> acc + x)"
    )
    c_hi = F.expr(
        "aggregate(transform(emb, (x, i) ->"
        " IF(x >= double(0) AND i >= 32, shiftleft(1L, i - 32), 0L)),"
        " 0L, (acc, x) -> acc + x)"
    )
    codes = emb.select(
        "vec_id", "emb", c_lo.alias("c_lo"), c_hi.alias("c_hi")
    )
    q = codes.filter(F.col("vec_id") == 0).select(
        F.col("emb").alias("q_emb"),
        F.col("c_lo").alias("q_lo"),
        F.col("c_hi").alias("q_hi"),
    )
    shortlist = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .withColumn(
            "hamming",
            (
                F.bit_count(F.col("c_lo").bitwiseXOR(F.col("q_lo")))
                + F.bit_count(F.col("c_hi").bitwiseXOR(F.col("q_hi")))
            ).cast("int"),
        )
        .orderBy("hamming", "vec_id")
        .limit(_BIN_SHORTLIST)
    )
    return (
        shortlist.withColumn(
            "cos_raw", cosine(F.col("emb"), F.col("q_emb"))
        )
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(_BIN_K)
        .select(
            "vec_id",
            "hamming",
            (F.round("cos_raw", 6) + 0.0).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# sim_hybrid_rrf — lexical + vector retrieval fused by reciprocal rank
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant
_RRF_SHORTLIST = 50
_RRF_TOP = 10


@query(
    "sim_hybrid_rrf",
    oracle=f"""
    WITH qtok AS (
        SELECT DISTINCT t.token
        FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(token)
        WHERE d.doc_id = 0
    ),
    tok AS (
        SELECT d.doc_id, t.token
        FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(token)
        WHERE d.doc_id <> 0
    ),
    lexscore AS (
        SELECT tok.doc_id,
               COUNT(DISTINCT tok.token) AS n_terms,
               COUNT(*) AS n_hits
        FROM tok JOIN qtok USING (token)
        GROUP BY tok.doc_id
    ),
    lex AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY n_terms DESC, n_hits DESC, doc_id
               ) AS INTEGER) AS lex_rank
        FROM (SELECT * FROM lexscore
              ORDER BY n_terms DESC, n_hits DESC, doc_id
              LIMIT {_RRF_SHORTLIST})
    ),
    ev AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    qv AS (SELECT i, v FROM ev WHERE vec_id = 0),
    qn AS (SELECT SQRT(SUM(v * v)) AS n FROM qv),
    dots AS (
        SELECT ev.vec_id,
               SUM(ev.v * qv.v)
               / (SQRT(SUM(ev.v * ev.v)) * (SELECT n FROM qn)) AS cs
        FROM ev JOIN qv USING (i)
        WHERE ev.vec_id <> 0
        GROUP BY ev.vec_id
    ),
    vec AS (
        SELECT vec_id AS doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id)
                    AS INTEGER) AS vec_rank
        FROM (SELECT * FROM dots ORDER BY cs DESC, vec_id
              LIMIT {_RRF_SHORTLIST})
    ),
    fused AS (
        SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
               lex.lex_rank, vec.vec_rank,
               COALESCE(1.0 / ({_RRF_K} + lex.lex_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + vec.vec_rank), 0.0) AS rrf
        FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank, ROUND(rrf, 6) AS rrf_score
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT {_RRF_TOP}
    """,
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval with Reciprocal Rank Fusion — the standard RAG
    stack shape (Elasticsearch/Vespa/Weaviate all ship it): a lexical
    ranking (query-token overlap: distinct terms matched, then total
    hits — an inverted-index scan) and a vector ranking (exact cosine
    kNN, the ``sim_knn`` engine) each shortlist {_RRF_SHORTLIST}, and
    the lists fuse by RRF: score = sum over lists of 1/({_RRF_K}+rank).
    Query = document 0's tokens on the lexical side, vector 0 on the
    dense side (the corpus' linked doc/vec ids).

    Exactness: both RANKINGS are decided by integers or by the
    established identical-DAG cosine ordering; the fusion arithmetic is
    1/(60+r) on SMALL-INTEGER ranks — each division is exactly-rounded
    IEEE with both engines evaluating the same two-term expression, so
    the fused ordering is bit-deterministic (doc_id tie-break).

    Scale shape: the corpus-side costs are one postings equi-join with
    a broadcast query-token list and one vector scan with TakeOrdered —
    both linear, both already the engine's shapes; ranks are assigned
    on {_RRF_SHORTLIST}-row DataFrames (the single-partition window is
    over 50 rows, never the corpus), and the fusion is a 50x50 full
    outer join."""
    t = Tables(spark, sf_dir)
    qtok = (
        t.documents.filter(F.col("doc_id") == 0)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    tok = (
        t.documents.filter(F.col("doc_id") != 0)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )
    lex_short = (
        tok.join(F.broadcast(qtok), "token")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("token").alias("n_terms"),
            F.count("*").alias("n_hits"),
        )
        .orderBy(
            F.col("n_terms").desc(), F.col("n_hits").desc(), "doc_id"
        )
        .limit(_RRF_SHORTLIST)
    )
    lex = lex_short.select(
        "doc_id",
        F.row_number()
        .over(
            W.orderBy(
                F.col("n_terms").desc(), F.col("n_hits").desc(), "doc_id"
            )
        )
        .cast("int")
        .alias("lex_rank"),
    )
    from ..functions.vector import cosine, to_double

    emb = t.embeddings.select(
        "vec_id", to_double("embedding").alias("emb")
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("emb").alias("q_emb")
    )
    vec_short = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .withColumn("cs", cosine(F.col("emb"), F.col("q_emb")))
        .orderBy(F.col("cs").desc(), "vec_id")
        .limit(_RRF_SHORTLIST)
    )
    vec = vec_short.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(W.orderBy(F.col("cs").desc(), "vec_id"))
        .cast("int")
        .alias("vec_rank"),
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")), F.lit(0.0)
    )
    return (
        lex.join(vec, "doc_id", "full_outer")
        .withColumn("rrf", rrf)
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_RRF_TOP)
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


# ---------------------------------------------------------------------------
# rel_dq_audit — dbt-style data-quality constraint audit
# ---------------------------------------------------------------------------


@query(
    "rel_dq_audit",
    oracle="""
    SELECT rule, n_checked, n_violations FROM (
        SELECT 'orders_pk_unique' AS rule,
               COUNT(*) AS n_checked,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'lineitem_fk_orders',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'orders_fk_customer',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'lineitem_qty_range',
               COUNT(*),
               COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 45)
        FROM lineitem
        UNION ALL
        SELECT 'orders_status_domain',
               COUNT(*),
               COUNT(*) FILTER (o_orderstatus NOT IN ('O', 'F'))
        FROM orders
        UNION ALL
        SELECT 'customer_acctbal_nonneg',
               COUNT(*),
               COUNT(*) FILTER (CAST(ROUND(c_acctbal * 100) AS BIGINT) < 0)
        FROM customer
        UNION ALL
        SELECT 'events_props_key',
               COUNT(*),
               COUNT(*) FILTER (json_extract(props, '$.k') IS NULL)
        FROM events
    )
    """,
)
def rel_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY constraint audit — the dbt-test / Deequ shape: one
    verdict row per declared rule with the population checked and the
    violation count. Rules cover the five constraint classes a warehouse
    actually tests: primary-key uniqueness (orders), referential
    integrity (lineitem→orders, orders→customer), accepted numeric range
    (l_quantity in [1, 45] — deliberately tighter than the data so the
    audit exercises non-zero violations), accepted value set
    (o_orderstatus in {{O, F}}: pending 'P' rows surface), sign
    constraints (negative account balances, integer-cent quantized per
    the house rule so the boundary is float-free), and semi-structured
    shape (events.props parses and carries key 'k').

    Scale shape: each single-table rule family folds into ONE
    multi-aggregate pass over its table (conditional counts — map-side
    combinable, no shuffle beyond the final 1-row agg); the two FK
    rules are key-keyed anti-join counts (Bloom/DPP-prunable, and the
    orders→customer probe side broadcasts). The report is O(rules)
    rows regardless of table size — counts, never row dumps, cross the
    network. At 100 TB this runs per ingest partition and the verdict
    rows append to an audit log; a failed rule gates publication."""
    t = Tables(spark, sf_dir)
    orders_pass = t.orders.agg(
        F.count("*").alias("n_checked"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias(
            "pk_violations"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F"), 1).otherwise(0)
        ).alias("status_violations"),
    )
    li_pass = t.lineitem.agg(
        F.count("*").alias("n_checked"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 45), 1
            ).otherwise(0)
        ).alias("range_violations"),
    )
    cust_pass = t.customer.agg(
        F.count("*").alias("n_checked"),
        F.sum(
            F.when(
                F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)") < 0, 1
            ).otherwise(0)
        ).alias("neg_violations"),
    )
    ev_pass = t.events.agg(
        F.count("*").alias("n_checked"),
        F.sum(
            F.when(
                F.get_json_object("props", "$.k").isNull(), 1
            ).otherwise(0)
        ).alias("json_violations"),
    )
    li_orphans = (
        t.lineitem.join(
            t.orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        ).agg(F.count("*").alias("n_violations"))
    )
    li_total = t.lineitem.agg(F.count("*").alias("n_checked"))
    ord_orphans = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        ).agg(F.count("*").alias("n_violations"))
    )
    ord_total = t.orders.agg(F.count("*").alias("n_checked"))

    def row(rule: str, df: DataFrame, v_col: str) -> DataFrame:
        return df.select(
            F.lit(rule).alias("rule"),
            F.col("n_checked").cast("bigint"),
            F.col(v_col).cast("bigint").alias("n_violations"),
        )

    return (
        row("orders_pk_unique", orders_pass, "pk_violations")
        .unionByName(
            row(
                "lineitem_fk_orders",
                li_total.join(li_orphans),
                "n_violations",
            )
        )
        .unionByName(
            row(
                "orders_fk_customer",
                ord_total.join(ord_orphans),
                "n_violations",
            )
        )
        .unionByName(row("lineitem_qty_range", li_pass, "range_violations"))
        .unionByName(
            row("orders_status_domain", orders_pass, "status_violations")
        )
        .unionByName(
            row("customer_acctbal_nonneg", cust_pass, "neg_violations")
        )
        .unionByName(row("events_props_key", ev_pass, "json_violations"))
    )


# ---------------------------------------------------------------------------
# sketch_kmv_setops — KMV sketch set algebra (union / intersection)
# ---------------------------------------------------------------------------

_KSO_K = 64
_KSO_M = 4503599627370495.0  # 2^52 - 1: the 13-hex-digit hash range

# Two token populations: documents split by doc_id parity (the
# deterministic halves convention of emb_drift / pipe_incremental_dedup).
_KSO_HALVES = """
    ta AS (
        SELECT DISTINCT t.token
        FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(token)
        WHERE d.doc_id % 2 = 0
    ),
    tb AS (
        SELECT DISTINCT t.token
        FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(token)
        WHERE d.doc_id % 2 = 1
    ),
    ha AS (SELECT CAST(('0x' || substr(md5(token), 1, 13)) AS BIGINT)
                  AS hv FROM ta),
    hb AS (SELECT CAST(('0x' || substr(md5(token), 1, 13)) AS BIGINT)
                  AS hv FROM tb)
"""


@query(
    "sketch_kmv_setops",
    oracle=f"""
    WITH {_KSO_HALVES},
    ska AS (SELECT hv FROM ha ORDER BY hv LIMIT {_KSO_K}),
    skb AS (SELECT hv FROM hb ORDER BY hv LIMIT {_KSO_K}),
    sku AS (SELECT hv FROM (SELECT hv FROM ska UNION SELECT hv FROM skb)
            ORDER BY hv LIMIT {_KSO_K}),
    stats AS (
        SELECT
            (SELECT MAX(hv) FROM ska) AS kva,
            (SELECT COUNT(*) FROM ska) AS kna,
            (SELECT MAX(hv) FROM skb) AS kvb,
            (SELECT COUNT(*) FROM skb) AS knb,
            (SELECT MAX(hv) FROM sku) AS kvu,
            (SELECT COUNT(*) FROM sku) AS knu,
            (SELECT COUNT(*) FROM sku
             WHERE hv IN (SELECT hv FROM ska)
               AND hv IN (SELECT hv FROM skb)) AS n_both,
            (SELECT COUNT(*) FROM ha) AS exact_a,
            (SELECT COUNT(*) FROM hb) AS exact_b,
            (SELECT COUNT(*) FROM (SELECT hv FROM ha UNION SELECT hv
                                   FROM hb)) AS exact_union,
            (SELECT COUNT(*) FROM ha
             WHERE hv IN (SELECT hv FROM hb)) AS exact_inter
    )
    SELECT CAST({_KSO_K} AS BIGINT) AS k,
           CAST(CASE WHEN kna < {_KSO_K} THEN kna
                     ELSE ROUND(({_KSO_K} - 1) / (kva / {_KSO_M}))
                END AS BIGINT) AS est_a,
           CAST(exact_a AS BIGINT) AS exact_a,
           CAST(CASE WHEN knb < {_KSO_K} THEN knb
                     ELSE ROUND(({_KSO_K} - 1) / (kvb / {_KSO_M}))
                END AS BIGINT) AS est_b,
           CAST(exact_b AS BIGINT) AS exact_b,
           CAST(CASE WHEN knu < {_KSO_K} THEN knu
                     ELSE ROUND(({_KSO_K} - 1) / (kvu / {_KSO_M}))
                END AS BIGINT) AS est_union,
           CAST(exact_union AS BIGINT) AS exact_union,
           CAST(CASE WHEN knu < {_KSO_K} THEN n_both
                     ELSE ROUND((n_both / CAST({_KSO_K} AS DOUBLE))
                                * ROUND(({_KSO_K} - 1) / (kvu / {_KSO_M})))
                END AS BIGINT) AS est_inter,
           CAST(exact_inter AS BIGINT) AS exact_inter
    FROM stats
    """,
)
def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA — what makes the k-minimum-values sketch
    (``sketch_kmv_distinct``) operationally useful at 100 TB: sketches
    of two populations (token vocabularies of the doc_id-parity halves)
    combine WITHOUT rescanning either population. The union sketch is
    the k smallest of the two sketches' union; |A∪B| estimates by the
    same (k−1)/kth-hash estimator; |A∩B| estimates by
    Jaccard-from-the-union-sketch (fraction of union-sketch hashes
    present in both sketches) times the union estimate. Exact
    counterparts computed beside so the error is visible and pinned.

    Degenerate-corpus soundness: when a sketch holds fewer than k
    hashes it IS its population's distinct set, so the estimators
    short-circuit to exact counts (CASE on the sketch fill) — the
    floor-corpus sweep exercises this.

    Exactness: md5-derived 52-bit hashes make every sketch row
    bit-identical cross-engine; the estimator divisions are single
    identical-DAG double expressions rounded once to BIGINT.

    Scale shape: each sketch is a bounded mergeable aggregate (per
    partition keep k smallest, merge keeps k smallest of the union —
    here TakeOrdered); the set algebra then runs on <= 3k rows. The
    corpus-sized work is one explode + distinct per half; everything
    downstream is driver-free joins of 64-row DataFrames."""
    t = Tables(spark, sf_dir)
    tok = t.documents.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    hv = F.conv(F.substring(F.md5("token"), 1, 13), 16, 10).cast("long")

    def half(parity: int) -> DataFrame:
        return (
            tok.filter(F.col("doc_id") % 2 == parity)
            .select(F.col("token"))
            .distinct()
            .select(hv.alias("hv"))
        )

    ha, hb = half(0), half(1)
    ska = ha.orderBy("hv").limit(_KSO_K)
    skb = hb.orderBy("hv").limit(_KSO_K)
    sku = ska.union(skb).distinct().orderBy("hv").limit(_KSO_K)
    n_both = (
        sku.join(ska.withColumnRenamed("hv", "hv_a"),
                 F.col("hv") == F.col("hv_a"), "left_semi")
        .join(skb.withColumnRenamed("hv", "hv_b"),
              F.col("hv") == F.col("hv_b"), "left_semi")
        .agg(F.count("*").alias("n_both"))
    )
    exact_inter = (
        ha.join(hb, "hv", "left_semi").agg(F.count("*").alias("exact_inter"))
    )
    exact_union = (
        ha.union(hb).distinct().agg(F.count("*").alias("exact_union"))
    )

    def sk_stats(sk: DataFrame, tag: str) -> DataFrame:
        return sk.agg(
            F.max("hv").alias(f"kv{tag}"), F.count("*").alias(f"kn{tag}")
        )

    def est(kv: str, kn: str):
        return (
            F.when(F.col(kn) < _KSO_K, F.col(kn))
            .otherwise(
                F.round((_KSO_K - 1) / (F.col(kv) / F.lit(_KSO_M)))
            )
            .cast("long")
        )

    stats = (
        sk_stats(ska, "a")
        .join(sk_stats(skb, "b"))
        .join(sk_stats(sku, "u"))
        .join(n_both)
        .join(ha.agg(F.count("*").alias("exact_a")))
        .join(hb.agg(F.count("*").alias("exact_b")))
        .join(exact_union)
        .join(exact_inter)
    )
    est_u = est("kvu", "knu")
    return stats.select(
        F.lit(_KSO_K).cast("long").alias("k"),
        est("kva", "kna").alias("est_a"),
        F.col("exact_a").cast("long"),
        est("kvb", "knb").alias("est_b"),
        F.col("exact_b").cast("long"),
        est_u.alias("est_union"),
        F.col("exact_union").cast("long"),
        F.when(F.col("knu") < _KSO_K, F.col("n_both"))
        .otherwise(
            F.round((F.col("n_both") / F.lit(float(_KSO_K))) * est_u)
        )
        .cast("long")
        .alias("est_inter"),
        F.col("exact_inter").cast("long"),
    )


# ---------------------------------------------------------------------------
# traj_zorder_layout — Z-order (Morton) interleaved layout + rectangle probe
# ---------------------------------------------------------------------------

_ZO_VCELL = 5.0  # fine value-axis cell for the z key (vs 50.0 dirs)
_ZO_D_LO, _ZO_D_HI = 5, 19  # probe: absolute day cells day0+[5, 19]
_ZO_V_LO, _ZO_V_HI = 8, 17  # probe: vcells [8, 17] == value in [40, 90)


def _zorder_path(sf_dir: str) -> str:
    from ..sources.readers import staging_dir

    return os.path.join(staging_dir(sf_dir, "zorder"), "events")


def _write_zorder_layout(spark: SparkSession, sf_dir: str) -> str:
    """Events rewritten in Z-ORDER (Morton) of (epoch-day, value-cell):
    the bits of the two dimensions interleave into one sort key, so ONE
    within-file sort clusters BOTH axes — the Delta/Iceberg OPTIMIZE
    ZORDER technique, and the no-directory-explosion alternative to the
    2-D partition grid (``traj_range_window_2d_idx``): a fine grid as
    directories would mean day x band tiny partitions; z-sort keeps one
    file set and lets Parquet ROW-GROUP min/max stats on the plain
    dcell/vcell columns do the pruning, because z-locality bounds both
    columns' ranges within any contiguous row run."""
    from ..sources.readers import layout_current, stamp_layout

    path = _zorder_path(sf_dir)
    if layout_current(path, sf_dir):
        return path
    t = Tables(spark, sf_dir)
    # 16-bit Morton interleave, JVM-side integer ops only.  The z key
    # is layout-internal (a sort key, never an output), so it needs no
    # oracle mirror.
    terms = []
    for b in range(16):
        terms.append(
            f"shiftleft(shiftright(dlow, {b}) & 1, {2 * b + 1})"
        )
        terms.append(f"shiftleft(shiftright(vlow, {b}) & 1, {2 * b})")
    z = F.expr(" + ".join(terms))
    ev = (
        t.events.withColumn(
            "dcell", F.expr("unix_micros(ts) div 86400000000")
        )
        .withColumn(
            "vcell",
            F.floor(F.col("value") / F.lit(_ZO_VCELL)).cast("bigint"),
        )
        .withColumn("dlow", F.expr("dcell & 65535"))
        .withColumn("vlow", F.expr("vcell & 65535"))
        .withColumn("z", z)
        .drop("dlow", "vlow")
    )
    (
        ev.repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(path)
    )
    stamp_layout(path, sf_dir)
    return path


@query(
    "traj_zorder_layout",
    oracle=f"""
    WITH t0 AS (
        SELECT CAST(FLOOR(MIN(epoch_us(CAST(ts AS TIMESTAMP))) / 86400e6)
                    AS BIGINT) AS day0
        FROM events
    ),
    cells AS (
        SELECT user_id,
               CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                    AS BIGINT) AS dcell,
               CAST(FLOOR(value / {_ZO_VCELL}) AS BIGINT) AS vcell
        FROM events
    )
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(COUNT(DISTINCT c.dcell) AS BIGINT) AS n_days,
           CAST(COUNT(DISTINCT c.vcell) AS BIGINT) AS n_cells
    FROM cells c, t0
    WHERE c.dcell BETWEEN t0.day0 + {_ZO_D_LO} AND t0.day0 + {_ZO_D_HI}
      AND c.vcell BETWEEN {_ZO_V_LO} AND {_ZO_V_HI}
    GROUP BY c.user_id
    """,
)
def traj_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER data skipping made a first-class query: the corpus is
    rewritten once in Morton order of (epoch-day, value-cell) — ONE
    sort key clustering BOTH axes — and a (time-window x value-band)
    rectangle probe then reads it with BOTH predicates pushed to the
    Parquet scan, where row-group min/max stats on dcell/vcell skip
    every row group whose z-run lies outside the rectangle.

    This is the third and most scale-honest member of the multi-dim
    layout family: the value-only partition dirs
    (``traj_layout_cells``), the (day x band) directory grid
    (``traj_range_window_2d_idx`` — perfect pruning but directory
    count = grid size), and Z-ORDER — constant file count at ANY grid
    fineness, pruning by statistics instead of directories, which is
    exactly how Delta/Iceberg OPTIMIZE ZORDER ships it at 100 TB
    (directories explode; sorted statistics don't).

    Membership is integer-exact on both engines: the rectangle is
    decided on the stored integer cells (dcell/vcell), never on raw
    floats; day0 is one driver scalar (the global-index working-set
    footprint). The oracle recomputes the same cells from the source
    table — the hash proves the rewrite+probe loop lossless."""
    t = Tables(spark, sf_dir)
    path = _write_zorder_layout(spark, sf_dir)
    day0 = (
        t.events.agg(
            F.expr("min(unix_micros(ts)) div 86400000000").alias("d")
        ).head()["d"]
    )
    ev = spark.read.parquet(path).filter(
        (F.col("dcell") >= day0 + _ZO_D_LO)
        & (F.col("dcell") <= day0 + _ZO_D_HI)
        & (F.col("vcell") >= _ZO_V_LO)
        & (F.col("vcell") <= _ZO_V_HI)
    )
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_points"),
        F.countDistinct("dcell").alias("n_days"),
        F.countDistinct("vcell").alias("n_cells"),
    )


# ---------------------------------------------------------------------------
# graph_label_prop — synchronous majority label propagation (3 rounds)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    # co-movement edge CTEs (the graph family's shared definition),
    # then _LPA_ROUNDS unrolled synchronous majority updates.
    ctes = [
        """
    b AS (
        SELECT user_id,
               CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400e6)
                    AS BIGINT) AS dy,
               MIN(value) AS v
        FROM events GROUP BY 1, 2
    ),
    e AS MATERIALIZED (
        SELECT a.user_id u, c.user_id v
        FROM b a JOIN b c
          ON a.dy = c.dy AND a.user_id < c.user_id
         AND ABS(a.v - c.v) <= 1.0
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ),
    und AS (SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e),
    lbl0 AS (SELECT DISTINCT s AS user_id, s AS lbl FROM und)"""
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        ctes.append(f"""
    nl{r} AS (
        SELECT und.s, l.lbl, COUNT(*) AS c
        FROM und JOIN lbl{r - 1} l ON l.user_id = und.t
        GROUP BY und.s, l.lbl
    ),
    lbl{r} AS (
        SELECT s AS user_id, lbl FROM (
            SELECT s, lbl,
                   ROW_NUMBER() OVER (PARTITION BY s
                                      ORDER BY c DESC, lbl) AS rk
            FROM nl{r}
        ) WHERE rk = 1
    )""")
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT user_id, CAST(lbl AS BIGINT) AS label
    FROM lbl{_LPA_ROUNDS}
    """
    )


@query("graph_label_prop", oracle=_lpa_oracle)
def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL PROPAGATION community detection (Raghavan et al.) over the
    co-movement graph — the near-linear community extractor beside the
    structure algorithms (CC finds connected pieces; LPA finds DENSE
    pieces inside them, which ``graph_modularity`` can then score):
    every node starts as its own label and, for {rounds} SYNCHRONOUS
    rounds, adopts the most frequent label among its neighbors.

    Determinism (classic LPA is run-order-dependent — useless for an
    oracle): updates are SYNCHRONOUS (round r reads only round r-1,
    the Jacobi convention of ``graph_pagerank``) and ties break to the
    SMALLEST label — every round is then a pure function of the edge
    set, identical on any engine/partitioning.

    Scale shape: each round is one edges⋈labels equi-join (labels are
    node-sized, the PageRank broadcast-vs-shuffle dispatch argument
    applies) + one (node, label) hash agg + one per-node argmax window
    partitioned by node — all linear in |E|; lineage localCheckpoint'd
    per round like every iterative op in the repo.""".format(
        rounds=_LPA_ROUNDS
    )
    from pyspark.sql import Window as W2

    from .mining import comovement_edges

    e = comovement_edges(spark, sf_dir)
    und = e.select(
        F.col("u").alias("s"), F.col("v").alias("t")
    ).unionByName(e.select(F.col("v").alias("s"), F.col("u").alias("t")))
    # Width adaptation in BOTH directions (the connected_components
    # iteration-economics rule, plus its converse): per-round scheduling
    # overhead says SHRINK partitions for small graphs, but a dense
    # graph (the 20x clone probe grows co-movement edges quadratically —
    # clones co-locate pairwise) must GROW them, or the edge
    # materialization concentrates one giant in-memory block and OOMs
    # (found by the round-4 20x probe). One partition per ~1M directed
    # edges, floor 1, cap 512.
    n_edges = und.count()
    parts = max(1, min(512, n_edges // 1_000_000 + 1))
    und = und.repartition(parts, "s").localCheckpoint()
    lbl = und.select(F.col("s").alias("user_id")).distinct().select(
        "user_id", F.col("user_id").alias("lbl")
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        lbl = _lpa_rounds(und, lbl)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    return lbl.select("user_id", F.col("lbl").cast("bigint").alias("label"))


def _lpa_rounds(und: DataFrame, lbl: DataFrame) -> DataFrame:
    from pyspark.sql import Window as W2

    for _ in range(_LPA_ROUNDS):
        nl = (
            und.join(
                lbl.select(
                    F.col("user_id").alias("t"), F.col("lbl")
                ),
                "t",
            )
            .groupBy("s", "lbl")
            .agg(F.count("*").alias("c"))
        )
        rk = F.row_number().over(
            W2.partitionBy("s").orderBy(F.col("c").desc(), "lbl")
        )
        lbl = (
            nl.withColumn("rk", rk)
            .filter(F.col("rk") == 1)
            .select(F.col("s").alias("user_id"), "lbl")
            .localCheckpoint()
        )
    return lbl


# ---------------------------------------------------------------------------
# mm_header_parse — fixed-offset binary header fields in pure SQL
# ---------------------------------------------------------------------------


def _hdr_sql(expr_byte) -> dict[str, str]:
    """Shared fixed-offset header layout over a byte accessor."""
    magic = " + ".join(
        f"{expr_byte(j + 1)} * {256 ** (3 - j)}" for j in range(4)
    )
    version = f"{expr_byte(5)} * 256 + {expr_byte(6)}"
    checksum = " + ".join(expr_byte(j + 1) for j in range(16))
    return {"magic": magic, "version": version, "checksum": checksum}


@query(
    "mm_header_parse",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, rpad(text, 16, ' ') AS buf,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    )
    SELECT doc_id,
           CAST({_hdr_sql(lambda i: f"ascii(substr(buf, {i}, 1))")["magic"]}
                AS BIGINT) AS magic,
           CAST({_hdr_sql(lambda i: f"ascii(substr(buf, {i}, 1))")["version"]}
                AS INTEGER) AS version,
           CAST(n_bytes AS BIGINT) AS payload_len,
           CAST({_hdr_sql(lambda i: f"ascii(substr(buf, {i}, 1))")["checksum"]}
                AS BIGINT) AS checksum16
    FROM p
    """,
)
def mm_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-OFFSET binary header parsing in pure SQL — the container
    sniffing / EXIF-style metadata pass a multimodal pipeline runs
    before any decode: bytes 1-4 as a big-endian 32-bit "magic" word,
    bytes 5-6 as a 16-bit version, total payload length, and an
    additive checksum of the 16-byte header. No UDF: byte access is
    ``ascii(substr(...))`` (the repo's byte-level SQL mirror — the
    fixture payload is pure ASCII, so byte == code point), integer
    shifts are literal multiplications, and short payloads are
    space-padded so every offset is defined (floor-corpus-sound).

    Why it earns a row: real binary columns are parsed for routing
    (JPEG vs PNG vs WAV) and integrity (checksums) BEFORE the expensive
    Arrow decode hop — doing it in codegen'd JVM expressions means the
    router never leaves the scan stage, and at 100 TB the magic-word
    filter prunes entire row groups when payloads are format-sorted."""
    t = Tables(spark, sf_dir)
    byte = lambda i: f"ascii(substr(buf, {i}, 1))"  # noqa: E731
    parts = _hdr_sql(byte)
    return (
        t.documents.select(
            "doc_id",
            F.expr("rpad(text, 16, ' ')").alias("buf"),
            F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
        )
        .select(
            "doc_id",
            F.expr(parts["magic"]).cast("bigint").alias("magic"),
            F.expr(parts["version"]).cast("int").alias("version"),
            F.col("n_bytes").cast("bigint").alias("payload_len"),
            F.expr(parts["checksum"]).cast("bigint").alias("checksum16"),
        )
    )


# ---------------------------------------------------------------------------
# rel_agg_mode_disc — MODE and discrete percentile per group
# ---------------------------------------------------------------------------


@query(
    "rel_agg_mode_disc",
    oracle="""
    WITH qc AS (
        SELECT l_returnflag, l_quantity, COUNT(*) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    mode AS (
        SELECT l_returnflag, l_quantity AS mode_qty, c AS n_mode FROM (
            SELECT l_returnflag, l_quantity, c,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                      ORDER BY c DESC, l_quantity) AS rk
            FROM qc
        ) WHERE rk = 1
    ),
    ranked AS (
        SELECT l_returnflag, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ),
    med AS (
        SELECT l_returnflag,
               ROUND(l_extendedprice, 6) AS p50_price_disc
        FROM ranked
        WHERE rn = CAST(CEIL(n * 0.5) AS BIGINT)
    )
    SELECT mode.l_returnflag, mode.mode_qty, CAST(mode.n_mode AS BIGINT)
               AS n_mode,
           med.p50_price_disc
    FROM mode JOIN med USING (l_returnflag)
    """,
)
def rel_agg_mode_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE and DISCRETE percentile — the two order statistics the D
    family lacked: ``percentile_disc`` returns an ACTUAL data value
    (the smallest value whose cumulative share reaches the fraction —
    required when the quantile must be a real observed price, where
    ``rel_agg_percentile``'s continuous variant interpolates values
    that never occurred), and mode is the most frequent value with a
    smallest-value tie-break.

    Exactness: both are SELECTIONS, not arithmetic — the outputs are
    stored doubles passed through untouched, so no float operation can
    diverge; ranks and counts are integers.

    Scale shape: mode = one (group, value) hash agg + one per-group
    argmax window over the REDUCED table (distinct values, not rows);
    percentile_disc = one window sort per group — the same shape
    Spark's own percentile_disc uses, written explicitly so the
    tie-break and the position formula (ceil(0.5 n)) are pinned."""
    from pyspark.sql import Window as W2

    t = Tables(spark, sf_dir)
    qc = t.lineitem.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("c")
    )
    mode = (
        qc.withColumn(
            "rk",
            F.row_number().over(
                W2.partitionBy("l_returnflag").orderBy(
                    F.col("c").desc(), "l_quantity"
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("c").cast("bigint").alias("n_mode"),
        )
    )
    ranked = t.lineitem.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number()
        .over(
            W2.partitionBy("l_returnflag").orderBy("l_extendedprice")
        )
        .alias("rn"),
        F.count("*")
        .over(W2.partitionBy("l_returnflag"))
        .alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.ceil(F.col("n") * 0.5).cast("bigint")
    ).select(
        "l_returnflag",
        F.round("l_extendedprice", 6).alias("p50_price_disc"),
    )
    return mode.join(med, "l_returnflag")


# ---------------------------------------------------------------------------
# traj_viterbi_map_match — HMM (Viterbi) route conformance, FULL oracle
# ---------------------------------------------------------------------------

_VIT_LAMBDA = 1000  # transition penalty per segment-index step (cost units)
_VIT_Q = 1  # the route trajectory


def _vit_oracle() -> str:
    """Recursive-CTE Viterbi over observation index t: layer t carries
    the per-(user, segment) best path cost; the lambda*|dr| transition
    collapses to two prefix-min window passes (the distance-transform
    identity min_{r'}(c(r') + L*|r - r'|) = min(fwd, bwd) with
    fwd = L*r + running_min(c - L*r), bwd mirrored) — so each layer is
    O(states) with window functions, never an O(states^2) join. The
    emission cost reuses the segment family's exact integer
    point-to-segment kernel (extras3._SQL_D2), quantized once by
    FLOOR(d2 / 1e12) — a deterministic integer on both engines because
    the d2 double comes from exact integers in an identical DAG."""
    from .extras3 import _SQL_D2

    lam = _VIT_LAMBDA
    return f"""
    WITH RECURSIVE t0 AS (
        SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events
    ),
    p AS (
        SELECT user_id,
               (epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT t0 FROM t0))
                   // 86400 AS x,
               CAST(ROUND(value * 1e6) AS BIGINT) AS y,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS seq
        FROM events
    ),
    s AS (
        SELECT * FROM (
            SELECT user_id, seq, x AS x1, y AS y1,
                   LEAD(x) OVER (PARTITION BY user_id ORDER BY seq) AS x2,
                   LEAD(y) OVER (PARTITION BY user_id ORDER BY seq) AS y2
            FROM p
        ) WHERE x2 IS NOT NULL
    ),
    qs AS MATERIALIZED (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY seq) AS BIGINT) AS r,
               x1, y1, x2, y2
        FROM s WHERE user_id = {_VIT_Q}
    ),
    obs AS MATERIALIZED (
        SELECT user_id, seq AS t, x, y FROM p WHERE user_id <> {_VIT_Q}
    ),
    tmax AS MATERIALIZED (
        SELECT user_id, MAX(t) AS tm FROM obs GROUP BY 1
    ),
    vit(user_id, t, r, c) AS (
        SELECT a.user_id, 1, b.r,
               CAST(FLOOR(({_SQL_D2}) / 1e12) AS BIGINT)
        FROM (SELECT * FROM obs WHERE t = 1) a CROSS JOIN qs b
        UNION ALL
        (
          WITH cur AS (SELECT * FROM vit),
          fwd AS (
              SELECT user_id, r,
                     {lam} * r + MIN(c - {lam} * r) OVER (
                         PARTITION BY user_id ORDER BY r
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS m
              FROM cur
          ),
          bwd AS (
              SELECT user_id, r,
                     -{lam} * r + MIN(c + {lam} * r) OVER (
                         PARTITION BY user_id ORDER BY r DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS m
              FROM cur
          ),
          trans AS (
              SELECT fwd.user_id, fwd.r, LEAST(fwd.m, bwd.m) AS m
              FROM fwd JOIN bwd ON bwd.user_id = fwd.user_id
                               AND bwd.r = fwd.r
          )
          SELECT a.user_id, a.t, b.r,
                 CAST(FLOOR(({_SQL_D2}) / 1e12) AS BIGINT) + tr.m
          FROM (SELECT o.* FROM obs o
                JOIN (SELECT DISTINCT user_id, t + 1 AS nt FROM cur) nx
                  ON nx.user_id = o.user_id AND nx.nt = o.t) a
          CROSS JOIN qs b
          JOIN trans tr ON tr.user_id = a.user_id AND tr.r = b.r
        )
    ),
    fin AS (
        SELECT v.user_id, v.r, v.c, tm.tm
        FROM vit v JOIN tmax tm ON tm.user_id = v.user_id
                               AND v.t = tm.tm
    ),
    best AS (SELECT user_id, MIN(c) AS total_cost FROM fin GROUP BY 1)
    SELECT f.user_id, CAST(f.tm AS BIGINT) AS n_points,
           b.total_cost,
           CAST(MIN(f.r) AS BIGINT) AS end_seg
    FROM fin f JOIN best b ON b.user_id = f.user_id
                          AND f.c = b.total_cost
    GROUP BY f.user_id, f.tm, b.total_cost
    """


@query("traj_viterbi_map_match", oracle=_vit_oracle)
def traj_viterbi_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HMM MAP-MATCHING (Viterbi decode) against the reference route —
    the second stage of every production GPS map-matcher, upgrading
    ``traj_map_match``'s independent nearest-segment snaps with the
    smoothness prior that makes matching robust to noisy fixes: path
    cost = sum over observations of (exact integer point-to-segment
    emission cost) + lambda * |segment-index jump| between consecutive
    observations. Output per corpus user: optimal alignment cost (the
    route-conformance score), observation count, and the path's end
    segment (min-cost tie -> smallest index).

    Exactness (a DP row with a FULL oracle — beyond the Fréchet/DTW
    searches, whose oracles are pytest-side recursions): emissions
    reuse the segment family's integer d² kernel quantized by
    FLOOR(d²/1e12) (identical-DAG double from exact integers -> same
    integer everywhere), transitions are integer, so every DP cell is
    a BIGINT; the DuckDB oracle runs the IDENTICAL recursion as a
    recursive CTE, with the lambda*|dr| min-convolution collapsed to
    two prefix-min passes (distance-transform identity) so each
    recursion layer is O(states), not O(states^2).

    Scale shape: the route (~66 segments) broadcasts to every
    executor; the corpus streams ONCE through a per-user Arrow
    ``applyInPandas`` kernel that is O(T x S) integer NumPy per user
    with the same two-pass min-convolution — no pairwise joins, no
    driver loops; the only shuffle is the user_id grouping the
    trajectory family always pays [P §4.3 dual-store argument]."""
    import numpy as np
    import pandas as pd

    from .extras3 import _segs_int
    from .planes import arrays, corpus_t0, points

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
    n_seg = len(route)
    lam = _VIT_LAMBDA

    schema = (
        "user_id long, n_points long, total_cost long, end_seg long"
    )

    def user_cost(user_id, X, Y):
        dx, dy = x2 - x1, y2 - y1
        ab2 = dx * dx + dy * dy
        axb = X[:, None] - x1[None, :]
        ayb = Y[:, None] - y1[None, :]
        dot = dx[None, :] * axb + dy[None, :] * ayb
        # endpoint cases: exact int64 sums cast to double (same rounding
        # as DuckDB's CAST(HUGEINT AS DOUBLE)); interior: double cross^2
        # over double ab2 — the extras3 kernel's DAG, verbatim
        d2_a = (axb * axb + ayb * ayb).astype(np.float64)
        axe = X[:, None] - x2[None, :]
        aye = Y[:, None] - y2[None, :]
        d2_b = (axe * axe + aye * aye).astype(np.float64)
        cross = dx[None, :] * ayb - dy[None, :] * axb
        crossf = cross.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            d2_i = crossf * crossf / ab2.astype(np.float64)[None, :]
        case_a = (ab2[None, :] == 0) | (dot <= 0)
        case_b = (~case_a) & (dot >= ab2[None, :])
        d2 = np.where(case_a, d2_a, np.where(case_b, d2_b, d2_i))
        d2c = np.floor(d2 / 1e12).astype(np.int64)
        r = np.arange(1, n_seg + 1, dtype=np.int64)
        c = d2c[0].copy()
        for ti in range(1, len(X)):
            fwd = lam * r + np.minimum.accumulate(c - lam * r)
            bwd = -lam * r + np.minimum.accumulate(
                (c + lam * r)[::-1]
            )[::-1]
            c = d2c[ti] + np.minimum(fwd, bwd)
        total = int(c.min())
        end_seg = int(r[c == total].min())
        return (int(user_id), len(X), total, end_seg)

    def kernel(batches):
        for pdf in batches:
            if n_seg == 0:  # degenerate route: no matchable states
                yield pd.DataFrame(
                    columns=[
                        "user_id", "n_points", "total_cost", "end_seg"
                    ]
                )
                continue
            out = [
                user_cost(
                    row.user_id,
                    np.asarray(row.xs, dtype=np.int64),
                    np.asarray(row.ys, dtype=np.int64),
                )
                for row in pdf.itertuples()
            ]
            yield pd.DataFrame(
                out,
                columns=["user_id", "n_points", "total_cost", "end_seg"],
            )

    # one assembly + mapInPandas instead of per-user applyInPandas:
    # 1.5k tiny groups each paid a pandas group-frame + sort; the
    # ordered arrays come from the one grouping shuffle and the kernel
    # loops rows (guide §4.1: batch the boundary, not the groups)
    arr = arrays(t.events, "seg_micro", ordered=True).filter(
        F.col("user_id") != _VIT_Q
    )
    return arr.mapInPandas(kernel, schema)


# ---------------------------------------------------------------------------
# emb_dedup_threshold_sweep — semantic-dedup calibration table
# ---------------------------------------------------------------------------


@query(
    "emb_dedup_threshold_sweep",
    oracle="""
    WITH cfg AS (
        SELECT CASE WHEN n < 2000 THEN 4
                    WHEN n < 50000 THEN 8
                    WHEN n < 1600000 THEN 12
                    ELSE 16 END AS w
        FROM (SELECT COUNT(*) AS n FROM embeddings)
    ),
    ev AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    sig AS (
        SELECT vec_id,
               STRING_AGG(CASE WHEN v >= 0 THEN '1' ELSE '0' END, ''
                          ORDER BY i) AS bucket
        FROM ev WHERE i <= (SELECT w FROM cfg)
        GROUP BY vec_id
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               SUM(ea.v * eb.v)
               / (SQRT(SUM(ea.v * ea.v)) * SQRT(SUM(eb.v * eb.v))) AS cs
        FROM sig a
        JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        JOIN ev ea ON ea.vec_id = a.vec_id
        JOIN ev eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
        GROUP BY a.vec_id, b.vec_id
    ),
    banded AS (
        SELECT CAST(FLOOR(ROUND(cs, 6) * 10) AS BIGINT) AS band,
               CAST(ROUND(cs * 1e6) AS BIGINT) AS csq,
               cs
        FROM pairs
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(MIN(cs), 6) + 0.0 AS min_cos,
           ROUND(MAX(cs), 6) + 0.0 AS max_cos,
           ROUND(SUM(csq) / COUNT(*) / 1e6, 6) + 0.0 AS avg_cos
    FROM banded
    GROUP BY band
    """,
)
def emb_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC-DEDUP CALIBRATION — the threshold-picking table for the
    embedding-cosine dedup path (``pipe_dedup_semantic`` ships tau=0.4;
    this row is how a pipeline CHOOSES that number, the embedding twin
    of ``text_minhash_estimate``): every LSH-bucketed candidate pair's
    exact cosine, histogrammed into 0.1-wide similarity bands with
    count / min / max / mean per band. Reading it down the bands shows
    where the near-duplicate mass separates from background similarity
    — the knee picks tau.

    Exactness: band membership is FLOOR over the ALREADY-ROUNDED cosine
    (identical-DAG double on both engines — no fresh boundary); the
    per-band mean uses micro-quantized integer sums (house rule: never
    average raw floats), one display division at the end.

    Scale shape: the sign-LSH bucket WIDTH is corpus-derived, not
    fixed (the mm_phash_nn occupancy discipline): expected bucket
    occupancy is corpus/2^W, so at any fixed W in-bucket candidate
    pairs grow quadratically with the corpus — the width ladder
    (W = 4 below 2000 vectors, 8 below 50k, 12 below 1.6M, 16 beyond)
    keeps occupancy, and with it per-bucket pair volume, bounded at
    every rung, mirrored in the oracle's corpus-count CASE so both
    engines take the same side (sf0.01 exercises W=4, sf0.1 W=8, the
    20x clone probe W=8 at 40k vectors). Candidate recall shifts
    openly at each rung — the standard LSH width trade, and this row
    is a calibration HISTOGRAM, not a dedup verdict. Output is <= 20
    rows at any corpus size."""
    from ..functions.vector import dot, norm2, to_double
    from ..tables import parquet_row_count

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", to_double("embedding").alias("emb")
    )
    n_vec = parquet_row_count(spark, sf_dir, "embeddings")
    if n_vec < 2000:
        width = 4
    elif n_vec < 50000:
        width = 8
    elif n_vec < 1600000:
        width = 12
    else:
        width = 16
    bucket = F.expr(
        f"concat_ws('', transform(slice(emb, 1, {width}),"
        " x -> IF(x >= double(0), '1', '0')))"
    )
    # per-vector L2 norm once per ROW before the pair join (guide §4.1,
    # the `_emb_lsh_pairs` cure: higher-order folds are not codegen'd,
    # so dot + both norms per PAIR was 2/3 redundant; `norm2` here is
    # the identical fold on the identical array -> the same IEEE double
    # -> `dot/(nrm_a*nrm_b)` is bit-equal to the old cosine())
    sig = emb.select(
        "vec_id", "emb", bucket.alias("bucket"), norm2("emb").alias("nrm")
    )
    a = sig.select(
        F.col("vec_id").alias("id_a"),
        F.col("emb").alias("ea"),
        F.col("nrm").alias("nrm_a"),
        "bucket",
    )
    b = sig.select(
        F.col("vec_id").alias("id_b"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nrm_b"),
        "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cs",
            dot(F.col("ea"), F.col("eb"))
            / (F.col("nrm_a") * F.col("nrm_b")),
        )
    )
    return (
        pairs.select(
            F.floor(F.round(F.col("cs"), 6) * 10)
            .cast("bigint")
            .alias("band"),
            F.round(F.col("cs") * 1e6).cast("bigint").alias("csq"),
            "cs",
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_pairs"),
            (F.round(F.min("cs"), 6) + 0.0).alias("min_cos"),
            (F.round(F.max("cs"), 6) + 0.0).alias("max_cos"),
            (
                F.round(F.sum("csq") / F.count("*") / 1e6, 6) + 0.0
            ).alias("avg_cos"),
        )
    )


# ---------------------------------------------------------------------------
# text_containment_neardup — containment-coefficient near-dup pairs
# ---------------------------------------------------------------------------

_CONT_NUM, _CONT_DEN = 1, 2  # containment threshold 0.5 as a ratio
_CONT_SH = 3  # word-shingle width for the containment sets


def _containment_oracle() -> str:
    from .text import _MINHASH_ORACLE_BANDS, _MINHASH_ORACLE_SIG

    return f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
    tok AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + {_CONT_SH - 1}), ' ')
                   AS token
        FROM d, LATERAL (SELECT UNNEST(generate_series(
                             1, LEN(w) - {_CONT_SH - 1})) AS i) g
    ),
    sig AS (SELECT doc_id, {_MINHASH_ORACLE_SIG} FROM tok
            GROUP BY doc_id),
    bands AS ({_MINHASH_ORACLE_BANDS}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_common
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.id_a
        JOIN tok tb ON tb.doc_id = c.id_b AND tb.token = ta.token
        GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           ROUND(i.n_common / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6)
               AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE {_CONT_DEN} * i.n_common >= {_CONT_NUM} * LEAST(sa.n, sb.n)
    """


@query("text_containment_neardup", oracle=_containment_oracle)
def text_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-duplication — the asymmetric relation Jaccard
    misses: containment = |A∩B| / min(|A|, |B|) over distinct 3-word
    SHINGLE sets flags a document largely EMBEDDED in another
    (boilerplate-wrapped reposts, quote-heavy derivatives, truncated
    mirrors) even when size imbalance keeps Jaccard = |∩|/|∪| low —
    Broder's second resemblance measure, completing the near-dup
    family (token-Jaccard / MinHash / SimHash ship the |∪|-normalized
    one). Shingles, not unigrams: over a shared vocabulary every small
    token SET nests trivially (measured: ~30%% of all pairs at 0.9
    unigram containment vs 25 true pairs at 0.5 shingle containment),
    so word n-grams are what make the measure discriminative.

    Candidates come from the SAME MinHash banding discipline as the
    Jaccard path, built over the shingle sets (sketch recall — a
    containment-high but Jaccard-low outlier can evade Jaccard-tuned
    bands; the scale path for that regime is size-stratified banding,
    noted not needed at fixture skew). Membership is integer-exact:
    {den}·|∩| ≥ {num}·min cross-multiplied, one display division.

    Scale shape: band equi-join + shortlist-only shingle join — never
    all-pairs; shingle build is the shared pre-exploded JVM builder."""
    from .text import _minhash_cols

    t = Tables(spark, sf_dir)
    toks = F.split("text", " ")
    n = _CONT_SH
    shingles = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tok = (
        t.documents.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(shingles).alias("token"))
        .distinct()
    )
    sig = tok.groupBy("doc_id").agg(*_minhash_cols())
    from .text_ext import _lsh_candidates

    cand = _lsh_candidates(sig)
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(
            tok.select(F.col("doc_id").alias("id_a"), "token"), "id_a"
        )
        .join(
            tok.select(F.col("doc_id").alias("id_b"), "token"),
            ["id_b", "token"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    mn = F.least(F.col("na"), F.col("nb"))
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"),
                         F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"),
                         F.col("n").alias("nb")),
            "id_b",
        )
        .filter(
            F.lit(_CONT_DEN) * F.col("n_common") >= F.lit(_CONT_NUM) * mn
        )
        .select(
            "id_a",
            "id_b",
            F.col("n_common").cast("bigint"),
            F.round(F.col("n_common") / mn.cast("double"), 6).alias(
                "containment"
            ),
        )
    )


# ---------------------------------------------------------------------------
# pipe_dedup_funnel — the corpus dedup pipeline as a stage report
# ---------------------------------------------------------------------------


def _dedup_funnel_oracle() -> str:
    from ..registry import _LAZY_ORACLES, ORACLES
    from . import pipelines  # noqa: F401  (register pipe_neardup_dedup)
    from . import text  # noqa: F401  (register text_exact_dedup)
    from . import text_ext  # noqa: F401  (register pipe_dedup_semantic)

    def _sql(key: str) -> str:
        # a composed-FROM oracle may itself be lazy and not yet
        # resolved (load_all drains _LAZY_ORACLES in arbitrary order)
        return ORACLES[key] if key in ORACLES else _LAZY_ORACLES[key]()

    ex = _sql("text_exact_dedup")
    nd = _sql("pipe_neardup_dedup")
    sem = _sql("pipe_dedup_semantic")
    return f"""
    WITH tot AS (SELECT COUNT(*) AS n FROM documents),
    ex AS MATERIALIZED ({ex}),
    nd AS MATERIALIZED ({nd}),
    sem AS MATERIALIZED ({sem}),
    e AS MATERIALIZED (SELECT keep_id AS doc_id FROM ex),
    m AS MATERIALIZED (SELECT doc_id FROM e
          WHERE doc_id IN (SELECT doc_id FROM nd WHERE keep = 1)),
    s AS MATERIALIZED (SELECT doc_id FROM m
          WHERE doc_id IN (SELECT doc_id FROM sem WHERE kept)),
    ne AS (SELECT COUNT(*) AS n FROM e),
    nm AS (SELECT COUNT(*) AS n FROM m),
    ns AS (SELECT COUNT(*) AS n FROM s)
    SELECT * FROM (
        SELECT 'exact' AS stage,
               CAST((SELECT n FROM tot) AS BIGINT) AS n_in,
               CAST((SELECT n FROM tot) - (SELECT n FROM ne) AS BIGINT)
                   AS n_dropped,
               CAST((SELECT n FROM ne) AS BIGINT) AS n_out
        UNION ALL
        SELECT 'minhash',
               CAST((SELECT n FROM ne) AS BIGINT),
               CAST((SELECT n FROM ne) - (SELECT n FROM nm) AS BIGINT),
               CAST((SELECT n FROM nm) AS BIGINT)
        UNION ALL
        SELECT 'semantic',
               CAST((SELECT n FROM nm) AS BIGINT),
               CAST((SELECT n FROM nm) - (SELECT n FROM ns) AS BIGINT),
               CAST((SELECT n FROM ns) AS BIGINT)
    )
    """


@query("pipe_dedup_funnel", oracle=_dedup_funnel_oracle)
def pipe_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DEDUP FUNNEL — the three dedup tiers composed into
    the per-stage attrition report every data-curation run publishes
    (what fraction did exact dedup remove? what did MinHash add on
    top? what did semantic dedup catch that lexical methods missed?):
    exact content hash → MinHash near-dup → embedding semantic dedup,
    each stage's keep flags from its REGISTERED builder (and the
    oracle from the registered oracle SQL — the ``sim_ann_recall``
    discipline: the audited plans are the shipped plans). Stage flags
    are computed corpus-wide and applied sequentially, so each row's
    n_dropped attributes documents to the FIRST tier that catches
    them.

    Scale shape: cost = the three underlying dedup pipelines (each
    already bucketed/LSH-shaped, never all-pairs) + three semi-joins
    on doc_id; output is 3 rows at any corpus size.

    REP-LEVEL COLLAPSE (round 12, guide §2.4): the exact tier's keep
    set {min doc_id per content group} IS the rep set of the MinHash
    tier's exact-group collapse, and the MinHash keep flag is only 1
    on an un-dropped rep — so the three per-document left joins (one
    of them re-joining the corpus on full TEXT) reduce to ONE
    aggregate over the rep relation: n0 = Σ group sizes, n1 = #reps,
    n2 = #reps not LSH-dropped, n3 = additionally semantic-kept (docs
    without an embedding are kept, exactly the registered tier's
    left-join null semantics).  Each tier's decision still comes from
    its REGISTERED body (`pipelines._neardup_dropped_reps`,
    `text_ext._semantic_flags` — the same helpers the registered
    queries execute); the unchanged composed oracle re-certifies the
    equivalence on every gate run."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from .pipelines import _neardup_dropped_reps
    from .text_ext import _semantic_flags

    t = Tables(spark, sf_dir)
    # the semantic chain's eager materialization (embedding-group
    # checkpoint) is independent of the text chain's two — overlap the
    # two builder chains from a driver thread (guide §2.6) so the
    # serial checkpoint jobs back-fill each other
    with ThreadPoolExecutor(max_workers=1) as pool:
        sem_f = pool.submit(
            inheritable_thread_target(spark)(
                lambda: _semantic_flags(spark, sf_dir)
            )
        )
        groups = (
            t.documents.groupBy("text")
            .agg(F.min("doc_id").alias("rep"), F.count("*").alias("n_docs"))
            .localCheckpoint()
        )
        dropped_reps = _neardup_dropped_reps(spark, groups)
        sem = sem_f.result().withColumnRenamed("doc_id", "rep")
    flags = (
        groups.select("rep", "n_docs")
        .join(F.broadcast(dropped_reps), "rep", "left")
        .join(F.broadcast(sem), "rep", "left")
    )
    kept_m = F.col("rep_dropped").isNull()
    kept_s = kept_m & ~F.coalesce(F.col("dropped"), F.lit(False))
    row = flags.agg(
        F.sum("n_docs").alias("n0"),
        F.count("*").alias("n1"),
        F.count(F.when(kept_m, 1)).alias("n2"),
        F.count(F.when(kept_s, 1)).alias("n3"),
    ).head()
    n0, n1, n2, n3 = row["n0"], row["n1"], row["n2"], row["n3"]
    rows = [
        ("exact", n0, n0 - n1, n1),
        ("minhash", n1, n1 - n2, n2),
        ("semantic", n2, n2 - n3, n3),
    ]
    return spark.createDataFrame(
        rows, "stage string, n_in long, n_dropped long, n_out long"
    )


# ---------------------------------------------------------------------------
# sim_ann_recall_matrix — recall@10 across the whole approximate family
# ---------------------------------------------------------------------------

# (row label, registry key, id column in that key's output).  Every
# shipped ANN shape, one row each; all answer the same query vector 0.
# The NSW row scores the DISTINCT visited-node set of the greedy
# navigation chain (its output is the hop trace, not a top-k list).
_RECALL_METHODS = (
    ("ivf_centroid", "sim_knn_ivf_centroid", "vec_id"),
    ("sq8", "sim_knn_sq8", "vec_id"),
    ("binary", "sim_knn_binary", "vec_id"),
    ("mrl_prefix", "sim_knn_mrl", "vec_id"),
    # round 12: the remaining shipped shapes (r11 verdict depth item)
    ("pq_adc", "sim_knn_pq", "vec_id"),
    ("ivfpq_adc", "sim_knn_ivfpq", "vec_id"),
    ("rp_tree", "emb_rp_tree_knn", "vec_id"),
    # the NSW chain's node column is already aliased vec_id; DISTINCT
    # collapses stay-put repeats in the hop trace
    ("nsw_greedy", "sim_knn_graph_greedy", "vec_id"),
)


def _recall_matrix_oracle() -> str:
    from ..registry import _LAZY_ORACLES, ORACLES
    from . import extras9  # noqa: F401
    from . import similarity  # noqa: F401
    from . import similarity_ext  # noqa: F401

    def _sql(key: str) -> str:
        return ORACLES[key] if key in ORACLES else _LAZY_ORACLES[key]()

    exact = _sql("sim_knn")
    parts = []
    for name, key, col in _RECALL_METHODS:
        ann = f"SELECT DISTINCT {col} AS vec_id FROM ({_sql(key)})"
        parts.append(f"""
        SELECT '{name}' AS method,
               COUNT(e.vec_id) AS n_exact,
               CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
               ROUND(COUNT(a.vec_id) / CAST(COUNT(e.vec_id) AS DOUBLE),
                     6) AS recall
        FROM ex e LEFT JOIN ({ann}) a ON e.vec_id = a.vec_id""")
    return (
        f"WITH ex AS MATERIALIZED ({exact}) SELECT * FROM ("
        + " UNION ALL ".join(parts)
        + ")"
    )


@query("sim_ann_recall_matrix", oracle=_recall_matrix_oracle)
def sim_ann_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN EVAL MATRIX: recall@10 of EVERY approximate tier the
    engine ships — IVF-centroid probe, SQ8 scalar quantization, 1-bit
    binary codes, MRL prefix truncation, and (round 12) PQ asymmetric-
    distance, IVF+PQ, the RP-tree space partition, and the NSW greedy
    graph search — against the exact scan, in one report
    (``sim_ann_recall`` generalized from one method to the family;
    this is the accuracy/compression frontier table a 100 TB index
    choice is made from). Composed from the REGISTERED builders and
    their registered oracle SQL, so what is measured is exactly what
    ships.

    Ground truth is the engine's flagship exact-cosine top-10
    (``sim_knn``) for every row — including the L2-metric tiers
    (PQ/IVFPQ/RP-tree): their recall measures end-to-end
    substitutability for the flagship workload, metric mismatch
    included, which is the number an index choice actually needs.
    The NSW row counts exact neighbors TOUCHED by the navigation
    chain (distinct visited nodes), its natural coverage statistic.

    Scale shape: cost = the eight underlying kNN queries (each already
    scale-shaped: broadcast query, TakeOrdered, integer-decided
    approximation boundaries) + eight <=10x10 broadcast joins; 8 rows
    out at any corpus size."""
    from ..registry import QUERIES

    exact = (
        QUERIES["sim_knn"](spark, sf_dir).select("vec_id").localCheckpoint()
    )
    out = None
    for name, key, col in _RECALL_METHODS:
        ann = (
            QUERIES[key](spark, sf_dir)
            .select(F.col(col).alias("a_vec_id"))
            .distinct()
        )
        row = (
            exact.join(
                F.broadcast(ann),
                exact.vec_id == F.col("a_vec_id"),
                "left",
            )
            .agg(
                F.lit(name).alias("method"),
                F.count("vec_id").alias("n_exact"),
                F.count("a_vec_id").alias("n_hit"),
                F.round(
                    F.count("a_vec_id")
                    / F.count("vec_id").cast("double"),
                    6,
                ).alias("recall"),
            )
            .select("method", "n_exact", "n_hit", "recall")
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# rel_equidepth_hist — equi-depth histogram / range-partition boundaries
# ---------------------------------------------------------------------------

_EQD_BINS = 16


@query(
    "rel_equidepth_hist",
    oracle=f"""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice,
               NTILE({_EQD_BINS}) OVER (
                   PARTITION BY l_returnflag ORDER BY l_extendedprice
               ) AS bin
        FROM lineitem
    )
    SELECT l_returnflag, CAST(bin AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(l_extendedprice), 6) AS lo,
           ROUND(MAX(l_extendedprice), 6) AS hi
    FROM ranked
    GROUP BY l_returnflag, bin
    """,
)
def rel_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram per group — the dual of the equi-WIDTH
    ``sketch_quantile_hist``, and the table behind RANGE PARTITIONING:
    the bin boundaries ARE the split points ``repartitionByRange``
    needs (equal row counts per partition regardless of value skew),
    and the CBO's histogram statistics use exactly this shape.

    Determinism with duplicate values: NTILE's bin SIZES are a pure
    function of n (floor distribution, first n mod k bins one larger),
    and although WHICH duplicate of a boundary-straddling value lands
    in which bin depends on tie order, the per-bin (count, min, max)
    aggregates are invariant under any such ordering — duplicates are
    adjacent in sort order, so a straddling value is bin i's max and
    bin i+1's min either way. Outputs are value SELECTIONS (no float
    arithmetic).

    Scale shape: one window sort per group — the exact pass a planner
    runs per partition-candidate column on a SAMPLE; at 100 TB the
    boundaries come from exactly this query over the sample table
    (which is how Spark's own RangePartitioner computes them), then
    binning is a map-side comparison against the broadcast split
    points."""
    from pyspark.sql import Window as W2

    t = Tables(spark, sf_dir)
    ranked = t.lineitem.select(
        "l_returnflag",
        "l_extendedprice",
        F.ntile(_EQD_BINS)
        .over(
            W2.partitionBy("l_returnflag").orderBy("l_extendedprice")
        )
        .alias("bin"),
    )
    return ranked.groupBy("l_returnflag", "bin").agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("l_extendedprice"), 6).alias("lo"),
        F.round(F.max("l_extendedprice"), 6).alias("hi"),
    )


# ---------------------------------------------------------------------------
# pipe_mix_temperature — temperature-scaled multilingual mixing quotas
# ---------------------------------------------------------------------------

_MIXT_BUDGET = 5000  # global token budget across languages
# alpha = 0.5: weight = sqrt(tokens) — the mT5/XLM-R temperature that
# upsamples low-resource languages without letting them dominate


@query(
    "pipe_mix_temperature",
    oracle=f"""
    WITH counts AS (
        SELECT lang,
               CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY lang
    ),
    w AS (
        SELECT lang, n_tokens,
               CAST(ROUND(SQRT(n_tokens) * 1e6) AS BIGINT) AS wq
        FROM counts
    ),
    tot AS (SELECT SUM(wq) AS sw FROM w),
    quota AS (
        SELECT w.lang, w.n_tokens,
               CAST(({_MIXT_BUDGET} * w.wq) // (SELECT sw FROM tot)
                    AS BIGINT) AS quota_tokens
        FROM w
    ),
    d AS (
        SELECT doc_id, lang,
               CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tok,
               md5(text) AS h
        FROM documents
    ),
    cum AS (
        SELECT doc_id, lang, n_tok,
               SUM(n_tok) OVER (PARTITION BY lang
                                ORDER BY h, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS c
        FROM d
    ),
    taken AS (
        SELECT cum.lang,
               COUNT(*) AS n_docs_taken,
               SUM(cum.n_tok) AS n_tokens_taken
        FROM cum JOIN quota ON quota.lang = cum.lang
        WHERE cum.c <= quota.quota_tokens
        GROUP BY cum.lang
    )
    SELECT q.lang, q.n_tokens, q.quota_tokens,
           CAST(COALESCE(t.n_docs_taken, 0) AS BIGINT) AS n_docs_taken,
           CAST(COALESCE(t.n_tokens_taken, 0) AS BIGINT)
               AS n_tokens_taken
    FROM quota q LEFT JOIN taken t ON t.lang = q.lang
    """,
)
def pipe_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED language mixing — the multilingual data-mix
    recipe mT5/XLM-R standardized: per-language token budgets
    proportional to n^alpha with alpha = 0.5, so low-resource
    languages are upsampled relative to their share without letting
    the head language starve them (``pipe_token_budget`` fills FIXED
    quotas; this row COMPUTES the quotas from the corpus itself, then
    fills them deterministically in content-hash order).

    Exactness (the reason this is hash-checkable at all): the weight
    sqrt(n) is micro-quantized to a BIGINT immediately (single
    identical-DAG double -> integer), so the weight SUM is exact
    integer arithmetic (a raw float sum over languages would be
    summation-order-dependent), and each quota is an integer floor
    division of integers. Selection is the token-budget window cumsum
    with integer membership (cum <= quota).

    Scale shape: one token-count agg, a 5-row quota table broadcast,
    one per-lang window cumsum over hash order — `pipe_token_budget`'s
    cost with a computed quota side."""
    from pyspark.sql import Window as W2

    t = Tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        F.md5("text").alias("h"),
    )
    counts = d.groupBy("lang").agg(F.sum("n_tok").alias("n_tokens"))
    w = counts.select(
        "lang",
        "n_tokens",
        F.round(F.sqrt("n_tokens") * 1e6).cast("bigint").alias("wq"),
    )
    tot = w.agg(F.sum("wq").alias("sw"))
    quota = w.join(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        F.expr(f"({_MIXT_BUDGET} * wq) div sw").alias("quota_tokens"),
    )
    cum = d.withColumn(
        "c",
        F.sum("n_tok").over(
            W2.partitionBy("lang")
            .orderBy("h", "doc_id")
            .rowsBetween(W2.unboundedPreceding, W2.currentRow)
        ),
    )
    taken = (
        cum.join(F.broadcast(quota.select("lang", "quota_tokens")), "lang")
        .filter(F.col("c") <= F.col("quota_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs_taken"),
            F.sum("n_tok").alias("n_tokens_taken"),
        )
    )
    return quota.join(taken, "lang", "left").select(
        "lang",
        "n_tokens",
        "quota_tokens",
        F.coalesce("n_docs_taken", F.lit(0)).cast("bigint").alias(
            "n_docs_taken"
        ),
        F.coalesce("n_tokens_taken", F.lit(0)).cast("bigint").alias(
            "n_tokens_taken"
        ),
    )


# ---------------------------------------------------------------------------
# text_ngram_novelty — first-occurrence novelty fraction per document
# ---------------------------------------------------------------------------

_NOV_SH = 3  # word-shingle width


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
    sh AS (
        SELECT doc_id,
               array_to_string(list_slice(w, i, i + {_NOV_SH - 1}), ' ')
                   AS shingle
        FROM d, LATERAL (SELECT UNNEST(generate_series(
                             1, LEN(w) - {_NOV_SH - 1})) AS i) g
    ),
    first_doc AS (
        SELECT shingle, MIN(doc_id) AS fd FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) FILTER (f.fd = sh.doc_id) AS BIGINT)
               AS n_novel,
           ROUND(COUNT(*) FILTER (f.fd = sh.doc_id)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM sh JOIN first_doc f ON f.shingle = sh.shingle
    GROUP BY sh.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY per document — what fraction of a doc's 3-word
    shingle POSITIONS introduce a shingle the corpus has not seen in
    any earlier document (doc_id order = ingest order): the dataset
    diversity curve data teams plot to decide when additional crawl
    stops adding information, and the per-doc signal that separates
    generative content from recombined boilerplate
    (``text_boilerplate`` measures cross-doc repetition mass; this is
    its complement, attributing each shingle to its FIRST document).

    Exactness: first-occurrence is an integer MIN over doc_id, counts
    are integers, the ratio is one display division.

    Scale shape: ``text_boilerplate``'s exact join discipline — the
    shingle table aggregates to (shingle, first_doc) BEFORE joining
    back (fan-out exactly 1, never a doc-doc pair join); both sides
    cluster on the shingle key."""
    t = Tables(spark, sf_dir)
    toks = F.split("text", " ")
    n = _NOV_SH
    shingles = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = t.documents.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id", F.explode(shingles).alias("shingle")
    )
    first_doc = sh.groupBy("shingle").agg(F.min("doc_id").alias("fd"))
    novel = (F.col("fd") == F.col("doc_id")).cast("int")
    return (
        sh.join(first_doc, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(
                F.sum(novel) / F.count("*").cast("double"), 6
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# rel_join_lateral — correlated LATERAL subquery join (top-N per row)
# ---------------------------------------------------------------------------


@query(
    "rel_join_lateral",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey,
           ROUND(o.o_totalprice, 6) AS o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             LIMIT 2) o
    WHERE c.c_custkey <= 200
    """,
)
def rel_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED LATERAL join — the remaining join modality (beside
    equi/theta/semi/anti/as-of/interval): each outer row drives its own
    correlated subquery ("this customer's top-2 orders by value"), the
    SQL-standard way to express per-row top-N without first ranking
    the entire inner table. Spark 4 plans LATERAL subqueries natively
    (decorrelating to a ranked join under the hood — exactly the
    `rel_topk_pergroup` window plan, chosen by Catalyst instead of
    hand-written), and DuckDB executes the identical statement, so the
    surface AND the semantics are pinned cross-engine.

    Deterministic: total tie-break (o_totalprice DESC, o_orderkey) in
    the correlated ORDER BY; price is a selection, rounded once on
    output. Scale shape: the decorrelated plan is a per-key window
    over the join of the (bounded) outer slice — never a per-row
    re-scan of orders."""
    t = Tables(spark, sf_dir)
    t.customer.createOrReplaceTempView("__lat_cust")
    t.orders.createOrReplaceTempView("__lat_ord")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey,
               ROUND(o.o_totalprice, 6) AS o_totalprice
        FROM __lat_cust c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM __lat_ord
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 2) o
        WHERE c.c_custkey <= 200
        """
    )


# ---------------------------------------------------------------------------
# rel_sql_frontend — the pure-SQL multi-CTE entry surface
# ---------------------------------------------------------------------------

_SQLF_STMT = """
    WITH region_nations AS (
        SELECT n.n_nationkey, n.n_name
        FROM __sqlf_nation n
        JOIN __sqlf_region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = (SELECT MIN(r_name) FROM __sqlf_region)
    ),
    revenue AS (
        SELECT rn.n_name,
               SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
                   AS rev_micro
        FROM region_nations rn
        JOIN __sqlf_cust c ON c.c_nationkey = rn.n_nationkey
        JOIN __sqlf_ord o ON o.o_custkey = c.c_custkey
        JOIN __sqlf_li l ON l.l_orderkey = o.o_orderkey
        GROUP BY rn.n_name
    )
    SELECT n_name,
           CAST(rev_micro AS BIGINT) AS rev_micro,
           CAST(RANK() OVER (ORDER BY rev_micro DESC, n_name)
                AS INTEGER) AS rev_rank
    FROM revenue
"""


@query(
    "rel_sql_frontend",
    oracle=_SQLF_STMT.replace("__sqlf_nation", "nation")
    .replace("__sqlf_region", "region")
    .replace("__sqlf_cust", "customer")
    .replace("__sqlf_ord", "orders")
    .replace("__sqlf_li", "lineitem"),
)
def rel_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL FRONT-END surface in one statement: tables registered as
    views, then a single multi-CTE ANSI statement (scalar subquery +
    4-table star join + grouped aggregation + window rank — the TPC-H
    Q5 shape) planned entirely by ``spark.sql``. Most registry rows
    exercise the DataFrame API; this row pins that the textual SQL
    path — what BI tools and ad-hoc users actually send — resolves,
    optimizes (predicate pushdown through the CTEs, broadcast of the
    dimension chain) and executes to the same bit-exact result as
    DuckDB running the IDENTICAL statement (one string, two engines).

    Exactness: revenue is integer-cent x integer-percent arithmetic
    (the `rel_agg_basic` discipline) — exact BIGINTs, no float sums.

    Scale shape: Catalyst's own choices — region/nation/customer
    broadcast down the chain, lineitem scans once with the join filter
    pushed; the rank window runs over <= 25 rows."""
    t = Tables(spark, sf_dir)
    t.nation.createOrReplaceTempView("__sqlf_nation")
    t.region.createOrReplaceTempView("__sqlf_region")
    t.customer.createOrReplaceTempView("__sqlf_cust")
    t.orders.createOrReplaceTempView("__sqlf_ord")
    t.lineitem.createOrReplaceTempView("__sqlf_li")
    return spark.sql(_SQLF_STMT)
