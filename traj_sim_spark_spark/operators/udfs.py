"""M. UDF / UDAF / UDTF surface (SURVEY.md §2.2-M).

Every Python-extension mechanism the engine supports, each verified
against a pure-SQL twin where semantics allow:

- ``udf_scalar_pandas``   — vectorized scalar pandas_udf (Arrow batches)
- ``udf_agg_pandas``      — GROUPED_AGG pandas UDAF
- ``udf_grouped_map``     — applyInPandas grouped-map transform
- ``udtf_segmentize``     — Python UDTF (lateral table function)
- ``udf_map_arrow``       — mapInArrow (raw RecordBatches, no pandas)

Row-at-a-time Python UDFs are deliberately absent: the engine's rule is
Arrow-vectorized or JVM built-in (SURVEY.md §4, O11).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query
from ..tables import Tables
from .planes import arrays


@query(
    "udf_scalar_pandas",
    oracle="""
    WITH ev AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    q AS (SELECT i, v FROM ev WHERE vec_id = 0)
    SELECT ev.vec_id,
           ROUND(SUM(ev.v * q.v)
                 / (SQRT(SUM(ev.v * ev.v)) * SQRT(SUM(q.v * q.v))), 6) + 0.0
               AS cos_sim
    FROM ev JOIN q USING (i)
    GROUP BY ev.vec_id
    """,
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized cosine as a scalar pandas_udf.

    Same result as the higher-order-function twin (``sim_*``) — this row
    exists to verify the Arrow UDF path itself. The query vector rides
    into the closure (one 64-float constant, serialized once per task —
    the broadcast-variable pattern at trivial size)."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    q_vec = np.asarray(
        emb.filter(F.col("vec_id") == 0).select("embedding").head()[0],
        dtype=np.float64,
    )
    qn = float(np.sqrt((q_vec * q_vec).sum()))

    @F.pandas_udf(T.DoubleType())
    def cos_to_q(s: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(x, dtype=np.float64) for x in s])
        return pd.Series(
            (m @ q_vec) / (np.sqrt((m * m).sum(axis=1)) * qn)
        )

    return emb.select(
        "vec_id", (F.round(cos_to_q("embedding"), 6) + 0.0).alias("cos_sim")
    )


@query(
    "udf_agg_pandas",
    oracle="""
    SELECT event_type,
           ROUND(SUM(value * CAST(json_extract_string(props, '$.k') AS INTEGER))
                 / SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6)
               AS wmean
    FROM events
    GROUP BY event_type
    """,
)
def udf_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom weighted-mean UDAF (GROUPED_AGG pandas_udf), weights drawn
    from the JSON props — oracle is the algebraic SQL identity."""
    t = Tables(spark, sf_dir)

    @F.pandas_udf(T.DoubleType())
    def wmean(v: pd.Series, w: pd.Series) -> float:
        sw = w.sum()
        # SQL division by zero yields NULL, not NaN — match it so the
        # oracle comparison holds on a group whose weights sum to 0.
        if sw == 0:
            return None
        return float((v * w).sum() / sw)

    ev = t.events.withColumn(
        "w", F.get_json_object("props", "$.k").cast("int")
    )
    return ev.groupBy("event_type").agg(
        F.round(wmean("value", "w"), 6).alias("wmean")
    )


@query(
    "udf_grouped_map",
    oracle="""
    SELECT user_id, event_id,
           ROUND((value - AVG(value) OVER (PARTITION BY user_id))
                 / STDDEV_SAMP(value) OVER (PARTITION BY user_id), 6) AS z
    FROM events
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score via applyInPandas (grouped-map) — the same harness
    that runs the Fréchet/DTW kernels, here with a SQL-checkable body
    (pandas ``std`` ddof=1 == STDDEV_SAMP)."""
    t = Tables(spark, sf_dir)

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        z = ((v - v.mean()) / v.std()).round(6)
        # STDDEV_SAMP of a single row is NULL; pandas std gives NaN.
        # Arrow keeps float NaN as NaN, so force object+None to get a
        # true SQL NULL and stay oracle-equal on 1-point trajectories.
        z = z.astype(object).where(z.notna(), None)
        return pd.DataFrame(
            {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "z": z}
        )

    return (
        t.events.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(normalize, schema="user_id bigint, event_id bigint, z double")
    )


@query(
    "udtf_segmentize",
    oracle="""
    WITH pts AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS seq
        FROM events
    )
    SELECT user_id, CAST(seq AS INTEGER) AS seq, value AS v0,
           LEAD(value) OVER (PARTITION BY user_id ORDER BY seq) AS v1
    FROM pts
    QUALIFY LEAD(value) OVER (PARTITION BY user_id ORDER BY seq) IS NOT NULL
    """,
)
def udtf_segmentize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 as a Python UDTF: one trajectory row in, (n-1) segment rows out
    — the table-function form of segment decomposition, lateral-joined
    against the assembled-trajectory view. Oracle = the window-function
    twin (``traj_segments``'s logic)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="seq int, v0 double, v1 double", useArrow=True)
    class Segmentize:
        def eval(self, vals):  # noqa: ANN001
            if vals is None:
                return
            for i in range(len(vals) - 1):
                yield i + 1, float(vals[i]), float(vals[i + 1])

    traj = arrays(Tables(spark, sf_dir).events, "value", ordered=True)
    spark.udtf.register("segmentize", Segmentize)
    traj.createOrReplaceTempView("__traj_arrays")
    return spark.sql(
        """
        SELECT t.user_id, s.seq, s.v0, s.v1
        FROM __traj_arrays t, LATERAL segmentize(t.a) s
        """
    )


@query(
    "udf_map_arrow",
    oracle="""
    WITH bytes_ AS (
        SELECT d.doc_id, LEN(d.text) AS n,
               ascii(substr(d.text, CAST(i.i AS INT), 1)) AS b
        FROM documents d,
             UNNEST(generate_series(1, LEN(d.text))) AS i(i)
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_bytes,
           CAST(SUM(b) AS BIGINT) AS byte_sum,
           CAST(SUM(CASE WHEN b = 32 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_spaces
    FROM bytes_ GROUP BY doc_id
    """,
)
def udf_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the LOWEST-overhead Python extension point:
    the UDF receives raw ``pyarrow.RecordBatch``es (no pandas
    conversion, no copy for primitive buffers) and yields batches
    back.  Here: a byte-level document scan (length, byte sum, space
    count) computed on the Arrow buffers with numpy ``frombuffer`` —
    zero per-row Python, zero pandas boxing; the fixture text is pure
    ASCII so the pure-SQL twin replays the same bytes via
    ``ascii(substr(...))`` (the multimodal stub-mirror discipline).

    Completes the M-row extension-surface matrix: scalar pandas_udf /
    grouped-agg / grouped-map (pandas) / UDTF / and now the Arrow-raw
    tier — the one you reach for when even pandas overhead matters
    (tokenizers, byte-pair scanners, decoders at 100 TB).

    Scale shape: embarrassingly parallel mapPartitions over Arrow
    batches; output is one row per doc, aggregated batch-side in
    numpy, never a Python loop per byte."""
    import pyarrow as pa

    t = Tables(spark, sf_dir)

    def scan(batches):
        for batch in batches:
            ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            texts = batch.column("text")
            ns, sums, spaces = [], [], []
            for s in texts:
                b = np.frombuffer(
                    s.as_py().encode("ascii"), dtype=np.uint8
                )
                ns.append(len(b))
                sums.append(int(b.sum(dtype=np.int64)))
                spaces.append(int((b == 32).sum()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(ns, type=pa.int64()),
                    pa.array(sums, type=pa.int64()),
                    pa.array(spaces, type=pa.int64()),
                ],
                names=["doc_id", "n_bytes", "byte_sum", "n_spaces"],
            )

    return t.documents.select("doc_id", "text").mapInArrow(
        scan,
        "doc_id bigint, n_bytes bigint, byte_sum bigint, n_spaces bigint",
    )
