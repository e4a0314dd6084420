"""L. Structured Streaming operators (SURVEY.md §2.2-L).

The ``events`` table replayed through a file-source stream; each query
runs to completion synchronously (memory sink + ``processAllAvailable``)
and returns the materialized result, so the driver can treat it like any
batch query.

Watermark/emission determinism: with event-time watermark delay D, an
append-mode aggregation emits exactly the windows whose end <= max(ts)-D
once the post-data no-data batch runs. That cutoff is a pure function of
the input, so the DuckDB oracle reproduces it with a scalar subquery —
streaming rows get FULL oracles, not just rows-only checks (the
batch-equivalence idea of SURVEY.md §5.2-5, strengthened).

Late-data semantics (rows older than the watermark dropped from state)
are asserted separately in tests/test_streaming.py with crafted inputs.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query
from ..tables import events_ts, file_schema

_DELAY = "10 minutes"
_DELAY_US = 10 * 60 * 1_000_000


def _stream_dir(sf_dir: str) -> str:
    """The file-source needs a DIRECTORY; the fixtures are single
    read-only files. Stage a per-sf_dir symlink dir under the system temp
    root (idempotent, no data copy)."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), "spark_graft_stream", tag)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir.rstrip('/')}/events.parquet", link)
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream, read with the footer schema
    and ts normalized to TimestampType exactly as in the batch loader."""
    schema = file_schema(f"{sf_dir.rstrip('/')}/events.parquet")
    raw = spark.readStream.schema(schema).parquet(_stream_dir(sf_dir))
    return raw.withColumn("ts", events_ts(schema["ts"].dataType))


def run_to_completion(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame to completion via a memory sink and
    return the materialized table.

    Streaming shuffle partitions are pinned (default 8, env
    ``SPARK_GRAFT_STREAM_PARTITIONS``) independently of the batch
    setting: each partition owns a state-store instance whose open/
    commit/checkpoint cost is paid EVERY micro-batch, so the right count
    tracks state size, not scan parallelism (32 stores on a local
    aggregation was ~6x slower than 8). The value is captured into the
    query's checkpoint at start, so restoring the session conf after is
    safe."""
    spark = stream_df.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"),
    )
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    return stream_df.sparkSession.table(name)


# window-emission cutoff as DuckDB SQL (µs since epoch)
_CUTOFF = (
    "(SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) FROM events)"
    f" - {_DELAY_US}"
)


@query(
    "stream_tumbling",
    oracle=f"""
    WITH agg AS (
        SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)))
                   AS win_start_us,
               event_type,
               COUNT(*) AS n,
               ROUND(SUM(value), 6) AS sum_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT win_start_us, event_type, n, sum_value
    FROM agg
    WHERE win_start_us + 3600000000 <= {_CUTOFF}
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts by event_type, 10-min watermark,
    append mode — emitted windows are exactly those the watermark closed."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", _DELAY)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return run_to_completion(agg, "append")


@query(
    "stream_sliding",
    oracle=f"""
    WITH slid AS (
        SELECT epoch_us(time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)))
                   - k.k * 900000000 AS win_start_us,
               event_type, value
        FROM events
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    )
    SELECT win_start_us, event_type, COUNT(*) AS n
    FROM slid
    WHERE win_start_us + 3600000000 <= {_CUTOFF}
    GROUP BY win_start_us, event_type
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min (each event lands in 4 windows),
    10-min watermark, append mode."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", _DELAY)
        .groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            "event_type",
            "n",
        )
    )
    return run_to_completion(agg, "append")


@query(
    "stream_session",
    oracle=f"""
    WITH pts AS (
        SELECT user_id, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN prev_us IS NULL
                        OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0
                  END AS new_sess
        FROM pts
    ),
    sessions AS (
        SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    ),
    agg AS (
        SELECT user_id,
               MIN(ts_us) AS start_us,
               MAX(ts_us) + 1800000000 AS end_us,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 6) AS sum_value
        FROM sessions
        GROUP BY user_id, sess_id
    )
    SELECT user_id, start_us, end_us, n_events, sum_value
    FROM agg
    WHERE end_us <= {_CUTOFF}
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user with a 10-min watermark —
    oracle is the gaps-and-islands batch twin (``traj_session_batch``)
    restricted to watermark-closed sessions; session end = last event +
    gap, matching ``session_window`` semantics."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", _DELAY)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("start_us"),
            F.unix_micros(F.col("session_window.end")).alias("end_us"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_completion(agg, "append")


@query(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) within the watermark
    (``dropDuplicatesWithinWatermark``) — first occurrence wins, state
    bounded by the delay; batch oracle is plain DISTINCT because the
    replay fits one watermark horizon."""
    ev = events_stream(spark, sf_dir)
    dedup = (
        ev.withWatermark("ts", _DELAY)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    # dropDuplicatesWithinWatermark only guarantees uniqueness within one
    # watermark horizon: a multi-file replay (maxFilesPerTrigger) can
    # re-emit a key after its state ages out. Collapse the sink so the
    # result is batching-independent (no-op on a single-batch replay).
    return run_to_completion(dedup, "append").distinct()


@query(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: purchase stream enriched with the (broadcast)
    customer dimension — the streaming face of rel_join_broadcast."""
    from ..tables import Tables

    t = Tables(spark, sf_dir)
    ev = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = ev.join(
        F.broadcast(t.customer), F.col("user_id") == F.col("c_custkey")
    ).select("event_id", "user_id", "c_mktsegment")
    return run_to_completion(joined, "append")


@query(
    "stream_stateful",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS sum_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-user running state via ``applyInPandasWithState``
    (count/sum/max accumulated across micro-batches, emitted on update).
    The single-replay oracle is the grouped aggregate; multi-batch state
    carry-over is asserted in tests/test_streaming.py."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = events_stream(spark, sf_dir).select("user_id", "value")

    def update(key, pdfs, state: GroupState):  # noqa: ANN001
        n, s, m = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            m = max(m, float(pdf["value"].max()))
        state.update((n, s, m))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                # raw doubles; rounding happens JVM-side below
                # (Python round() is banker's, F.round matches ROUND)
                "sum_value": [s],
                "max_value": [m],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, "
        "sum_value double, max_value double",
        stateStructType="n bigint, s double, m double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = run_to_completion(out, "update")
    # update-mode memory sink keeps one row per key PER MICRO-BATCH; a
    # multi-file replay would accumulate stale emissions. Keep only each
    # key's final state — n_events grows monotonically, so max_by is the
    # last emission (no-op on a single-batch replay).
    return (
        res.groupBy("user_id")
        .agg(
            F.expr(
                "max_by(struct(n_events, sum_value, max_value), n_events)"
            ).alias("s")
        )
        .select(
            "user_id",
            "s.n_events",
            F.round("s.sum_value", 6).alias("sum_value"),
            F.round("s.max_value", 6).alias("max_value"),
        )
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           epoch_us(CAST(p.ts AS TIMESTAMP))
             - epoch_us(CAST(c.ts AS TIMESTAMP)) AS lag_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each click joined to the same user's
    purchases within the following hour. Both sides carry watermarks and
    the join condition bounds event-time distance, so state for either
    side is evicted once the other side's watermark passes — the
    mechanism that keeps join state finite on an unbounded stream. An
    inner join emits exactly the qualifying pairs, so the single-replay
    result equals the batch self-join (FULL oracle)."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", _DELAY)
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", _DELAY)
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )
    return run_to_completion(joined, "append")


@query(
    "stream_topk_complete",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type
    LIMIT 3
    """,
)
def stream_topk_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE output mode: top-3 event types by running count. Sorting
    and limiting a streaming aggregate is only legal in complete mode
    (the whole result table is re-emitted per trigger), so this query
    exercises the output-mode axis the append-mode rows cannot; after
    the final micro-batch the memory sink holds exactly the batch
    answer — no watermark cutoff involved."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy(F.col("n").desc(), "event_type")
        .limit(3)
    )
    return run_to_completion(agg, "complete")


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a file-source stream (schema is plain —
    no timestamp-encoding branch needed, unlike ``events_stream``)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    d = os.path.join(
        tempfile.gettempdir(), "spark_graft_stream_docs", tag
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir.rstrip('/')}/documents.parquet", link)
    return spark.readStream.schema(schema).parquet(d)
