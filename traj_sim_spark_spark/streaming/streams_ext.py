"""L (cont.): streaming similarity — the reference's query surface on a
live stream.

The reference computes trajectory distances over a static corpus
(SURVEY.md §2.1 R8/R9); a monitoring deployment of the same engine wants
them CONTINUOUSLY: "how far is each device drifting from the reference
route, right now". The directed Hausdorff h(U -> Q) = max over U's
points of (min distance to Q) is incrementally maintainable — each
arriving point contributes one min-distance scalar, and the per-user
running max is a streaming aggregate. (The reverse direction h(Q -> U)
needs U complete, so it is batch-only; the directed form is the
streaming-native half.)

Registered in its own late module so the correctness driver's first-50
window (rotated this round to the round-1-unchecked families) is
undisturbed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import Tables
from .streams import _DELAY, events_stream, run_to_completion


@query(
    "stream_traj_distance",
    oracle="""
    WITH t0 AS (
        SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events
    ),
    pts AS (
        SELECT user_id,
               (epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT t0 FROM t0))
               / 86400000000.0 AS x,
               value AS y
        FROM events
    ),
    q AS (SELECT x AS qx, y AS qy FROM pts WHERE user_id = 1),
    md AS (
        SELECT p.user_id, p.x, p.y,
               MIN(SQRT((p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy)))
                   AS md
        FROM pts p CROSS JOIN q
        WHERE p.user_id <> 1
        GROUP BY p.user_id, p.x, p.y
    )
    SELECT user_id, ROUND(MAX(md), 6) AS h_to_query
    FROM md
    GROUP BY user_id
    """,
)
def stream_traj_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 2-D Hausdorff h(U -> Q) maintained CONTINUOUSLY per
    user: every arriving event computes its min distance to the (static,
    broadcast) query trajectory STATELESSLY — the query's points ride
    along as an array column and ``array_min(transform(...))`` folds the
    min JVM-side, no join, no shuffle — and a single update-mode
    streaming max per user does the rest. State per user = one double:
    the cheapest possible continuous-similarity operator, and exactly
    the alerting shape ("device left the corridor") a deployment of the
    reference would run.

    The query trajectory and t0 cross to the driver once at plan time
    (a bounded ~100-element array — the broadcast-variable pattern, same
    footprint as the kNN searches' tau_k scalar). The streaming max is
    monotone, so the update-mode memory sink's per-batch emissions are
    deduped by their own maximum — batching-independent, like
    ``stream_stateful``."""
    t = Tables(spark, sf_dir)
    t0 = t.events.agg(F.min(F.unix_micros("ts"))).head()[0]
    q_rows = (
        t.events.filter(F.col("user_id") == 1)
        .select(
            ((F.unix_micros("ts") - F.lit(t0)) / 86400000000.0).alias("qx"),
            F.col("value").alias("qy"),
        )
        .collect()
    )
    q_arr = F.array(
        *[
            F.struct(
                F.lit(r["qx"]).alias("qx"), F.lit(r["qy"]).alias("qy")
            )
            for r in q_rows
        ]
    )
    ev = events_stream(spark, sf_dir).filter(F.col("user_id") != 1)
    pt = ev.select(
        "user_id",
        ((F.unix_micros("ts") - F.lit(t0)) / 86400000000.0).alias("x"),
        F.col("value").alias("y"),
    )
    md = pt.select(
        "user_id",
        F.array_min(
            F.transform(
                q_arr,
                lambda p: F.sqrt(
                    (F.col("x") - p["qx"]) * (F.col("x") - p["qx"])
                    + (F.col("y") - p["qy"]) * (F.col("y") - p["qy"])
                ),
            )
        ).alias("md"),
    )
    out = md.groupBy("user_id").agg(F.max("md").alias("h"))
    res = run_to_completion(out, "update")
    # update-mode memory sink: one row per user per micro-batch; the
    # running max is monotone, so the final value is just the max again
    return res.groupBy("user_id").agg(
        F.round(F.max("h"), 6).alias("h_to_query")
    )


@query(
    "stream_cms",
    oracle="""
    WITH rows_ AS (SELECT UNNEST(generate_series(0, 3)) AS j),
    cms AS (
        SELECT j,
               CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
                                        event_type), 1, 4))
                    AS INTEGER) % 256 AS bucket,
               COUNT(*) AS cnt
        FROM events CROSS JOIN rows_
        GROUP BY 1, 2
    ),
    probe AS (
        SELECT t.event_type AS token, r.j,
               CAST(('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':' ||
                                        t.event_type), 1, 4))
                    AS INTEGER) % 256 AS bucket
        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN rows_ r
    )
    SELECT probe.token, CAST(MIN(cms.cnt) AS BIGINT) AS est
    FROM probe JOIN cms USING (j, bucket)
    GROUP BY probe.token
    ORDER BY est DESC, token
    """,
)
def stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Count-Min sketch maintained CONTINUOUSLY over the event stream
    (same d=4 x w=256 md5 grid as the batch ``sketch_cms_topk``): the
    sketch IS a streaming aggregate — its cells are additive counters,
    so incremental maintenance is exactly Spark's partial-aggregation
    contract and the final cells are batching-independent by
    construction (complete mode re-emits the whole 1024-row grid).

    The heavy-hitter estimate then probes the materialized grid with
    the (static) candidate set via min-over-rows. Deterministic md5
    hashing means the streamed sketch hash-matches the DuckDB-built
    one bit-for-bit — the FULL-oracle-able sketch story, now on the
    streaming axis. State: <= 1024 counters regardless of stream
    volume."""
    from ..operators.timeseries import _cms_bucket

    ev = events_stream(spark, sf_dir)
    js = F.array(*[F.lit(j) for j in range(4)])
    cells = (
        ev.select(
            F.col("event_type").alias("token"), F.explode(js).alias("j")
        )
        .groupBy("j", _cms_bucket(F.col("j"), F.col("token")).alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )
    cms = run_to_completion(cells, "complete")
    t = Tables(spark, sf_dir)
    probe = (
        t.events.select(F.col("event_type").alias("token"))
        .distinct()
        .select("token", F.explode(js).alias("j"))
        .select(
            "token",
            "j",
            _cms_bucket(F.col("j"), F.col("token")).alias("bucket"),
        )
    )
    return (
        probe.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("token")
        .agg(F.min("cnt").alias("est"))
        .orderBy(F.desc("est"), "token")
    )


@query(
    "stream_quantile_hist",
    oracle="""
    WITH stats AS (
        SELECT MIN(value) AS mn, MAX(value) AS mx, COUNT(*) AS n
        FROM events
    ),
    binned AS (
        SELECT LEAST(CAST(FLOOR((value - (SELECT mn FROM stats))
                                / ((SELECT mx FROM stats)
                                   - (SELECT mn FROM stats))
                                * 256) AS BIGINT), 255) AS bin
        FROM events
    )
    SELECT bin, COUNT(*) AS c FROM binned GROUP BY bin
    """,
)
def stream_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile histogram maintained CONTINUOUSLY: the same 256
    equi-width bins as ``sketch_quantile_hist``, incremented as events
    arrive — bins are additive counters, so the sketch IS a streaming
    aggregate with <= 256 rows of state, and the quantile read-out is a
    constant-time probe of the materialized grid whenever needed.

    The bin edges (global min/max) come from the STATIC table at plan
    time — the production pattern: edges are fixed by a calibration
    pass (or domain knowledge) BEFORE the stream starts, because a
    streaming min/max would re-bin history. Complete mode re-emits the
    whole grid per trigger; the final grid hash-matches the
    DuckDB-built histogram bit-for-bit."""
    t = Tables(spark, sf_dir)
    row = t.events.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    ).head()
    mn, mx = float(row["mn"]), float(row["mx"])
    ev = events_stream(spark, sf_dir)
    cells = (
        ev.select(
            F.least(
                F.floor((F.col("value") - mn) / (mx - mn) * 256),
                F.lit(255),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("c"))
    )
    return run_to_completion(cells, "complete")


def _funnel_advance(key, pdfs, state):  # noqa: ANN001
    """Per-user funnel state machine (view -> click -> purchase), one
    ``applyInPandasWithState`` step. State = three nullable earliest-us
    marks; rows are applied in event-time order and fields only ever
    transition NULL -> fixed value, so replays/batch splits cannot
    revise an earlier decision. Module-level so the cross-batch test
    drives the exact production function."""
    import pandas as pd

    v, c, p = state.get if state.exists else (None, None, None)
    batch = pd.concat(list(pdfs), ignore_index=True)
    # event-time order within the batch; strict > guards below make
    # same-instant cross-stage ties processing-order-independent
    batch = batch.sort_values("us", kind="mergesort")
    for et, us in zip(batch["event_type"], batch["us"]):
        us = int(us)
        if v is None:
            if et == "view":
                v = us
        elif c is None:
            if et == "click" and us > v:
                c = us
        elif p is None:
            if et == "purchase" and us > c:
                p = us
    state.update((v, c, p))
    stage = 1 + (c is not None) + (p is not None) if v is not None else 0
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "v_us": [v],
            "c_us": [c],
            "p_us": [p],
            "stage": [stage],
        }
    )


@query(
    "stream_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS v_us
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id,
               MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS c_us
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.v_us
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id,
               MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS p_us
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) > c.c_us
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.v_us, c.c_us, p.p_us,
           1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
             + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS stage
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON c.user_id = p.user_id
    """,
)
def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered view -> click -> purchase funnel maintained
    CONTINUOUSLY as a per-user state machine via
    ``applyInPandasWithState`` — the multi-stage stateful-streaming
    shape (``rel_funnel``'s batch semantics, SURVEY.md §2.2-N, on the
    streaming axis). State per user = three nullable micro-timestamps
    (the earliest view, the earliest click after it, the earliest
    purchase after that); each micro-batch's rows are applied in event-
    time order, and a stage can only ever ADVANCE, never revise —
    exactly why the funnel is incrementally maintainable while the
    batch query needs three chained aggregates.

    Update-mode emissions are one row per user per batch; since the
    state triple is monotone (fields only transition NULL -> fixed
    value), the final state is the max-stage emission — the same
    batching-independence dedup as ``stream_stateful``. Users who never
    viewed are filtered (the batch oracle's FROM v base). State-store
    economics: 3 longs/user, hash-partitioned by user_id."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _funnel_advance,
        outputStructType="user_id bigint, v_us bigint, c_us bigint, "
        "p_us bigint, stage int",
        stateStructType="v bigint, c bigint, p bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = run_to_completion(out, "update")
    # keep each user's final (max-stage) emission; drop never-viewed
    return (
        res.filter(F.col("stage") >= 1)
        .groupBy("user_id")
        .agg(
            F.expr("max_by(struct(v_us, c_us, p_us, stage), stage)").alias(
                "s"
            )
        )
        .select("user_id", "s.v_us", "s.c_us", "s.p_us", "s.stage")
    )


_ANOM_WARMUP = 5  # score only after this many prior points
_ANOM_Z = 3.0


def _anomaly_advance(key, pdfs, state):  # noqa: ANN001
    """Per-user Welford accumulator (n, mean, M2) over event-time order;
    each point is scored against the STRICTLY-PRIOR prefix (score, then
    absorb — the streaming semantic), counting |z| > 3 after a 5-point
    warmup. Module-level so the cross-batch test drives the production
    function."""
    import math

    import pandas as pd

    n, mean, m2, hits = (
        state.get if state.exists else (0, 0.0, 0.0, 0)
    )
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["us", "event_id"], kind="mergesort")
    for x in batch["value"]:
        x = float(x)
        if n > _ANOM_WARMUP:
            sd = math.sqrt(m2 / (n - 1))
            if sd > 0 and round(abs(x - mean) / sd, 6) > _ANOM_Z:
                hits += 1
        n += 1
        delta = x - mean
        mean += delta / n
        m2 += delta * (x - mean)
    state.update((n, mean, m2, hits))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "n_anomalies": [hits]}
    )


@query(
    "stream_anomaly",
    oracle=f"""
    WITH z AS (
        SELECT user_id, value,
               AVG(value) OVER w AS mu,
               STDDEV_SAMP(value) OVER w AS sd,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (
               WHERE rn > {_ANOM_WARMUP + 1} AND sd > 0
                 AND ROUND(ABS(value - mu) / sd, 6) > {_ANOM_Z}
           ) AS BIGINT) AS n_anomalies
    FROM z
    GROUP BY user_id
    """,
)
def stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detection — the monitoring shape a deployment
    of this engine alerts on: per-user RUNNING z-score against the
    strictly-prior history (Welford's single-pass mean/M2, so state is
    four scalars per user regardless of stream length), counting
    |z| > 3 excursions after a 5-point warmup.

    The batch oracle is the same semantic as SQL: prefix AVG/STDDEV
    window frames ending at 1 PRECEDING. The anomaly predicate
    compares the ROUNDED z on both engines, making the count
    hash-deterministic; emission is update-mode one row per user per
    batch, deduped to the final state by the monotone event count
    (``stream_stateful``'s argument)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "value"
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _anomaly_advance,
        outputStructType="user_id bigint, n_events bigint, "
        "n_anomalies bigint",
        stateStructType="n bigint, mean double, m2 double, hits bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = run_to_completion(out, "update")
    return (
        res.groupBy("user_id")
        .agg(
            F.expr("max_by(struct(n_events, n_anomalies), n_events)").alias(
                "s"
            )
        )
        .select("user_id", "s.n_events", "s.n_anomalies")
    )


_PACK_BUDGET = 256  # tokens per packed block (== pipe_pack_chunks)
_PACK_SHARDS = 4


def _pack_advance(key, pdfs, state):  # noqa: ANN001
    """Per-(source, shard) running token offset; docs in each batch are
    packed in doc_id order (deterministic under the single-batch file
    replay; under multi-batch arrival the offset carries across batches
    — the true streaming semantic). State = one bigint."""
    import pandas as pd

    (off,) = state.get if state.exists else (0,)
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values("doc_id", kind="mergesort")
    rows = []
    for r in batch.itertuples():
        n = int(r.n_tokens)
        first = off // _PACK_BUDGET
        last = (off + n - 1) // _PACK_BUDGET
        rows.append(
            (key[0], int(key[1]), int(r.doc_id), n, first, last,
             last - first + 1)
        )
        off += n
    state.update((off,))
    yield pd.DataFrame(
        rows,
        columns=[
            "source", "shard", "doc_id", "n_tokens",
            "first_chunk", "last_chunk", "n_chunks",
        ],
    )


@query(
    "stream_pack_chunks",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               doc_id % {_PACK_SHARDS} AS shard
        FROM documents
    ),
    c AS (
        SELECT *,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS st
        FROM d
    )
    SELECT source, CAST(shard AS BIGINT) AS shard, doc_id, n_tokens,
           CAST(FLOOR(st / {_PACK_BUDGET}) AS BIGINT) AS first_chunk,
           CAST(FLOOR((st + n_tokens - 1) / {_PACK_BUDGET}) AS BIGINT)
               AS last_chunk,
           CAST(FLOOR((st + n_tokens - 1) / {_PACK_BUDGET})
                - FLOOR(st / {_PACK_BUDGET}) + 1 AS BIGINT) AS n_chunks
    FROM c
    """,
)
def stream_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING concat-and-chunk sequence packing: documents arrive on
    a stream and each is assigned its 256-token block range the moment
    it is seen — the online form of ``pipe_pack_chunks``, for pipelines
    that tokenize-and-pack as crawl shards land instead of re-running a
    batch job. State per (source, shard) is a single bigint offset —
    constant memory per key forever.

    Each document is emitted exactly once (update mode, one row per
    doc), so the completed stream equals the batch packer row-for-row —
    a FULL oracle on a stateful streaming query. Token counts are
    computed JVM-side BEFORE the stateful boundary; only the integer
    cumsum crosses into Python. The file replay delivers one micro-
    batch in doc_id order; under multi-batch arrival the offset carries
    across batches and packing follows arrival order (the true
    streaming semantic — the oracle pins the replay's order)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .streams import documents_stream

    docs = documents_stream(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.pmod("doc_id", F.lit(_PACK_SHARDS)).cast("long").alias("shard"),
    )
    out = docs.groupBy("source", "shard").applyInPandasWithState(
        _pack_advance,
        outputStructType="source string, shard bigint, doc_id bigint, "
        "n_tokens bigint, first_chunk bigint, last_chunk bigint, "
        "n_chunks bigint",
        stateStructType="off bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_completion(out, "update")


_EWMA_W = 16  # ring length; power-of-two weights (see rel_ewma)


def _ewma_advance(key, pdfs, state):  # noqa: ANN001
    """Per-user ring buffer of the last 16 integer micro-unit values +
    total count. Each batch appends in event-time order; the emitted
    EWMA is computed from EXACT integers (term = vi * 2^(15-j) <= 2.6e14
    < 2^53), so the float division at the end is engine-deterministic.
    Module-level so the cross-batch pytest drives the production fn."""
    import pandas as pd

    if state.exists:
        (vals, n) = state.get
        vals = list(vals)
    else:
        vals, n = [], 0
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["us", "event_id"], kind="mergesort")
    for v in batch["vi"]:
        vals.append(int(v))
        if len(vals) > _EWMA_W:
            vals.pop(0)
        n += 1
    k = len(vals)
    num = sum(v << (_EWMA_W - 1 - j) for j, v in enumerate(reversed(vals)))
    denom = (1 << _EWMA_W) - (1 << (_EWMA_W - k))
    state.update((vals, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            # raw double; JVM-side F.round below (half-up like ROUND)
            "ewma": [num / denom / 1e6],
        }
    )


@query(
    "stream_ewma",
    oracle=f"""
    WITH p AS (
        SELECT user_id,
               CAST(ROUND(value * 1e6) AS BIGINT) AS vi,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           ROUND(SUM(vi * (2 ** ({_EWMA_W - 1} - (n - rn))))
                 / (2 ** {_EWMA_W}
                    - 2 ** ({_EWMA_W} - LEAST(CAST(n AS INTEGER),
                                              {_EWMA_W})))
                 / 1e6, 6) AS ewma
    FROM p WHERE n - rn < {_EWMA_W}
    GROUP BY user_id, n
    """,
)
def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA: each user's exponentially weighted average of
    their last 16 event values, maintained across micro-batches with a
    RING-BUFFER state (16 BIGINTs + a count — constant per key
    regardless of stream length; the third state shape beside scalar
    accumulators and offset counters). Weights are the ``rel_ewma``
    powers of two, so the state->output arithmetic is exact integer
    work and the emitted float is deterministic.

    The batch oracle is the suffix-window formulation: the final EWMA
    only sees each user's last 16 events (`n - rn < 16`), weighted by
    recency. Update-mode emission, deduped to the final state by the
    monotone event count (``stream_stateful``'s argument)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 1e6).cast("long").alias("vi"),
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _ewma_advance,
        outputStructType="user_id bigint, n_events bigint, ewma double",
        stateStructType="vals array<bigint>, n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = run_to_completion(out, "update")
    return (
        res.groupBy("user_id")
        .agg(F.expr("max_by(struct(n_events, ewma), n_events)").alias("s"))
        .select(
            "user_id", "s.n_events", F.round("s.ewma", 6).alias("ewma")
        )
    )


@query(
    "stream_distinct_users",
    oracle="""
    WITH agg AS (
        SELECT epoch_us(time_bucket(INTERVAL 1 HOUR,
                                    CAST(ts AS TIMESTAMP)))
                   AS win_start_us,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT win_start_us, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_events AS BIGINT) AS n_events
    FROM agg
    WHERE win_start_us + 3600000000
          <= (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP)))
              FROM events) - 600000000
    """,
)
def stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per closed 1-hour window on the live stream
    — the DAU/MAU-style audience metric. Streaming COUNT(DISTINCT) is
    not directly supported, so the op composes the two state primitives
    that ARE: a watermarked ``dropDuplicates`` on (window-hour, user)
    whose state is one row per distinct pair and self-expires with the
    watermark, feeding an ordinary windowed count — exact, bounded
    state, no sketch needed. (The approximate path at extreme
    cardinality is the registered KMV/CMS family; this row is the exact
    contract.) n_events rides along from a parallel plain count joined
    on the window."""
    ev = events_stream(spark, sf_dir).select(
        "ts", "user_id", F.date_trunc("hour", "ts").alias("hr")
    )
    dedup = ev.withWatermark("ts", _DELAY).dropDuplicates(
        ["hr", "user_id"]
    )
    users = (
        dedup.groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n_users"))
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            "n_users",
        )
    )
    u = run_to_completion(users, "append")
    ev2 = events_stream(spark, sf_dir)
    events = (
        ev2.withWatermark("ts", _DELAY)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            "n_events",
        )
    )
    e = run_to_completion(events, "append")
    return u.join(e, "win_start_us")


def _seg_corridor_oracle() -> str:
    # lazy: composed from extras3's shared segment-geometry SQL
    from ..operators.extras3 import _SQL_D2, _SQL_PTS

    return f"""
    {_SQL_PTS},
    qs AS (SELECT * FROM s WHERE user_id = 1),
    md AS (
        SELECT a.user_id, a.seq, MIN({_SQL_D2}) AS md2
        FROM (SELECT * FROM p WHERE user_id <> 1) a
        JOIN qs b ON TRUE
        GROUP BY 1, 2
    )
    SELECT user_id, ROUND(SQRT(MAX(md2)) / 1e6, 6) AS h_seg
    FROM md GROUP BY user_id
    """


@query("stream_seg_corridor", oracle=_seg_corridor_oracle)
def stream_seg_corridor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_traj_distance`` at REFERENCE FIDELITY: the corridor is
    the query's PATH (its segments), not its samples — the directed
    segment-Hausdorff h(U -> path(Q)) maintained continuously per user.
    For sparsely-sampled reference routes this is the semantically
    right alert ("how far from the route"), where the point form
    penalizes devices that are between the route's samples.

    Same streaming shape as the point row: the query's ~65 segments
    ride along as a literal struct array (micro-quantized BIGINT
    endpoints — the plan-time broadcast-variable pattern), each
    arriving event folds min-d² over them STATELESSLY with the exact
    integer kernel (``extras3._seg_cases`` arithmetic inlined over the
    array struct: projection cases by integer dot products, interior as
    the single double step), and one update-mode streaming max per user
    does the rest. State per user = one double; monotone, so the memory
    sink's per-batch emissions are batching-independent. The oracle is
    the batch equivalent over the same quantized plane — FULL, like the
    point row."""
    from ..operators.planes import corpus_t0, points

    t = Tables(spark, sf_dir)
    t0 = t.events.agg(F.min(F.unix_micros("ts"))).head()[0]
    q = points(t.user_points(), "seg_micro", corpus_t0(t.events))
    q_pts = sorted(
        (r["seq"], r["x"], r["y"])
        for r in q.filter(F.col("user_id") == 1).collect()
    )
    segs = [
        (a[1], a[2], b[1], b[2]) for a, b in zip(q_pts, q_pts[1:])
    ]
    seg_arr = F.array(
        *[
            F.struct(
                F.lit(x1).cast("bigint").alias("x1"),
                F.lit(y1).cast("bigint").alias("y1"),
                F.lit(x2).cast("bigint").alias("x2"),
                F.lit(y2).cast("bigint").alias("y2"),
            )
            for x1, y1, x2, y2 in segs
        ]
    )

    def d2_of(s):
        px, py = F.col("px"), F.col("py")
        ab2 = (s["x2"] - s["x1"]) * (s["x2"] - s["x1"]) + (
            s["y2"] - s["y1"]
        ) * (s["y2"] - s["y1"])
        dotp = (s["x2"] - s["x1"]) * (px - s["x1"]) + (
            s["y2"] - s["y1"]
        ) * (py - s["y1"])
        ap2 = (px - s["x1"]) * (px - s["x1"]) + (py - s["y1"]) * (
            py - s["y1"]
        )
        bp2 = (px - s["x2"]) * (px - s["x2"]) + (py - s["y2"]) * (
            py - s["y2"]
        )
        crs = (s["x2"] - s["x1"]) * (py - s["y1"]) - (
            s["y2"] - s["y1"]
        ) * (px - s["x1"])
        return (
            F.when((ab2 == 0) | (dotp <= 0), ap2.cast("double"))
            .when(dotp >= ab2, bp2.cast("double"))
            .otherwise(
                crs.cast("double") * crs.cast("double") / ab2.cast("double")
            )
        )

    ev = events_stream(spark, sf_dir).filter(F.col("user_id") != 1)
    pt = ev.select(
        "user_id",
        F.expr(f"(unix_micros(ts) - {int(t0)}) div 86400").alias("px"),
        F.round(F.col("value") * 1e6).cast("bigint").alias("py"),
    )
    md = pt.select(
        "user_id",
        F.array_min(F.transform(seg_arr, d2_of)).alias("md2"),
    )
    out = md.groupBy("user_id").agg(F.max("md2").alias("h2"))
    res = run_to_completion(out, "update")
    return res.groupBy("user_id").agg(
        F.round(F.sqrt(F.max("h2")) / 1e6, 6).alias("h_seg")
    )


# ---------------------------------------------------------------------------
# stream_cdc_apply — streaming last-writer-wins snapshot (CDC apply)
# ---------------------------------------------------------------------------


def _cdc_advance(key, pdfs, state):  # noqa: ANN001
    """Per-user LWW register: state = (best_us, best_eid, value, alive,
    n_ops). Every event is an upsert of the user's current value except
    event_type 'error', which is a DELETE tombstone. The winner is the
    max (event-time, event_id) pair — a commutative max, so the final
    snapshot is independent of micro-batch boundaries and arrival
    order (the CDC out-of-order guarantee). n_ops is monotone and
    dedupes update-mode emissions. Module-level so the cross-batch
    pytest drives the production fn."""
    import pandas as pd

    if state.exists:
        best_us, best_eid, val, alive, n = state.get
    else:
        best_us, best_eid, val, alive, n = -1, -1, 0.0, 1, 0
    batch = pd.concat(list(pdfs), ignore_index=True)
    n += len(batch)
    for row in batch.itertuples(index=False):
        if (row.us, row.event_id) > (best_us, best_eid):
            best_us, best_eid = int(row.us), int(row.event_id)
            val = float(row.value)
            alive = 0 if row.event_type == "error" else 1
    state.update((best_us, best_eid, val, alive, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_ops": [n],
            "last_epoch_s": [best_us // 1_000_000],
            "alive": [alive],
            "last_value": [val],
        }
    )


@query(
    "stream_cdc_apply",
    oracle="""
    WITH r AS (
        SELECT user_id, value, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_ops,
           CAST(us // 1000000 AS BIGINT) AS last_epoch_s,
           ROUND(value, 6) AS last_value
    FROM r WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC APPLY — the live sibling of the batch MERGE
    (``rel_merge_upsert``): the event stream is a change feed keyed by
    user (every event upserts the user's current value; 'error' events
    are DELETE tombstones), and the operator maintains the
    LAST-WRITER-WINS current snapshot across micro-batches. State per
    key is one register (timestamp pair + value + liveness + op count)
    — the Debezium/Delta-CDF apply shape, where the winner is the max
    (event_time, event_id): a COMMUTATIVE max, so the snapshot is
    batching- and arrival-order-independent (asserted cross-batch in
    pytest) — exactly why real CDC consumers key on LSN, not arrival.

    Deleted keys drop from the final snapshot (tombstone semantics);
    the batch oracle is the per-user argmax row filtered to survivors.

    Scale shape: state is O(live keys) scalars (no history), emissions
    dedupe by the monotone op count; at 100 TB this IS the hot-path
    materialized view an ingest keeps beside the bronze log, with the
    periodic ``rel_merge_upsert`` compaction reconciling cold storage."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "value",
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _cdc_advance,
        outputStructType=(
            "user_id bigint, n_ops bigint, last_epoch_s bigint,"
            " alive int, last_value double"
        ),
        stateStructType=(
            "best_us bigint, best_eid bigint, val double,"
            " alive int, n bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = run_to_completion(out, "update")
    return (
        res.groupBy("user_id")
        .agg(
            F.expr(
                "max_by(struct(n_ops, last_epoch_s, alive, last_value),"
                " n_ops)"
            ).alias("s")
        )
        .filter(F.col("s.alive") == 1)
        .select(
            "user_id",
            "s.n_ops",
            "s.last_epoch_s",
            F.round("s.last_value", 6).alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# stream_state_inspect — the State Data Source (ops observability)
# ---------------------------------------------------------------------------


@query(
    "stream_state_inspect",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events GROUP BY event_type
    """,
)
def stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-STORE INTROSPECTION — Spark 4's State Data Source
    (`spark.read.format("statestore")`): run the canonical streaming
    aggregation (per-event-type count + integer-cents sum) against the
    event replay ONCE, checkpointed; then answer from the CHECKPOINT'S
    STATE STORE FILES, not from the query output.  This is the
    streaming-ops debugging surface every production deployment needs
    ("what exactly is in partition 13's state right now?") — and
    reading it back proves the persisted state equals the batch truth,
    which is the strongest exactly-once evidence there is: the oracle
    aggregates the SOURCE table, the engine answers from recovered
    state bytes.

    Exactness: state values are a BIGINT count and a BIGINT cents sum
    (quantized before aggregation), so state bytes are partitioning-
    and batching-independent.

    Scale shape: the state read is a parallel scan over the state
    store's partition files (one per shuffle partition) — the same
    layout HDFS-backed state uses on a 1000-executor cluster; state
    build cost is paid once per checkpoint (staged per sf_dir, the
    layout-manifest discipline), re-reads are file scans."""
    import os

    from ..sources.readers import (
        layout_current,
        staging_dir,
        stamp_layout,
    )

    root = os.path.join(staging_dir(sf_dir, "state"), "agg_ckpt")
    if not layout_current(root, sf_dir, table="events"):
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        ckpt = os.path.join(root, "ckpt")
        src = events_stream(spark, sf_dir)
        agg = src.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).alias(
                "cents"
            ),
        )
        import uuid

        name = f"stateq_{uuid.uuid4().hex[:10]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # root-level _SUCCESS is the reuse marker layout_current checks
        # (the checkpoint dir has no parquet _SUCCESS of its own)
        open(os.path.join(root, "_SUCCESS"), "w").close()
        stamp_layout(root, sf_dir, table="events")
    # the statestore reader resolves the session's StateStoreCoordinator
    # RPC endpoint, which streaming creates lazily — a fresh session
    # that only READS staged state (the reuse path) must create it
    # explicitly or every task fails with RpcEndpointNotFoundException
    (
        spark._jsparkSession.sessionState()
        .streamingQueryManager()
        .stateStoreCoordinator()
    )
    ss = spark.read.format("statestore").load(
        os.path.join(root, "ckpt")
    )
    return ss.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n_events"),
        F.col("value.sum").cast("bigint").alias("cents"),
    )


# ---------------------------------------------------------------------------
# stream_backfill_union — batch history + streaming tail, one answer
# ---------------------------------------------------------------------------

_BF_SPLIT_US = 7 * 86400 * 1_000_000  # tail = last 7 days of event time


@query(
    "stream_backfill_union",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(COUNT(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                    >= (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP)))
                        FROM events) - 604800000000
                    THEN 1 END) AS BIGINT) AS n_tail
    FROM events GROUP BY event_type
    """,
)
def stream_backfill_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKFILL + STREAMING TAIL UNIFIED — the lambda/kappa
    architecture question ("is the reprocessed history consistent with
    the live stream?") as a checkable query: history (event time
    before max(ts) − 7d) aggregates through the BATCH reader, the
    last-7-days tail replays through the STREAMING path (file-source
    micro-batches, memory sink), and the two halves merge into one
    per-event-type report.  The oracle aggregates the whole table in
    one batch pass — so the gate proves the batch+stream composition
    is EXACTLY the pure-batch answer (integer counts and pre-quantized
    cents make the merge order-free).

    The split point is data-derived (max event time − 7d: a scalar
    aggregate, no wall clock — rerun-deterministic).  Scale shape:
    this is how real pipelines bootstrap streaming aggregations — a
    batch job backfills state up to a cutoff, the stream owns
    everything after; the merge is a k-row unionByName + hash agg."""
    t = Tables(spark, sf_dir)
    cut = (
        t.events.agg(
            (F.max(F.unix_micros("ts")) - F.lit(_BF_SPLIT_US)).alias("c")
        ).head()[0]
    )
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    batch_half = (
        t.events.filter(F.unix_micros("ts") < cut)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("cents"),
            F.lit(0).cast("bigint").alias("n_tail"),
        )
    )
    tail = events_stream(spark, sf_dir).filter(
        F.unix_micros("ts") >= cut
    )
    tail_agg = tail.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(cents).alias("cents"),
        F.count("*").alias("n_tail"),
    )
    tail_done = run_to_completion(tail_agg, "complete")
    return (
        batch_half.unionByName(tail_done)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.sum("n_tail").cast("bigint").alias("n_tail"),
        )
    )

# ---------------------------------------------------------------------------
# stream_late_audit — watermark late-data accounting (multi-batch replay)
# ---------------------------------------------------------------------------

_LATE_WIN_US = 3_600_000_000  # 1-hour tumbling windows
_LATE_HEAD_US = 1_800_000_000  # the watermark-advancing "head" slice


@query(
    "stream_late_audit",
    oracle="""
    WITH ev AS (
        SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
    ),
    mx AS (SELECT MAX(us) AS mx FROM ev),
    wma AS (  -- watermark after the bulk batch: evicts pre-head windows
        SELECT MAX(us) - 600000000 AS wm FROM ev
        WHERE event_id % 2 = 0
    ),
    wmb AS (  -- final watermark: the emission cutoff
        SELECT MAX(us) - 600000000 AS wm FROM ev
    ),
    w AS (
        SELECT event_id, us,
               (us // 3600000000) * 3600000000 AS ws,
               (us // 3600000000) * 3600000000 + 3600000000 AS we,
               (event_id % 2 = 1
                AND us <= (SELECT mx FROM mx) - 1800000000) AS is_echo
        FROM ev
    ),
    tot AS (
        SELECT ws, COUNT(*) AS n_total,
               SUM(CASE WHEN NOT is_echo THEN 1
                        WHEN we > (SELECT wm FROM wma) THEN 1
                        ELSE 0 END) AS n_kept
        FROM w GROUP BY 1
    )
    SELECT CAST(ws AS BIGINT) AS win_start_us,
           CAST(n_kept AS BIGINT) AS n_emitted,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(n_total - n_kept AS BIGINT) AS n_late_dropped
    FROM tot
    WHERE n_kept > 0  -- a window whose rows all dropped never enters
                      -- state, so it is never emitted
      AND ws + 3600000000 <= (SELECT wm FROM wmb)
    """,
)
def stream_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK LATE-DATA ACCOUNTING — the ops table a streaming
    deployment reads to answer "how many rows did the watermark
    drop?": the events fixture replays as a THREE-BATCH stream
    (`maxFilesPerTrigger=1` over a staged split with pinned mtimes):
    batch 0 = the even-id bulk, batch 1 = the odd-id HEAD (the last
    30 minutes — advances the watermark to its final value), batch 2
    = the odd-id ECHO (everything older — the lagging-partition
    replay).  Echo rows whose window was already EVICTED in batch 1
    are dropped by the state operator, exactly the production
    late-data failure; the audit joins the stream's emitted
    per-window counts against the batch truth:
    (window, n_emitted, n_total, n_late_dropped).

    The emitted set is a pure function of the input, so this
    streaming row keeps a FULL DuckDB oracle — the module-header
    batch-equivalence idea extended to MULTI-batch watermark
    semantics, which single-batch replays structurally cannot
    exercise.  The mirrored rules (verified against
    numRowsDroppedByWatermark and the state-row counters, see
    tests/test_streaming.py): eviction in batch k uses the
    START-of-batch watermark max(ts through batch k−1) − delay; a
    late row is dropped iff its window was evicted in a PRIOR batch
    (same-batch merge-then-evict keeps it); append mode emits a
    window once, when evicted — so kept = bulk + head + echo rows
    with window_end > max(bulk ts) − delay, emitted iff window_end
    <= max(all ts) − delay.

    Scale shape: the staged split is a one-off write-path job; the
    stream is one watermarked tumbling aggregation (state = open
    windows only); the audit join is window-count-sized."""
    import os
    import shutil

    from pyspark.sql import types as T

    from ..sources.readers import (
        layout_current,
        staging_dir,
        stamp_layout,
    )

    t = Tables(spark, sf_dir)
    ev = t.events.select("event_id", "ts")
    root = os.path.join(staging_dir(sf_dir, "latesplit3"), "files")
    if not layout_current(root, sf_dir, table="events"):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        mx = ev.agg(F.max(F.unix_micros("ts")).alias("m")).collect()[
            0
        ]["m"]
        head_cut = mx - _LATE_HEAD_US
        odd = F.col("event_id") % 2 == 1
        for tag, mtime, pred in (
            ("a_bulk", 1_000_000_000, ~odd),
            ("b_head", 2_000_000_000, odd & (F.unix_micros("ts") > head_cut)),
            ("c_echo", 3_000_000_000, odd & (F.unix_micros("ts") <= head_cut)),
        ):
            tmp = os.path.join(root, f"_tmp_{tag}")
            ev.filter(pred).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = next(
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            )
            dst = os.path.join(root, f"{tag}.parquet")
            os.replace(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            # file-source replay order = (mtime, path): pin BOTH so
            # bulk -> head -> echo is the batch order everywhere
            os.utime(dst, (mtime, mtime))
        open(os.path.join(root, "_SUCCESS"), "w").close()
        stamp_layout(root, sf_dir, table="events")
    sch = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    raw = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(root)
    )
    agg = (
        raw.withWatermark("ts", _DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_emitted"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "n_emitted",
        )
    )
    emitted = run_to_completion(agg, "append")
    total = (
        ev.select(
            F.expr(
                f"(unix_micros(ts) div {_LATE_WIN_US})"
                f" * {_LATE_WIN_US}"
            ).alias("win_start_us")
        )
        .groupBy("win_start_us")
        .agg(F.count("*").alias("n_total"))
    )
    return emitted.join(total, "win_start_us").select(
        "win_start_us",
        F.col("n_emitted").cast("long").alias("n_emitted"),
        F.col("n_total").cast("long").alias("n_total"),
        (F.col("n_total") - F.col("n_emitted"))
        .cast("long")
        .alias("n_late_dropped"),
    )


# ---------------------------------------------------------------------------
# stream_markov_transitions — stateful streaming event-type transition counts
# ---------------------------------------------------------------------------


def _markov_update(key, pdfs, state):  # noqa: ANN001
    """Per-user transition-increment emitter (module-level so the
    multi-batch seam test can drive it directly): sort the batch by
    the (us, event_id) total order, chain onto the carried last event,
    emit this batch's (src, dst) counts, carry the new tail.

    The carried tail is keep-max on (us, event_id) (the
    ``stream_dedup`` precedent): a micro-batch whose events all
    precede the carried tail cannot regress the state.  The chain
    itself still assumes chronologically-ordered splits — events that
    arrive in a LATER batch than chronologically-later events produce
    a different transition multiset than the batch LAG oracle (see
    the query docstring)."""
    import pandas as pd

    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["us", "event_id"], kind="mergesort")
    types = batch["event_type"].tolist()
    if state.exists:
        chain = [state.get[2]] + types
    else:
        chain = types
    tail = batch.iloc[-1]
    new_tail = (
        int(tail["us"]), int(tail["event_id"]), str(tail["event_type"])
    )
    if not state.exists or (new_tail[0], new_tail[1]) > (
        state.get[0], state.get[1]
    ):
        state.update(new_tail)
    pairs: dict[tuple[str, str], int] = {}
    for a, b in zip(chain, chain[1:]):
        pairs[(a, b)] = pairs.get((a, b), 0) + 1
    if pairs:
        yield pd.DataFrame(
            {
                "src": [k[0] for k in pairs],
                "dst": [k[1] for k in pairs],
                "n": list(pairs.values()),
            }
        )


@query(
    "stream_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
               ) AS prev
        FROM events
    ),
    pair AS (
        SELECT prev AS src, event_type AS dst, COUNT(*) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT src, SUM(n) AS n_src FROM pair GROUP BY 1)
    SELECT p.src, p.dst,
           CAST(p.n AS BIGINT) AS n_pairs,
           CAST(t.n_src AS BIGINT) AS n_src_total,
           ROUND(CAST(p.n AS DOUBLE) / t.n_src, 6) AS p_next
    FROM pair p JOIN tot t USING (src)
    """,
)
def stream_markov_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING first-order transition matrix — the
    ``rel_markov_transitions`` twin computed INCREMENTALLY with
    ``applyInPandasWithState``: per user the state carries the LAST
    seen (us, event_id, event_type); each micro-batch sorts its rows
    by the same (us, event_id) total order, chains them onto the
    carried last event and emits the batch's new (src, dst) pair
    counts as INCREMENTS (append mode), which the batch side then
    sums — so the result is batching-independent for any
    CHRONOLOGICALLY-ORDERED split (each batch's events at or after
    the carried tail — true of the replay here, which feeds whole
    sorted files): the state seam carries exactly the one row LAG
    needs across the batch boundary.  The tail update is keep-max on
    (us, event_id) (the `stream_dedup` precedent), so an
    out-of-order batch can never REGRESS the carried state; its
    cross-batch transitions may still differ from the batch LAG
    oracle — true late data needs the watermark treatment, out of
    scope for this twin.

    The single-replay oracle is the batch LAG query; multi-batch
    state carry-over is asserted in tests/test_streaming.py (the
    `stream_stateful` protocol).  Counts are exact integers; the
    probability display divides once.

    Scale shape: state is O(1) per user (three scalars — no event
    buffering, unlike a naive window); emissions are vocab^2-bounded
    per (user, batch); one final vocab^2 agg."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
    )

    out = ev.groupBy("user_id").applyInPandasWithState(
        _markov_update,
        outputStructType="src string, dst string, n bigint",
        stateStructType="last_us bigint, last_eid bigint, "
        "last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from pyspark.sql import Window as W

    res = run_to_completion(out, "append")
    pair = res.groupBy("src", "dst").agg(F.sum("n").alias("n"))
    # row totals via a src-partitioned window over the vocab^2 pair
    # table (a self-join on memory-sink lineage trips a Spark 4
    # INTERNAL_ERROR; the window is equivalent and join-free)
    pair = pair.withColumn(
        "n_src", F.sum("n").over(W.partitionBy("src"))
    )
    return pair.select(
        "src",
        "dst",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("n_src").cast("bigint").alias("n_src_total"),
        F.round(F.col("n").cast("double") / F.col("n_src"), 6).alias(
            "p_next"
        ),
    )


# ---------------------------------------------------------------------------
# stream_ingest_dedup — the text_exact_dedup ledger at ingest time
# ---------------------------------------------------------------------------


@query(
    "stream_ingest_dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact-dedup ledger — the ``text_exact_dedup`` twin at
    ingest time: documents arrive on a file stream, each batch updates
    a per-content-hash ledger (keeper = MIN(doc_id), n_copies =
    COUNT(*)) — what an ingest pipeline consults to admit only the
    keeper copy of each document into the corpus.  MIN/COUNT are
    commutative, so the ledger is batching-independent by
    construction (any file split yields the same result — unlike raw
    ``dropDuplicates``, whose surviving doc_id is batch-dependent;
    that nondeterminism is why the ledger, not the row filter, is the
    streaming face of keep-first dedup).  ``stream_dedup`` covers the
    bounded-state ``dropDuplicatesWithinWatermark`` shape; this row
    covers the exact-bookkeeping shape.

    Scale shape: one streaming hash agg keyed on content_hash —
    state is |distinct contents|, the same cardinality any exact
    global dedup carries; at 100 TB the complete-mode memory sink
    here becomes an update-mode keyed store (Delta/HBase-style) and
    nothing upstream changes.  Documents carry no event time, so no
    watermark applies (the bounded-horizon variant is
    ``stream_dedup``'s shape on the events stream)."""
    from .streams import documents_stream

    docs = documents_stream(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    ledger = docs.groupBy("content_hash").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    )
    return run_to_completion(ledger, "complete")


# ---------------------------------------------------------------------------
# stream_bm25_ledger — the lexical-index sibling of stream_ingest_dedup
# ---------------------------------------------------------------------------

# Sentinel ledger row carrying the corpus document count.  Real tokens
# come from split(text, ' ') and therefore can never contain a space,
# so this name cannot collide with any token.
_BM25_LEDGER_N = " corpus_docs "


@query(
    "stream_bm25_ledger",
    oracle=f"""
    WITH tok AS (
        SELECT d.doc_id, t.token
        FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(token)
    ),
    contrib AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        UNION ALL
        SELECT doc_id, '{_BM25_LEDGER_N}' AS token, 1 AS tf
        FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS tf_sum
    FROM contrib GROUP BY token
    """,
)
def stream_bm25_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING BM25 corpus-statistics ledger — the lexical-index
    sibling of ``stream_ingest_dedup`` (round 12): documents arrive on
    a file stream and each micro-batch updates the per-term index
    state that ``sim_bm25_topk``'s scoring needs — df (documents
    containing the term) and tf_sum (total occurrences) — plus one
    sentinel row ``' corpus_docs '`` whose df IS the corpus document
    count N (the name contains spaces, which no split-token can), so
    the ledger alone yields every BM25 corpus statistic: idf from
    (df, N), t_total = SUM(tf_sum) - N, avgdl = t_total / N.

    Streaming-legal by construction: Structured Streaming forbids a
    second aggregation and distinct aggregates, so the per-document
    (token, tf) contributions are computed ROW-LOCALLY with
    higher-order functions (array_distinct + filter/size — each doc's
    term profile is a map-side transform, never a shuffle) and the
    ONE streaming hash agg sums them per token.  Every contribution
    is additive and each document lands atomically in one batch, so
    the ledger is batching-independent — replaying the corpus in any
    file split yields the identical index (the property an
    incremental 100 TB ingest needs: df/dl maintenance without corpus
    rebuilds).

    Scale shape: state is |vocab| rows keyed on term — the same
    cardinality any inverted-index catalog carries; the complete-mode
    memory sink here becomes an update-mode keyed store at fleet
    scale, and the map-side term profiles mean the shuffle moves one
    row per (doc, DISTINCT term), never one per token occurrence."""
    from .streams import documents_stream

    ledger = bm25_ledger_agg(documents_stream(spark, sf_dir))
    return run_to_completion(ledger, "complete")


def bm25_ledger_agg(docs: DataFrame) -> DataFrame:
    """The ledger aggregation over a documents frame (streaming or
    batch — the same plan serves both, which is what the
    multi-micro-batch pytest pin exercises)."""
    contrib = (
        docs.select(F.split("text", " ").alias("toks"))
        .select(
            F.explode(
                F.expr(
                    "concat("
                    " transform(array_distinct(toks), t -> struct("
                    "   t AS token,"
                    "   CAST(size(filter(toks, x -> x = t)) AS BIGINT)"
                    "     AS tf)),"
                    f" array(struct('{_BM25_LEDGER_N}' AS token,"
                    "   CAST(1 AS BIGINT) AS tf)))"
                )
            ).alias("p")
        )
        .select("p.token", "p.tf")
    )
    return contrib.groupBy("token").agg(
        F.count("*").alias("df"), F.sum("tf").alias("tf_sum")
    )
