"""A (cont.): remaining source formats — R1 at full fidelity.

The reference ingests PLAIN-TEXT GPS dumps, one point per line, parsed
by hand in each solution main (SURVEY.md §2.1 R1). ``src_text_ingest``
reproduces exactly that shape — ``spark.read.text`` + a split/cast
projection — as an oracle-checked round trip. ``src_orc_ingest`` covers
the remaining built-in columnar format (Parquet/CSV/JSON live in
``readers.py``).

Registered late (own module at the end of ``registry._MODULES``) so the
driver's first-50 correctness window is undisturbed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import Tables
from .readers import staging_dir


@query(
    "src_text_ingest",
    oracle="""
    SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           ROUND(value, 6) AS value
    FROM events
    """,
)
def src_text_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 VERBATIM: the reference's input is a plain-text dump, one
    trajectory point per line, parsed by hand. Round trip: events
    written as `user_id,ts_us,value` text lines by the distributed text
    sink, read back with ``spark.read.text``, parsed with a split/cast
    projection (the engine's "hand parse" — three JVM expressions, not a
    Python loop). The oracle is the source table, so the hash proves the
    text path loses nothing.

    value is fixed-format (%.2f) in the dump — the corpus is 2-decimal
    by construction (FIXTURES.md), so the round trip is exact."""
    t = Tables(spark, sf_dir)
    path = os.path.join(staging_dir(sf_dir, "ingest"), "events_text")
    (
        t.events.select(
            F.concat_ws(
                ",",
                F.col("user_id").cast("string"),
                F.unix_micros("ts").cast("string"),
                F.format_string("%.2f", "value"),
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), ",")
    return lines.select(
        parts.getItem(0).cast("bigint").alias("user_id"),
        parts.getItem(1).cast("bigint").alias("ts_us"),
        F.round(parts.getItem(2).cast("double"), 6).alias("value"),
    )


@query(
    "src_orc_ingest",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderpriority,
           ROUND(o_totalprice, 6) AS o_totalprice
    FROM orders
    """,
)
def src_orc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round trip — the remaining built-in columnar format: orders
    written as ORC by the distributed sink, read back, projected. The
    oracle is the source table; the hash proves ORC preserves every
    column type it carries (int64, string, double)."""
    t = Tables(spark, sf_dir)
    path = os.path.join(staging_dir(sf_dir, "ingest"), "orders_orc")
    (
        t.orders.select(
            "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
        )
        .write.mode("overwrite")
        .orc(path)
    )
    return spark.read.orc(path).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.round("o_totalprice", 6).alias("o_totalprice"),
    )


@query(
    "sink_partitioned_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value
    FROM events
    WHERE event_type IN ('view', 'click')
    GROUP BY event_type
    """,
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partitioned sink as an oracle-checked row: events written
    ``partitionBy(event_type)`` + sorted within partitions by ts (the
    STR-layout analog ``write_partitioned`` implements), read back with
    a partition-key predicate, and aggregated. The re-read scan must
    touch only the view/click directories — the predicate is a
    PartitionFilter, not a data filter — which is the entire point of a
    partitioned sink at 100 TB (asserted in tests/test_plans.py).

    The oracle aggregates the ORIGINAL table: the hash match proves the
    sink→scan round trip is lossless under partition pruning, value
    column included (sum over only the pruned partitions)."""
    from .readers import write_partitioned

    t = Tables(spark, sf_dir)
    path = os.path.join(staging_dir(sf_dir, "sink"), "events_by_type")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):  # idempotent per (sf_dir) staging
        write_partitioned(
            t.events.select("event_type", "value", "ts"),
            path,
            ["event_type"],
            sort_cols=["ts"],
        )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("event_type").isin("view", "click"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


@query(
    "src_schema_evolution",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 6) AS o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                ELSE NULL END AS o_orderpriority
    FROM orders
    """,
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingest: a table landed in TWO generations — an
    old batch without ``o_orderpriority`` and a new batch carrying it —
    read back as ONE DataFrame via ``mergeSchema``, the missing column
    NULL-filled for old rows. This is how a year of a 100 TB lakehouse
    table actually looks (columns get added; history is not rewritten),
    and the reason the reader must reconcile footers instead of trusting
    the first file.

    The oracle reconstructs the same view from the source table (parity
    split), so the hash proves merge-read loses neither rows nor the
    late column. Cost note: ``mergeSchema`` reconciles FOOTERS (one
    driver-side metadata pass), not data; the scan itself stays columnar
    and pruned."""
    t = Tables(spark, sf_dir)
    path = os.path.join(staging_dir(sf_dir, "ingest"), "orders_evolved")
    old = t.orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = t.orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(os.path.join(path, "gen=1"))
    new.write.mode("overwrite").parquet(os.path.join(path, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "gen=1"), os.path.join(path, "gen=2")
    )
    return back.select(
        "o_orderkey",
        F.round("o_totalprice", 6).alias("o_totalprice"),
        "o_orderpriority",
    )


@query(
    "sink_stream_parquet",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           ROUND(SUM(CAST(value AS DECIMAL(18, 2))), 6) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def sink_stream_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming PARQUET sink (bronze-layer archival): the event
    stream appended micro-batch by micro-batch to a parquet directory
    with exactly-once file-commit semantics (checkpointed manifest; a
    re-run resumes, never double-writes), then the landed files read
    back BATCH-side and aggregated. Every other streaming row uses the
    memory sink; this one proves the durable path — at 100 TB this IS
    the ingest architecture (stream lands bronze parquet; batch
    analytics read it).

    The oracle aggregates the original table — the hash proves the
    stream→parquet→batch round trip is lossless. Sums quantize per row
    to DECIMAL before accumulating (order-independent across the
    arbitrary file layout the sink produced)."""
    import uuid as _uuid

    from ..streaming.streams import events_stream

    out = os.path.join(
        staging_dir(sf_dir, "stream_sink"), f"run_{_uuid.uuid4().hex[:8]}"
    )
    ev = events_stream(spark, sf_dir).select("event_type", "value")
    q = (
        ev.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out, "data"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # read back with the sink's known schema: no inference job
    back = spark.read.schema("event_type string, value double").parquet(
        os.path.join(out, "data")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6
        ).alias("sum_value"),
    )


_LI_BAND_W = 50.0  # value-band width of the streamed layout partitions
_LI_PROBE = 3  # the band the pruned read probes


@query(
    "stream_layout_ingest",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n,
           ROUND(SUM(CAST(value AS DECIMAL(18, 2))), 6) AS sum_value
    FROM events
    WHERE CAST(FLOOR(value / {_LI_BAND_W}) AS BIGINT) = {_LI_PROBE}
    GROUP BY user_id
    """,
)
def stream_layout_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX MAINTENANCE UNDER INGEST: the reference's spatial layout is
    built once, offline [P §4.2]; a live pipeline has to keep it current
    while data arrives. Here the event stream lands DIRECTLY into the
    cell-partitioned layout — ``writeStream.partitionBy(band)`` appends
    each micro-batch into the right partition directories with the same
    exactly-once checkpointed commits as ``sink_stream_parquet`` — and a
    band-restricted query then reads ONLY its partition (Catalyst
    PartitionFilters, pinned in tests/test_plans.py), exactly like the
    offline ``traj_layout_cells`` path.

    This closes the loop on the dual-index story: the STR-layout analog
    is not a static artifact but a continuously-maintained one, and the
    read path is identical whether the layout was bulk-built or
    stream-grown. The oracle aggregates the source table under the same
    band predicate — the hash proves the stream→partitioned-parquet→
    pruned-read loop is lossless. At 100 TB this is the standard
    hot/cold arrangement: streams append small per-band files,
    compaction consolidates them later; pruning works from the first
    commit because it keys on DIRECTORIES, not file sizes."""
    import shutil

    from ..streaming.streams import events_stream

    # fixed, delete-and-recreate run dir: repeated invocations (min-of-3
    # bench, gates) must not accumulate full event copies on disk.
    # SINGLE-SESSION CONTRACT (ADVICE round 3): two concurrent processes
    # sharing this staging dir would rmtree each other mid-write — the
    # gate/bench/pytest harnesses never overlap per sf_dir; suffix the
    # dir with a pid/lock if that contract ever changes.
    out = os.path.join(staging_dir(sf_dir, "stream_layout"), "run")
    shutil.rmtree(out, ignore_errors=True)
    ev = events_stream(spark, sf_dir).select(
        "user_id",
        "value",
        F.floor(F.col("value") / _LI_BAND_W).cast("bigint").alias("band"),
    )
    q = (
        ev.writeStream.outputMode("append")
        .format("parquet")
        .partitionBy("band")
        .option("path", os.path.join(out, "data"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # read back with the sink's known schema (``band`` at the int type
    # partition inference gives it): no inference job
    back = (
        spark.read.schema("user_id bigint, value double, band int")
        .parquet(os.path.join(out, "data"))
        .filter(F.col("band") == _LI_PROBE)
    )
    return back.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6
        ).alias("sum_value"),
    )


@query(
    "sink_compaction",
    oracle=f"""
    SELECT CAST(FLOOR(value / {_LI_BAND_W}) AS BIGINT) AS band,
           COUNT(*) AS n,
           ROUND(SUM(CAST(value AS DECIMAL(18, 2))), 6) AS sum_value
    FROM events GROUP BY 1
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION over the partitioned layout — the
    maintenance job that keeps a stream-grown table readable. Ingest
    (``stream_layout_ingest``) necessarily lands many small per-band
    files (one or more per micro-batch per band); small files tax every
    subsequent scan (per-file open cost, tiny row groups defeating
    min/max skipping, scheduler pressure at 100 TB file counts). The
    OPTIMIZE pass rewrites each partition to consolidated files without
    changing a row.

    Here: events land FRAGMENTED (24-way repartition before a
    partitioned write — up to 24 files per band directory), then the
    compactor reads the layout back, clusters by the partition key
    (``repartition(band)`` — a hash shuffle sends each band to exactly
    ONE task) and rewrites; a pytest asserts the per-band file count
    collapses to 1 while this query's aggregate of the COMPACTED layout
    hash-matches the source-table oracle (content-identical, layout-
    only change). At scale the same job uses repartitionByRange +
    maxRecordsPerFile to hit a target file size instead of one file,
    and runs band-incrementally (only partitions whose file count
    drifted), never touching cold consolidated data."""
    t = Tables(spark, sf_dir)
    root = staging_dir(sf_dir, "compaction")
    frag, compact = os.path.join(root, "frag"), os.path.join(root, "compact")
    ev = t.events.select(
        "event_id",
        "value",
        F.floor(F.col("value") / _LI_BAND_W).cast("bigint").alias("band"),
    )
    ev.repartition(24).write.mode("overwrite").partitionBy("band").parquet(
        frag
    )
    spark.read.parquet(frag).repartition("band").write.mode(
        "overwrite"
    ).partitionBy("band").parquet(compact)
    back = spark.read.parquet(compact)
    return back.groupBy("band").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6
        ).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# src_binary_files — whole-file binary ingest (the multimodal raw path)
# ---------------------------------------------------------------------------


@query(
    "src_binary_files",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents WHERE doc_id < 64
    """,
)
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHOLE-FILE binary ingest via Spark's ``binaryFile`` source — how
    images/audio/video actually ENTER a multimodal pipeline (one file
    per asset; the mm_* operators then decode the payload column): a
    bounded slice of documents is materialized as one file per doc
    (the asset store shape), read back as (path, length, content), and
    verified byte-faithful — doc_id parsed from the file name, size and
    md5 computed FROM THE INGESTED BYTES, hash-matched against the
    source rows.

    Scale shape: binaryFile lists and reads files in parallel
    (maxPartitionBytes-sized tasks); the write side here is a bounded
    64-file staging set (re-created only when the fixture fingerprint
    moves). At 100 TB the pattern is unchanged — object-store listing
    shards by prefix, each asset is one row, and pushdown on path/
    length prunes before any byte is read."""
    import shutil

    from .readers import layout_current, stamp_layout, staging_dir

    t = Tables(spark, sf_dir)
    out = os.path.join(staging_dir(sf_dir, "binfiles"), "assets")
    if not layout_current(out, sf_dir, table="documents"):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        rows = (
            t.documents.filter(F.col("doc_id") < 64)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(
                os.path.join(out, f"doc_{r['doc_id']:05d}.bin"), "wb"
            ) as f:
                f.write(r["text"].encode("utf-8"))
        with open(os.path.join(out, "_SUCCESS"), "w"):
            pass
        stamp_layout(out, sf_dir, table="documents")
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
        .select(
            F.regexp_extract(
                F.col("path"), r"doc_(\d+)\.bin", 1
            )
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.md5("content").alias("content_hash"),
        )
    )


# ---------------------------------------------------------------------------
# src_python_datasource — Spark 4 custom Python DataSource (extension R1)
# ---------------------------------------------------------------------------

_GEN_USERS = 32
_GEN_POINTS = 100


@query(
    "src_python_datasource",
    oracle=f"""
    SELECT u.u AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM((u.u * 1000003 + s.s * 7919) % 1000000) AS BIGINT)
               AS sum_value,
           CAST(MAX((u.u * 1000003 + s.s * 7919) % 1000000) AS BIGINT)
               AS max_value
    FROM (SELECT UNNEST(generate_series(0, {_GEN_USERS - 1})) AS u) u
    CROSS JOIN (SELECT UNNEST(generate_series(1, {_GEN_POINTS})) AS s) s
    GROUP BY u.u
    """,
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM PYTHON DATA SOURCE (Spark 4 ``pyspark.sql.datasource``) —
    the modern extension answer to R1's hand-parsed inputs: a source
    the engine itself defines (``trajgen``: a deterministic synthetic
    trajectory generator, one INPUT PARTITION per user so reads scale
    across executors exactly like file splits) is registered, read
    through the ordinary ``spark.read.format(...)`` path, and
    aggregated. This is the surface a deployment uses to mount feeds
    Spark has no built-in reader for (proprietary trace formats, REST
    paginators, device logs) while keeping Catalyst planning and the
    DataFrame API.

    Exactness: the generated values are a pure integer congruence
    ((u·1000003 + s·7919) mod 1e6) — the oracle reproduces them with
    generate_series, so the hash proves the partition-parallel Python
    reader delivers exactly the declared rows (no loss, no dup across
    partitions).

    Scale shape: partitions() returns one split per user — the planner
    schedules them like any scan; per-partition generators stream rows
    via Arrow batches. A 100 TB feed shards by the same mechanism
    (partition list = shard manifest)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _TrajGenReader(DataSourceReader):
        def __init__(self, options):  # noqa: ANN001
            self.n_users = int(options.get("nusers", _GEN_USERS))
            self.n_points = int(options.get("npoints", _GEN_POINTS))

        def partitions(self):  # noqa: ANN201
            return [InputPartition(u) for u in range(self.n_users)]

        def read(self, partition):  # noqa: ANN001, ANN201
            u = partition.value
            for s in range(1, self.n_points + 1):
                yield (u, s, (u * 1000003 + s * 7919) % 1000000)

    class _TrajGenSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "trajgen"

        def schema(self) -> str:
            return "user_id bigint, seq bigint, value bigint"

        def reader(self, schema):  # noqa: ANN001, ANN201
            return _TrajGenReader(self.options)

    spark.dataSource.register(_TrajGenSource)
    gen = (
        spark.read.format("trajgen")
        .option("nusers", _GEN_USERS)
        .option("npoints", _GEN_POINTS)
        .load()
    )
    return gen.groupBy("user_id").agg(
        F.count("*").alias("n_points"),
        F.sum("value").cast("bigint").alias("sum_value"),
        F.max("value").cast("bigint").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# sink_versioned_snapshot — time-travel reads over a versioned layout
# ---------------------------------------------------------------------------


@query(
    "sink_versioned_snapshot",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderstatus = 'F'
    ),
    v2 AS (
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   AS cents
        FROM orders
    )
    SELECT CAST(version AS INTEGER) AS version,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(total_cents AS BIGINT) AS total_cents
    FROM (
        SELECT 1 AS version, COUNT(*) AS n_rows,
               SUM(cents) AS total_cents
        FROM v1
        UNION ALL
        SELECT 2, COUNT(*), SUM(cents) FROM v2
    )
    """,
)
def sink_versioned_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSIONED-TABLE TIME TRAVEL — the lakehouse snapshot contract
    (Delta/Iceberg `VERSION AS OF`) reproduced with stock Parquet: the
    table commits as immutable version directories (v1 = the closed 'F'
    orders, v2 = the full book) plus a tiny manifest of file lists per
    version; a reader resolves "as of version N" to the manifest's file
    set — never by directory mtime, never by overwrite. The row reads
    BOTH versions through the manifest and aggregates each, proving the
    older snapshot stays byte-stable after later commits (the property
    audits and reproducible-training-runs depend on).

    Scale shape: version resolution is one manifest read (KB-sized);
    snapshots share unchanged files in real table formats — here v2 is
    written whole for fixture simplicity, the manifest mechanism is
    identical. Append-only commits + manifest swap = the same
    exactly-once discipline as the streaming sink's file log."""
    import json as _json
    import shutil

    from .readers import layout_current, stamp_layout, staging_dir

    t = Tables(spark, sf_dir)
    root = os.path.join(staging_dir(sf_dir, "versioned"), "orders_tbl")
    if not layout_current(root, sf_dir, table="orders"):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        cents = F.expr(
            "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
        ).alias("cents")
        v1 = t.orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", cents
        )
        v2 = t.orders.select("o_orderkey", cents)
        v1.write.mode("overwrite").parquet(os.path.join(root, "v1"))
        v2.write.mode("overwrite").parquet(os.path.join(root, "v2"))
        manifest = {}
        for ver in ("v1", "v2"):
            d = os.path.join(root, ver)
            manifest[ver] = sorted(
                os.path.join(d, f)
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
        with open(os.path.join(root, "_manifest.json"), "w") as f:
            _json.dump(manifest, f)
        with open(os.path.join(root, "_SUCCESS"), "w"):
            pass
        stamp_layout(root, sf_dir, table="orders")
    with open(os.path.join(root, "_manifest.json")) as f:
        manifest = _json.load(f)
    out = None
    for i, ver in enumerate(("v1", "v2"), start=1):
        snap = spark.read.parquet(*manifest[ver]).agg(
            F.lit(i).cast("int").alias("version"),
            F.count("*").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        ).select("version", "n_rows", "total_cents")
        out = snap if out is None else out.unionByName(snap)
    return out


# ---------------------------------------------------------------------------
# src_csv_malformed — PERMISSIVE parsing with corrupt-record capture
# ---------------------------------------------------------------------------


@query(
    "src_csv_malformed",
    oracle="""
    WITH src AS (
        SELECT n_nationkey,
               CASE WHEN n_nationkey % 5 = 2 THEN NULL
                    ELSE n_regionkey END AS rk,
               n_nationkey % 5 = 2 AS corrupt
        FROM nation
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corrupt,
           CAST(SUM(CASE WHEN NOT corrupt THEN rk ELSE 0 END)
                AS BIGINT) AS region_sum
    FROM src
    """,
)
def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MALFORMED-INPUT HANDLING — the reader behavior every real
    ingest needs and demos never show: a CSV where every 5th-ish line
    (n_nationkey % 5 == 2) carries a non-numeric junk value in an
    integer column, read in PERMISSIVE mode with a
    ``_corrupt_record`` capture column.  The report counts total rows,
    captured corrupt lines, and the integer sum over the CLEAN subset
    — proving corrupt lines are quarantined, not silently dropped and
    not poisoning the typed columns.

    Determinism: corruption is injected by key (no randomness); the
    oracle models the same partition of the key space.  Scale shape:
    PERMISSIVE parsing is per-row work inside the distributed scan —
    the quarantine column shuffles nowhere; at 100 TB this is the
    standard bronze-layer ingest contract (capture, count, route to a
    dead-letter sink — `sink_csv_roundtrip`'s sibling on the failure
    path)."""
    import os

    from .readers import layout_current, staging_dir, stamp_layout

    t = Tables(spark, sf_dir)
    d = os.path.join(staging_dir(sf_dir, "ingest"), "nation_malformed")
    # write a csv with injected junk in n_regionkey for key%5==2 —
    # fingerprint-guarded like the other staged inputs so repeated
    # invocations (gate sweeps, bench) reuse it instead of rewriting
    if not layout_current(d, sf_dir, table="nation"):
        src = t.nation.select(
            "n_nationkey",
            "n_name",
            F.when(F.col("n_nationkey") % 5 == 2, F.lit("JUNK"))
            .otherwise(F.col("n_regionkey").cast("string"))
            .alias("n_regionkey"),
        )
        src.write.mode("overwrite").option("header", True).csv(d)
        stamp_layout(d, sf_dir, table="nation")
    schema = (
        "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT,"
        " _corrupt_record STRING"
    )
    parsed = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(d)
        .cache()  # SPARK-21610: corrupt-record queries need the full parse
    )
    try:
        # one eager action while cached, then release — a lazy return
        # would leak the cached partitions across a 288-key run
        row = parsed.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count("_corrupt_record").cast("bigint").alias("n_corrupt"),
            F.sum(
                F.when(
                    F.col("_corrupt_record").isNull(),
                    F.col("n_regionkey"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("region_sum"),
        ).collect()[0]
    finally:
        parsed.unpersist()
    return spark.createDataFrame(
        [row], "n_rows bigint, n_corrupt bigint, region_sum bigint"
    )


@query(
    "src_fixed_width",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
           ROUND(c_acctbal, 6) AS c_acctbal
    FROM customer
    """,
)
def src_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-WIDTH TEXT round trip — the mainframe/EDI flat-file
    format enterprise pipelines still ingest (COBOL copybook layouts,
    bank statements): customer written as 60-char records
    (custkey %012d | name rpad 20 | nationkey %04d | acctbal %12.2f
    | mktsegment rpad 10), read back with ``spark.read.text`` and
    parsed by SUBSTRING offsets + TRIM + casts — the whole parse is
    four JVM expressions, no Python.  The oracle is the source
    table: the hash proves the offset parse loses nothing (acctbal
    is 2-decimal by construction, so %12.2f is exact; names and
    segments carry no trailing spaces, so rtrim is lossless).

    Scale shape: the write is a distributed text sink, the read a
    splittable line scan — per-record parsing is embarrassingly
    parallel and whole-stage-codegen'd."""
    t = Tables(spark, sf_dir)
    path = os.path.join(staging_dir(sf_dir, "ingest"), "customer_fw")
    (
        t.customer.select(
            F.concat(
                F.format_string("%012d", "c_custkey"),
                F.rpad("c_name", 20, " "),
                F.format_string("%04d", "c_nationkey"),
                F.format_string("%12.2f", "c_acctbal"),
                F.rpad("c_mktsegment", 10, " "),
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    lines = spark.read.text(path)
    return lines.select(
        F.substring("value", 1, 12).cast("bigint").alias("c_custkey"),
        F.rtrim(F.substring("value", 13, 20)).alias("c_name"),
        F.substring("value", 33, 4).cast("int").alias("c_nationkey"),
        F.rtrim(F.substring("value", 49, 10)).alias("c_mktsegment"),
        F.round(
            F.trim(F.substring("value", 37, 12)).cast("double"), 6
        ).alias("c_acctbal"),
    )
