"""Table registry: explicit schemas + parquet loaders + derived views.

The reference (traj-sim-spark) hard-codes its schemas in per-main parsing
code over ``sc.textFile`` (SURVEY.md §1.1, R1); here every table has one
explicit ``StructType`` checked against the Parquet footer at load, and the
scan is a columnar Parquet read with Catalyst predicate pushdown / column
pruning (SURVEY.md §1.2).

At 100 TB the same registry would point at partitioned/bucketed table roots
instead of single files; nothing else changes — loaders return lazy
DataFrames and never collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Explicit schemas (FIXTURES.md).  events.ts normalizes to microsecond
# TimestampType whichever parquet encoding the fixture ships (see load()).
# ---------------------------------------------------------------------------

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(SCHEMAS)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy columnar scan of one table; schema validated against registry.

    ``events.ts`` has shipped in two fixture encodings: Parquet
    TIMESTAMP(NANOS) (read as long via ``nanosAsLong`` and converted with
    integer division — lossless, no sub-microsecond components) and
    TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ; cast to TimestampType — the
    session timezone is UTC, so the instants are identical). The branch is
    schema-level (one footer read), so it scales to any corpus size.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; registered: {TABLE_NAMES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # nanosecond-encoded fixture: nanos-as-long -> us TimestampType
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        else:
            # us-encoded fixture reads as TIMESTAMP_NTZ; cast to the session
            # TimestampType (UTC session tz => identical instants)
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    expected = {f.name for f in SCHEMAS[name].fields}
    got = set(df.columns)
    if expected - got:
        raise ValueError(f"{name}: parquet missing columns {sorted(expected - got)}")
    return df


def parquet_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of one fixture table, read fresh from the parquet
    footer metadata on every call — no Spark job, no memoization (the
    optimization-round contract: every invocation computes from the
    parquet inputs). Falls back to a Spark metadata-only count for
    multi-file/directory layouts where the single-footer read does not
    apply (the 100 TB deployment shape)."""
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    try:
        import pyarrow.parquet as pq

        return int(pq.ParquetFile(path).metadata.num_rows)
    except Exception:
        return load(spark, sf_dir, name).count()


class Tables:
    """Thin per-(session, sf_dir) accessor: ``t.lineitem``, ``t['orders']``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def __getitem__(self, name: str) -> DataFrame:
        return load(self.spark, self.sf_dir, name)

    def __getattr__(self, name: str) -> DataFrame:
        if name in SCHEMAS:
            return load(self.spark, self.sf_dir, name)
        raise AttributeError(name)

    # -- derived views (FIXTURES.md "Derived views") --------------------

    def user_points(self) -> DataFrame:
        """events -> (user_id, seq, ts, value): the engine's normalized
        trajectory-point table (reference analog: parsed point RDD, R1/R2).

        ``seq`` is the within-trajectory sample index; ordering key is
        (ts, event_id) — ts values are unique per user in the corpus, the
        event_id tie-break makes the ordering total regardless.
        """
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            self.events.select("user_id", "ts", "event_id", "value")
            .withColumn("seq", F.row_number().over(w))
            .select("user_id", "seq", "ts", "event_id", "value")
        )

    def doc_tokens(self) -> DataFrame:
        """documents -> (doc_id, token) exploded token table.

        Repartitioned by doc_id BEFORE the explode: the corpus file is
        compact enough to land in one input split, so without this the
        tokenize-explode (the most CPU-heavy narrow op in the text
        family) runs on a single task. The pre-explode shuffle moves
        only the compact doc rows, and hash partitioning on doc_id
        already satisfies every downstream per-doc aggregate/window
        clustering (groupBy(doc_id, ...), Window.partitionBy(doc_id)),
        so those stages skip their own exchange — one tiny shuffle buys
        full-width tokenization and removes a wide one later."""
        spark = self.documents.sparkSession
        n = spark.sparkContext.defaultParallelism
        return self.documents.repartition(n, "doc_id").select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
