"""Table registry: required columns + footer-typed parquet loaders +
derived views.

The reference (traj-sim-spark) hard-codes its schemas in per-main parsing
code over ``sc.textFile`` (SURVEY.md §1.1, R1). Here ``SCHEMAS`` names
each table's columns and their logical types, and ``load`` reads the
table with the schema its Parquet footer declares (``file_schema``: a
pyarrow footer read on the driver, no Spark job), after checking that
the footer has every ``SCHEMAS`` column. The footer decides how each
timestamp column is read; ``events.ts`` is then normalized to
microsecond TimestampType. The scan is a columnar Parquet read with
Catalyst predicate pushdown / column pruning (SURVEY.md §1.2).

At 100 TB the same registry would point at partitioned/bucketed table roots
instead of single files; nothing else changes — loaders return lazy
DataFrames and never collect.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Logical schemas (FIXTURES.md): the columns each table must have and
# their logical types. They are not the read schema: the footer decides
# how each timestamp column is read (the fixtures store o_orderdate,
# l_shipdate and events.ts as TIMESTAMP_NTZ or TIMESTAMP(NANOS), see
# file_schema), and load() normalizes events.ts to TimestampType.
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


def file_schema(path: str) -> T.StructType:
    """The Spark read schema of one parquet table, from its footer alone.

    ``path`` is a single file or a directory table root (its first data
    file's footer decides, as in Spark's own inference). The footer's
    Arrow schema goes through PySpark's ``from_arrow_schema`` with
    timestamps without a time zone as TIMESTAMP_NTZ, and every INT64
    TIMESTAMP(NANOS) column becomes ``LongType`` (the
    ``spark.sql.legacy.parquet.nanosAsLong`` read); INT96 timestamps stay
    TimestampType. All fields are nullable, as in every file-source read.
    The result equals ``spark.read.parquet(path).schema`` without running
    the Spark job that inference costs.
    """
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if os.path.isdir(path):
        path = ds.dataset(path, format="parquet").files[0]
    pf = pq.ParquetFile(path)
    physical = {c.path: c.physical_type for c in pf.schema}

    def spark_read_type(f: pa.Field) -> pa.Field:
        if not pa.types.is_timestamp(f.type):
            return f
        if physical.get(f.name) == "INT96":  # Spark reads INT96 as TimestampType
            return pa.field(f.name, pa.timestamp("us", tz="UTC"))
        if f.type.unit == "ns":  # nanosAsLong
            return pa.field(f.name, pa.int64())
        return f

    arrow = pa.schema([spark_read_type(f) for f in pf.schema_arrow])
    return _nullable(from_arrow_schema(arrow, prefer_timestamp_ntz=True))


def _nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def events_ts(ts_type: T.DataType) -> Column:
    """``events.ts`` as a microsecond TimestampType column, given the type
    the file schema reads it at: nanos-as-long converts by integer
    division (lossless, the corpus has no sub-microsecond parts); a
    timestamp column casts (from TIMESTAMP_NTZ the instants are identical,
    as the session timezone is UTC)."""
    if isinstance(ts_type, T.LongType):
        return F.expr("timestamp_micros(ts div 1000)")
    return F.col("ts").cast(T.TimestampType())


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy columnar scan of one table, read with its footer schema.

    ``file_schema`` reads the footer with pyarrow, so building the scan
    runs no Spark job. The footer's columns must include every column
    ``SCHEMAS`` lists for the table, or this raises ``ValueError``.

    ``events.ts`` has shipped in two fixture encodings, Parquet
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS); the footer type picks the
    ``events_ts`` branch, so both end as microsecond TimestampType.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; registered: {TABLE_NAMES}")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    schema = file_schema(path)
    missing = set(SCHEMAS[name].names) - set(schema.names)
    if missing:
        raise ValueError(f"{name}: parquet missing columns {sorted(missing)}")
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = df.withColumn("ts", events_ts(schema["ts"].dataType))
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
