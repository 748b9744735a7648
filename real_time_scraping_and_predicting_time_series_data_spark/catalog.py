"""Catalog: fixed explicit schemas + parquet loading + temp-view registry.

The reference declares schemas only as column-name lists and lets pandas
infer dtypes per append (``asyncio scraping.py:14``,
``lvmh_forecaster2.py:29,34``). Here every table has a fixed
:class:`~pyspark.sql.types.StructType` (SURVEY.md §1.4 decision) and loading
is columnar Parquet so Catalyst gets predicate pushdown + column pruning on
every scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "TABLES",
    "SCHEMAS",
    "load_table",
    "register_views",
    "default_sf_dir",
    "ensure_min_partitions",
]


def ensure_min_partitions(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions.

    Small parquet files arrive as a single partition, which serializes any
    compute-heavy derivation (tokenize/shingle/hash) onto one core. At
    cluster scale real inputs split by ``maxPartitionBytes`` and this is a
    no-op; locally it unlocks the full local[N] parallelism for a
    negligible shuffle of the raw rows."""
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df

# All driver-provided tables (TESTDATA.md / FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Explicit schemas (FIXTURES.md; verified against the parquet footers).
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
    # Reference-shaped tick stream, generalized to many keys
    # (asyncio scraping.py:14 schema `timestamp/price/variation`).
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


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table as a DataFrame (columnar parquet scan).

    Timestamp columns are normalized to plain UTC ``timestamp`` regardless of
    the parquet physical type the generator used:

    - TIMESTAMP(NANOS) (early testdata, and parquet written by pandas such
      as the test fixtures): Spark reads it as a long only under
      ``spark.sql.legacy.parquet.nanosAsLong``; truncate ns → µs here.
    - timestamp[us] without timezone (current driver tables): Spark reads it as
      TIMESTAMP_NTZ, which several chronon functions (``unix_micros`` etc.)
      reject; cast to ``timestamp``. The session timezone is pinned to UTC,
      so the wall-clock values — and every DuckDB-oracle hash — are
      unchanged by the cast.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col, dtype in df.dtypes:
        if name == "events" and col == "ts" and dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so ``spark.sql`` works on them."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
