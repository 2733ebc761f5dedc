"""Testdata catalog: load the driver-generated parquet tables.

Reference analog: gomrjob inputs are glob patterns over multi-scheme paths
(/root/reference/runner.go:51-52, hdfs/job.go:27-56). Spark's DataSource API
natively handles ``hdfs://``/``s3a://``/``gs://``/``file://`` and globs, so
the whole path-resolution layer collapses to ``spark.read.parquet(path)``.

At 100 TB the same entry point applies: parquet scans get predicate pushdown,
column pruning, and partition pruning from Catalyst for free, which is why the
engine exposes *tables* (DataFrames) rather than line streams.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Columns written as parquet TIMESTAMP(NANOS) — Spark has no nanosecond
# timestamp type, so these are read as raw int64 (nanosAsLong) and truncated
# to microseconds. DuckDB's parquet reader truncates NANOS to its micro
# TIMESTAMP at scan, so this matches the oracle bit-for-bit.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


# Inferred schemas by (path, nanosAsLong): (file identity, StructType).
# Spark infers a parquet schema with a Spark job that reads the footers;
# a schema passed to ``.schema(...)`` skips it. The identity is
# (st_mtime_ns, st_size, st_ino), so a file rewritten at the same path
# misses and is inferred again; one entry per path keeps the memo as
# small as the set of tables read. Only regular files are memoized: a
# directory's stat does not change when a part file inside it is
# rewritten, and a remote URI has no stat at all, so both infer every
# time. Threads share the memo without a lock: each dict read or write
# is atomic, and two threads that miss at once both infer the same
# schema, so whichever write lands last is right.
_schemas: dict[tuple[str, str], tuple[tuple[int, int, int], StructType]] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema ``spark.read.parquet`` infers for table ``name``,
    memoized by file identity (see ``_schemas``). Sets nanosAsLong for
    the tables in ``_NANOS_TS_COLS``, as every read of them needs it."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    if name in _NANOS_TS_COLS:
        spark.conf.set(_NANOS_AS_LONG, "true")
        nanos = "true"
    else:
        nanos = spark.conf.get(_NANOS_AS_LONG, "false")
    try:
        st = os.stat(path)
    except OSError:  # remote URI or missing: Spark resolves (or raises)
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path).schema
    ident = (st.st_mtime_ns, st.st_size, st.st_ino)
    hit = _schemas.get((path, nanos))
    if hit is not None and hit[0] == ident:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _schemas[(path, nanos)] = (ident, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    for c in _NANOS_TS_COLS.get(name, ()):
        if c in schema.names and schema[c].dataType == LongType():
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL surface)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
